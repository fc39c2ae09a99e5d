"""Spark 4 Python DataSource connector (SURVEY §2.1, r13).

The one public connector API with zero package dependencies this repo
had not yet exercised: a pure-Python ``DataSource`` registered with
``spark.dataSource.register`` and mounted via
``spark.read.format("events_pyds")``. Spark plans it like any DSv2
source — ``partitions()`` is the split enumeration, each partition's
``read()`` runs inside an executor Python worker and streams Arrow
record batches back through the same Arrow channel Pandas UDFs use.

Batch reader (``EventsArrowReader``): reads an events parquet file
with pyarrow and emits Arrow batches directly (never Python tuples —
the row path would be the classic slow lane). Partition planning is
two-tier, mirroring what a production connector does:

- multiple row groups -> one InputPartition per row group (each task
  decodes only its group: the parquet-native split, what a 100 TB
  table with ~128 MB groups would use);
- single row group (this repo's test fixtures) -> round-robin over
  decoded batches: partition k emits batches where
  ``batch_index % n == k``. Every batch is emitted exactly once; the
  per-task decode redundancy is the honest price of a monolithic row
  group and disappears at real scale, where writers roll groups.

Streaming reader (``SensorStreamReader``): a
``SimpleDataSourceStreamReader`` generating a deterministic sensor
feed — offset is a plain row counter, each micro-batch derives
``(reading_id, sensor_id, temp_milli_c)`` arithmetically from it, so
replays of the same offset range reproduce identical rows (the
exactly-once contract a real source keeps via its log; canary-tested
in tests/test_python_ds.py, same pattern as the Kafka-shape rig).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

PYDS_NAME = "events_pyds"
PYDS_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"
# fixture files hold one monolithic row group; decode-split fan-out
PYDS_FANOUT = 8
# fan-out redundantly decodes the whole single-group file per slice;
# above this size one partition decoding once beats 8 decoding 8x
PYDS_SLICE_MAX_BYTES = 64 * 1024 * 1024
_BATCH_ROWS = 8192

STREAM_ROWS_PER_BATCH = 500
STREAM_SENSORS = 25


class _RowGroupPartition(InputPartition):
    def __init__(self, row_group: int) -> None:
        self.row_group = row_group
        self.slice_idx = None
        self.n_slices = None


class _SlicePartition(InputPartition):
    def __init__(self, slice_idx: int, n_slices: int) -> None:
        self.row_group = None
        self.slice_idx = slice_idx
        self.n_slices = n_slices


class EventsArrowReader(DataSourceReader):
    """Arrow-batch parquet reader over the events table."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_pyds requires .option('path', ...)")
        self._path = path

    def partitions(self):  # planning runs on the driver
        import os

        import pyarrow.parquet as pq

        n_groups = pq.ParquetFile(self._path).num_row_groups
        if n_groups > 1:
            return [_RowGroupPartition(g) for g in range(n_groups)]
        # Single monolithic row group: the slice path decodes the whole
        # file in EVERY slice and keeps 1/n of the batches — acceptable
        # only while the file is small (the sf<=0.1 fixtures). ADVICE
        # r13: gate the fan-out on file size so the redundant-decode
        # cost can never scale with input size — above the threshold a
        # single partition decodes the file exactly once (a real source
        # would instead write multiple row groups, which takes the
        # per-group path above).
        if os.path.getsize(self._path) > PYDS_SLICE_MAX_BYTES:
            return [_SlicePartition(0, 1)]
        return [_SlicePartition(i, PYDS_FANOUT) for i in range(PYDS_FANOUT)]

    def read(self, partition):  # runs in the executor Python worker
        import pyarrow.parquet as pq

        cols = ["event_id", "user_id", "event_type", "value"]
        pf = pq.ParquetFile(self._path)
        if partition.row_group is not None:
            for batch in pf.iter_batches(
                batch_size=_BATCH_ROWS,
                row_groups=[partition.row_group],
                columns=cols,
            ):
                yield batch
            return
        for i, batch in enumerate(
            pf.iter_batches(batch_size=_BATCH_ROWS, columns=cols)
        ):
            if i % partition.n_slices == partition.slice_idx:
                yield batch


class SensorStreamReader(SimpleDataSourceStreamReader):
    """Deterministic synthetic sensor feed: offset = row counter.

    ``max_rows`` (option) hard-bounds the feed: once the offset
    reaches it the reader stops advancing, so a Trigger.AvailableNow
    run is deterministic BY CONSTRUCTION (exactly max_rows rows,
    whatever prefetch policy the runner uses), not by accident of the
    one-batch prefetch observed today."""

    def __init__(self, max_rows: int | None = None) -> None:
        self._max_rows = max_rows

    def initialOffset(self) -> dict:
        return {"row": 0}

    def read(self, start: dict):
        lo = int(start["row"])
        hi = lo + STREAM_ROWS_PER_BATCH
        if self._max_rows is not None:
            hi = min(hi, self._max_rows)
        if hi <= lo:
            return iter(()), {"row": lo}
        return iter(_sensor_rows(lo, hi)), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay path: MUST reproduce the original rows exactly
        return iter(_sensor_rows(int(start["row"]), int(end["row"])))


def _sensor_rows(lo: int, hi: int):
    # integer arithmetic only — bit-identical on every replay
    return [
        (i, i % STREAM_SENSORS, 20_000 + (i * 7919) % 10_000)
        for i in range(lo, hi)
    ]


class EventsPyDataSource(DataSource):
    """events_pyds: batch parquet-over-Arrow + deterministic stream."""

    @classmethod
    def name(cls) -> str:
        return PYDS_NAME

    def schema(self) -> str:
        if self.options.get("stream") == "sensors":
            return "reading_id bigint, sensor_id bigint, temp_milli_c bigint"
        return PYDS_SCHEMA

    def reader(self, schema) -> EventsArrowReader:
        return EventsArrowReader(self.options)

    def simpleStreamReader(self, schema) -> SensorStreamReader:
        mr = self.options.get("max_rows")
        return SensorStreamReader(max_rows=int(mr) if mr else None)


def register_pyds(spark: SparkSession) -> None:
    """Register the source once per session (idempotent)."""
    if getattr(spark, "_pyds_registered", False):
        return
    spark.dataSource.register(EventsPyDataSource)
    spark._pyds_registered = True


def events_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    register_pyds(spark)
    return (
        spark.read.format(PYDS_NAME)
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )


def sensor_stream(
    spark: SparkSession, max_rows: int | None = None
) -> DataFrame:
    register_pyds(spark)
    reader = spark.readStream.format(PYDS_NAME).option("stream", "sensors")
    if max_rows is not None:
        reader = reader.option("max_rows", str(max_rows))
    return reader.load()


# --- Python DataSource WRITER (r15) ---------------------------------

JSONL_SINK_NAME = "jsonl_pyds"


class JsonlCommit(WriterCommitMessage):
    """Per-task commit message: which part file, how many rows."""

    def __init__(self, part: str, rows: int) -> None:
        self.part = part
        self.rows = rows


class JsonlSinkWriter(DataSourceWriter):
    """Per-task JSONL part writer with the real two-phase contract:

    - ``write`` (executor Python worker): stream the partition to a
      DOT-PREFIXED temp file, fsync-rename to its final uuid-named
      part only after the iterator is exhausted — a task that dies
      mid-write leaves only an invisible temp, never a torn part;
    - ``commit`` (driver, all tasks succeeded): write
      ``_MANIFEST.json`` naming exactly the committed parts and their
      row counts. The manifest IS the table: readers load the listed
      parts, so an orphaned part from a speculative/retried task
      (present on disk, absent from the messages) is invisible —
      the same reader-side contract every log-structured table format
      (and the classic _SUCCESS protocol) builds on;
    - ``abort``: best-effort temp cleanup.
    """

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_pyds requires .option('path', ...)")
        self._path = path

    def write(self, iterator):  # executor worker
        import json as _json
        import os
        import uuid

        part = f"part-{uuid.uuid4().hex}.jsonl"
        tmp = os.path.join(self._path, f".{part}.tmp")
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict(), default=str) + "\n")
                n += 1
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(self._path, part))
        return JsonlCommit(part=part, rows=n)

    def commit(self, messages):  # driver, after every task succeeded
        import json as _json
        import os

        manifest = {m.part: m.rows for m in messages}
        tmp = os.path.join(self._path, "._MANIFEST.json.tmp")
        with open(tmp, "w") as fh:
            _json.dump(manifest, fh, indent=1, sort_keys=True)
        os.rename(tmp, os.path.join(self._path, "_MANIFEST.json"))

    def abort(self, messages):  # best-effort temp cleanup
        import glob
        import os

        for tmp in glob.glob(os.path.join(self._path, ".*.tmp")):
            try:
                os.remove(tmp)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    """jsonl_pyds: pure-Python JSONL sink with a manifest commit."""

    @classmethod
    def name(cls) -> str:
        return JSONL_SINK_NAME

    def writer(self, schema, overwrite: bool) -> JsonlSinkWriter:
        # the key always writes into a fresh scratch dir, so overwrite
        # vs append is moot here; a durable deployment would clear (or
        # version) manifest + parts under overwrite
        return JsonlSinkWriter(self.options)


def register_jsonl_sink(spark: SparkSession) -> None:
    """Register the sink once per session (idempotent)."""
    if getattr(spark, "_jsonl_sink_registered", False):
        return
    spark.dataSource.register(JsonlSinkDataSource)
    spark._jsonl_sink_registered = True
