"""Streaming execution helpers: run-to-completion + the file sink.

``run_to_memory`` drives a streaming DataFrame with
``trigger(availableNow=True)`` to completion and returns the result as
a batch DataFrame — the offline analogue of a continuously-running
query, used by both the driver-facing queries and the replay tests.

``write_file_sink`` is the reference's defining operation (stream ->
partitioned files on HDFS-style storage) done the Structured Streaming
way: checkpointed offsets + ``_spark_metadata`` commit log give
exactly-once file output; ``partitionBy(date)`` gives the
time-partitioned layout that enables partition pruning downstream.
"""

from __future__ import annotations

import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir


# State partitions for the run-to-completion replay queries. The number
# of shuffle partitions at stream START fixes the per-operator state
# store count for the checkpoint's lifetime — it is a DEPLOYMENT knob,
# not an optimizer decision (AQE never re-plans stateful streaming). On
# a real cluster size it ~2-3x executor count so state shards across
# the fleet; on this single node, 32 HDFS-backed stores per stateful
# operator is pure setup/commit overhead (measured: tumbling 7.0s ->
# 0.8s, stream-stream join 5.3s -> 2.1s going 32 -> 8).
STREAM_STATE_PARTITIONS = 8


# Spark's default checkpoint manager on any scheme is the
# FileContext-based one. Without libhadoop (pyspark ships none), Hadoop's
# local FileContext rename resolves the destination with a forked
# `readlink` and every create forks a `chmod`: ~5 shell processes per
# checkpoint file (offset WAL, commit log, source and sink logs, one
# state delta per partition). A JFR probe of the sensor pipeline through
# write_file_sink (Spark 4.1.2, 4-core host, 200k rows per call) counted
# 156 forks per call (1224 `readlink` from FileContext.rename plus 306
# `chmod` from create over 10 calls), and walCommit / commitOffsets /
# latestOffset took ~28 ms each. The FileSystem-based manager renames
# with java.io.File.renameTo, atomic on POSIX: 34 forks per call (only
# the `chmod`s are left), those phases ~7 ms, the call's wall p50 0.80
# -> 0.54 s at unchanged CPU per call. Only the `file` scheme gets it:
# on HDFS (and object stores) only the FileContext rename-with-overwrite
# is atomic, so hdfs://, s3a:// and any other scheme keep Spark's
# default.
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _scheme(path: str) -> str | None:
    """The scheme Hadoop's ``Path`` reads from ``path``: the text before
    a ``:`` that precedes any ``/``; None for a bare path."""
    head, colon, _ = path.partition(":")
    return head.lower() if colon and head and "/" not in head else None


def checkpoint_manager(paths, default_fs: str | None) -> str | None:
    """The checkpoint manager class for a query writing to ``paths``:
    the FileSystem-based one when every path resolves to the ``file``
    scheme, else None (Spark's default). A bare path, and a None
    checkpoint (Spark then picks a bare temporary dir), resolve against
    ``default_fs`` (Hadoop's ``fs.defaultFS``; unset means ``file:///``)."""
    fallback = _scheme(default_fs or "file:///")
    if all(((p and _scheme(p)) or fallback) == "file" for p in paths):
        return LOCAL_CHECKPOINT_MANAGER
    return None


@contextmanager
def streaming_confs(spark: SparkSession, *paths: str | None):
    """Per-query confs for one streaming query whose checkpoint and sink
    live at ``paths``. Each is restored to its prior value (or unset) on
    exit, also when ``start()`` raises: a leaked override would change
    every later query in a long-lived session.

    - Shuffle partitions are capped at ``STREAM_STATE_PARTITIONS``
      (state-store sizing, above).
    - Checkpoint file checksums (Spark 4.1's
      ChecksumCheckpointFileManager) are off: they share a bounded
      thread pool across queries, and after a handful of sequential
      streaming queries in one session its state-store writes block
      indefinitely (observed: a 16s stream-stream join never
      completing). Checkpoint durability does not depend on them.
    - Local paths get the FileSystem-based checkpoint manager (see
      ``LOCAL_CHECKPOINT_MANAGER``)."""
    conf = spark.conf
    try:
        cap = min(
            STREAM_STATE_PARTITIONS, int(conf.get("spark.sql.shuffle.partitions"))
        )
    except (TypeError, ValueError):
        cap = STREAM_STATE_PARTITIONS
    scoped = {
        "spark.sql.shuffle.partitions": str(cap),
        "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    }
    # The Hadoop conf the query will read: the session's SQL confs over
    # the context's (a session-level fs.defaultFS counts).
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = checkpoint_manager(paths, hadoop_conf.get("fs.defaultFS"))
    if manager is not None:
        scoped[CHECKPOINT_MANAGER_KEY] = manager
    prior = {key: conf.get(key, None) for key in scoped}
    try:
        for key, value in scoped.items():
            conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)


def _run_available_now(writer, timeout_s: int, what: str) -> None:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait for
    it to finish. The query never outlives the call: a live one would
    keep writing its sink and its checkpoint for the session's
    lifetime."""
    q = None
    try:
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"{what} still running after {timeout_s}s")
    finally:
        if q is not None and q.isActive:
            q.stop()


def run_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the materialized result.

    complete mode emits every window including those still above the
    watermark — that is what makes the result equal to the same
    aggregation run in batch, and therefore oracle-checkable. (The
    memory sink materializes the whole result: fine for aggregates,
    never for raw 100 TB passthrough — that's what the file sink is
    for.)

    The sink table itself is DROPPED before returning: a registered
    memory-sink table pins its rows in the driver for the session's
    lifetime, and a suite/bench run executes ~10 streaming queries —
    leaving every result registered is an unbounded driver-heap leak
    (one of the reasons the driver heap had to be raised; see
    session.py). The result rides back as an eagerly
    localCheckpointed DataFrame whose blocks the ContextCleaner
    releases once the caller is done with it.
    """
    spark = result.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    # Explicit tmpfs checkpoint: state-store commits are fsync-heavy and
    # this checkpoint is run-scoped (availableNow to completion), so RAM
    # is the right place — a restartable deployment would point this at
    # HDFS/S3 instead (write_file_sink does).
    ckpt = scratch_dir("ckpt_")
    try:
        with streaming_confs(spark, ckpt):
            writer = (
                result.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
            )
            # A silently-partial memory table would surface later as a
            # baffling parity mismatch — a timeout fails loudly at the
            # source.
            _run_available_now(writer, timeout_s, f"streaming query {name!r}")
        # Eager localCheckpoint decouples the result from the sink's
        # catalog entry JVM-side (no driver<->Python roundtrip), and
        # unlike the pinned temp view its blocks are released by the
        # ContextCleaner once the caller drops the returned DataFrame.
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        # The drop runs on EVERY exit — a timeout/start failure used to
        # skip it and leave the partially-filled memory table pinned on
        # the driver heap for the session's lifetime, the exact leak
        # this function's docstring exists to prevent (review r6).
        # dropTempView on a never-registered name is a harmless False.
        spark.catalog.dropTempView(name)


def write_file_sink(
    result: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = (),
    output_mode: str = "append",
) -> None:
    """Stream -> exactly-once partitioned parquet (the 'HDFS sink').

    ``path``/``checkpoint`` accept any Hadoop-FS URI (hdfs://, s3a://,
    file:/); readers only see files recorded in ``_spark_metadata``, so
    a crashed batch never exposes partial output, and restarting with
    the same checkpoint resumes from committed offsets.
    """
    writer = (
        result.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    with streaming_confs(result.sparkSession, checkpoint, path):
        _run_available_now(writer, 300, "file-sink query")


def run_foreach_batch(
    result: DataFrame,
    fn,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """foreachBatch sink: hands each micro-batch to ``fn(df, epoch_id)``
    as a batch DataFrame — the idiomatic escape hatch for sinks without
    native streaming support (JDBC, MERGE targets).

    Pass ``checkpoint`` to make epoch ids durable: only then does a
    restart resume from committed offsets and re-deliver the SAME
    epoch_id for an uncommitted batch — the property every idempotent
    foreachBatch commit protocol keys on. Without it the run is
    ephemeral (epoch ids restart at 0)."""
    writer = result.writeStream.outputMode(output_mode).foreachBatch(fn)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with streaming_confs(result.sparkSession, checkpoint):
        _run_available_now(writer, 300, "foreachBatch query")


def add_event_date(events: DataFrame) -> DataFrame:
    """Derive the partition column for the time-partitioned sink layout."""
    return events.withColumn("event_date", F.to_date("ts"))
