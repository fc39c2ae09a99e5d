"""Seeded sensor-file generator: the load for the ``sensor_stream`` workload.

Runs as its own single-threaded process and drops parquet files in the
engine's events schema into an input directory, each file moved in
atomically (written elsewhere, then ``os.replace``-d in), so the stream
source never sees a partial file.

- ``backlog`` writes a fixed number of rows at once (the closed-loop
  phase's pre-landed backlog).
- ``live`` is an open loop: file ``i`` is due ``i * PERIOD_S`` seconds
  after ``--start`` (a wall-clock instant) and is dropped at its due time
  whether or not the job keeps up. Each drop is logged with its due and
  actual time, so the reader can measure how late the generator ran.

Every reading is stamped (``ts``) with its due time on an event-time
axis that starts at a seed-chosen instant, so the file contents depend
only on the seed and the rates, never on the wall clock: the same seed
gives byte-identical files and the same schedule. A fixed share of rows
arrive out of order (stamped up to ``MAX_SKEW_S`` earlier than due, less
than the job's watermark) and a fixed share are malformed (null, NaN or
out of range), which the job must filter out.

Usage::

    python3 perfbench/gen_sensor.py backlog --seed 1 --out IN --rows 2000000 --rate 200000
    python3 perfbench/gen_sensor.py live --seed 1 --out IN --rate 200000 \\
        --seconds 10 --start 1760000000.0 --log drops.jsonl
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PERIOD_S = 0.25  # one file per quarter second of due time
N_SENSORS = 200
KINDS = ("humidity", "light", "noise", "temp", "vibration")
KIND_MEAN = np.array([55.0, 40.0, 70.0, 21.0, 12.0])
KIND_SD = np.array([15.0, 20.0, 12.0, 6.0, 5.0])
VALID_MIN, VALID_MAX = -50.0, 150.0
OUT_OF_ORDER_SHARE = 0.10
MAX_SKEW_S = 2.0
MALFORMED_SHARE = 0.03

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

_PHASE_ID = {"backlog": 0, "live": 1}
_KIND_ARR = pa.array(KINDS)
_PROPS_ARR = pa.array([f'{{"k": {k}}}' for k in range(100)])


def live_epoch_us(seed: int) -> int:
    """Event time of the live phase's first due instant: 10 s after a
    seed-chosen midnight, so the backlog spans two date partitions."""
    day = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=seed % 27 + 1)
    return int(day.timestamp() * 1_000_000) + 10_000_000


def file_name(phase: str, idx: int) -> str:
    return f"{phase}-{idx:06d}.parquet"


def make_file(seed: int, phase: str, idx: int, rate: int, n_files_before: int = 0) -> pa.Table:
    """Rows of one file. Backlog file ``idx`` holds the due times just
    before the live epoch (backlog files count back from it); live file
    ``idx`` holds due times ``[idx, idx + 1) * PERIOD_S`` after it."""
    rng = np.random.default_rng([seed, _PHASE_ID[phase], idx])
    n = int(rate * PERIOD_S)
    if phase == "backlog":
        slot = idx - n_files_before  # negative: before the live epoch
    else:
        slot = idx
    base_us = live_epoch_us(seed) + int(slot * PERIOD_S * 1_000_000)
    due_us = base_us + np.sort(rng.integers(0, int(PERIOD_S * 1_000_000), n))
    skew = np.where(
        rng.random(n) < OUT_OF_ORDER_SHARE,
        rng.integers(0, int(MAX_SKEW_S * 1_000_000), n),
        0,
    )
    kind = rng.integers(0, len(KINDS), n)
    value = np.round(rng.normal(KIND_MEAN[kind], KIND_SD[kind]), 2)
    value = np.clip(value, VALID_MIN, VALID_MAX)
    bad = rng.random(n) < MALFORMED_SHARE
    bad_kind = rng.integers(0, 3, n)
    value[bad & (bad_kind == 1)] = np.nan
    value[bad & (bad_kind == 2)] = np.where(rng.random(n) < 0.5, -9999.0, 9999.0)[
        bad & (bad_kind == 2)
    ]
    value_arr = pa.array(value, mask=bad & (bad_kind == 0))
    first_id = (_PHASE_ID[phase] << 40) + idx * n
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(due_us - skew, pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, N_SENSORS, n, dtype=np.int64),
            "event_type": _KIND_ARR.take(pa.array(kind)),
            "value": value_arr,
            "props": _PROPS_ARR.take(pa.array(rng.integers(0, 100, n))),
        },
        schema=SCHEMA,
    )


def drop(table: pa.Table, out_dir: str, name: str) -> None:
    """Write ``name`` beside ``out_dir`` and move it in atomically."""
    staging = out_dir.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(out_dir, name))


def backlog_files(rows: int, rate: int) -> int:
    return max(1, rows // int(rate * PERIOD_S))


def write_backlog(seed: int, out_dir: str, rows: int, rate: int) -> int:
    """Drop the pre-landed backlog; returns the number of rows written."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = backlog_files(rows, rate)
    total = 0
    for i in range(n_files):
        table = make_file(seed, "backlog", i, rate, n_files)
        drop(table, out_dir, file_name("backlog", i))
        total += table.num_rows
    return total


def run_live(seed: int, out_dir: str, rate: int, seconds: float, start: float, log: str) -> None:
    """Open loop: drop file i at ``start + i * PERIOD_S`` (wall clock)
    and append ``{"file", "due", "dropped", "rows"}`` to ``log``. Files
    are built ahead of their due time so the drop itself is a write and
    a rename. A ``{"done": true}`` line ends the log."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = int(round(seconds / PERIOD_S))
    with open(log, "a") as fh:
        for i in range(n_files):
            table = make_file(seed, "live", i, rate)
            due = start + i * PERIOD_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = file_name("live", i)
            drop(table, out_dir, name)
            fh.write(json.dumps({
                "file": name, "due": due, "dropped": time.time(), "rows": table.num_rows,
            }) + "\n")
            fh.flush()
        fh.write(json.dumps({"done": True}) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("phase", choices=("backlog", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=int, required=True, help="rows per second of due time")
    ap.add_argument("--rows", type=int, default=0, help="backlog: rows to pre-land")
    ap.add_argument("--seconds", type=float, default=0.0, help="live: duration")
    ap.add_argument("--start", type=float, default=0.0, help="live: wall-clock start")
    ap.add_argument("--log", default="", help="live: drop log (JSON lines)")
    args = ap.parse_args()
    if args.phase == "backlog":
        write_backlog(args.seed, args.out, args.rows, args.rate)
    else:
        run_live(args.seed, args.out, args.rate, args.seconds, args.start, args.log)


if __name__ == "__main__":
    main()
