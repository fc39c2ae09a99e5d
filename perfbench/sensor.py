"""The ``sensor_stream`` job's settings and the reading of its results
from the outside: the checkpoint's logs, the sink's commit log and the
generator's drop log.

Event-to-commit latency of a reading is the time from its file's due
time at the generator to the modification time of the commit-log entry
of the micro-batch that read the file.
"""

from __future__ import annotations

import glob
import json
import os
from urllib.parse import unquote, urlparse

import numpy as np

from gen_sensor import VALID_MAX, VALID_MIN

WINDOW, SLIDE, WATERMARK = "10 seconds", "5 seconds", "4 seconds"
WINDOW_US, SLIDE_US = 10_000_000, 5_000_000

# Rows per second of due time: SENSOR_RATE sets how densely the backlog
# fills event time, LIVE_RATE the open-loop offered load. The job drains
# 0.7-1.7 M rows/s on a 4-core host, but a live call also pays a fixed
# start/stop cost, so at 400 k rows/s a slow host already saturated
# (calls lengthened run by run and latency doubled); 200 k rows/s stays
# well below. The backlog lands in DRAIN_ROUNDS equal parts, each
# drained by one call, so the drain time is a sum of three.
SENSOR_RATE = 400_000
LIVE_RATE = 200_000
SENSOR_BACKLOG_ROWS = 4_800_000
SENSOR_WARM_ROWS = 1_200_000  # 12 files, one warm-up call each
DRAIN_ROUNDS = 3


def _log_entries(log_dir: str) -> list[dict]:
    """Distinct JSON entries of a Spark metadata log. A ``.compact``
    file repeats the entries of the batch files before it, which may
    still be on disk; the ``v1`` header line is skipped."""
    out = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        name = os.path.basename(path)
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                if line:
                    out.setdefault(line, json.loads(line))
    return list(out.values())


def _offsets(ckpt: str) -> dict[int, tuple[dict, dict]]:
    """batch id -> (batch metadata, file-source offset)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as fh:
                lines = fh.read().splitlines()
            out[int(name)] = (json.loads(lines[1]), json.loads(lines[2]))
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime_ns / 1e9
    return out


def file_commits(ckpt: str) -> dict[str, float]:
    """Input file name -> commit time of the micro-batch that read it."""
    source_batch = {
        os.path.basename(e["path"]): e["batchId"]
        for e in _log_entries(os.path.join(ckpt, "sources", "0"))
    }
    offsets = sorted((o[1]["logOffset"], b) for b, o in _offsets(ckpt).items())
    commits = commit_times(ckpt)
    out = {}
    for name, log_id in source_batch.items():
        batch = next((b for off, b in offsets if off >= log_id), None)
        if batch in commits:
            out[name] = commits[batch]
    return out


def read_drops(gen_log: str) -> list[dict]:
    with open(gen_log) as fh:
        return [d for d in map(json.loads, fh) if "file" in d]


def live_latency(ckpt: str, gen_log: str) -> dict:
    """Event-to-commit latency (weighted by rows), generator lateness,
    and the largest number of dropped-but-uncommitted files seen at any
    file's drop."""
    drops = read_drops(gen_log)
    commits = file_commits(ckpt)
    lat, rows, late, missing = [], [], [], 0
    for d in drops:
        late.append(d["dropped"] - d["due"])
        if d["file"] not in commits:
            missing += 1
            continue
        lat.append(commits[d["file"]] - d["due"])
        rows.append(d["rows"])
    per_row = np.repeat(np.array(lat), rows) if lat else np.array([np.nan])
    backlog = [
        sum(1 for e in drops if e["dropped"] <= d["dropped"] < commits.get(e["file"], np.inf))
        for d in drops
    ]
    return {
        "e2c_p50_s": float(np.percentile(per_row, 50)),
        "e2c_p99_s": float(np.percentile(per_row, 99)),
        "e2c_files": len(lat),
        "uncommitted_files": missing,
        "gen_late_p99_ms": float(np.percentile(late, 99)) * 1000 if late else 0.0,
        "backlog_files_max": max(backlog, default=0),
    }


def final_watermark_us(ckpt: str) -> int:
    offsets = _offsets(ckpt)
    return int(offsets[max(offsets)][0]["batchWatermarkMs"]) * 1000


def sink_files(sink: str) -> list[str]:
    """Files the sink committed (its ``_spark_metadata`` log)."""
    entries = _log_entries(os.path.join(sink, "_spark_metadata"))
    return [unquote(urlparse(e["path"]).path) for e in entries
            if e.get("action", "add") == "add"]


def check_sink(sink: str, ckpt: str, in_dir: str) -> dict:
    """Every window the sink committed appears once and equals a DuckDB
    recomputation over the valid generated readings; every window the
    final watermark closed was committed."""
    import duckdb

    files = sink_files(sink)
    inputs = sorted(glob.glob(os.path.join(in_dir, "*.parquet")))
    wm = final_watermark_us(ckpt)
    con = duckdb.connect()
    got = con.execute(
        "SELECT epoch_us(window_start) ws, event_type, n, value_avg, "
        "CAST(event_date AS VARCHAR) d FROM read_parquet(?, hive_partitioning = true)",
        [files],
    ).fetchall() if files else []
    want = con.execute(
        f"""
        WITH ev AS (
          SELECT epoch_us(ts) t, event_type, value FROM read_parquet(?)
          WHERE value IS NOT NULL AND NOT isnan(value)
            AND value BETWEEN {VALID_MIN} AND {VALID_MAX}
        ), w AS (
          SELECT (t // {SLIDE_US}) * {SLIDE_US} - k * {SLIDE_US} ws, event_type, value
          FROM ev, range(0, {WINDOW_US // SLIDE_US}) r(k)
        )
        SELECT ws, event_type, count(*) n,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::DOUBLE / 100.0 / count(*)
        FROM w WHERE ws + {WINDOW_US} <= {wm}
        GROUP BY ws, event_type
        """,
        [inputs],
    ).fetchall()
    con.close()
    keys = [(r[0], r[1]) for r in got]
    dup = len(keys) - len(set(keys))
    got_map = {(r[0], r[1]): (r[2], r[3]) for r in got}
    want_map = {(r[0], r[1]): (r[2], r[3]) for r in want}
    wrong = sum(1 for k, v in got_map.items() if want_map.get(k) != v)
    lost = sum(1 for k in want_map if k not in got_map)
    dates = {r[4] for r in got}
    return {
        "windows": len(got), "expected": len(want), "duplicates": dup,
        "wrong": wrong, "missing": lost, "partitions": len(dates),
        "ok": bool(got) and dup == 0 and wrong == 0 and lost == 0,
    }
