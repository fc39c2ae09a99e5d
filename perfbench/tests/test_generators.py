"""The seeded sensor generator: same seed, same bytes; other seed,
other bytes; the documented shares of malformed and out-of-order
readings.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import time

import numpy as np
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_sensor  # noqa: E402
from sensor import WATERMARK  # noqa: E402

RATE = 20_000


def _files(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if n.endswith(".parquet"))


def test_backlog_same_seed_gives_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen_sensor.write_backlog(7, str(a), 50_000, RATE)
    gen_sensor.write_backlog(7, str(b), 50_000, RATE)
    names = _files(a)
    assert names == _files(b)
    assert len(names) == gen_sensor.backlog_files(50_000, RATE) > 1
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors


def test_backlog_other_seed_gives_other_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen_sensor.write_backlog(7, str(a), 20_000, RATE)
    gen_sensor.write_backlog(8, str(b), 20_000, RATE)
    for name in _files(a):
        assert not filecmp.cmp(a / name, b / name, shallow=False)


def test_live_schedule_and_files_repeat(tmp_path):
    logs = []
    for run in ("a", "b"):
        out, log = tmp_path / run, tmp_path / f"{run}.jsonl"
        start = time.time() + 0.05
        gen_sensor.run_live(3, str(out), RATE, 1.0, start, str(log))
        drops = [json.loads(line) for line in log.read_text().splitlines()]
        assert drops[-1] == {"done": True}
        logs.append([(d["file"], round(d["due"] - start, 9), d["rows"]) for d in drops[:-1]])
    assert logs[0] == logs[1]
    n = round(1.0 / gen_sensor.PERIOD_S)
    assert [d[1] for d in logs[0]] == [round(i * gen_sensor.PERIOD_S, 9) for i in range(n)]
    names = _files(tmp_path / "a")
    match, _mismatch, _errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names,
                                                 shallow=False)
    assert match == names


def test_malformed_and_out_of_order_shares():
    table = gen_sensor.make_file(11, "live", 4, 400_000)
    n = table.num_rows
    value = table["value"]
    nulls = value.null_count
    nan = pc.sum(pc.is_nan(value.fill_null(0.0))).as_py()
    out_of_range = pc.sum(pc.or_(pc.less(value, gen_sensor.VALID_MIN),
                                 pc.greater(value, gen_sensor.VALID_MAX))).as_py()
    bad = (nulls + nan + out_of_range) / n
    assert abs(bad - gen_sensor.MALFORMED_SHARE) < 0.005
    ts = table["ts"].cast("int64").to_numpy()
    base = gen_sensor.live_epoch_us(11) + int(4 * gen_sensor.PERIOD_S * 1e6)
    early = ts < base  # stamped before this file's first due instant
    assert early.any()
    skew_limit_us = gen_sensor.MAX_SKEW_S * 1e6
    assert (base - ts[early]).max() < skew_limit_us
    assert gen_sensor.MAX_SKEW_S < float(WATERMARK.split()[0])
    assert abs(np.mean(np.diff(ts) < 0) - gen_sensor.OUT_OF_ORDER_SHARE) < 0.03
