"""Process-tree meter scope, and BENCHMARK.json against what run.py prints."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meter import TreeMeter, descendants  # noqa: E402

SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_meter_counts_only_the_tree():
    outsider = subprocess.Popen([sys.executable, "-c", SPIN.format(s=1.0)])
    root = subprocess.Popen([
        sys.executable, "-c",
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {SPIN.format(s=0.6)!r}])\n",
    ])
    try:
        meter = TreeMeter(root.pid, interval_s=0.05).start()
        root.wait(timeout=30)
        cpu = meter.mark()
        meter.stop()
        pids = {pid for pid, _start in meter.seen()}
        assert root.pid in pids and outsider.pid not in pids
        assert len(pids) >= 2  # the grandchild was seen
        assert 0.3 < cpu["tree"] < 0.95  # the spinning grandchild, not the outsider
    finally:
        outsider.kill()
        outsider.wait(timeout=30)


def test_descendants_are_keyed_by_pid_and_start_time():
    procs = descendants(os.getpid())
    (key,) = [k for k in procs if k[0] == os.getpid()]
    with open(f"/proc/{os.getpid()}/stat") as fh:
        raw = fh.read()
    assert key[1] == int(raw[raw.rindex(")") + 2:].split()[19])


def test_benchmark_json_names_what_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_fixture_tables_are_present():
    import run
    from sparkstreamingtohdfsofsensorsdata_spark.tables import TABLES

    for sf in run.FIXTURE.values():
        for name in TABLES:
            assert os.path.isfile(os.path.join(run.HERE, "fixture", sf, f"{name}.parquet"))
