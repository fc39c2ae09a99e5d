"""Session-factory and worker fast-path gates (no cluster needed).

The warm-fork daemon conf is built only for a master whose workers run
on this host with this process's environment; every other master keeps
the stock daemon. The worker fast path freezes the gc baseline once per
process, not once per call.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from sparkstreamingtohdfsofsensorsdata_spark import session

DAEMON_KEY = "spark.python.daemon.module"


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[2,3]"])
def test_local_master_gets_fastdaemon(monkeypatch, master):
    monkeypatch.setattr(session, "_fastdaemon_available", lambda: True)
    assert session._python_daemon_conf(master) == {
        DAEMON_KEY: session.FASTDAEMON_MODULE
    }


@pytest.mark.parametrize(
    "master",
    ["local-cluster[2,1,1024]", "spark://host:7077", "yarn", "k8s://https://host:6443"],
)
def test_non_local_master_keeps_stock_daemon(monkeypatch, master):
    monkeypatch.setattr(session, "_fastdaemon_available", lambda: True)
    assert session._python_daemon_conf(master) == {}


def test_unimportable_daemon_keeps_stock_daemon(monkeypatch):
    monkeypatch.setattr(session, "_fastdaemon_available", lambda: False)
    assert session._python_daemon_conf("local[4]") == {}
    assert session._python_daemon_conf("local[2]") == {}


def test_stock_daemon_still_answers_kernel_key():
    # The degraded path: workers forked by pyspark's stock daemon (no
    # warm-fork preload, no workerfast daemon-side activation) must
    # still run an Arrow-kernel key to its oracle. A fresh interpreter,
    # so the daemon conf is not the test session's.
    root = Path(__file__).resolve().parent.parent
    code = (
        "import os, sys\n"
        f"sys.path[:0] = [{str(root / 'tests')!r}, {str(root / 'perfbench')!r}]\n"
        "from conftest import SF_DIR, make_duck_views, run_parity\n"
        "from meter import descendants, is_python_worker\n"
        "from sparkstreamingtohdfsofsensorsdata_spark.session import build_session\n"
        "spark = build_session(master='local[2]', shuffle_partitions=2,\n"
        f"    extra_conf={{{DAEMON_KEY!r}: 'pyspark.daemon'}})\n"
        "run_parity(spark, make_duck_views(SF_DIR), 'q_llm_simhash', SF_DIR)\n"
        "for pid, _cpu in descendants(os.getpid()).values():\n"
        "    if is_python_worker(pid):\n"
        "        with open(f'/proc/{pid}/cmdline', 'rb') as fh:\n"
        "            print(fh.read().replace(b'\\0', b' ').decode())\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    workers = out.stdout.splitlines()
    assert any("pyspark.daemon" in cmd for cmd in workers), workers
    assert not any("fastdaemon" in cmd for cmd in workers), workers


def test_workerfast_freezes_once_per_process():
    # a fresh interpreter: the guard is per process, and the test
    # process itself may already have activated
    code = (
        "import gc\n"
        "calls = []\n"
        "gc.freeze = lambda: calls.append(1)\n"
        "from sparkstreamingtohdfsofsensorsdata_spark.workerfast import activate\n"
        "for _ in range(3):\n"
        "    activate()\n"
        "print(len(calls))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "1"
