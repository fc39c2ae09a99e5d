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
