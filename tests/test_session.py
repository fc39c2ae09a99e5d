"""Session-factory and worker fast-path gates (no cluster needed).

The warm-fork daemon conf is built only for a master whose workers run
on this host with this process's environment; every other master keeps
the stock daemon. The warm-fork daemon is the one worker fast path:
before any worker is forked, it stops the per-task zip re-reads of
the launch-path archives and freezes the gc baseline once, and its
workers inherit both.
"""

from __future__ import annotations

import json
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

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
    # warm-fork preload, no daemon-side fast path) must still run an
    # Arrow-kernel key to its oracle. A fresh interpreter,
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
        # Only Python processes other than this driver: the JVM's
        # --conf argument and this driver's own code string both name
        # the daemon module too.
        "for pid, _cpu in descendants(os.getpid()).values():\n"
        "    try:\n"
        "        with open(f'/proc/{pid}/cmdline', 'rb') as fh:\n"
        "            argv = fh.read().split(b'\\0')\n"
        "    except OSError:\n"
        "        continue\n"
        "    exe = os.path.basename(argv[0]).decode()\n"
        "    if pid == os.getpid() or not exe.startswith('python'):\n"
        "        continue\n"
        "    if is_python_worker(pid):\n"
        "        print(b' '.join(argv).decode())\n"
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


def test_fastdaemon_skips_launch_zip_rescans_and_freezes_once(tmp_path):
    # A fresh interpreter: the daemon module does its work at import.
    # launch.zip is on sys.path before the import, like the distro
    # pyspark.zip, and is imported from; later.zip only gets a finder
    # afterwards, like an addPyFile zip. Both are then rewritten with a
    # new module: only later.zip's finders may re-read their directory.
    zips = {name: str(tmp_path / f"{name}.zip") for name in ("launch", "later")}

    def write(path, names):
        with zipfile.ZipFile(path, "w") as zf:
            for name in names:
                zf.writestr(name, "X = 1\n")

    write(zips["launch"], ["mod_launch.py", "pkg/__init__.py"])
    write(zips["later"], ["mod_later.py"])
    code = (
        "import gc, importlib, json, sys, zipfile, zipimport\n"
        "calls = []\n"
        "gc.freeze = lambda: calls.append(1)\n"
        f"launch, later = {zips['launch']!r}, {zips['later']!r}\n"
        "sys.path.insert(0, launch)\n"
        "import mod_launch\n"
        "import sparkstreamingtohdfsofsensorsdata_spark.fastdaemon\n"
        "cached = sys.path_importer_cache[launch]\n"
        "sub = zipimport.zipimporter(launch + '/pkg')  # a finder made after\n"
        "late = zipimport.zipimporter(later)\n"
        "for path, names in ((launch, ['mod_new.py', 'pkg/new.py']),\n"
        "                    (later, ['mod_new.py'])):\n"
        "    with zipfile.ZipFile(path, 'a') as zf:\n"
        "        for name in names:\n"
        "            zf.writestr(name, 'X = 2\\n')\n"
        "importlib.invalidate_caches()  # what every stock task calls\n"
        "for finder in (sub, late):\n"
        "    finder.invalidate_caches()\n"
        "print(json.dumps({\n"
        "    'freezes': len(calls),\n"
        "    'cached_sees_new': cached.find_spec('mod_new') is not None,\n"
        "    'sub_sees_new': sub.find_spec('new') is not None,\n"
        "    'later_sees_new': late.find_spec('mod_new') is not None,\n"
        "}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert json.loads(out.stdout.splitlines()[-1]) == {
        "freezes": 1,
        "cached_sees_new": False,
        "sub_sees_new": False,
        "later_sees_new": True,
    }


def test_fastdaemon_workers_come_patched(spark):
    # Every worker the session's fastdaemon forks already carries the
    # frozen baseline, and the per-task importlib.invalidate_caches()
    # re-reads no launch-path archive, not even through a pyspark.zip
    # finder made after the fork (a sub-package's first import makes
    # one). Only addPyFile zips, under the SparkFiles root, re-read.
    # The probe UDF calls nothing of the fast path itself.
    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import gc
        import importlib
        import os
        import pkgutil
        import zipimport

        from pyspark.files import SparkFiles

        distro = {
            f.archive
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter) and f.archive.endswith("pyspark.zip")
        }
        for archive in distro:
            pkgutil.get_importer(os.path.join(archive, "pyspark", "sql", "worker"))
        reread = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reread.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        user_files = SparkFiles.getRootDirectory()
        reread = [p for p in reread if not p.startswith(user_files)]
        state = f"{os.getpid()} {gc.get_freeze_count()} {len(distro)} {len(reread)}"
        return pd.Series([state] * len(s))

    rows = spark.range(0, 64, numPartitions=4).select(probe("id").alias("w"))
    workers = {r.w for r in rows.distinct().collect()}
    assert workers
    for state in workers:
        _pid, freeze_count, n_distro, n_reread = map(int, state.split())
        assert freeze_count > 0 and n_distro > 0 and n_reread == 0, workers


def test_default_parallelism_follows_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_parallelism() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.default_parallelism() == 7
