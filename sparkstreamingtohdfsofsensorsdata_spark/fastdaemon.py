"""Drop-in ``spark.python.daemon.module``: warm, patched worker forks.

The stock worker lifecycle has two fixed costs this engine keeps
paying at every scale (measured r17, local[32], Spark 4.1, CPython
3.11):

- **Respawn imports.** ``PythonWorkerFactory`` kills workers idle for
  more than one minute (``IDLE_WORKER_TIMEOUT_NS`` — hardcoded, not a
  conf), and the stock daemon process imports almost nothing, so every
  respawned fork re-imports numpy + pandas + pyarrow from scratch:
  ~0.6 CPU-s per worker, ~20 CPU-s per 32-worker wave. A bench/driver
  run interleaves long JVM-only stretches with Python stages, so the
  pool is reaped and respawned repeatedly (visible as multi-second
  ``py_cpu_s`` on whichever key runs after a JVM-only stretch).
- **Per-task fixed work.** The per-task ``importlib.invalidate_caches``
  zip re-scan and the daemon loop's full ``gc.collect`` —
  ``workerfast.activate`` (same package) removes both, but only after
  the first task of one of OUR kernels runs in that worker; a fresh
  fork serving someone else's UDF first still pays.

This module wraps the stock ``pyspark.daemon`` so the DAEMON process
itself pre-imports the heavy libraries and the worker main loop, then
applies ``workerfast.activate()`` once — every subsequently forked
worker inherits the warm imports, the patched zipimporters, and the
frozen baseline via fork copy-on-write. Respawn cost collapses to a
bare ``fork()``; no worker ever pays the per-task fixed costs, no
matter whose UDF it serves first. The freeze has a second effect worth
naming: without it, the first full gc in a fork walks every inherited
object's gc header and copy-on-write-unshares the whole baseline heap
(the classic CPython fork-memory trap); frozen objects are never
walked, so the ~150 MB import baseline stays physically shared across
all 32 workers.

Failure posture: ``_prewarm`` is wrapped defensively — a missing
optional library degrades to the stock behavior, never a dead daemon.
Deployment: ``session.build_session`` sets the conf only for a
``local``/``local[...]`` master whose workers can import this package
from a real directory (it exports PYTHONPATH right before the JVM
launches); any other master keeps the stock daemon. A cluster deploy
that pip-installs the package on executors gets the same win by
setting the same conf itself (PYTHONPATH is then already correct).

Launch protocol note: ``pyspark.daemon`` resolves the WORKER module
from ``sys.argv[1]`` at its own import time (the factory launches
``python -m <daemon.module> <worker.module>``), so importing it below
— after the pre-warm — preserves the stock worker-module dispatch,
including the separate Python-data-source worker modules.
"""

from __future__ import annotations


def _prewarm() -> None:
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except Exception:  # pragma: no cover - optional libs must not kill the daemon
        pass
    try:
        import pyspark.sql.pandas.serializers  # noqa: F401
        import pyspark.worker  # noqa: F401
    except Exception:  # pragma: no cover
        pass
    try:
        # Pre-import the whole operator surface (~0.1 CPU-s once) so a
        # fork's first by-reference unpickle finds every kernel module
        # already in sys.modules — otherwise each of 32 workers pays
        # the import on its first task (~3-4 CPU-s per wave, visible as
        # first-exec py_cpu on whichever Arrow key runs first).
        from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all

        load_all()
    except Exception:  # pragma: no cover
        pass
    try:
        from sparkstreamingtohdfsofsensorsdata_spark.workerfast import activate

        activate()
    except Exception:  # pragma: no cover
        pass


_prewarm()

from pyspark.daemon import manager  # noqa: E402  (import order is the point)

if __name__ == "__main__":
    manager()
