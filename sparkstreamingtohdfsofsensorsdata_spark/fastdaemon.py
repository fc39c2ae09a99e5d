"""Drop-in ``spark.python.daemon.module``: warm, patched worker forks.

This module is the engine's only Python-worker fast path. The stock
worker lifecycle has two kinds of fixed cost (measured r17, local[32],
Spark 4.1, CPython 3.11):

- **Respawn imports.** ``PythonWorkerFactory`` kills workers idle for
  more than one minute (``IDLE_WORKER_TIMEOUT_NS`` — hardcoded, not a
  conf), and the stock daemon process imports almost nothing, so every
  respawned fork re-imports numpy + pandas + pyarrow from scratch:
  ~0.6 CPU-s per worker, ~20 CPU-s per 32-worker wave. A bench/driver
  run interleaves long JVM-only stretches with Python stages, so the
  pool is reaped and respawned repeatedly (visible as multi-second
  ``py_cpu_s`` on whichever key runs after a JVM-only stretch).
- **Per-task fixed work**, ~150 ms of worker CPU per Python-touching
  task in the reused-worker loop, regardless of eval type and data
  size (a 32-task passthrough ``mapInArrow`` stage cost ~5.0
  Python-CPU-s doing nothing). Two causes:

  - ~115 ms/task: ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` once per task, and CPython 3.11's
    ``zipimport.zipimporter.invalidate_caches`` EAGERLY re-reads the
    zip central directory — the ~107k-entry ``pyspark.zip`` plus the
    py4j zip are re-parsed on every task (``zipimport._read_directory``
    dominates the worker profile).
  - ~40 ms/task: the daemon loop runs a full ``gc.collect()`` after
    every task over the worker's ~73k-object import baseline.

``_prewarm`` runs once, in the DAEMON process, before any worker is
forked: it imports the heavy libraries, the worker main loop and the
whole operator surface, then removes both per-task costs. Every forked
worker inherits all of it via fork copy-on-write, so respawn cost
collapses to a bare ``fork()`` and no task pays the fixed work, no
matter whose UDF a fork serves first. Measured: the 32-task passthrough
drops 5.0 → ~0.1 Python-CPU-s (150 → ~3 ms/task).

- The zip patch makes ``zipimporter.invalidate_caches`` skip the
  re-read for every archive on the daemon's ``sys.path``: the distro
  ``pyspark.zip`` and py4j zips and the spark-core jar, immutable for
  the life of the application. It patches the class, not the finders
  cached at pre-warm, because a worker makes new finders over the same
  archives later (``pyspark.zip/pyspark/sql/worker`` for a Python
  data source, the jar's ``google/`` namespace path): patching only the
  cached instances left those re-reading on every task, and a 32-task
  passthrough at local[2] cost 4.2 instead of 0.33 Python-CPU-s once a
  Python-data-source and two streaming keys had run. A zip added later
  (``addPyFile``) is not on that path, so its finders still re-read
  normally and dynamic py-file semantics hold.
- ``gc.freeze()`` runs exactly once, before the first fork, so the
  daemon loop's per-task collect scans only objects a worker allocated
  itself. Frozen objects still free instantly by refcount; only cyclic
  garbage live at the freeze can leak, and freezing before any task
  has run bounds that to the import-time baseline — no task's live
  cycles are ever pinned. The freeze also keeps the first full gc in a
  fork from walking (and copy-on-write-unsharing) every inherited
  object's gc header, so the ~150 MB import baseline stays physically
  shared across the workers.

Failure posture: each import step of ``_prewarm`` is wrapped
defensively — a missing optional library degrades to the stock
behavior, never a dead daemon; the zip patch and the freeze use only
the standard library. Deployment: ``session.build_session`` sets the
conf only for a ``local``/``local[...]`` master whose workers can
import this package from a real directory (it exports PYTHONPATH right
before the JVM launches); any other master keeps the stock daemon and
pays the stock per-task costs. A cluster deploy that pip-installs the
package on executors gets the same win by setting the same conf itself
(PYTHONPATH is then already correct).

Launch protocol note: ``pyspark.daemon`` resolves the WORKER module
from ``sys.argv[1]`` at its own import time (the factory launches
``python -m <daemon.module> <worker.module>``), so importing it below
— after the pre-warm — preserves the stock worker-module dispatch,
including the separate Python-data-source worker modules.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


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
    launch_archives = frozenset(p for p in sys.path if os.path.isfile(p))
    rescan = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in launch_archives:
            rescan(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    gc.freeze()


_prewarm()

from pyspark.daemon import manager  # noqa: E402  (import order is the point)

if __name__ == "__main__":
    manager()
