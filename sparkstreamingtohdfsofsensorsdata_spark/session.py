"""SparkSession factory tuned for this engine.

Design notes (scale-first):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and SMJ->broadcast conversion replace hand-tuned partition counts when
  the same plan runs at 100 TB on a real cluster.
- Arrow on: every JVM<->Python crossing (pandas_udf, toPandas) is
  batch-columnar instead of row-pickled.
- UTC session timezone: parquet timestamps compare bit-identically with
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- shuffle.partitions defaults to the local core count; on a real cluster
  AQE's coalescing makes the initial number far less critical, but a sane
  default avoids 200 tiny partitions on test data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "sparkstreamingtohdfsofsensorsdata-spark"


def scratch_dir(prefix: str = "scratch_") -> str:
    """Ephemeral scratch directory, on tmpfs when the host has one.

    Shuffle spill, streaming checkpoints, and state-store commits are
    fsync-heavy; putting them on a RAM disk removes disk-throttle
    stalls on this single-node rig. The durable analogue on a real
    cluster is NVMe-local spark.local.dir + HDFS/S3 checkpoints — only
    *restart-critical* checkpoints need durable storage, and only the
    file-sink query here claims restartability.
    """
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def default_parallelism() -> int:
    """Local parallelism: honor the driver's SPARK_GRAFT_CPUS if set,
    else the CPUs this process may run on (its affinity mask, as
    ``nproc`` counts them), so a cpuset-limited container does not
    oversubscribe ``local[N]`` with the host's full core count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


_SHIPPED_APPS: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``sc.addPyFile``.

    Python UDFs that reference module-level functions are cloudpickled
    *by reference*: the worker must be able to ``import`` this package.
    That only happens for free when the driver process was launched from
    the repo root (workers inherit the cwd); a grading driver — or any
    library consumer — importing from elsewhere gets
    ``ModuleNotFoundError`` inside executors instead. Shipping a zip of
    the package once per SparkContext is the standard cluster deploy
    move (``spark-submit --py-files``) done at runtime, and it makes the
    driver contract location-independent.
    """
    sc = spark.sparkContext
    app = f"{sc.applicationId}-{sc.startTime}"
    if app in _SHIPPED_APPS:
        return
    sc.addPyFile(_package_zip())
    # _SHIPPED_APPS holds one short string per SparkContext ever seen in
    # this process — bounded by session restarts, never data volume.
    _SHIPPED_APPS.add(app)


_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Build the package zip ONCE per process and reuse it for every
    SparkContext: the package source cannot change under a running
    process, so the per-context rebuild (a fresh mkdtemp + full os.walk
    each time) was pure rework that also leaked one orphan pkgship_*
    dir per session restart (review r6)."""
    global _PKG_ZIP
    if _PKG_ZIP is not None and os.path.exists(_PKG_ZIP):
        return _PKG_ZIP
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="pkgship_"), "sparkstreamingtohdfsofsensorsdata_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    z.write(full, os.path.relpath(full, root))
    _PKG_ZIP = zpath
    return zpath


FASTDAEMON_MODULE = "sparkstreamingtohdfsofsensorsdata_spark.fastdaemon"


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fastdaemon_available() -> bool:
    """True iff the warm-fork daemon module (fastdaemon.py) can be made
    importable by the Python worker processes — which requires the
    package's parent directory on the PYTHONPATH **environment
    variable** (the daemon is a fresh ``python -m`` process; the
    driver's sys.path does not reach it). Either the path is already
    exported, or the JVM has not launched yet and ``build_session``
    can still export it; a JVM already up without it could not import
    the daemon module, so the stock daemon stays (r17, see
    fastdaemon.py for the measured rationale)."""
    from pyspark import SparkContext

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isfile(os.path.join(pkg_dir, "fastdaemon.py")):
        return False  # running from a zip/egg: not reachable by -m
    if _PACKAGE_ROOT in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        return True
    return SparkContext._gateway is None


def _python_daemon_conf(master: str) -> dict[str, str]:
    """The warm-fork daemon conf for ``master``, or nothing. Only a
    ``local``/``local[...]`` master runs its workers on this host with
    this process's environment; any other master (``local-cluster``, a
    standalone/YARN/k8s URL) keeps the stock daemon, since the module
    may not be importable on its worker hosts."""
    local = master == "local" or master.startswith("local[")
    if local and _fastdaemon_available():
        return {"spark.python.daemon.module": FASTDAEMON_MODULE}
    return {}


def _export_package_root() -> None:
    """Put the package's parent directory on PYTHONPATH so the worker
    processes the JVM launches can ``python -m`` the daemon module."""
    current = os.environ.get("PYTHONPATH", "")
    if _PACKAGE_ROOT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            current + os.pathsep + _PACKAGE_ROOT if current else _PACKAGE_ROOT
        )


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    All knobs that matter for both local testing and cluster scale are
    set here once so every entry point (batch, SQL, streaming, bench)
    runs under the same execution profile.
    """
    # getOrCreate returns any live session UNCHANGED — per-call knobs
    # (shuffle_partitions, extra_conf, master) never applied to it, and
    # building the config still evaluated scratch_dir(), leaking one
    # orphan spark_local_* tmpfs dir per call in long-lived processes
    # (review r6). Short-circuit explicitly: same semantics, no side
    # effects. Callers needing different knobs use a fresh process (as
    # the sweep/bench/ramp scripts do) or set runtime confs themselves.
    # getActiveSession() is thread-local — a call from a fresh thread
    # while a default session exists would miss it, evaluate
    # scratch_dir(), and leak one spark_local_* dir anyway (ADVICE r6).
    # The process-global default (what the JVM calls getDefaultSession;
    # PySpark exposes it as _instantiatedSession — getOrCreate consults
    # exactly this) covers that thread, with getOrCreate's own liveness
    # test so a stopped session never short-circuits a rebuild.
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    default = SparkSession._instantiatedSession
    if default is not None and default._sc._jsc is not None:
        return default

    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs every executor thread inside the driver JVM —
        # the 1g default heap GC-thrashes under 32-way parallelism, and a
        # long multi-query session (74 bench queries: cached LSH models,
        # memory-sink tables, state stores) still thrashes at 8g
        .config("spark.driver.memory", "32g")
        # --- optimizer / runtime re-planning ---
        # CBO consumes ANALYZE TABLE stats (bucketed catalog tables —
        # see operators/bucketing.py); path-based parquet reads are
        # unaffected. AQE re-plans at runtime on real shuffle sizes.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- JVM<->Python transfer ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism for the oracle comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scan efficiency ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # --- streaming: checkpoint checksum manager deadlocks across
        #     sequential queries in one session (see streaming/runner.py) ---
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # --- scratch on tmpfs: shuffle + block-manager spill files ---
        .config("spark.local.dir", scratch_dir("spark_local_"))
        # --- quieter local runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    # Warm-fork Python daemon (r17, guide §4.5), the engine's only
    # worker fast path: workers are forked from a daemon that already
    # imported numpy/pandas/pyarrow and the operator surface, stopped
    # the per-task re-reads of its launch-path zips and froze the gc
    # baseline, so respawned workers (the JVM reaps the idle pool after
    # a hardcoded 1 minute) cost a bare fork instead of ~0.6 CPU-s of
    # imports, and no task pays the per-task zip re-scan / full-gc
    # fixed costs. Gated on a local master and on the module being
    # importable by the worker processes — see _python_daemon_conf and
    # fastdaemon.py. Any other session runs pyspark's stock worker.
    daemon_conf = _python_daemon_conf(master)
    for key, value in {**daemon_conf, **(extra_conf or {})}.items():
        builder = builder.config(key, value)

    if daemon_conf:
        _export_package_root()  # the JVM launching next inherits it
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
