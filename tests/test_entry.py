"""Smoke tests for the driver contract surface."""

from __future__ import annotations

import __spark_entry__ as entrymod
from sparkstreamingtohdfsofsensorsdata_spark import registry


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_and_oracles_align():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must have a query
    assert set(os_) <= set(qs)
    # every registered key, once, in registration order
    assert list(registry.load_all()) == list(registry.REGISTRY)


def test_flagship_parity(spark, duck):
    from conftest import run_parity

    n = run_parity(spark, duck, "q_agg_group")
    assert n > 0


def test_build_session_short_circuits_from_fresh_thread(spark):
    """ADVICE r6: getActiveSession() is thread-local, so a
    build_session() call from a thread that never touched Spark used to
    miss the live session, re-evaluate the builder config, and leak one
    scratch spark_local_* dir per call. The process-global default
    (_instantiatedSession — what getOrCreate consults) must
    short-circuit instead: same object back, zero new scratch dirs."""
    import glob
    import threading

    from sparkstreamingtohdfsofsensorsdata_spark.session import build_session

    before = set(glob.glob("/dev/shm/spark_local_*")) | set(
        glob.glob("/tmp/spark_local_*")
    )
    out: list = []
    t = threading.Thread(target=lambda: out.append(build_session()))
    t.start()
    t.join()
    after = set(glob.glob("/dev/shm/spark_local_*")) | set(
        glob.glob("/tmp/spark_local_*")
    )
    assert out and out[0] is spark
    assert after == before
