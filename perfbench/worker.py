"""The process under test: one Spark session, driven through the
program's public functions only.

``run.py`` starts this module in a fresh process per session and talks
to it over stdin/stdout: the worker prints ``PB <event> <json>`` lines
and waits for a ``GO`` line before each timed phase, so the parent can
sample the process tree exactly at phase boundaries. Everything the
parent needs afterwards is written as JSON to ``--result``.

Modes:

- ``registry``: run the pinned registry keys in order, each as
  ``spec.fn(spark, sf_dir)`` plus a noop write; then compare a
  seed-chosen sample of keys with their DuckDB oracle, outside the
  timed region.
- ``sensor``: drain a pre-landed backlog, one ``write_file_sink`` call
  per round, then keep calling it while the open-loop generator drops
  files, until the generator is done and its files are drained.

``--trace`` turns on the Spark UI, tags every operation's jobs, installs
a ``StreamingQueryListener`` and reads the planning tracker; without it
the session is used exactly as ``build_session`` makes it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)


def say(event: str, payload=None) -> None:
    sys.stdout.write(f"PB {event} {json.dumps(payload)}\n")
    sys.stdout.flush()


def wait_go() -> None:
    line = sys.stdin.readline()
    if line.strip() != "GO":
        raise SystemExit(f"expected GO from the parent, got {line!r}")


def start_session(trace: bool):
    """Build the session and run its first job (the set-up interval)."""
    from sparkstreamingtohdfsofsensorsdata_spark.session import build_session

    if trace:
        from tracing import UI_CONF

        spark = build_session(extra_conf=UI_CONF)
    else:
        spark = build_session()
    spark.range(16).count()
    return spark


# --------------------------------------------------------------- registry


def _warm_registry(spark, sf_dir: str) -> None:
    """Pay session-wide lazy set-up before the timed pass: Python worker
    start, the parquet reader and block-manager checkpointing."""
    from pyspark.sql import functions as F

    n_par = spark.sparkContext.defaultParallelism
    spark.range(64 * n_par).repartition(n_par).select(
        F.udf(lambda x: x, "long")("id")
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(100_000).repartition(n_par).localCheckpoint().count()


def run_registry(spark, args, tracer) -> dict:
    from sparkstreamingtohdfsofsensorsdata_spark import registry

    specs = registry.load_all()
    keys = json.loads(args.keys)
    missing = [k for k in keys if k not in specs]
    _warm_registry(spark, args.sf_dir)
    say("WARM")
    wait_go()
    ops = []
    for key in keys:
        if key in missing:
            continue
        rec = {"key": key, "ok": True}
        if tracer:
            tracer.begin(key)
        t0 = time.time()
        try:
            df = specs[key].fn(spark, args.sf_dir)
            t1 = time.time()
            if tracer:
                rec["plan_ms"] = tracer.plan_ms(df)
                t1b = time.time()
            else:
                t1b = t1
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as exc:  # a raising key is a failed operation
            t1 = t1b = t2 = time.time()
            rec["ok"] = False
            rec["error"] = repr(exc)[:300]
        rec.update(start=t0, build_s=t1 - t0, exec_s=t2 - t1b, end=t2,
                   wall_s=(t1 - t0) + (t2 - t1b))
        if tracer:
            tracer.end(key, rec)
        ops.append(rec)
        # Session hygiene between keys, outside the timed region.
        spark.catalog.clearCache()
    say("DONE")
    present = [k for k in keys if k not in missing]
    checks = check_oracles(spark, specs, present, args.seed, args.oracle_sample, args.sf_dir)
    return {"ops": ops, "missing": missing, "checks": checks,
            "n_registry": len(specs), "all_keys": sorted(specs)}


def check_oracles(spark, specs, keys, seed: int, n: int, sf_dir: str) -> list[dict]:
    """Compare ``n`` seed-chosen keys that have an oracle with it, using
    the repository's own parity check (``tests/conftest.py``): the same
    column, row-count and float-boundary rules as the test suite."""
    import random

    tests_dir = os.path.join(REPO, "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    from conftest import make_duck_views, run_parity

    pool = sorted(k for k in keys if specs[k].oracle is not None)
    sample = sorted(random.Random(seed).sample(pool, min(n, len(pool))))
    con = make_duck_views(sf_dir)
    out = []
    for key in sample:
        try:
            run_parity(spark, con, key, sf_dir)
            problem = None
        except Exception as exc:  # a mismatch (AssertionError) or a raise
            problem = f"{type(exc).__name__}: {exc}"[:300]
        out.append({"key": key, "ok": problem is None, "problem": problem})
    con.close()
    return out


# ----------------------------------------------------------------- sensor


def sensor_job(spark, in_dir: str):
    """The paper's pipeline: sensor files -> drop malformed readings ->
    watermarked sliding-window aggregation -> date partition column."""
    from pyspark.sql import functions as F

    from sparkstreamingtohdfsofsensorsdata_spark.sources.factory import stream_source
    from sparkstreamingtohdfsofsensorsdata_spark.streaming.ops import sliding_stats
    from sensor import SLIDE, VALID_MAX, VALID_MIN, WATERMARK, WINDOW

    events = stream_source(spark, in_dir)
    valid = events.filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("value").between(VALID_MIN, VALID_MAX)
    )
    stats = sliding_stats(valid, window=WINDOW, slide=SLIDE, watermark=WATERMARK)
    return stats.withColumn("event_date", F.to_date("window_start"))


def _commits(ckpt: str) -> int:
    path = os.path.join(ckpt, "commits")
    return sum(1 for n in os.listdir(path) if n.isdigit()) if os.path.isdir(path) else 0


def _gen_done(log: str) -> bool:
    try:
        with open(log) as fh:
            return any('"done"' in line for line in fh)
    except OSError:
        return False


def run_sensor(spark, args, tracer) -> dict:
    from sparkstreamingtohdfsofsensorsdata_spark.streaming.runner import write_file_sink
    from sensor import DRAIN_ROUNDS

    def sink_call(label: str, in_dir: str, sink: str, ckpt: str) -> dict:
        before = _commits(ckpt)
        if tracer:
            tracer.begin(label)
        rec = {"key": label, "ok": True}
        t0 = time.time()
        try:
            df = sensor_job(spark, in_dir)
            t1 = time.time()
            write_file_sink(df, sink, ckpt, partition_cols=("event_date",))
        except Exception as exc:  # a raising call is a failed operation
            t1 = t0
            rec["ok"] = False
            rec["error"] = repr(exc)[:300]
        t2 = time.time()
        rec.update(start=t0, end=t2, build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0,
                   batches=_commits(ckpt) - before)
        if tracer:
            tracer.end(label, rec)
        return rec

    # Warm-up on its own input, sink and checkpoint, one file per call:
    # first-query class loading and code generation, and the JIT of the
    # per-call path (planning, state-store and sink commits), are session
    # set-up. With a single warm call, live calls still sped up by up to
    # a fifth over the live phase, and the latency p50 spread with it.
    warm_dir = args.warm_in + ".calls"
    os.makedirs(warm_dir)
    for name in sorted(os.listdir(args.warm_in)):
        os.replace(os.path.join(args.warm_in, name), os.path.join(warm_dir, name))
        sink_call("warm", warm_dir, args.warm_sink, args.warm_ckpt)
    say("WARM")
    ops = []
    for r in range(DRAIN_ROUNDS):
        wait_go()  # the parent has moved this round's backlog in
        ops.append(sink_call(f"drain{r}", args.in_dir, args.sink, args.ckpt))
        say("DRAINED")
    wait_go()
    deadline = time.time() + args.live_timeout
    i = 0
    while time.time() < deadline:
        done = _gen_done(args.gen_log)
        rec = sink_call(f"live{i}", args.in_dir, args.sink, args.ckpt)
        ops.append(rec)
        i += 1
        if done and rec["batches"] == 0:
            break
    say("DONE")
    return {"ops": ops}


# ------------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("registry", "sensor"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", default="")
    ap.add_argument("--sf-dir", dest="sf_dir", default="")
    ap.add_argument("--keys", default="[]")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--oracle-sample", dest="oracle_sample", type=int, default=0)
    for name in ("in_dir", "sink", "ckpt", "warm_in", "warm_sink", "warm_ckpt", "gen_log"):
        ap.add_argument("--" + name.replace("_", "-"), dest=name, default="")
    ap.add_argument("--live-timeout", dest="live_timeout", type=float, default=60.0)
    args = ap.parse_args()

    spark = start_session(bool(args.trace))
    say("READY", {"t": time.time()})
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    try:
        if args.mode == "registry":
            result = run_registry(spark, args, tracer)
        else:
            result = run_sensor(spark, args, tracer)
        if tracer:
            result["trace"] = tracer.collect(result["ops"])
        with open(args.result, "w") as fh:
            json.dump(result, fh)
    finally:
        if tracer:
            tracer.close()
        spark.stop()


if __name__ == "__main__":
    main()
