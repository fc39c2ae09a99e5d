"""Benchmark harness: wall-clock per registered query at the bench SF.

Prints ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf"}. Honors $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) and $SPARK_GRAFT_CPUS (default all cores).

Each query is forced end-to-end with a noop-format write so the full
physical plan executes (scan -> shuffle -> sink) without driver-side
collect skew; streaming queries already materialize inside their query
function, so their timing covers the streamed execution itself.

Per-key cost comes from ``measure``: every key runs as one phase of
perfbench's ``Tracer`` (``perfbench/tracing.py``), whose ledger groups
the Spark jobs of the run by phase once, after the last key. One pass
is one sample; repeated-run spread is perfbench's job (seeded,
interleaved repeats), not this harness's.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time

import pandas as pd

from sparkstreamingtohdfsofsensorsdata_spark import shared
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all
from sparkstreamingtohdfsofsensorsdata_spark.session import (
    build_session,
    default_parallelism,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
from tracing import UI_CONF, Tracer  # noqa: E402


def _warmup(spark, sf_dir: str) -> None:
    """Start the JVM pipelines, the Python UDF workers, and the parquet
    reader before timing.

    The identity pandas UDF runs one task per core, so every Python
    worker is forked before the first key: per-key ``py_cpu_s`` then
    reads kernel work, not worker start. The workers come warm (heavy
    imports and the per-task fast path) from the ``fastdaemon`` that
    ``build_session`` configures on a local master. The first parquet
    scan pays footer/codec class loading. Both are session costs, not
    operator costs, so pay them here once instead of inside whichever
    query runs first.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _identity(s: pd.Series) -> pd.Series:
        return s

    n_par = spark.sparkContext.defaultParallelism
    spark.range(100 * n_par).repartition(n_par).select(
        _identity("id")
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    # Block-manager + localCheckpoint persistence paths: the iterative
    # CC queries checkpoint every round, and the first checkpointed
    # shuffle in a session pays several seconds of storage-layer
    # spin-up (measured: first cold q_llm_dedup_clusters 14.9s vs 5-7s
    # once warm) — a session cost, not an operator cost.
    spark.range(1_000_000).repartition(32).localCheckpoint().count()


def _load_1m() -> float:
    """1-minute load average — the contention index recorded per key.

    Three rounds (r6/r7/r8) adjudicated bench spikes as host contention
    by hand; recording the load the key actually ran under makes the
    call auditable from bench_last.json alone (VERDICT r8 item 3).
    """
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:  # pragma: no cover - getloadavg unsupported
        return -1.0


def measure(spark, sf_dir: str, keys: list[str]) -> dict[str, dict]:
    """Time ``keys`` in one session: ``{label: {wall_s, cpu_s, py_cpu_s,
    load_1m, ok}}``, in run order.

    After the warm-up, each declared payer among ``keys`` builds its
    shared intermediates upfront as the phase ``<prepay KEY>`` (in
    ``shared.payers()`` order), so every key then runs against warm
    intermediates whatever order it comes in; then each key runs
    (``spec.fn`` plus a noop write) as a phase of its own.

    Every phase runs between ``Tracer.begin`` and ``Tracer.end``, and
    the ledger is collected once, at the end, so nothing is polled or
    settled between phases:

    - ``cpu_s`` is the executor CPU of the phase's jobs (the ledger's
      ``exec_cpu_s``), None if the ledger has none for it;
    - ``py_cpu_s`` is the CPU of this process's own Python workers over
      the phase (``py_worker_cpu_s``, keyed on ``(pid, starttime)``).

    A failing phase reads ``ok=False`` and never sinks the run. The
    ledger places a job by its tag, or else by the phase it was
    submitted in. Call this once per session, before the session's
    first Python task: the tracer counts a Python worker only if it
    first sees it after the tracer is made, which is why the warm-up
    runs in here."""
    specs = load_all()
    tracer = Tracer(spark)
    ops: list[dict] = []

    def phase(label: str, fn) -> None:
        rec = {"key": label, "ok": True, "load_1m": _load_1m()}
        tracer.begin(label)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # a failing phase must not sink the run
            print(f"bench: {label} FAILED: {exc}", file=sys.stderr)
            rec["ok"] = False
        rec["wall_s"] = time.perf_counter() - t0
        rec["end"] = time.time()
        tracer.end(label, rec)
        ops.append(rec)
        # Session hygiene between phases, outside the timed region: drop
        # cached blocks left behind by ml-LSH models / memory sinks so
        # phase N's storage does not shrink phase N+1's execution memory.
        spark.catalog.clearCache()

    def run_key(spec) -> None:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    try:
        _warmup(spark, sf_dir)
        for payer in shared.payers():
            if payer in keys:
                phase(f"<prepay {payer}>", lambda p=payer: shared.prepay(spark, sf_dir, p))
        for key in keys:
            phase(key, lambda s=specs[key]: run_key(s))
        try:
            ledger = tracer.collect(ops)["ledger"]
        except Exception as exc:  # metering must never sink a run
            print(f"bench: tag ledger unavailable: {exc}", file=sys.stderr)
            ledger = {}
    finally:
        tracer.close()
    return _records(ops, ledger)


def _records(ops: list[dict], ledger: dict) -> dict[str, dict]:
    """``measure``'s result from the tracer's ops and tag ledger."""
    out = {}
    for op in ops:
        cpu = ledger.get(op["key"], {}).get("exec_cpu_s")
        out[op["key"]] = {
            "ok": op["ok"],
            "wall_s": round(op["wall_s"], 3),
            "cpu_s": None if cpu is None else round(cpu, 3),
            "py_cpu_s": round(op["py_worker_cpu_s"], 3),
            "load_1m": op["load_1m"],
        }
    return out


def _assemble(records: dict[str, dict]) -> dict:
    """bench_last.json's per-key maps from ``measure``'s records.

    - A failed key reads -1.0 and has no CPU or load entry; a key the
      ledger has no CPU for has no ``cpu_s`` entry (never a 0).
    - Each successful ``<prepay KEY>`` phase is listed in
      ``memo_payments`` and charged back into its payer's slot, since
      the build is the payer's own computation. If the payer's query
      itself failed, the build is reported as unreported instead of
      silently shrinking the total. A failed prepay leaves the build to
      whichever consumer runs first, which pays it inside its own run.
    """
    timings: dict[str, float] = {}
    cpus: dict[str, float] = {}
    py_cpus: dict[str, float] = {}
    loads: dict[str, float] = {}
    prepays: list[tuple[str, dict]] = []
    for name, rec in records.items():
        if name.startswith("<prepay "):
            prepays.append((name.removeprefix("<prepay ").removesuffix(">"), rec))
            continue
        if not rec["ok"]:
            timings[name] = -1.0
            continue
        timings[name] = rec["wall_s"]
        loads[name] = rec["load_1m"]
        py_cpus[name] = rec["py_cpu_s"]
        if rec["cpu_s"] is not None:
            cpus[name] = rec["cpu_s"]
    memo_payments: list[dict] = []
    for payer, rec in prepays:
        if not rec["ok"]:
            continue
        memo_payments.append({
            "payer": payer,
            "trigger": "<upfront>",
            "wall_s": rec["wall_s"],
            "cpu_s": rec["cpu_s"],
            "py_cpu_s": rec["py_cpu_s"],
        })
        if timings.get(payer, -1.0) < 0:
            print(
                f"bench: {rec['wall_s']:.3f}s of prepaid intermediate build is "
                f"unreported ({payer} failed)",
                file=sys.stderr,
            )
            continue
        timings[payer] = round(timings[payer] + rec["wall_s"], 3)
        py_cpus[payer] = round(py_cpus[payer] + rec["py_cpu_s"], 3)
        if rec["cpu_s"] is not None and payer in cpus:
            cpus[payer] = round(cpus[payer] + rec["cpu_s"], 3)
    return {"queries": timings, "cpu_s": cpus, "py_cpu_s": py_cpus,
            "load_1m": loads, "memo_payments": memo_payments}


def _host(spark) -> dict:
    """The host this run measured: numbers compare only within one."""
    jvm = spark.sparkContext._jvm
    return {
        # what `nproc` prints (cpuset/affinity-aware), the usual source
        # of $SPARK_GRAFT_CPUS, and the local[N] the session really ran
        "cores_usable": len(os.sched_getaffinity(0)),
        "local_cores": default_parallelism(),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


_STDOUT_BUDGET = 1800  # bytes; observed harness tail window is 2000


def _stdout_line(payload: dict) -> dict:
    """Shrink ``payload`` until its compact-JSON form fits the harness's
    stdout tail window, keeping the slowest queries (the ones regression
    checks compare) and dropping from the cheap end first.

    Failed queries (timing -1.0) must never be shrunk away: they would
    otherwise rank as the CHEAPEST keys, vanish from the kept map first,
    and leave a lower total that reads as a speedup — so they ride a
    dedicated always-present field instead of the ranked map.

    Self-containment (VERDICT r4 ask #4): the full 138-key map cannot
    fit as a named JSON object (the key names alone exceed the window),
    but it DOES fit as a value-only centisecond array over the sorted
    key order — ``t_cs[i]`` is the timing of ``sorted(queries)[i]`` in
    centiseconds (-1 = failed). ``t_keys_sha`` (sha256 of the
    newline-joined sorted keys, first 8 hex) pins the order against the
    committed registry so an auditor can detect key-set drift without
    ``bench_last.json``. The named ``queries`` map still carries the
    slowest keys by name for at-a-glance regression reads.
    """
    import hashlib

    failed = sorted(k for k, v in payload["queries"].items() if v < 0)
    ranked = sorted(
        ((k, v) for k, v in payload["queries"].items() if v >= 0),
        key=lambda kv: -kv[1],
    )
    skeys = sorted(payload["queries"])
    t_cs = [
        -1 if payload["queries"][k] < 0 else int(round(payload["queries"][k] * 100))
        for k in skeys
    ]
    t_sha = hashlib.sha256("\n".join(skeys).encode()).hexdigest()[:8]

    lvals = sorted(v for v in payload.get("load_1m", {}).values() if v >= 0)

    def build(keep: int, keep_failed: int, with_t: bool = True) -> dict:
        line = {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "sf": payload["sf"],
            # host-contention headline: median/max 1-min load across the
            # run; the per-key detail lives in bench_last.json (load_1m)
            "load_med": lvals[len(lvals) // 2] if lvals else None,
            "load_max": lvals[-1] if lvals else None,
            # contention-immune companion to `value`: total executor
            # CPU s (per-key map in bench_last.json)
            "cpu_total": payload.get("cpu_total"),
            # Python-worker CPU s (Arrow kernels; per-key map in
            # bench_last.json py_cpu_s) — r17, VERDICT r16 item 3
            "py_cpu_total": payload.get("py_cpu_total"),
            "queries_total": len(ranked) + len(failed),
            "queries_failed_total": len(failed),
            "queries_failed": failed[:keep_failed],
            "queries_omitted": len(ranked) - keep,
            "queries_full": "bench_last.json",
            "queries": dict(sorted(ranked[:keep])),
        }
        if with_t:
            line["t_unit"] = "cs"
            line["t_order"] = "sorted_keys"
            line["t_keys_sha"] = t_sha
            line["t_cs"] = t_cs
        return line

    def fits(line: dict) -> bool:
        return len(json.dumps(line, separators=(",", ":"))) <= _STDOUT_BUDGET

    # Shrink the named timings first (failures and the full compact
    # array are the more important signals)…
    for keep in range(len(ranked), -1, -1):
        line = build(keep, len(failed))
        if fits(line):
            return line
    # …then, in a mass-failure run, the failed-name list itself — the
    # count survives even when the names cannot all fit…
    for keep_failed in range(len(failed), -1, -1):
        line = build(0, keep_failed)
        if fits(line):
            return line
    # …and only as a last resort the compact array (a sub-700-byte
    # budget, never the driver's observed window).
    for keep_failed in range(len(failed), -1, -1):
        line = build(0, keep_failed, with_t=False)
        if fits(line):
            return line
    # Only reachable if a caller shrank the budget below ~200 bytes;
    # emit the headline anyway — numbers beat nothing.
    return build(0, 0, with_t=False)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:
        # A non-sf<N> directory name is a valid bench target; a dead
        # bench over an unparseable LABEL is not. Null it and run.
        sf = None
    # UI on for bench only: the tracer's ledger reads the status REST
    # API once, after the last key; the suite/sweep sessions keep the
    # UI off as before.
    spark = build_session(app_name="bench", extra_conf=UI_CONF)
    parts = _assemble(measure(spark, sf_dir, list(load_all())))
    host = _host(spark)
    spark.stop()

    timings, cpus, py_cpus = parts["queries"], parts["cpu_s"], parts["py_cpu_s"]
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # Executor CPU seconds of each key (VERDICT r11 item 7): the
        # contention-immune per-key cost, from the tracer's ledger.
        "cpu_s": cpus,
        "cpu_total": round(sum(cpus.values()), 1) if cpus else None,
        # Python-worker CPU seconds of each key (VERDICT r16 item 3):
        # the Arrow-kernel companion to cpu_s — work the JVM ledger
        # cannot see because the JVM idles while batches are in Python
        # workers. Keys that never cross the Python boundary read ~0;
        # the simhash/minhash/heavy-hitters keys must read nonzero or
        # their kernels silently stopped being audited.
        "py_cpu_s": py_cpus,
        "py_cpu_total": round(sum(py_cpus.values()), 1) if py_cpus else None,
        "sf": sf,
        # Contention record (VERDICT r8 item 3): the 1-min load when
        # each key started.
        "load_1m": parts["load_1m"],
        # Shared-memo build audit (VERDICT r12 item 2): which payer was
        # charged for each intermediate build, what triggered it
        # ("<upfront>" = the prepay phases before the first key), and
        # its wall/CPU.
        "memo_payments": parts["memo_payments"],
        # Cores, RAM and versions of the host: a number compares only
        # with numbers from the same fingerprint.
        "host": host,
    }
    # Persist the full map next to this script: harnesses that keep only
    # a tail of stdout truncated the per-query timings in round 2
    # (ADVICE.md) — the on-disk copy keeps every claim auditable.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_last.json")
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # ONE compact line on stdout (the driver contract). The observed
    # harness stores only the LAST 2000 bytes of stdout, and the full
    # 138-key map cannot fit (the key names alone total >2000 bytes), so
    # rounds 1-3 recorded `parsed: null` with a head-truncated line. Emit
    # instead a line guaranteed to fit: headline numbers plus as many of
    # the slowest per-query timings as the byte budget allows (the tail
    # of the cost distribution is what regression checks look at), with
    # an explicit omission count and a pointer to the committed full map.
    print(json.dumps(_stdout_line(payload), separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
