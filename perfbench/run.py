"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``sensor_stream``: the paper's pipeline. A seeded generator process
  pre-lands a fixed backlog of sensor files, which the job drains with
  ``write_file_sink`` (closed loop); then the generator drops files on
  an open-loop schedule for ``--seconds`` seconds while the job keeps
  calling ``write_file_sink`` on the same checkpoint.
- ``registry_sf0.1``: the pinned registry keys (``keys.py``), each run
  once, in sorted-name order, on the fixture tables under
  ``perfbench/fixture/``. The seed picks the keys whose
  output is compared with their DuckDB oracle after the timed pass.

Each session runs in a fresh process (``worker.py``). ``setup_s`` is the
time from that process's start to its session built and first job done.
CPU and RSS are metered over the worker's process tree only.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload untraced and then traced, and prints the per-layer metrics of
the traced run plus the tracing overhead (traced minus untraced) of
every end-to-end metric. The last stdout line is the result JSON; a
full report goes to ``.perfbench/reports/`` and a summary to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from keys import (FAMILIES, KEYS, ORACLE_SAMPLE, REGISTRY_SHA,  # noqa: E402
                  REGISTRY_SIZE, family, keyset_sha)
from meter import TreeMeter, alive  # noqa: E402
from sensor import (DRAIN_ROUNDS, LIVE_RATE, SENSOR_BACKLOG_ROWS,  # noqa: E402
                    SENSOR_RATE, SENSOR_WARM_ROWS, check_sink, live_latency, sink_files)

PACKAGE = "sparkstreamingtohdfsofsensorsdata_spark"
RUN_LIMIT_S = 170.0  # the whole invocation, set-up included
# Fixture tables per registry workload: the seed-42 tables the program's
# tests and bench.py use, copied byte for byte.
FIXTURE = {"registry_sf0.1": "sf0.1"}
WORKLOADS = ("sensor_stream", *FIXTURE)
# Share of an untraced total that a traced per-operation sum may differ
# from it by, on top of the tracing overhead: run-to-run spread.
RECONCILE_TOL = 0.15

SS_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets",
             "addBatch")
LEDGER = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
# Metric name -> unit, as printed and as listed in BENCHMARK.json.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "CPU-s"}
LAYER_UNITS = {
    "ops": "count", "rss_peak_mb": "MB", "jobs": "count", "stages": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "CPU-s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "build_s": "s", "exec_s": "s", "driver_gap_s": "s", "plan_ms": "ms", "py_cpu_s": "CPU-s",
    "other_cpu_s": "CPU-s",
    "ss.batches": "count", **{f"ss.{p}_ms": "ms" for p in SS_PHASES},
    "state.commit_ms": "ms", "state.rows": "count", "state.mem_bytes": "bytes",
    "state.dropped_late_rows": "count",
    **{f"fam.{f}.wall_s": "s" for f in (*FAMILIES, "other")},
    **{f"overhead.{k}": v for k, v in E2E_UNITS.items()},
}


class RunFailed(Exception):
    pass


# ------------------------------------------------------------------ host


def preflight() -> str | None:
    """Why this checkout cannot run the benchmark, or None."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        return f"program package {PACKAGE!r} not found beside perfbench/"
    if shutil.which("java") is None:
        return "no java on PATH"
    for mod in ("pyspark", "duckdb", "pyarrow", "numpy"):
        try:
            __import__(mod)
        except ImportError:
            return f"python module {mod!r} is missing"
    return None


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return "absent"


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def _git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "not a git checkout"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _source_sha() -> str:
    digest = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest.update(name.encode() + fh.read())
    return digest.hexdigest()[:16]


def fingerprint() -> dict:
    import pyspark

    mem = next((line.split(":")[1].strip() for line in _read("/proc/meminfo").splitlines()
                if line.startswith("MemTotal")), "unknown")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cgroup_cpu_max": _read("/sys/fs/cgroup/cpu.max"),
        "mem_total": mem,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "git_commit": _git_commit(),
        "source_sha": _source_sha(),
    }


# ------------------------------------------------------------- processes


class Child:
    """A worker process in its own session, spoken to over stdin and
    ``PB <event> <json>`` lines on stdout."""

    def __init__(self, cmd: list[str], env: dict, cwd: str, log: str, deadline: float) -> None:
        self.deadline = deadline
        self.t0 = time.time()
        self._log = open(log, "ab")
        self.proc = subprocess.Popen(
            cmd, env=env, cwd=cwd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, start_new_session=True,
        )
        self._buf = b""

    def expect(self, event: str):
        while True:
            while b"\n" not in self._buf:
                left = self.deadline - time.time()
                if left <= 0:
                    raise RunFailed(f"timed out waiting for {event}")
                ready, _, _ = select.select([self.proc.stdout], [], [], min(left, 1.0))
                if ready:
                    chunk = os.read(self.proc.stdout.fileno(), 65536)
                    if not chunk:
                        raise RunFailed(f"worker exited before {event} "
                                        f"(code {self.proc.wait()})")
                    self._buf += chunk
            line, self._buf = self._buf.split(b"\n", 1)
            parts = line.decode(errors="replace").split(" ", 2)
            if len(parts) == 3 and parts[0] == "PB" and parts[1] == event:
                return json.loads(parts[2])

    def go(self) -> None:
        self.proc.stdin.write(b"GO\n")
        self.proc.stdin.flush()

    def finish(self) -> int:
        left = max(1.0, self.deadline - time.time())
        try:
            return self.proc.wait(timeout=left)
        except subprocess.TimeoutExpired as exc:
            raise RunFailed("worker did not exit in time") from exc

    def close(self, tracked: list[tuple[int, int]]) -> None:
        """Stop the worker and every process of its tree that is still
        alive, and wait until they have all ended."""
        if self.proc.poll() is None:
            _signal_group(self.proc.pid, signal.SIGTERM)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                _signal_group(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
        stop_all(tracked)
        for stream in (self.proc.stdin, self.proc.stdout):
            try:
                stream.close()
            except OSError:
                pass
        self._log.close()


def _signal_group(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except (ProcessLookupError, PermissionError):
        pass


def stop_all(tracked: list[tuple[int, int]]) -> None:
    """Wait for (then signal) every (pid, starttime) still alive."""
    for sig, wait_s in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        live = [(p, s) for p, s in tracked if alive(p, s)]
        if not live:
            return
        if sig is not None:
            for pid, _s in live:
                try:
                    os.kill(pid, sig)
                except (ProcessLookupError, PermissionError):
                    pass
        end = time.time() + wait_s
        while time.time() < end and any(alive(p, s) for p, s in live):
            time.sleep(0.1)


def child_env(work: str) -> dict:
    """The worker's environment. Spark's local dirs are left to
    ``build_session`` (its RAM-disk scratch), so the session is the one
    the program makes; ``SPARK_LOCAL_DIRS`` would override them."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONUNBUFFERED"] = "1"
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def worker_cmd(mode: str, trace: bool, *extra: str) -> list[str]:
    return [sys.executable, os.path.join(HERE, "worker.py"), mode, "--trace", str(int(trace)),
            *extra]


# ------------------------------------------------------------- workloads


def run_once(workload: str, seed: int, seconds: int, trace: bool, oracle: bool,
             work: str, deadline: float) -> dict:
    """One measured session of ``workload``; ``oracle`` compares sampled
    registry keys with their oracle after it. Returns the raw
    measurements."""
    tag = "trace" if trace else "plain"
    env = child_env(work)
    t_start = time.time()
    phases: dict[str, float] = {}
    out: dict = {"trace": trace, "phases": phases}
    gen = None
    if workload == "sensor_stream":
        sdir = os.path.join(work, f"sensor-{tag}")
        paths = {k: os.path.join(sdir, k) for k in
                 ("in", "backlog", "sink", "ckpt", "warm_in", "warm_sink", "warm_ckpt")}
        paths["gen_log"] = os.path.join(sdir, "drops.jsonl")
        gen_py = os.path.join(HERE, "gen_sensor.py")
        os.makedirs(paths["in"])

        def backlog_cmd(name: str, rows: int, gen_seed: int) -> list[str]:
            return [sys.executable, gen_py, "backlog", "--seed", str(gen_seed), "--out",
                    paths[name], "--rows", str(rows), "--rate", str(SENSOR_RATE)]

        subprocess.run(backlog_cmd("warm_in", SENSOR_WARM_ROWS, seed + 1_000_003),
                       check=True, env=env, timeout=max(1.0, deadline - time.time()))
        cmd = worker_cmd("sensor", trace, "--in-dir", paths["in"], "--sink", paths["sink"],
                         "--ckpt", paths["ckpt"], "--warm-in", paths["warm_in"],
                         "--warm-sink", paths["warm_sink"], "--warm-ckpt",
                         paths["warm_ckpt"], "--gen-log", paths["gen_log"],
                         "--live-timeout", str(seconds + 30))
    else:
        cmd = worker_cmd("registry", trace, "--sf-dir",
                         os.path.join(HERE, "fixture", FIXTURE[workload]),
                         "--keys", json.dumps(list(KEYS)), "--seed", str(seed),
                         "--oracle-sample", str(ORACLE_SAMPLE if oracle else 0))
    cmd += ["--result", os.path.join(work, f"result-{tag}.json")]
    child = Child(cmd, env, work, os.path.join(work, f"worker-{tag}.log"), deadline)
    meter = TreeMeter(child.proc.pid).start()
    try:
        ready = child.expect("READY")
        out["setup_s"] = ready["t"] - child.t0
        phases["ready"] = time.time() - t_start
        if workload == "sensor_stream":
            # The backlog is written while the worker warms up (untimed).
            gen = subprocess.Popen(backlog_cmd("backlog", SENSOR_BACKLOG_ROWS, seed), env=env,
                                   stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
        child.expect("WARM")
        if gen is not None:
            if gen.wait(timeout=max(1.0, deadline - time.time())) != 0:
                raise RunFailed("backlog generator failed")
            gen = None
            # Write the backlog (and the last run's deletions) out now, so
            # that disk write-back does not overlap the timed phases.
            os.sync()
        cpu0 = meter.mark()
        phases["warm"] = time.time() - t_start
        t_go = time.time()
        if workload == "sensor_stream":
            backlog = sorted(os.listdir(paths["backlog"]))
            per_round = len(backlog) // DRAIN_ROUNDS
            for r in range(DRAIN_ROUNDS):
                for name in backlog[r * per_round:(r + 1) * per_round]:
                    os.replace(os.path.join(paths["backlog"], name),
                               os.path.join(paths["in"], name))
                child.go()
                child.expect("DRAINED")
            gen = subprocess.Popen(
                [sys.executable, gen_py, "live", "--seed", str(seed), "--out", paths["in"],
                 "--rate", str(LIVE_RATE), "--seconds", str(seconds),
                 "--start", repr(time.time() + 1.0), "--log", paths["gen_log"]],
                env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
        child.go()
        child.expect("DONE")
        cpu1 = meter.mark()
        out["pass_s"] = time.time() - t_go
        phases["done"] = time.time() - t_start
        if child.finish() != 0:
            raise RunFailed(f"worker exited with code {child.proc.returncode}")
        out["rss_peak_mb"] = meter.rss_peak / 1e6
    finally:
        meter.stop()
        if gen is not None:
            try:
                gen.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                gen.kill()
                gen.wait()
        child.close(meter.seen())
    phases["closed"] = time.time() - t_start
    with open(os.path.join(work, f"result-{tag}.json")) as fh:
        out.update(json.load(fh))
    out["cpu_s"] = cpu1["tree"] - cpu0["tree"]
    out["py_worker_cpu_s"] = cpu1["py_workers"] - cpu0["py_workers"]
    if workload == "sensor_stream":
        out["latency"] = live_latency(paths["ckpt"], paths["gen_log"])
        out["sink_check"] = check_sink(paths["sink"], paths["ckpt"], paths["in"])
        out["sink_files"], out["sink_bytes"] = _sink_size(paths["sink"])
        out["backlog_rows"] = SENSOR_BACKLOG_ROWS
    return out


def _sink_size(sink: str) -> tuple[int, int]:
    files = sink_files(sink)
    return len(files), sum(os.path.getsize(f) for f in files)


# --------------------------------------------------------------- metrics


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    pos = (len(values) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


def end_to_end(workload: str, raw: dict) -> dict[str, float]:
    ops = raw["ops"]
    if workload == "sensor_stream":
        wall = sum(o["wall_s"] for o in ops[:DRAIN_ROUNDS])  # the backlog drain
        op_p50 = raw["latency"]["e2c_p50_s"]
    else:
        walls = [o["wall_s"] for o in ops]
        wall = sum(walls)
        op_p50 = statistics.median(walls)
    return {
        "setup_s": raw["setup_s"],
        "wall_s": wall,
        "op_p50_s": op_p50,
        "cpu_s": raw["cpu_s"],
    }


def outcome(workload: str, raw: dict) -> dict:
    """attempted / failed operations and the output checks of one run."""
    ops = raw["ops"]
    failed = [o["key"] for o in ops if not o["ok"]]
    if workload == "sensor_stream":
        check = raw["sink_check"]
        lat = raw["latency"]
        correct = check["ok"] and lat["uncommitted_files"] == 0 and not failed
        return {"attempted": len(ops), "failed": len(failed), "correct": correct,
                "detail": {"failed_calls": failed, "sink_check": check,
                           "uncommitted_files": lat["uncommitted_files"]}}
    bad = [c["key"] for c in raw["checks"] if not c["ok"]]
    missing = raw["missing"]
    return {
        "attempted": len(ops) + len(missing) + len(raw["checks"]),
        "failed": len(failed) + len(missing) + len(bad),
        "correct": not (failed or missing or bad),
        "detail": {"failed_keys": failed, "missing_keys": missing, "oracle": raw["checks"]},
    }


def per_layer(workload: str, plain: dict, traced: dict) -> dict[str, float]:
    """Per-layer metrics of the traced run (its timed operations only)
    plus the tracing overhead of every end-to-end metric."""
    ops = traced["ops"]
    labels = {o["key"] for o in ops}
    ledger = traced["trace"]["ledger"]
    progress = [p for p in traced["trace"]["progress"] if p.get("op") in labels]
    m: dict[str, float] = {"ops": len(ops), "rss_peak_mb": traced["rss_peak_mb"]}
    for name in LEDGER:
        m[name] = sum(ledger.get(o["key"], {}).get(name, 0) for o in ops)
    m["build_s"] = sum(o["build_s"] for o in ops)
    m["exec_s"] = sum(o["exec_s"] for o in ops)
    m["driver_gap_s"] = sum(o["wall_s"] - ledger.get(o["key"], {}).get("job_span_s", 0.0)
                            for o in ops)
    if workload == "sensor_stream":
        m["plan_ms"] = sum(p.get("durationMs", {}).get("queryPlanning", 0) for p in progress)
    else:
        m["plan_ms"] = sum(o.get("plan_ms", 0.0) for o in ops)
    m["py_cpu_s"] = sum(o.get("py_worker_cpu_s", 0.0) + o.get("py_driver_cpu_s", 0.0)
                        for o in ops)
    m["other_cpu_s"] = sum(o.get("tree_cpu_s", 0.0) for o in ops) - m["py_cpu_s"] - m["exec_cpu_s"]
    m["ss.batches"] = len(progress)
    for phase in SS_PHASES:
        m[f"ss.{phase}_ms"] = _pct([p.get("durationMs", {}).get(phase, 0) for p in progress],
                                   0.5)
    states = [p.get("stateOperators", []) for p in progress]
    m["state.commit_ms"] = _pct([sum(s.get("commitTimeMs", 0) for s in st) for st in states],
                                0.5)
    m["state.rows"] = max((sum(s.get("numRowsTotal", 0) for s in st) for st in states),
                          default=0)
    m["state.mem_bytes"] = max((sum(s.get("memoryUsedBytes", 0) for s in st) for st in states),
                               default=0)
    m["state.dropped_late_rows"] = sum(s.get("numRowsDroppedByWatermark", 0)
                                       for st in states for s in st)
    for fam in (*FAMILIES, "other"):
        m[f"fam.{fam}.wall_s"] = 0.0
    if workload != "sensor_stream":
        for o in ops:
            m[f"fam.{family(o['key'])}.wall_s"] += o["wall_s"]
    e_plain, e_traced = end_to_end(workload, plain), end_to_end(workload, traced)
    for name in E2E_UNITS:
        m[f"overhead.{name}"] = e_traced[name] - e_plain[name]
    return m


def report_only(workload: str, raw: dict) -> dict:
    """Named measurements kept in the report but not in the result line:
    tails with too few samples for a bound, and one-workload layers."""
    ops = raw["ops"]
    out: dict = {"op_wall_s": {o["key"]: o["wall_s"] for o in ops}}
    if workload == "sensor_stream":
        lat = raw["latency"]
        live = ops[DRAIN_ROUNDS:]
        out.update({
            "drain_rows_per_s": raw["backlog_rows"]
            / sum(o["wall_s"] for o in ops[:DRAIN_ROUNDS]),
            "e2c_p50_s": lat["e2c_p50_s"], "e2c_p99_s": lat["e2c_p99_s"],
            "gen.late_p99_ms": lat["gen_late_p99_ms"],
            "src.backlog_files_max": lat["backlog_files_max"],
            "sink_call.s_p50": _pct([o["wall_s"] for o in live if o["batches"]], 0.5),
            "sink_call.idle_s_p50": _pct([o["wall_s"] for o in live if not o["batches"]], 0.5),
            "sink_call.count": len(live),
            "sink.files": raw["sink_files"], "sink.bytes": raw["sink_bytes"],
        })
    else:
        walls = [o["wall_s"] for o in ops]
        out.update({"keys": len(ops), "key_p50_s": _pct(walls, 0.5),
                    "key_p95_s": _pct(walls, 0.95)})
    return out


def reconcile(plain: dict, traced: dict, layer: dict) -> list[dict]:
    """Check the traced run's per-operation sums against totals taken by
    other meters. ``cpu_s`` and ``wall_s`` compare with the untraced run
    and may differ by the tracing overhead plus ``RECONCILE_TOL`` of the
    untraced total; the CPU parts are checked within the traced run."""
    ops = traced["ops"]
    op_cpu = sum(o.get("tree_cpu_s", 0.0) for o in ops)
    rows = [
        # CPU marked by the worker around each operation, against the
        # parent's meter over the whole untraced pass.
        ("cpu_s", op_cpu, plain["cpu_s"],
         abs(traced["cpu_s"] - plain["cpu_s"]) + RECONCILE_TOL * plain["cpu_s"], True),
        # The worker's clock around each operation, against the parent's
        # clock over the whole untraced pass.
        ("wall_s", sum(o["wall_s"] for o in ops), plain["pass_s"],
         abs(traced["pass_s"] - plain["pass_s"]) + RECONCILE_TOL * plain["pass_s"], True),
        # Task CPU from the status API plus Python CPU from /proc cannot
        # exceed the tree's CPU from /proc.
        ("exec_cpu_s+py_cpu_s", layer["exec_cpu_s"] + layer["py_cpu_s"], op_cpu,
         RECONCILE_TOL * op_cpu, False),
    ]
    out = []
    for name, measured, against, allowed, both_ways in rows:
        diff = measured - against
        ok = (abs(diff) if both_ways else diff) <= allowed
        out.append({"name": name, "sum": measured, "against": against, "allowed": allowed,
                    "ok": ok})
    return out


# ------------------------------------------------------------------ main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    problem = preflight()
    if problem:
        print(f"perfbench: cannot run: {problem}", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_LIMIT_S
    host = fingerprint()
    host["load1_start"] = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        # A traced invocation runs two sessions; to fit the time limit it
        # leaves the oracle comparison to the untraced invocations.
        plain = run_once(args.workload, args.seed, args.seconds, False, not args.trace, work,
                         deadline)
        runs = [plain]
        if args.trace:
            traced = run_once(args.workload, args.seed, args.seconds, True, False, work, deadline)
            runs.append(traced)
            metrics = per_layer(args.workload, plain, traced)
            extra = {"report": report_only(args.workload, traced),
                     "phases": [plain["phases"], traced["phases"]],
                     "reconcile": reconcile(plain, traced, metrics),
                     "untraced": end_to_end(args.workload, plain)}
            for row in extra["reconcile"]:
                if not row["ok"]:
                    print(f"perfbench: traced {row['name']} does not reconcile: sum "
                          f"{row['sum']:.3f} against {row['against']:.3f}, allowed "
                          f"{row['allowed']:.3f}", file=sys.stderr)
            unit_of = LAYER_UNITS
        else:
            metrics = end_to_end(args.workload, plain)
            extra = {"report": report_only(args.workload, plain), "phases": plain["phases"]}
            unit_of = E2E_UNITS
    except Exception as exc:  # report any failure without a result line
        if not isinstance(exc, RunFailed):
            traceback.print_exc()
        print(f"perfbench: run failed: {exc}", file=sys.stderr)
        _keep_logs(work)
        return 1
    finally:
        host["load1_end"] = os.getloadavg()[0]
    outcomes = [outcome(args.workload, r) for r in runs]
    result = {
        "correct": all(o["correct"] for o in outcomes),
        "attempted": sum(o["attempted"] for o in outcomes),
        "failed": sum(o["failed"] for o in outcomes),
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "result": result,
              "checks": [o["detail"] for o in outcomes], **extra}
    if args.workload.startswith("registry"):
        sha = keyset_sha(plain["all_keys"])
        report["keyset"] = {"size": plain["n_registry"], "sha": sha,
                            "pinned_size": REGISTRY_SIZE, "pinned_sha": REGISTRY_SHA,
                            "changed": sha != REGISTRY_SHA}
        if sha != REGISTRY_SHA:
            print(f"perfbench: registry key set changed: {plain['n_registry']} keys, "
                  f"sha {sha} (pinned {REGISTRY_SIZE} keys, sha {REGISTRY_SHA})",
                  file=sys.stderr)
    reports = os.path.join(ROOT, ".perfbench", "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(reports, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps({k: report[k] for k in ("host", "checks")} | extra, default=str),
          file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _keep_logs(work: str) -> None:
    """Keep the worker logs of a failed run, drop its data."""
    logs = os.path.join(ROOT, ".perfbench", "failed-logs")
    os.makedirs(logs, exist_ok=True)
    for name in os.listdir(work):
        if name.endswith(".log"):
            shutil.copy(os.path.join(work, name), os.path.join(logs, name))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
