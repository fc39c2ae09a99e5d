"""Standalone graph-family timing harness (r14 CPU-diet work).

Runs the shared-intermediate prepay of every selected payer key + the
twelve q_graph_* keys serialized in one fresh session, reporting
per-phase wall and executor CPU via bench's _CpuMeter — the same
accounting bench.py charges, without the other 311 keys. Usage:

    python scripts/graph_bench.py [sf_dir] [key_prefix ...]
"""
import json
import os
import sys
import time

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)

import bench  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark import shared  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
prefixes = sys.argv[2:] or ["q_graph_"]

# the exact session bench.py runs under (AQE/CBO/32MB broadcast/32g),
# UI on for the CPU meter — otherwise the numbers are not comparable
# to the committed floors
spark = build_session(
    app_name="graph_bench",
    extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.retainedStages": "40000",
        "spark.ui.retainedJobs": "40000",
        "spark.ui.showConsoleProgress": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")
bench._warmup(spark, SF)

from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all  # noqa: E402

specs = {
    k: v for k, v in load_all().items() if any(k.startswith(p) for p in prefixes)
}

meter = bench._CpuMeter(spark)
cursor = meter.sample()
out = {}


def phase(name, fn):
    global cursor
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    after = meter.sample()
    cpu = (after - cursor) if cursor is not None and after is not None else -1
    cursor = after
    out[name] = {"wall_s": round(wall, 3), "cpu_s": round(cpu, 3)}
    print(f"{name:36s} wall {wall:7.2f}  cpu {cpu:8.2f}", flush=True)


for payer in shared.payers():
    if payer in specs:
        phase(f"<prepay {payer}>", lambda p=payer: shared.prepay(spark, SF, p))
for name, spec in specs.items():
    phase(name, lambda s=spec: s.fn(spark, SF).write.format("noop").mode("overwrite").save())

print(json.dumps(out))
tot_w = sum(v["wall_s"] for v in out.values())
# -1 marks "meter unavailable for this phase" — summing sentinels
# undershot the total silently (ADVICE r14); report coverage instead.
metered = [v["cpu_s"] for v in out.values() if v["cpu_s"] >= 0]
tot_c = sum(metered)
cpu_note = (
    f"cpu {tot_c:.1f}"
    if len(metered) == len(out)
    else f"cpu {tot_c:.1f} ({len(out) - len(metered)} phases unmetered)"
    if metered
    else "cpu unavailable"
)
print(f"TOTAL wall {tot_w:.1f}  {cpu_note}")
