"""sf1 ramp validation (VERDICT r15 item 4): measure the top-CPU keys
one decade past the driver fixtures.

Runs the named keys at sf0.1 (driver fixture) and sf1 (the local
replica-shifted tier from scripts/make_sf1.py) in ONE session with
bench.py's CPU meter, clearing every memo between tiers so each tier
pays its own materializations. Prints per-key wall/CPU per tier plus
the sf1/sf0.1 ratio against the 10x data ratio — a ratio <= ~10 means
the key stays (sub)linear one decade further out; >> 10 falsifies the
sublinear claim in SCALE.md.

Usage: python scripts/sf1_ramp.py [keys ...]   (~10-15 min)
"""
from __future__ import annotations

import json
import os
import sys
import time

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)

import bench  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session  # noqa: E402

KEYS = sys.argv[1:] or [
    "q_graph_common_neighbors",
    "q_graph_triangles",
    "q_graph_label_propagation",
    "q_graph_pagerank",
    "q_graph_kcore",
    "q_agg_heavy_hitters",
    "q_llm_simhash_banded",
    "q_llm_minhash_lsh",
    "q_llm_dedup_incremental",
    "q_llm_source_overlap",
]
TIERS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(here, ".localdata", "sf1"),
}

spark = build_session(
    app_name="sf1_ramp",
    extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.retainedStages": "40000",
        "spark.ui.retainedJobs": "40000",
        "spark.ui.showConsoleProgress": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

from sparkstreamingtohdfsofsensorsdata_spark import shared  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all  # noqa: E402

specs = load_all()
missing = [k for k in KEYS if k not in specs]
if missing:
    raise SystemExit(f"unknown keys: {missing}")

meter = bench._CpuMeter(spark)
results: dict[str, dict] = {}

for tier, sf in TIERS.items():
    if not os.path.isdir(sf):
        raise SystemExit(f"{sf} missing — run scripts/make_sf1.py first")
    bench._warmup(spark, sf)
    # every tier pays its own memo builds — as NAMED phases, so the
    # per-key rows measure the kernels, not whichever key ran first
    # (the r16 first-cut ramp charged ~600 CPU-s of edge builds to
    # q_graph_common_neighbors and read as a false 18x)
    shared.clear_all(spark)
    cursor = meter.sample()
    tier_out = {}
    for payer in shared.payers():
        pname = f"<prepay {payer}>"
        t0 = time.perf_counter()
        shared.prepay(spark, sf, payer)
        wall = time.perf_counter() - t0
        after = meter.sample()
        cpu = (after - cursor) if cursor is not None and after is not None else -1
        cursor = after
        tier_out[pname] = {"wall_s": round(wall, 3), "cpu_s": round(cpu, 3)}
        print(f"{tier:6s} {pname:30s} wall {wall:7.2f}  cpu {cpu:8.2f}", flush=True)
    for name in KEYS:
        t0 = time.perf_counter()
        specs[name].fn(spark, sf).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        after = meter.sample()
        cpu = (after - cursor) if cursor is not None and after is not None else -1
        cursor = after
        tier_out[name] = {"wall_s": round(wall, 3), "cpu_s": round(cpu, 3)}
        print(f"{tier:6s} {name:30s} wall {wall:7.2f}  cpu {cpu:8.2f}", flush=True)
    results[tier] = tier_out

print(json.dumps(results))
print("\n| key | sf0.1 wall | sf0.1 cpu | sf1 wall | sf1 cpu | cpu ratio (10x data) |")
print("| --- | --- | --- | --- | --- | --- |")
for name in list(results["sf0.1"]):
    a, b = results["sf0.1"][name], results["sf1"][name]
    ratio = (b["cpu_s"] / a["cpu_s"]) if a["cpu_s"] > 0 else float("nan")
    print(
        f"| `{name}` | {a['wall_s']:.2f} | {a['cpu_s']:.2f} | "
        f"{b['wall_s']:.2f} | {b['cpu_s']:.2f} | {ratio:.2f} |"
    )
