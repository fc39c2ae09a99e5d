"""sf1 ramp validation (VERDICT r15 item 4): measure the top-CPU keys
one decade past the driver fixtures.

Runs the named keys at sf0.1 (driver fixture) and sf1 (the local
replica-shifted tier from scripts/make_sf1.py) through
``bench.measure``, one fresh session per tier so each tier pays its own
materializations. Each payer among the keys builds its shared
intermediates as a NAMED phase (``<prepay KEY>``), so the per-key rows
measure the kernels, not whichever key ran first — which is why the
default list names q_graph_degree, the payer of the edge layer every
graph key reads (the r16 first-cut ramp charged ~600 CPU-s of edge
builds to q_graph_common_neighbors and read as a false 18x). Prints
per-key wall/CPU per tier plus the sf1/sf0.1 ratio against the 10x
data ratio — a ratio <= ~10 means the key stays (sub)linear one decade
further out; >> 10 falsifies the sublinear claim in SCALE.md.

Usage: python scripts/sf1_ramp.py [keys ...]   (~10-15 min)
"""
from __future__ import annotations

import json
import os
import sys

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)

import bench  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session  # noqa: E402

KEYS = sys.argv[1:] or [
    "q_graph_degree",
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

missing = [k for k in KEYS if k not in load_all()]
if missing:
    raise SystemExit(f"unknown keys: {missing}")
for sf in TIERS.values():
    if not os.path.isdir(sf):
        raise SystemExit(f"{sf} missing — run scripts/make_sf1.py first")

results: dict[str, dict] = {}
for tier, sf in TIERS.items():
    spark = build_session(app_name=f"sf1_ramp_{tier}", extra_conf=bench.UI_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    results[tier] = bench.measure(spark, sf, KEYS)
    spark.stop()
    for name, rec in results[tier].items():
        cpu = "n/a" if rec["cpu_s"] is None else f"{rec['cpu_s']:8.2f}"
        failed = "" if rec["ok"] else "  FAILED"
        print(f"{tier:6s} {name:30s} wall {rec['wall_s']:7.2f}  cpu {cpu}{failed}", flush=True)

print(json.dumps(results))
print("\n| key | sf0.1 wall | sf0.1 cpu | sf1 wall | sf1 cpu | cpu ratio (10x data) |")
print("| --- | --- | --- | --- | --- | --- |")
for name in results["sf0.1"]:
    a, b = results["sf0.1"][name], results["sf1"][name]
    if a["cpu_s"] and b["cpu_s"] is not None:
        ratio = f"{b['cpu_s'] / a['cpu_s']:.2f}"
    else:
        ratio = "n/a"
    print(
        f"| `{name}` | {a['wall_s']:.2f} | {a['cpu_s']} | "
        f"{b['wall_s']:.2f} | {b['cpu_s']} | {ratio} |"
    )
