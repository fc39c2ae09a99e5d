"""Standalone graph-family timing harness (r14 CPU-diet work).

Runs the shared-intermediate prepay of every selected payer key + the
twelve q_graph_* keys serialized in one fresh session through
``bench.measure``, reporting per-phase wall and executor CPU — the same
accounting bench.py charges, without the other 311 keys. Usage:

    python scripts/graph_bench.py [sf_dir] [key_prefix ...]
"""
import json
import os
import sys

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)

import bench  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
prefixes = sys.argv[2:] or ["q_graph_"]

# the exact session bench.py runs under (AQE/CBO/32MB broadcast/32g),
# UI on for the tracer — otherwise the numbers are not comparable
spark = build_session(app_name="graph_bench", extra_conf=bench.UI_CONF)
spark.sparkContext.setLogLevel("ERROR")
keys = [k for k in load_all() if any(k.startswith(p) for p in prefixes)]
out = bench.measure(spark, SF, keys)
spark.stop()

for name, rec in out.items():
    cpu = "n/a" if rec["cpu_s"] is None else f"{rec['cpu_s']:8.2f}"
    failed = "" if rec["ok"] else "  FAILED"
    print(f"{name:36s} wall {rec['wall_s']:7.2f}  cpu {cpu}{failed}")
print(json.dumps(out))
tot_w = sum(v["wall_s"] for v in out.values())
# a phase the ledger has no CPU for reads null — report coverage
# instead of summing it as zero
metered = [v["cpu_s"] for v in out.values() if v["cpu_s"] is not None]
tot_c = sum(metered)
cpu_note = (
    f"cpu {tot_c:.1f}"
    if len(metered) == len(out)
    else f"cpu {tot_c:.1f} ({len(out) - len(metered)} phases unmetered)"
    if metered
    else "cpu unavailable"
)
print(f"TOTAL wall {tot_w:.1f}  {cpu_note}")
