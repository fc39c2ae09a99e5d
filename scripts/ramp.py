"""Scale ramp: registry keys measured at several scale factors.

Each ``--sf`` tier, in the order given, runs in a fresh
``build_session`` (the tracer's UI conf on, as bench.py runs) through
``bench.measure``, the accounting bench.py charges: each tier pays its
own warm-up, and a declared payer among the selected keys builds its
shared intermediates as its own ``<prepay KEY>`` phase. One sample per
phase per tier; spread over repeated runs is perfbench's job.

Prints one wall/CPU row per phase as each tier finishes, then a
key x tier table of wall and executor CPU with the last/first tier CPU
ratio (read it against the data ratio of the tiers: a ratio well under
it means the plan is still overhead-bound there, one above it flags a
super-linear plan), then per-tier totals with the number of phases the
ledger has no CPU for, and last the count of failed phases (the exit
code is 1 if any failed).

Usage: python scripts/ramp.py --sf DIR [--sf DIR ...] KEY_OR_PREFIX [...]

An argument that is a registered key selects that key; any other
selects every key starting with it (``q_graph_``), in registration
order. Example, with FIX the fixture root:

    python scripts/ramp.py --sf FIX/sf0.001 --sf FIX/sf0.01 q_agg_group q_graph_
"""

from __future__ import annotations

import argparse
import os
import sys

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)

import bench  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all  # noqa: E402
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session  # noqa: E402


def select(args: list[str], registered: list[str]) -> list[str]:
    """The keys ``args`` name, in argument order, each once."""
    keys: list[str] = []
    for arg in args:
        hits = [arg] if arg in registered else [k for k in registered if k.startswith(arg)]
        if not hits:
            raise SystemExit(f"no registered key is or starts with {arg!r}")
        keys += [k for k in hits if k not in keys]
    return keys


def _cpu(value) -> str:
    return "n/a" if value is None else f"{value:.2f}"


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--sf", action="append", required=True, metavar="DIR")
    parser.add_argument("keys", nargs="+", metavar="KEY_OR_PREFIX")
    args = parser.parse_args()
    keys = select(args.keys, list(load_all()))
    for sf_dir in args.sf:
        if not os.path.isdir(sf_dir):
            raise SystemExit(f"{sf_dir} missing (sf1: run scripts/make_sf1.py first)")

    tiers = {os.path.basename(d.rstrip("/")) or d: d for d in args.sf}
    results: dict[str, dict[str, dict]] = {}
    for tier, sf_dir in tiers.items():
        spark = build_session(app_name=f"ramp_{tier}", extra_conf=bench.UI_CONF)
        spark.sparkContext.setLogLevel("ERROR")
        results[tier] = bench.measure(spark, sf_dir, keys)
        spark.stop()
        for name, rec in results[tier].items():
            failed = "" if rec["ok"] else "  FAILED"
            print(
                f"{tier:8s} {name:36s} wall {rec['wall_s']:7.2f}  "
                f"cpu {_cpu(rec['cpu_s']):>8s}{failed}",
                flush=True,
            )

    runs = list(results.values())
    first, last = runs[0], runs[-1]
    print()
    print("| key | " + " | ".join(f"{t} wall | {t} cpu" for t in results)
          + " | cpu ratio last/first |")
    print("| --- " * (2 * len(results) + 2) + "|")
    for name in first:
        cells = [
            f"{res[name]['wall_s']:.2f} | {_cpu(res[name]['cpu_s'])}"
            for res in runs
        ]
        a, b = first[name]["cpu_s"], last[name]["cpu_s"]
        ratio = f"{b / a:.2f}" if a and b is not None else "n/a"
        print(f"| `{name}` | " + " | ".join(cells) + f" | {ratio} |")

    print()
    n_failed = 0
    for tier, res in results.items():
        metered = [r["cpu_s"] for r in res.values() if r["cpu_s"] is not None]
        failed = sum(not r["ok"] for r in res.values())
        n_failed += failed
        print(
            f"TOTAL {tier:8s} wall {sum(r['wall_s'] for r in res.values()):.1f}  "
            f"cpu {sum(metered):.1f}  unmetered {len(res) - len(metered)} "
            f"of {len(res)} phases  failed {failed}"
        )
    print(f"{n_failed} failed phases")
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
