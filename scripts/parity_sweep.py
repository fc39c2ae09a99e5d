"""Full-registry oracle parity sweep at an arbitrary SF (default sf0.01).

Mirrors the driver's correctness gate — Spark result vs DuckDB oracle,
row count + sorted-column schema + tolerant value compare — over EVERY
registered key, in name order. Run it before a change lands.

Usage: python scripts/parity_sweep.py [--exact] [sf_dir] [skip_key ...]
Prints one status line per key and a final JSON summary line. Extra
args name keys to skip.

``--exact`` (VERDICT r9 item 4) switches to the ZERO-tolerance
driver-hash-grade compare (conftest.run_parity_exact): no float
tolerance, no -0.0/Decimal canonicalization — and
flags representation-fragile cells (signed zero / NaN / Decimal) per
key even when both engines agree. Exact divergences report as
``exact-diff`` (distinct from hard FAIL) and the summary separates
them; both fail the exit code. The r9 driver window failed on exactly
the two cell classes only this mode can see, so a change is not done
until the exact sweep is green too (sweep_exact_last.json).

As of round 9 NO key needs skipping at any SF:
the CC-cluster keys' old recursive-CTE transitive-closure oracle (which
exploded on the 425k-edge sf0.1 graph) is now a bounded-round
min-label + pointer-doubling chained-CTE mirror of the Spark algorithm
(llm/dedup.py _cc_oracle_ctes) — ~10s at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

import duckdb

from conftest import run_parity, run_parity_exact
from sparkstreamingtohdfsofsensorsdata_spark import registry
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session
from sparkstreamingtohdfsofsensorsdata_spark.tables import TABLES, table_path


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--exact"]
    exact = "--exact" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    skip = set(argv[1:])
    spark = build_session(app_name="parity-sweep", shuffle_partitions=8)
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, name)}')"
        )

    specs = registry.load_all()
    unknown = skip - set(specs)
    if unknown:
        # a typo'd skip key would silently leave the real key running —
        # for the CC keys at sf0.1 that's the exact hang the flag exists
        # to prevent
        print(f"unknown skip keys: {sorted(unknown)}", file=sys.stderr)
        spark.stop()
        return 2
    results: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = n_exact_diff = 0
    risky: dict[str, dict] = {}
    for name in sorted(specs):
        if name in skip:
            print(f"  skipped  {'':>7}  {name}", flush=True)
            continue
        spec = specs[name]
        t0 = time.monotonic()
        try:
            if spec.oracle is None:
                rows = len(spec.fn(spark, sf_dir).collect())
                assert rows > 0, "rows-only op returned 0 rows"
                status = "rows-only"
                n_rows_only += 1
            elif exact:
                rows, risks = run_parity_exact(spark, con, name, sf_dir)
                status = "exact"
                n_pass += 1
                if any(v for side in risks.values() for v in side.values()):
                    risky[name] = risks
            else:
                # The SAME compare the pytest gate runs (tests/conftest
                # run_parity): a tolerance or normalization change there
                # propagates here instead of silently diverging.
                rows = run_parity(spark, con, name, sf_dir)
                status = "pass"
                n_pass += 1
            results[name] = {
                "status": status,
                "rows": rows,
                "sec": round(time.monotonic() - t0, 2),
            }
        except AssertionError as exc:
            # In exact mode a value-level assertion is a DIVERGENCE
            # (the tolerant gate may still forgive it) — separate it
            # from hard errors so the census (VERDICT r9 item 6) can
            # distinguish "needs canonicalization" from "broken".
            status = "exact-diff" if exact else "FAIL"
            if exact:
                n_exact_diff += 1
            else:
                n_fail += 1
            results[name] = {
                "status": status,
                "err": f"{type(exc).__name__}: {exc}"[:500],
                "sec": round(time.monotonic() - t0, 2),
            }
        except Exception as exc:  # noqa: BLE001 — report, don't abort
            n_fail += 1
            results[name] = {
                "status": "FAIL",
                "err": f"{type(exc).__name__}: {exc}"[:500],
                "sec": round(time.monotonic() - t0, 2),
            }
            traceback.print_exc(limit=3)
        r = results[name]
        print(
            f"{r['status']:>10}  {r['sec']:7.2f}s  {name}"
            + (f"  {r.get('err', '')}" if r["status"] in ("FAIL", "exact-diff") else "")
            + (f"  RISK {risky[name]}" if name in risky else ""),
            flush=True,
        )

    summary = {
        "sf_dir": sf_dir,
        "mode": "exact" if exact else "tolerant",
        "skipped": sorted(skip),
        "total": len(specs),
        "pass": n_pass,
        "rows_only": n_rows_only,
        "fail": n_fail,
        "failed_keys": sorted(k for k, v in results.items() if v["status"] == "FAIL"),
    }
    if exact:
        summary["exact_diff"] = n_exact_diff
        summary["exact_diff_keys"] = sorted(
            k for k, v in results.items() if v["status"] == "exact-diff"
        )
        summary["risky_keys"] = risky
    print(json.dumps(summary), flush=True)
    # Persisted so the last sweep's verdict is auditable from the tree
    # (sweep_exact_last.json for --exact, else sweep_last.json).
    fname = "sweep_exact_last.json" if exact else "sweep_last.json"
    out = os.path.join(os.path.dirname(__file__), "..", fname)
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    spark.stop()
    return 1 if (n_fail or n_exact_diff) else 0


if __name__ == "__main__":
    sys.exit(main())
