"""Local correctness sweep in the driver's CORRECTNESS_r{N}.json schema.

The driver's gate records only the first 50 sorted catalog names; this sweep
covers ALL entries (including the x-prefixed ones parked outside that
window) so every operator keeps a machine-readable hard signal per round.

Usage:
    python scripts/local_correctness.py [out.json] [sf_dir]

Defaults: CORRECTNESS_LOCAL.json, /root/testdata/sf0.01 (the driver's gate
scale).
"""

from __future__ import annotations

import json
import sys

import _repo  # noqa: F401  (puts the repo on sys.path and PYTHONPATH)

from ecom_snowflake_duckdb_migration_spark.oracle import driver_style_result
from ecom_snowflake_duckdb_migration_spark.queries import all_queries
from ecom_snowflake_duckdb_migration_spark.session import get_spark


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CORRECTNESS_LOCAL.json"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark()
    results = {}
    failed = []
    for name, spec in sorted(all_queries().items()):
        row = driver_style_result(name, spec.fn, spec.oracle, spark, sf_dir)
        results[name] = row
        ok = row["hash_match"] or (row["err"] == "no_oracle" and row["spark_rows"] is not None)
        if not ok:
            failed.append(name)
        print(f"{name}: {'ok' if ok else 'FAIL ' + str(row)}", flush=True)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print(f"\nwrote {out_path}: {len(results)} entries, {len(failed)} failing: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
