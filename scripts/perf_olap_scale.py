"""Scale check for the session-2 OLAP/analytics entries (x101-x109):
same-run Spark-vs-DuckDB on their own oracle SQL at a large SF — do the
new surfaces (ROLLUP, PIVOT, LAG, sliding frames, rank quantiles, set
ops, moment regression, blocked entity match) hold the crossover the
headline set already proved?

Usage: python scripts/perf_olap_scale.py <sf_dir> [n_runs=3] [out.json]
                                         [entries=comma,list]
x109's OUTPUT is quadratic in the duplication factor (238M pairs at
sf16), so Arrow-materializing it measures driver marshalling, not the
query — COUNT_MODE entries are timed as count()/COUNT(*) on both engines
instead and labeled as such in the JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

import _repo  # noqa: F401  (puts the repo on sys.path and PYTHONPATH)

import bench as bench_mod
from bench import bench_duckdb, time_blocked

ENTRIES = [
    "x101_rollup_revenue",
    "x102_pivot_priority_quarter",
    "x103_mom_revenue_growth",
    "x104_trailing_7d_stats",
    "x106_balance_quantiles",
    "x107_day_set_ops",
    "x108_corr_discount_qty",
    "x109_entity_match_pairs",
    "x115_entity_match_scored",
    "x98_rfm_segments",
]
COUNT_MODE = {"x109_entity_match_pairs", "x115_entity_match_scored"}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> int:
    sf_dir = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    out_path = sys.argv[3] if len(sys.argv) > 3 else "PERF_OLAP_SCALE.json"
    entries = sys.argv[4].split(",") if len(sys.argv) > 4 else ENTRIES
    bench_mod.N_RUNS = n
    bench_mod.HEADLINE = entries  # reuse the oracle-side harness verbatim

    from ecom_snowflake_duckdb_migration_spark.queries import all_queries
    from ecom_snowflake_duckdb_migration_spark.session import get_spark

    specs = all_queries()
    bench_mod.HEADLINE = [e for e in entries if e not in COUNT_MODE]
    duck = bench_duckdb(specs, sf_dir)
    if any(e in COUNT_MODE for e in entries):
        import duckdb

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE OR REPLACE VIEW {t} AS"
                            f" SELECT * FROM read_parquet('{path}')")
        for name in entries:
            if name not in COUNT_MODE:
                continue
            sql = f"SELECT count(*) FROM ({specs[name].oracle})"
            con.execute(sql).fetchone()  # warm
            best = min(
                _timed(lambda: con.execute(sql).fetchone()) for _ in range(n)
            )
            duck[name] = round(best, 4)

    spark = get_spark(app_name="olap-scale")
    fns = {}
    for name in entries:
        fn = specs[name].fn
        if name in COUNT_MODE:
            fn(spark, sf_dir).count()
            fns[name] = lambda fn=fn: fn(spark, sf_dir).count()
        else:
            fn(spark, sf_dir).toArrow()  # warm (JIT + listing + page cache)
            fns[name] = lambda fn=fn: fn(spark, sf_dir).toArrow()
    t0 = time.perf_counter()
    sp = time_blocked(fns)
    _ = time.perf_counter() - t0

    total_s, total_d = sum(sp.values()), sum(duck.values())
    out = {
        "sf_dir": sf_dir,
        "n": n,
        "spark": round(total_s, 4),
        "duckdb": round(total_d, 4),
        "ratio": round(total_s / total_d, 3),
        "spark_queries": sp,
        "duckdb_queries": duck,
        "count_mode_entries": sorted(COUNT_MODE & set(entries)),
    }
    print(json.dumps(out), flush=True)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
