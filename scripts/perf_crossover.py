#!/usr/bin/env python
"""Spark-vs-DuckDB crossover measurement across scale factors.

Same queries, same oracle SQL, same session profile and warm+min-of-N
protocol as bench.py but with a lighter N (the large SFs run tens of
seconds per query) — built to answer ONE question the sf0.1 gate can't:
where does Spark's parallelism overtake the in-process engine as data
grows? Emits one JSON line per SF.

Usage: python scripts/perf_crossover.py <sf_dir> [n_runs=3] [out.json]
"""

from __future__ import annotations

import json
import sys
import time

import _repo  # noqa: F401  (puts the repo on sys.path and PYTHONPATH)

from bench import HEADLINE, bench_duckdb, profile_conf, time_blocked  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    out_path = sys.argv[3] if len(sys.argv) > 3 else None

    import bench as bench_mod

    bench_mod.N_RUNS = n

    from ecom_snowflake_duckdb_migration_spark.queries import all_queries
    from ecom_snowflake_duckdb_migration_spark.session import get_spark
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import (
        ensure_bucketed_facts,
    )

    specs = all_queries()
    duck = bench_duckdb(specs, sf_dir)

    spark = get_spark(app_name="crossover", extra_conf=profile_conf(sf_dir))
    # Bucketed fact layout as in bench.py (prep untimed, reused across runs
    # via the warehouse dir).
    t0 = time.perf_counter()
    ensure_bucketed_facts(spark, sf_dir)
    bucket_prep = round(time.perf_counter() - t0, 3)

    for name in HEADLINE:  # one warm pass (codegen + page cache)
        specs[name].fn(spark, sf_dir).toArrow()
    timings = time_blocked(
        {name: (lambda spec=specs[name]: spec.fn(spark, sf_dir).toArrow()) for name in HEADLINE},
        n=n,
    )
    total = round(sum(timings.values()), 4)
    duck_total = round(sum(duck.values()), 4)
    result = {
        "sf_dir": sf_dir,
        "spark": total,
        "duckdb": duck_total,
        "ratio": round(total / duck_total, 3) if duck_total else None,
        "n": n,
        "spark_queries": timings,
        "duckdb_queries": duck,
        "bucketed_prep_sec": bucket_prep,
    }
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
