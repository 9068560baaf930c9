"""Round-10 sf64 spot-run of the most expensive LLM operators.

The full catalog sweeps only at sf0.01 (the driver gate); BENCH_SCALING
carries the ten OLAP headliners through sf64 — this script extends the
scale evidence to the LLM-ops side at sf64 geometry (~3.2M documents /
1.28M vectors), each op with production method dispatch and production
cell sizing (n_centroids ~ 0.1% N = 1280 — far past the numpy dispatch
point; the round-10 semantic_cells + BLAS pair kernels exist exactly
because the expr pair fold measured hours at this geometry).

The near-dup rows are the PRODUCTION shapes, not the raw all-pairs
contract: sf64 benchdata replicates the base corpus 640x with text
unchanged (gen_sf_multiply), so every document has >=640 exact copies and
the q48/x85 all-pairs output is Theta(groups * 640^2) >= 1e9 rows BY
CONTRACT — the first sf64 attempt OOM-killed the JVM materializing it
(98 GB of tmpfs shuffle; see operators/text.py minhash_lsh_pairs'
output-bound note). What a pipeline actually runs at this scale is
  - the durable LSH band index build over the full corpus (linear), and
  - exact dedup first, then near-dup pairs among the canonical
    survivors (curate's documented stage order),
so those are the rows measured here.

Run each op in its OWN process (pass its name as argv[3]) and clear the
tmpfs shuffle dir (/dev/shm/spark-local) between ops — a killed run's
leftovers otherwise squeeze the next JVM into the OOM killer.

Results merge into BENCH_SCALING.json under "round10_sf64_llm_ops".

Usage: python scripts/perf_sf64_ops.py [sf_dir] [out.json] [op_name|all]
"""

from __future__ import annotations

import json
import os
import sys
import time

from _repo import ROOT

from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark.operators import incremental_dedup as inc
from ecom_snowflake_duckdb_migration_spark.operators import similarity as sim
from ecom_snowflake_duckdb_migration_spark.operators import text as tx
from ecom_snowflake_duckdb_migration_spark.queries import load
from ecom_snowflake_duckdb_migration_spark.session import get_spark

N_CELLS = 1280  # production sizing: ~0.1% of 1.28M vectors


def exact_then_near(docs):
    """The production near-dup composition on replicated corpora: exact
    dedup collapses the 640x text replication to ~5k canonicals, then the
    banded near-dup pairs run on the survivors (curate's stage order).
    Input scan + md5-group at full 3.2M rows; pair stage on canonicals."""
    canon = tx.exact_dedup_groups(docs).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    canon_docs = docs.join(canon, "doc_id", "left_semi")
    return tx.minhash_lsh_pairs(canon_docs, threshold_e6=800_000)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "benchdata", "sf64")
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_SCALING.json"
    which = sys.argv[3] if len(sys.argv) > 3 else "all"
    # same harness raise as perf_crossover's sf64 rows: AQE-materialized
    # broadcast sides at this scale exceed the 1g default result cap
    spark = get_spark(
        app_name="sf64-llm-ops",
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    par = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents").repartition(par).localCheckpoint(
        eager=True
    )
    n_docs = docs.count()
    bench = docs.filter(F.col("source") == "src0")
    cents = sim.make_centroids(dim=64, n_centroids=N_CELLS, seed=42)

    ops = {
        "minhash_index_build": lambda: inc.lsh_band_table(docs),
        "exact_then_near_pairs": lambda: exact_then_near(docs),
        "curate": lambda: tx.curate(docs, bench),
        "incremental_semantic_dedup": None,  # built below (needs the store)
        "semantic_dedup_1280cells": None,
    }
    if which != "all":
        ops = {which: ops[which]}

    store_build_sec = None
    n_vecs = None
    if "incremental_semantic_dedup" in ops or "semantic_dedup_1280cells" in ops:
        emb = load(spark, sf_dir, "embeddings").repartition(par).localCheckpoint(
            eager=True
        )
        n_vecs = emb.count()
        if "semantic_dedup_1280cells" in ops:
            ops["semantic_dedup_1280cells"] = lambda: sim.semantic_dedup(
                emb, cents, threshold=0.35
            )
        if "incremental_semantic_dedup" in ops:
            # frozen-corpus store for the incremental probe (one-time cost,
            # reported separately like PERF_LLM_OPS does)
            corpus_v = emb.filter(F.col("vec_id") % 5 != 0)
            batch_v = emb.filter(F.col("vec_id") % 5 == 0)
            t0 = time.perf_counter()
            kept = sim.semantic_dedup(corpus_v, cents, threshold=0.35)
            store = (
                sim.semantic_cells(corpus_v, cents)
                .join(kept.select("vec_id"), "vec_id", "left_semi")
                .localCheckpoint(eager=True)
            )
            store_build_sec = round(time.perf_counter() - t0, 2)
            print(f"store build {store_build_sec}s", flush=True)
            ops["incremental_semantic_dedup"] = (
                lambda: sim.semantic_dedup_incremental(
                    batch_v, store, cents, threshold=0.35, corpus_celled=True
                )
            )

    rows = {}
    for name, fn in ops.items():
        t0 = time.perf_counter()
        n = fn().count()
        first = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn().count()
        second = time.perf_counter() - t0
        rows[name] = {
            "rows": n,
            "first_sec": round(first, 2),
            "repeat_sec": round(second, 2),
        }
        if name == "incremental_semantic_dedup":
            rows[name]["store_build_sec"] = store_build_sec
        print(f"{name}: {rows[name]}", flush=True)

    with open(out_path) as f:
        out = json.load(f)
    section = out.setdefault(
        "round10_sf64_llm_ops",
        {
            "sf_dir": sf_dir,
            "n_docs": n_docs,
            "n_vectors": n_vecs,
            "n_cells": N_CELLS,
            "note": "most expensive PERF_LLM_OPS families at sf64, "
            "production dispatch (numpy cell assigner past 16 cells, BLAS "
            "pair kernels) and production cell sizing. Near-dup rows are "
            "the production shapes: the raw all-pairs contract on this "
            "640x-replicated corpus is output-bound at >=1e9 pairs "
            "(Theta(groups*d^2)) and is measured instead as index build + "
            "exact-then-near composition — see minhash_lsh_pairs' "
            "docstring.",
            "entries": {},
        },
    )
    if n_vecs is not None:
        section["n_vectors"] = n_vecs
    section["entries"].update(rows)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"merged {list(rows)} into {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
