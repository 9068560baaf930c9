"""End-to-end training-corpus pipeline runner — the LLM-data twin of
``ecom.orchestrate.daily_run``: one call takes a raw document table to
durable, reproducibly-ordered, context-window-packed training shards
plus a machine-readable manifest.

Stages (every one an already-oracled operator; this module is pure
composition and the durable-write policy):

1. **curate** — the cleaning cascade (quality -> language ->
   [boilerplate] -> exact dedup -> near-dedup -> decontamination;
   operators.text.curate, x79/x117/x124 oracles);
2. **split + order** — deterministic hash split and reproducible global
   shuffle order (operators.sampling.shuffle_split, x84): same rows,
   same split, same order on any engine / run / partitioning;
3. **chunk + pack** — sliding-window chunking (q37) and fixed-budget
   context-window packing PER SPLIT (q38's pack_sequences called once
   per split frame, so eval packs never mix into train; each call is the
   range-bucketed exact-cumsum path, never a window partitioned by
   split, which would funnel the 90% train split through one window
   partition);
4. **write** — one parquet directory per split
   (``out_dir/split=<name>``), range-partitioned AND sorted on
   (pack_id, pack_offset) so shards stream in training order with
   zero read-side sorting, plus ``out_dir/_manifest.json``;
5. **report** — corpus_report (x92) before/after rows embedded in the
   manifest: the curation run's evidence, not a side effect.

Independent actions overlap (``session.run_concurrently``): the
before-report runs alongside stage 1 and the ``_assigned`` barrier write,
then every split's stages 3-4 and the after-report run side by side. The
manifest keeps ``splits_e6`` order whatever finishes first.

Scale: stages 1-3 inherit their operators' documented shapes (scan-side
filters, hash dedup, banded near-dup, bucketed cumsums — no n^2, no
global single-reducer window); the write is one range exchange per
split. The manifest is a driver-side dict of per-split scalars.

Reruns are idempotent: every split directory is overwritten (Spark
overwrite mode), the manifest is published whole (``writers.publish_text``),
and every stage is a pure function of (input rows, seed, parameters).
"""

from __future__ import annotations

import json
import os
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import sampling as sp
from .operators import text as tx
from .session import run_concurrently
from .sources.writers import overwrite_parquet, publish_text

DEFAULT_SPLITS_E6 = {"train": 900_000, "val": 50_000, "test": 50_000}


def corpus_run(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    benchmark: DataFrame | None = None,
    splits_e6: dict[str, int] | None = None,
    chunk_size: int = 500,
    overlap: int = 100,
    seq_budget: int = 2048,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup: str = "exact",
    quality: str = "basic",
    boilerplate: str | None = None,
) -> dict[str, Any]:
    """Run the full corpus pipeline; returns (and writes) the manifest.

    ``docs`` must carry (id_col, text_col, source). ``benchmark`` is the
    decontamination target (curate's contract); when None, an empty
    frame is used and the decontamination stage is a structural no-op.
    ``near_dup``/``quality``/``boilerplate`` pass through to curate.
    """
    splits_e6 = dict(splits_e6 or DEFAULT_SPLITS_E6)
    if benchmark is None:
        benchmark = docs.limit(0)

    def report(frame: DataFrame) -> list[dict[str, Any]]:
        return [r.asDict() for r in tx.corpus_report(
            frame, text_col, id_col
        ).orderBy("source").collect()]

    # Materialization barrier (round-10, guide §5): the curate cascade is
    # by far the most expensive stage, and without a barrier it is
    # RE-COMPUTED by every downstream action — each split's pack+write,
    # and report_after: 4+ full cascade runs per corpus_run (measured
    # 2.6x end-to-end at sf0.1: 66.6 -> 25.9 s best-of-3, identical
    # split counts). Round-11: the barrier is the DURABLE survivors
    # write a deployment does anyway (write parquet, re-read), not
    # localCheckpoint — localCheckpoint pins the full surviving corpus
    # (every document's text) in non-replicated executor-local storage,
    # so at scale one executor loss (or dynamic-allocation release)
    # after the barrier kills the run unrecoverably. The parquet
    # intermediate is replicated by the filesystem, survives executor
    # churn, and every downstream action (split pack+writes,
    # report_after) reads a column-pruned compressed scan instead of
    # re-running the cascade. Overwrite mode keeps reruns idempotent.
    def curate_and_assign() -> DataFrame:
        kept = tx.curate(
            docs, benchmark, text_col=text_col, id_col=id_col,
            near_dup=near_dup, quality=quality, boilerplate=boilerplate,
        )
        survivors = docs.join(kept.select(id_col), id_col, "left_semi")
        return overwrite_parquet(
            sp.shuffle_split(survivors, splits_e6, id_col=id_col, seed=seed),
            os.path.join(out_dir, "_assigned"),
        )

    # the before-report reads only the input, so it overlaps the cascade
    report_before, assigned = run_concurrently(
        spark, [partial(report, docs), curate_and_assign]
    )
    chunked = tx.chunk_documents(
        assigned, chunk_size=chunk_size, overlap=overlap,
        text_col=text_col, id_col=id_col,
    ).join(assigned.select(id_col, "split", "shuffle_key"), id_col)

    def write_split(name: str) -> dict[str, Any]:
        # pack each split with the range-bucketed exact-cumsum path: the
        # training order is (shuffle_key, chunk_id) — shuffled documents,
        # sequential chunks within a document
        part = tx.pack_sequences(
            chunked.filter(F.col("split") == name).drop("split"),
            seq_budget,
            token_col="chunk_tokens",
            order_cols=("shuffle_key", "chunk_id"),
        )
        path = os.path.join(out_dir, f"split={name}")
        # no explicit partition count (round-10, guide §6): the range
        # exchange starts at spark.sql.shuffle.partitions and AQE
        # coalesces it to advisory-sized output files — scale-adaptive
        # in both directions, ordering within files unchanged. With AQE
        # off it stays at spark.sql.shuffle.partitions, which session.py
        # sizes to default_parallelism(), the width an explicit count
        # would pin.
        ranged = part.repartitionByRange("pack_id", "pack_offset")
        back = overwrite_parquet(
            ranged.sortWithinPartitions("pack_id", "pack_offset"), path
        )
        stats = back.agg(
            F.count(F.lit(1)).alias("chunks"),
            F.countDistinct(id_col).alias("docs"),
            F.countDistinct("pack_id").alias("packs"),
            F.sum(F.col("chunk_tokens").cast("bigint")).alias("tokens"),
        ).first()
        return {
            "path": path,
            "docs": stats["docs"],
            "chunks": stats["chunks"],
            "packs": stats["packs"],
            "tokens": stats["tokens"],
        }

    # the splits are independent of each other, and the after-report reads
    # the durable assigned frame (same rows as survivors — the two extra
    # split/shuffle_key columns are inert to the aggregates), so none of
    # them re-runs the cascade and all of them overlap
    *split_stats, report_after = run_concurrently(spark, [
        *(partial(write_split, name) for name in splits_e6),
        partial(report, assigned),
    ])
    manifest: dict[str, Any] = {
        "seed": seed,
        "splits_e6": splits_e6,
        "chunk_size": chunk_size,
        "overlap": overlap,
        "seq_budget": seq_budget,
        "curate": {"near_dup": near_dup, "quality": quality,
                   "boilerplate": boilerplate},
        "report_before": report_before,
        "splits": dict(zip(splits_e6, split_stats)),
        "report_after": report_after,
    }

    publish_text(
        spark,
        f"{out_dir.rstrip('/')}/_manifest.json",
        json.dumps(manifest, indent=1, default=int),
    )
    return manifest
