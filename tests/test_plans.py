"""Plan-shape regression tests: the properties that keep the engine fast at
scale must hold in the optimized physical plan, not just in intent."""

from __future__ import annotations

import pytest

from ecom_snowflake_duckdb_migration_spark import plans
from ecom_snowflake_duckdb_migration_spark.queries import all_queries

SQL_EXPRESSIBLE_HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_parts_by_revenue",
    "q05_nation_trade_roles",
    "q06_multikey_min_price_join",
    "q07_dedup_keep_newest",
    "q13_conditional_activity",
    "q22_count_distinct_quirk",
    "q24_grouped_column_reuse",
    "q40_dedup_exact",
]


@pytest.fixture(scope="module")
def specs():
    return all_queries()


def test_q01_filter_pushed_and_pruned(spark, sf_dir, specs):
    df = specs["q01_pricing_summary"].fn(spark, sf_dir)
    plans.assert_filter_pushed(df, "l_shipdate")
    # lineitem has 16 columns; the flagship reads only the 6 it needs.
    plans.assert_columns_pruned(df, {"l_quantity": 6})


def test_q02_preagg_keeps_joins_broadcast(spark, sf_dir, specs):
    df = specs["q02_revenue_by_nation"].fn(spark, sf_dir)
    stats = plans.plan_stats(df)
    # nation + region are explicitly broadcast; the raw lineitem rows join
    # orders by shuffled hash with no pre-aggregation, and the per-customer
    # rollup turns the oracle's countDistinct into a plain count.
    assert stats.broadcast_joins >= 2
    assert stats.scans == 5
    plans.assert_columns_pruned(df, {"l_discount": 3, "o_custkey": 2, "c_nationkey": 2})


def test_q03_broadcasts_dimension(spark, sf_dir, specs):
    df = specs["q03_top_parts_by_revenue"].fn(spark, sf_dir)
    stats = plans.plan_stats(df)
    # dim join broadcast + the FK-exactness semi-join (Catalyst pushes the
    # semi below the aggregate and mirrors it onto the part side, so 2-3
    # broadcast joins depending on dedup) — never a sort-merge join.
    assert 1 <= stats.broadcast_joins <= 3
    assert stats.sort_merge_joins == 0
    # one shuffle for the final group-by only
    assert stats.shuffles <= 1
    plans.assert_columns_pruned(df, {"p_name": 2})


def test_q24_uses_parallel_join_not_broadcast(spark, sf_dir, specs):
    df = specs["q24_grouped_column_reuse"].fn(spark, sf_dir)
    stats = plans.plan_stats(df)
    assert stats.shuffled_hash_joins == 1
    assert stats.broadcast_joins == 0


def test_dedup_window_single_shuffle(spark, sf_dir, specs):
    df = specs["q07_dedup_keep_newest"].fn(spark, sf_dir)
    stats = plans.plan_stats(df)
    assert stats.shuffles <= 1  # partitionBy(pk) is the only exchange


@pytest.mark.parametrize("name", SQL_EXPRESSIBLE_HEADLINE)
def test_no_python_in_sql_paths(spark, sf_dir, specs, name):
    plans.assert_no_python_in_plan(specs[name].fn(spark, sf_dir))


@pytest.mark.parametrize("name", SQL_EXPRESSIBLE_HEADLINE)
def test_codegen_present(spark, sf_dir, specs, name):
    # Post-AQE executed plan: every SQL path must run inside whole-stage
    # codegen (a span count of 0 means an interpreted/fallback path crept in).
    assert plans.executed_codegen_spans(specs[name].fn(spark, sf_dir)) >= 1


def test_ecom_mart_plan_is_jvm_only(spark, specs):
    from ecom_snowflake_duckdb_migration_spark.ecom import PipelineRunner
    from ecom_snowflake_duckdb_migration_spark.ecom.generate import generate_all

    runner = PipelineRunner(spark, generate_all(spark, n_customers=50))
    df = runner.ref("fct_order_details")
    plans.assert_no_python_in_plan(df)
    stats = plans.plan_stats(df)
    assert stats.broadcast_joins >= 4  # lookups/brands/categories broadcast


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, specs):
    """The 100 TB co-location lever: two tables bucketed on the join key by
    sources.write_table join with ZERO exchanges (pre-shuffled layout)."""
    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark.queries import load
    from ecom_snowflake_duckdb_migration_spark.sources import write_table

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    try:
        write_table(orders, "t_orders_b", bucket_by=(8, ["o_orderkey"]))
        write_table(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "t_lineitem_b",
            bucket_by=(8, ["o_orderkey"]),
        )
        joined = (
            spark.table("t_orders_b")
            .hint("merge")
            .join(spark.table("t_lineitem_b"), "o_orderkey")
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        stats = plans.plan_stats(joined)
        assert stats.shuffles == 0, f"bucketed join still shuffles: {stats}"
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_q05_hash_joins_the_fact_join(spark, sf_dir, specs):
    df = specs["q05_nation_trade_roles"].fn(spark, sf_dir)
    stats = plans.plan_stats(df)
    # orders joins lineitem via shuffled-hash (sort-merge pays two sorts an
    # order-free aggregate never needs); dims stay broadcast.
    assert stats.shuffled_hash_joins >= 1
    assert stats.sort_merge_joins == 0
    assert stats.broadcast_joins >= 3


def test_q13_bitmap_distinct_no_expand(spark, sf_dir, specs):
    # Distinct users per day via 63-bit bitmap words (same rewrite as q22):
    # key cardinality |days| x |users|/63, map-side combinable, no Expand,
    # no raw-row repartition — the universal shape at every scale.
    df = specs["q13_conditional_activity"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "bit_or" in plan and "bit_count" in plan
    stats = plans.plan_stats(df)
    assert stats.shuffles <= 2, f"q13 bitmap shape regressed: {stats}"


def test_q22_bitmap_distinct_no_expand(spark, sf_dir, specs):
    # COUNT(DISTINCT dense-int) via 64-bit bitmap words: bit_or partials
    # combine map-side, shipping <= min(ndv, max_key/64) words per task —
    # never worse than a dedup cascade, 64x less on dense domains, and no
    # 3x|rows| Expand at any scale.
    df = specs["q22_count_distinct_quirk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "bit_or" in plan and "bit_count" in plan


NEW_CATALYST_ONLY = [
    "q37_document_chunks",
    "q38_sequence_packing",
    "q39_repetition_quality",
    "q54_pii_redaction",
    "q55_stratified_sample",
    "q57_asof_enrichment",
    "q58_range_join_windows",
    "q60_tfidf_top_terms",
    "q61_int8_quantization",
    "q62_ann_quantized_topk",
    "q63_decontamination",
    "x78_semantic_dedup",
    "x79_corpus_curation",
    "x80_lm_quality_score",
    "x81_span_dedup",
    "x82_knn_join",
    "x83_incremental_semantic_dedup",
    "x84_shuffle_split",
    "x85_minhash_estimate_pairs",
    "x86_exact_quota_sample",
    "x87_exact_substring_dedup",
    "x88_token_budget_select",
    "x89_vocab_coverage",
    "x90_fuzzy_decontamination",
    "x91_dsir_importance_weights",
    "x92_corpus_report",
    "x93_bpe_pair_counts",
    "x94_corpus_diff",
    "x95_dsir_resample",
    "x96_bm25_scores",
    "x97_cohort_retention",
    "x98_rfm_segments",
    "x99_sessionization",
    "x100_funnel_conversion",
    "x101_rollup_revenue",
    "x102_pivot_priority_quarter",
    "x103_mom_revenue_growth",
    "x104_trailing_7d_stats",
    # x105_bpe_merges returns a driver-local merges table (its per-iteration
    # pair-count plan is x93's, already pinned above)
    "x106_balance_quantiles",
    "x107_day_set_ops",
    "x108_corr_discount_qty",
    "x109_entity_match_pairs",
    "x111_canonical_dedup",
    "x112_gopher_repetition",
    "x113_pii_redaction_planted",
    "x114_gopher_quality_signals",
    "x116_c4_line_filters",
    "x117_curate_gopher",
]


@pytest.mark.parametrize("name", NEW_CATALYST_ONLY)
def test_extension_ops_stay_jvm_only(spark, sf_dir, specs, name):
    df = specs[name].fn(spark, sf_dir)
    plans.assert_no_python_in_plan(df)
    assert plans.executed_codegen_spans(df) >= 1


def test_lm_score_model_joins_broadcast(spark, sf_dir, specs):
    """lm_score's model/context/V joins must all be broadcast — the corpus
    side carries no join shuffle; its only exchange is the doc-id groupBy."""
    df = specs["x80_lm_quality_score"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bucketed_fact_variants_plans_and_parity(spark, sf_dir, specs):
    """The bucketed-storage paths (q02/q03/q05/q06/q24): exchange counts
    drop to the floor the layout promises, results stay hash-identical to
    the oracle, and dropping the tables restores the raw plans."""
    import re

    from ecom_snowflake_duckdb_migration_spark.oracle import compare_to_oracle
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import (
        drop_bucketed_facts,
        ensure_bucketed_facts,
    )

    # ceiling on Exchanges once bucket layout is active; raw plans all
    # exceed these (each has at least one fact-side join/agg exchange more)
    max_shuffles = {
        "q24_grouped_column_reuse": 0,  # join + group-by both on bucket key
        "q03_top_parts_by_revenue": 0,  # per-partkey agg exchange-free
        "q05_nation_trade_roles": 1,    # only the nation-pair agg
        "q06_multikey_min_price_join": 1,  # only the suppkey agg
        "q02_revenue_by_nation": 2,     # custkey agg + nation agg
        "q07_dedup_keep_newest": 0,     # user-bucketed events, one stage
        "q13_conditional_activity": 0,  # day-clustered events, both agg levels
        "q40_dedup_exact": 0,           # content-addressed documents copy
    }
    try:
        ensure_bucketed_facts(spark, sf_dir, buckets=8)
        for name, ceiling in max_shuffles.items():
            df = specs[name].fn(spark, sf_dir)
            stats = plans.plan_stats(df)
            assert stats.shuffles <= ceiling, f"{name}: {stats}"
            r = compare_to_oracle(name, df, specs[name].oracle, sf_dir)
            assert r.ok, f"{name} bucketed parity: {r.detail}"
        # q06's window must also elide its Sort (bucket sortBy is trusted)
        plan = (
            specs["q06_multikey_min_price_join"]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert not re.search(r"\bSort \[l_partkey", plan), "window sort not elided"
    finally:
        drop_bucketed_facts(spark, sf_dir)
    # raw path restored: q24 shuffles again
    raw = plans.plan_stats(specs["q24_grouped_column_reuse"].fn(spark, sf_dir))
    assert raw.shuffles >= 1


def test_headline_sql_ignores_fact_size(spark, sf_dir, specs, monkeypatch):
    """One SQL template per fact-join headliner: the text the raw-parquet
    branch runs is the same whether the facts are a few KB or 1 TB (only
    the dimension broadcast hints follow the dimensions' own sizes). Builds
    the SQL text only; no Spark job runs."""
    from ecom_snowflake_duckdb_migration_spark.queries import catalog_core

    names = [
        "q02_revenue_by_nation",
        "q05_nation_trade_roles",
        "q06_multikey_min_price_join",
        "q24_grouped_column_reuse",
    ]
    seen: list[str] = []
    monkeypatch.setattr(
        catalog_core, "run_sql", lambda _spark, _sf_dir, sql: seen.append(sql)
    )

    def sql_texts() -> list[str]:
        seen.clear()
        for name in names:
            specs[name].fn(spark, sf_dir)
        return list(seen)

    at_real_size = sql_texts()
    assert len(at_real_size) == len(names)
    real_bytes = catalog_core._parquet_bytes
    monkeypatch.setattr(
        catalog_core,
        "_parquet_bytes",
        lambda d, table: 1 << 40 if table in ("lineitem", "orders") else real_bytes(d, table),
    )
    assert sql_texts() == at_real_size


def test_semantic_dedup_pair_join_exchange_free_on_bucketed_cell_store(spark, sf_dir, specs):
    """The x78 scale claim made concrete: semantic_cells persisted
    bucketed-by-cell gives the SemDeDup pair self-join ZERO exchanges —
    and the store path keeps the exact in-memory result."""
    from ecom_snowflake_duckdb_migration_spark.operators import similarity as sim
    from ecom_snowflake_duckdb_migration_spark.queries import load
    from ecom_snowflake_duckdb_migration_spark.sources import write_table

    emb = load(spark, sf_dir, "embeddings")
    cents = sim.make_centroids(dim=64, n_centroids=8, seed=42)
    try:
        write_table(
            sim.semantic_cells(emb, cents), "t_semcells_b", bucket_by=(8, ["cell"])
        )
        store = spark.table("t_semcells_b").hint("merge")
        pairs = sim.semantic_removal_candidates(store, threshold=0.35, dim=64)
        stats = plans.plan_stats(pairs)
        assert stats.shuffles == 0, f"bucketed cell self-join still shuffles: {stats}"
        kept_store = {r.vec_id for r in sim.semantic_dedup_celled(store, 0.35, dim=64).collect()}
        kept_mem = {r.vec_id for r in sim.semantic_dedup(emb, cents, 0.35).collect()}
        assert kept_store == kept_mem and kept_store
    finally:
        spark.sql("DROP TABLE IF EXISTS t_semcells_b")


class TestLint:
    """plans.lint — the automated scale-hazard audit."""

    def test_cartesian_flags_error(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(100).withColumn("v", F.col("id") * 2)
        cart = df.join(
            spark.range(50).withColumnRenamed("id", "j").hint("shuffle_replicate_nl")
        )
        codes = {f.code for f in plans.lint(cart)}
        assert "CARTESIAN" in codes
        with pytest.raises(AssertionError, match="CARTESIAN"):
            plans.assert_scale_clean(cart)

    def test_global_window_flags_partitioned_does_not(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        df = spark.range(100).withColumn("v", F.col("id") % 7)
        gw = df.select(F.sum("v").over(Window.orderBy("id").rowsBetween(-2, 0)))
        assert {f.code for f in plans.lint(gw)} == {"GLOBAL_WINDOW"}
        pw = df.select(F.sum("v").over(Window.partitionBy("v").orderBy("id")))
        assert plans.lint(pw) == []

    def test_row_python_udf_flags(self, spark):
        from pyspark.sql.functions import udf

        u = udf(lambda x: x + 1, "long")
        codes = {f.code for f in plans.lint(spark.range(10).select(u("id")))}
        assert "ROW_PYTHON" in codes

    def test_unpushed_filter_flags(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from pyspark.sql.functions import udf

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        u = udf(lambda s: s == "A", "boolean")  # UDF predicate can't push
        codes = {f.code for f in plans.lint(li.filter(u("l_returnflag")))}
        assert "FILTER_NOT_PUSHED" in codes
        # a pushable predicate on the same scan stays clean
        clean = li.filter(F.col("l_returnflag") == "A")
        assert "FILTER_NOT_PUSHED" not in {f.code for f in plans.lint(clean)}

    def test_collect_list_info(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(20).withColumn("v", F.col("id") % 3)
        codes = {f.code for f in plans.lint(df.groupBy("v").agg(F.collect_list("id")))}
        assert "UNBOUNDED_GROUP_STATE" in codes

    @pytest.mark.parametrize("name", SQL_EXPRESSIBLE_HEADLINE)
    def test_headliners_are_scale_clean(self, spark, sf_dir, specs, name):
        plans.assert_scale_clean(specs[name].fn(spark, sf_dir))

    def test_global_window_by_design_is_visible(self, spark, sf_dir, specs):
        """x103/x104 run a window over the pre-aggregated |months|/|days|
        frame on purpose (justified in their docstrings) — the linter must
        SEE it; the entries allow it explicitly."""
        for name in ("x103_mom_revenue_growth", "x104_trailing_7d_stats"):
            df = specs[name].fn(spark, sf_dir)
            assert "GLOBAL_WINDOW" in {f.code for f in plans.lint(df)}
            plans.assert_scale_clean(df, allow={"GLOBAL_WINDOW"})


# Per-entry lint allowances, each with the justification the finding
# demands. Codes not listed here fail the sweep; "error"-severity findings
# (CartesianProduct) are never allowable.
LINT_ALLOW: dict[str, dict[str, str]] = {
    # bounded broadcast nested-loop joins: 1-row stats frames or k-row
    # codebooks/boundaries (the documented crossJoin(broadcast(...)) idiom)
    "q62_ann_quantized_topk": {"BNLJ": "k-row codebook + 1-row query vector"},
    "q50_ann_lsh_topk": {"BNLJ": "1-row query vector broadcast"},
    "q51_ann_ivf_topk": {
        "BNLJ": "1-row query vector + k-row codebook broadcast",
        "FILTER_NOT_PUSHED": "nprobe cell-membership predicate on derived "
        "cell ids (partition pruning happens on the IVF STORE layout, not "
        "this in-memory path)",
    },
    "q52_dedup_canonical_docs": {
        "FILTER_NOT_PUSHED": "isnull(component) on label-propagation join "
        "output — not a scan column"},
    "q55_stratified_sample": {
        "FILTER_NOT_PUSHED": "hash-membership sampling must see every row"},
    "q26_incremental_append": {
        "BNLJ": "1-row high-water-mark frame (sources.incremental_filter)"},
    "x46_ann_cosine_topk": {"BNLJ": "1-row query vector broadcast"},
    "x47_cosine_neardup_pairs": {"BNLJ": "1-row norm-stats broadcast"},
    "x68_kmv_join_size": {"BNLJ": "two 1-row sketch frames"},
    "x69_zorder_keys": {"BNLJ": "1-row min/max bounds frame"},
    "x70_histogram_quantiles": {
        "BNLJ": "1-row total-count frame",
        "GLOBAL_WINDOW": "cumulative rank over <= n_bins sketch rows",
    },
    "x80_lm_quality_score": {"BNLJ": "1-row vocabulary-size frame"},
    "x91_dsir_importance_weights": {"BNLJ": "1-row corpus-total frames"},
    "x95_dsir_resample": {"BNLJ": "1-row corpus-total frames (via x91)"},
    "x96_bm25_scores": {"BNLJ": "1-row (N, avgdl) stats frame"},
    # windows over pre-aggregated bounded frames
    "x103_mom_revenue_growth": {"GLOBAL_WINDOW": "|months| rollup input"},
    "x104_trailing_7d_stats": {"GLOBAL_WINDOW": "|days| rollup input"},
    "x98_rfm_segments": {
        "GLOBAL_WINDOW": "BELOW-GATE branch only (sf0.01 here): literal "
        "ntile windows over |users|. Above the 64 MB gate the entry "
        "switches to sampling.exact_ntile_hist_multi — one histogram "
        "pass + a zero-main-shuffle tile-map output, bit-identical tiles, "
        "no global sort (parity pinned in "
        "test_rfm_bucketed_branch_matches_window)"
    },
    # predicates on derived/array values cannot reach the parquet reader
    "q56_dedup_canonical_embeddings": {
        "FILTER_NOT_PUSHED": "isnull-on-join-output / array predicates"},
    "x76_domain_mix": {
        "FILTER_NOT_PUSHED": "hash-membership sampling must see every row"},
    "x126_temperature_mix": {
        "FILTER_NOT_PUSHED": "hash-membership sampling must see every row"},
    "x82_knn_join": {
        "FILTER_NOT_PUSHED": "cell-membership predicate on derived columns"},
    "x83_incremental_semantic_dedup": {
        "FILTER_NOT_PUSHED": "cosine-threshold predicate on derived columns"},
    "x78_semantic_dedup": {
        "FILTER_NOT_PUSHED": "cosine-threshold / cell predicates on derived "
        "columns above the round-10 celled-frame barrier (a localCheckpoint "
        "RDD scan has no pushdown surface; the predicates never could push "
        "— same contract as x83)"},
    "x132_minhash_prefiltered_pairs": {
        "FILTER_NOT_PUSHED": "signature-agreement / Jaccard threshold "
        "predicates on derived columns above the round-10 signature-frame "
        "barrier — same contract as x78/x83"},
    "x90_fuzzy_decontamination": {
        "FILTER_NOT_PUSHED": "band/agreement predicates on derived columns "
        "above the round-10 signature-frame barriers — same contract as "
        "x78/x83"},
    "x85_minhash_estimate_pairs": {
        "FILTER_NOT_PUSHED": "signature-agreement threshold predicates on "
        "derived columns above the round-10 signature-frame barrier — same "
        "contract as x78/x83"},
    "x120_density_prune": {
        "FILTER_NOT_PUSHED": "NULL-cell guard on the derived cell column "
        "(degenerate vectors dropped rather than NULL-ordered)"},
    "x123_ivfadc_knn": {
        "FILTER_NOT_PUSHED": "NULL-cell guard on the derived cell column "
        "(residual codes are per-cell, so unsearchable rows drop before "
        "encode — same contract as x120)"},
    "x87_exact_substring_dedup": {
        "FILTER_NOT_PUSHED": "size(split(text)) guard is a derived expression"},
    "x110_quality_classifier": {
        "FILTER_NOT_PUSHED": "hashed-feature predicates on derived columns"},
    "x129_classifier_grad_step": {
        "FILTER_NOT_PUSHED": "hashed-feature predicates on derived columns "
        "(one trainer iteration — same frame as x110)"},
    "x130_rrf_hybrid_retrieval": {
        "BNLJ": "1-row query vector + 1-row (N, avgdl) stats broadcasts "
        "(via x46 + x96); fusion itself joins nothing data-sized"},
    "x115_entity_match_scored": {
        "FILTER_NOT_PUSHED": "isnotnull(length(c_name)) null guard inferred "
        "by constraint propagation from the score threshold — a derived "
        "expression, not a scan column (x109's identical scan has no "
        "filter at all)"},
    # Arrow-batched Python: the one sanctioned non-codegen family
    "x33_media_decode_stats": {"ARROW_PYTHON": "binary media decode"},
}
# info-severity facts worth knowing but not blocking
LINT_INFO_OK = {"ARROW_PYTHON", "UNBOUNDED_GROUP_STATE"}


def test_catalog_scale_clean(spark, sf_dir, specs):
    """Every catalog entry passes the scale-hazard linter modulo its
    documented allowance — the VERDICT claim 'all crossJoins are bounded
    broadcasts, no row-Python, no cartesian products' as a machine check
    that covers every FUTURE entry automatically."""
    failures = []
    for name, spec in sorted(specs.items()):
        allowed = set(LINT_ALLOW.get(name, {}))
        for f in plans.lint(spec.fn(spark, sf_dir)):
            if f.severity == "error":
                failures.append(f"{name}: [{f.severity}] {f.code} — {f.message}")
            elif f.severity == "warn" and f.code not in allowed:
                failures.append(f"{name}: [warn] {f.code} — {f.message}")
            elif f.severity == "info" and f.code not in LINT_INFO_OK | allowed:
                failures.append(f"{name}: [info] {f.code} — {f.message}")
    assert not failures, "\n".join(failures)


def test_ecom_models_scale_clean(spark):
    """All 37 reference-parity models pass the scale-hazard linter — the
    pipeline the reference's dbt DAG runs daily must survive the same
    audit as the catalog (lint formats plans without executing, so the
    whole sweep is one pass over the model graph)."""
    from ecom_snowflake_duckdb_migration_spark.ecom import PipelineRunner
    from ecom_snowflake_duckdb_migration_spark.ecom.generate import generate_all
    from ecom_snowflake_duckdb_migration_spark.ecom.registry import MODELS

    runner = PipelineRunner(spark, generate_all(spark, n_customers=50))
    failures = []
    for name in MODELS:
        for f in plans.lint(runner.ref(name)):
            if f.severity in ("error", "warn"):
                failures.append(f"{name}: [{f.severity}] {f.code} — {f.message}")
    assert not failures, "\n".join(failures)
