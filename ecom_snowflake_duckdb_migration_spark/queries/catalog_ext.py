"""Extension catalog: sources / streaming / multimodal operators surfaced
through the driver gate.

Oracled where DuckDB can express the semantics; the genuinely non-SQL paths
(Structured Streaming execution, binary media decode) are registered without
an oracle — the driver records the weaker rows-only check for those, and
their exact semantics are pinned by tests (tests/test_streaming.py,
tests/test_multimodal.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from . import load, register


@register(
    "q29_event_daily_windows",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*)                                 AS events,
           CAST(count(DISTINCT user_id) AS BIGINT)  AS unique_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-day event windows (F.window) — the batch twin of the "
    "streaming fct_product_interactions rollup (dbt/dbt_duckdb/models/"
    "ecom_marts/sales/fct_product_interactions.sql:6-14); window.start == "
    "date_trunc('day') for aligned tumbling windows.",
    tags=("streaming", "F7", "A1"),
)
def q29_event_daily_windows(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "events", "unique_users")
    )


@register(
    "q30_catalog_rowcounts",
    oracle="""
    SELECT 'customer' AS table_name, count(*) AS n_rows FROM customer
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'region', count(*) FROM region
    """,
    doc="S12 catalog introspection with row counts — the reference's "
    "information_schema walk (src/sample_ecom_raw_query_duckdb.py:8-27).",
    tags=("S12",),
)
def q30_catalog_rowcounts(spark, sf_dir):
    from functools import reduce

    tables = ["customer", "orders", "lineitem", "part", "supplier", "nation", "region"]
    counts = [
        load(spark, sf_dir, t)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in tables
    ]
    return reduce(lambda a, b: a.unionByName(b), counts)


@register(
    "q31_envelope_roundtrip",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations,
           string_agg(DISTINCT n_name, ', ' ORDER BY n_name) AS nations
    FROM nation GROUP BY 1
    """,
    doc="S2/S5 envelope JSON round-trip: write {metadata, data:[...]} "
    "envelopes (src/pipeline/0_generate_historic_synthetic_data.py:429-461), "
    "read them back through BOTH scan paths — the JVM reader with declared "
    "schema + explode (ingest_latest_synthetic_data.py:131-146) AND the "
    "Spark-4 Python DataSource (format('ecom_envelope'), recordCount "
    "validated per file during the scan) — aggregate each and inner-join on "
    "every output column, so any disagreement between the two readers (or "
    "with the original table) reds this row. The oracle runs on the "
    "original table — the round-trip must be lossless.",
    tags=("S2", "S5", "A6"),
)
def q31_envelope_roundtrip(spark, sf_dir):
    import datetime

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..functions.core import string_agg_distinct_ordered
    from ..sources import envelope_datasource, read_envelope_json, write_envelope_json

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = tempfile.mkdtemp(prefix="envelope_rt_")
    write_envelope_json(nation, out, "nation", run_ts=datetime.datetime(2026, 1, 1))
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", LongType()),
        ]
    )
    back = read_envelope_json(spark, out + "/*.txt", data_schema=schema, validate_count=True)
    envelope_datasource.register(spark)
    back_py = (
        spark.read.format("ecom_envelope")
        .schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint,"
            " _envelope_file string, _generated_at string"
        )
        .option("path", out)
        .option("validate_count", "true")
        .load()
        .select("n_nationkey", "n_name", "n_regionkey")
    )

    def agg(df):
        return df.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n_nations"),
            string_agg_distinct_ordered("n_name").alias("nations"),
        )

    # Equi-join on EVERY column: identical reader outputs keep exactly one
    # row per group; any divergence drops rows -> driver hash mismatch.
    return agg(back).join(agg(back_py), ["n_regionkey", "n_nations", "nations"], "inner")


@register(
    "q32_streaming_daily_windows",
    # Append-mode emission is deterministic, hence SQL-expressible: after the
    # availableNow run drains (plus the final no-data batch that advances the
    # watermark to global-max - lateness), the emitted set is exactly the
    # windows whose end <= max(ts) - 1 hour. The last (never-closed) window
    # stays in state and is NOT emitted — the oracle reproduces that rule.
    oracle="""
    SELECT window_start, event_type, events FROM (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS events
        FROM events GROUP BY 1, 2
    )
    WHERE window_start + INTERVAL 1 DAY
          <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
    doc="Watermarked tumbling-window aggregation executed through Structured "
    "Streaming (availableNow) over the same events data as "
    "q29_event_daily_windows — §2.9 stretch mapped per SURVEY (watermark + "
    "1-day window ≙ daily fct_product_interactions). Oracled: append-mode "
    "output == batch windows closed by the final watermark.",
    tags=("streaming",),
)
def q32_streaming_daily_windows(spark, sf_dir):
    from ..streaming import read_event_stream, windowed_event_counts

    events = load(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="stream_q32_")
    src = f"{work}/src"
    events.write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src, spark.read.parquet(src).schema)
    agg = windowed_event_counts(stream, ts_col="ts", key_col="event_type")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.read.parquet(f"{work}/out").select(
        "window_start", "event_type", "events"
    )


@register(
    "x33_media_decode_stats",
    oracle=None,  # binary media decode (mapInPandas) — rows-only check;
    # decode semantics pinned in tests/test_multimodal.py.
    doc="Multimodal plumbing through the driver gate: deterministic media "
    "generation (real 8-bit BMP + baseline-JPEG payloads, both decoded "
    "natively — multimodal/jpeg.py is cross-validated against "
    "javax.imageio) -> Arrow-batched decode -> per-format/dimension stats.",
    tags=("multimodal",),
)
def q33_media_decode_stats(spark, sf_dir):
    from ..multimodal import decode_images, generate_media

    bmps = generate_media(spark, 120, "image", seed=7, partitions=4, media_format="bmp")
    jpgs = generate_media(spark, 80, "image", seed=9, partitions=4, media_format="jpeg")
    return (
        decode_images(bmps.unionByName(jpgs))
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg("mean_pixel"), 2).alias("avg_mean_pixel"),
        )
    )


# committed under the repository root, next to the package
_Q34_RAW_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "benchdata", "q34_raw",
)


def _q34_oracle() -> str:
    """Single WITH-chain DuckDB twin of the whole model DAG: every
    hand-compiled reference model (ecom/oracle_sql.py, dependency-ordered)
    becomes a CTE; ``ecom_raw.<t>`` leaves resolve to the committed seeded
    raw extract (scripts/gen_q34_raw.py) — the SAME parquet files the Spark
    side reads, so the gate is order-independent and fully deterministic.
    DuckDB only evaluates the CTEs fct_sales_by_date actually references."""
    import re

    from ..ecom.oracle_sql import MODEL_ORACLE_SQL
    from ..ecom.registry import DEFAULT_RUN_TS

    run_ts = f"TIMESTAMP '{DEFAULT_RUN_TS:%Y-%m-%d %H:%M:%S}'"
    run_date = f"DATE '{DEFAULT_RUN_TS:%Y-%m-%d}'"
    ctes = []
    for name, sql in MODEL_ORACLE_SQL.items():
        body = sql.replace("{RUN_TS}", run_ts).replace("{RUN_DATE}", run_date)
        body = re.sub(
            r"ecom_raw\.(\w+)",
            lambda m: f"read_parquet('{_Q34_RAW_DIR}/{m.group(1)}/*.parquet')",
            body,
        )
        ctes.append(f"{name} AS (\n{body}\n)")
    # Final projection aligns money/ratio types across engines: Spark's
    # SUM(DECIMAL(12,2)) is DECIMAL(22,2) while DuckDB's is DECIMAL(38,2), and
    # the driver's value hash is representation-sensitive — so every decimal
    # aggregate goes through the catalog convention (queries/__init__.py):
    # round(CAST(x AS DOUBLE), 2) for money sums, round 6 for ratios.
    return (
        "WITH " + ",\n".join(ctes) +
        "\nSELECT sale_date, total_orders, unique_customers,"
        "\n       round(CAST(total_revenue AS DOUBLE), 2) AS total_revenue,"
        "\n       round(CAST(total_shipping AS DOUBLE), 2) AS total_shipping,"
        "\n       round(CAST(net_revenue AS DOUBLE), 2) AS net_revenue,"
        "\n       round(CAST(avg_order_value AS DOUBLE), 6) AS avg_order_value,"
        "\n       round(CAST(revenue_per_customer AS DOUBLE), 6) AS revenue_per_customer"
        "\nFROM fct_sales_by_date"
    )


@register(
    "q34_ecom_pipeline_smoke",
    oracle=_q34_oracle(),
    doc="The reference's whole product through the driver gate: committed "
    "seeded raw extract (benchdata/q34_raw, built by the seeded generator) "
    "-> 8 staging views -> 15 intermediate -> 14 marts "
    "(ecom.PipelineRunner), returning the fct_sales_by_date mart. The "
    "oracle runs the hand-compiled reference dbt SQL for the same DAG over "
    "the same files as one WITH-chain.",
    tags=("pipeline", "E1"),
)
def q34_ecom_pipeline_smoke(spark, sf_dir):
    from ..ecom import PipelineRunner
    from . import ensure_confs

    ensure_confs(spark)
    raw = {
        name: spark.read.parquet(f"{_Q34_RAW_DIR}/{name}")
        for name in sorted(os.listdir(_Q34_RAW_DIR))
    }
    runner = PipelineRunner(spark, raw)
    from pyspark.sql import functions as F

    df = runner.ref("fct_sales_by_date").drop("updated_at")
    # Catalog float convention on every decimal aggregate (round 2 for money
    # sums, round 6 for ratios): raw DECIMAL widths differ between engines
    # (Spark DECIMAL(22,2) vs DuckDB DECIMAL(38,2)) and the driver hash is
    # representation-sensitive even when values are equal.
    for col in ("total_revenue", "total_shipping", "net_revenue"):
        df = df.withColumn(col, F.round(F.col(col).cast("double"), 2))
    for col in ("avg_order_value", "revenue_per_customer"):
        df = df.withColumn(col, F.round(F.col(col).cast("double"), 6))
    return df


@register(
    "q35_user_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sess AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts)                          AS session_start,
           max(ts) + INTERVAL 30 MINUTE     AS session_end,
           count(*)                         AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE)
                                            AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    doc="Gap-based session derivation (session_window, 30-min gap) — the "
    "engine derives what the reference's generator precomputes as "
    "session_id (0_generate_historic_synthetic_data.py:242-272). Oracle "
    "expresses the same half-open [first, last+gap) semantics via "
    "lag/cumsum (break on diff >= gap).",
    tags=("streaming", "session"),
)
def q35_user_sessions(spark, sf_dir):
    from ..streaming import sessionize

    e = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = sessionize(e, gap="30 minutes", ts_col="ts", key_cols=["user_id"])
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        # round on the exact decimal, emit DOUBLE: a DECIMAL output would
        # hash-differ from the oracle on trailing-zero repr despite equal values
        F.expr("CAST(round(CAST(total_value AS DECIMAL(27,6)), 2) AS DOUBLE)").alias(
            "total_value"
        ),
    )


@register(
    "q36_dual_target_sync",
    # The sync must be lossless per target, so the expected report is
    # computable from the SOURCE table alone (q31's round-trip pattern):
    # every target row carries the source count twice and ok=true.
    oracle="""
    SELECT 'supplier' AS table, t.target, c.n AS rows_expected, c.n AS rows_loaded,
           true AS ok
    FROM (SELECT count(*) AS n FROM supplier) c
    CROSS JOIN (VALUES ('parquet'), ('csv')) AS t(target)
    ORDER BY t.target
    """,
    doc="The reference's dual-target load + cross-target row-count "
    "verification (src/pipeline/ingest_latest_synthetic_data.py:610-703, "
    "count cross-check :688-696): one logical table fans out to two "
    "physical targets (parquet + CSV here; local DuckDB + MotherDuck "
    "there), each target is read BACK and counted, and the per-target "
    "report is returned. sources.sync.sync_to_targets.",
    tags=("S4", "S6", "sync"),
)
def q36_dual_target_sync(spark, sf_dir):
    from ..sources import SyncTarget, sync_to_targets

    supplier = load(spark, sf_dir, "supplier")
    work = tempfile.mkdtemp(prefix="dual_sync_")
    report = sync_to_targets(
        supplier,
        [
            SyncTarget("parquet", f"{work}/parquet"),
            SyncTarget("csv", f"{work}/csv"),
        ],
        table="supplier",
    )
    return report.orderBy("target")


@register(
    "q57_asof_enrichment",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(value) AS value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purch AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, p.ts, c.value AS asof_click_value
    FROM purch p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (operators.asof.asof_join): every purchase enriched "
    "with the latest click value at-or-before it per user — DuckDB's "
    "native ASOF LEFT JOIN is the oracle. Spark-side: union-tag + "
    "last_value IGNORE NULLS window (one key shuffle + one partition "
    "sort — no per-key loop, scales like any window).",
    tags=("asof", "J7-ext", "streamingish"),
)
def q57_asof_enrichment(spark, sf_dir):
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    purch = e.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    return asof_join(
        purch, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload="value", out_col="asof_click_value",
    )


@register(
    "q58_range_join_windows",
    oracle="""
    WITH iv AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(ts) AS start_ts, max(ts) AS end_ts
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT iv.user_id, iv.day, iv.start_ts, iv.end_ts,
           count(c.ts)                                   AS n_clicks_inside,
           CAST(CAST(sum(CAST(floor(c.value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                / 10000.0 AS DOUBLE)                     AS click_value_inside
    FROM iv LEFT JOIN clicks c
      ON c.user_id = iv.user_id AND c.ts >= iv.start_ts AND c.ts <= iv.end_ts
    GROUP BY 1, 2, 3, 4
    """,
    doc="Range join (operators.rangejoin.range_join): clicks matched into "
    "each user's per-day purchase activity window [first, last purchase]. "
    "Spark side runs the banded equi-join rewrite (bin both sides into "
    "fixed-width time bins -> equi join on (user, bin) -> exact range "
    "filter) — the naive theta join is a nested loop Spark cannot run at "
    "scale; DuckDB's IEJoin-backed theta join is the oracle.",
    tags=("rangejoin", "J7-ext"),
)
def q58_range_join_windows(spark, sf_dir):
    from ..operators.rangejoin import range_join
    from .catalog_core import to_bp

    e = load(spark, sf_dir, "events")
    iv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    matched = range_join(
        clicks, iv, point_ts="ts", start_ts="start_ts", end_ts="end_ts",
        equi_keys=["user_id"], bin_width_seconds=86_400,
    )
    per_iv = matched.groupBy("user_id", "day", "start_ts", "end_ts").agg(
        F.count(F.lit(1)).alias("n_clicks_inside"),
        (F.sum(to_bp(F.col("value"))) / F.lit(10_000.0)).cast("double").alias("click_value_inside"),
    )
    # LEFT semantics: intervals with no clicks inside keep (0, NULL)
    return (
        iv.join(per_iv, ["user_id", "day", "start_ts", "end_ts"], "left")
        .select(
            "user_id", "day", "start_ts", "end_ts",
            F.coalesce("n_clicks_inside", F.lit(0)).alias("n_clicks_inside"),
            F.col("click_value_inside"),
        )
    )


@register(
    "q59_incremental_rollup",
    # The gate invariant: applying the stream in two arbitrary batches
    # through the merge-refresh must equal one full recompute over all
    # events — the oracle IS that full recompute.
    oracle="""
    SELECT CAST(ts AS DATE) AS bucket, event_type,
           count(*) AS n_rows,
           CAST(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                / 10000.0 AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Continuous-aggregate maintenance (operators.rollup): the daily "
    "(bucket, event_type) rollup is materialized from a first batch (even "
    "event_ids) then merge-refreshed with the second (odd event_ids) — "
    "only touched buckets are rewritten. Gate: incremental state after "
    "both refreshes == full recompute over all events (the oracle).",
    tags=("rollup", "S11-ext", "streamingish"),
)
def q59_incremental_rollup(spark, sf_dir):
    from ..operators.rollup import read_rollup, refresh_rollup

    e = load(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="rollup_q59_")
    path = f"{work}/daily"
    refresh_rollup(spark, path, e.filter(F.col("event_id") % 2 == 0))
    refresh_rollup(spark, path, e.filter(F.col("event_id") % 2 == 1))
    return read_rollup(spark, path)
