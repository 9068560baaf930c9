"""Incremental load operators (SURVEY §2.1 S8/S11, §2.4 A11, §2.2 P8).

Reference behaviors replicated (paths relative to /root/reference):
- A11 per-PK dedup keep-newest: sort by LOADED_AT desc then drop_duplicates(pk)
  (src/pipeline/ingest_latest_synthetic_data.py:163-194,
  0_ingest_historic_synthetic_data.py:87-112).
- S8 PK upsert: stage temp table, DELETE target rows whose pk appears in the
  new batch, INSERT the new batch (ingest_latest_synthetic_data.py:536-575;
  MotherDuck twin :643-686).
- S11 incremental filter: ``WHERE ts > (SELECT MAX(ts) FROM this)``
  (dbt/dbt_duckdb/models/ecom_marts/customer/fct_customer_orders.sql:18-20).
- P8/U3 schema-align concat (ingest_latest_synthetic_data.py:810-821).

Scale notes: the delete+insert upsert is expressed as a single left-anti join
plus union — one shuffle on the key, broadcast when the batch is small (the
daily-delta case, which AQE detects at runtime). For transactional storage the
same semantics map 1:1 to Delta ``MERGE INTO``; the parquet path here rewrites
the target through the crash-safe directory swap ``writers.replace_dir``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .writers import exists, replace_dir


def dedup_keep_newest(
    df: DataFrame, keys: list[str], order_col: str = "loaded_at"
) -> DataFrame:
    """A11: keep the newest row per key by ``order_col`` (ties broken
    deterministically by the remaining columns to keep reruns stable)."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(),
        *[F.col(c).desc() for c in df.columns if c not in keys and c != order_col],
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def align_union(historic: DataFrame, latest: DataFrame) -> DataFrame:
    """P8/U3: vertical concat with missing columns null-filled on either side."""
    return historic.unionByName(latest, allowMissingColumns=True)


def upsert_delete_insert(
    target: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """S8: delete+insert upsert semantics as a DataFrame transform.

    Rows of ``target`` whose key appears in ``batch`` are dropped (DELETE),
    then the whole batch is appended (INSERT). Exactly the reference's
    two-statement transaction, in one anti-join + union. Key comparison is
    null-safe: a NULL key component matches a NULL (the reference's
    ``pk IN (SELECT pk ...)`` would silently never delete NULL-keyed rows —
    reviews carry NULL review_ids — and re-runs would duplicate them).
    """
    from functools import reduce

    new_keys = batch.select(*keys).distinct()
    cond = reduce(
        lambda a, b: a & b, [target[k].eqNullSafe(new_keys[k]) for k in keys]
    )
    kept = target.join(new_keys, cond, "left_anti")
    return kept.unionByName(batch, allowMissingColumns=True)


def upsert_parquet(
    spark, target_path: str, batch: DataFrame, keys: list[str]
) -> None:
    """S8 against parquet storage: read-modify-write through
    :func:`.writers.replace_dir`, so a crash at any point leaves either the
    old or the new table, never a missing one. New reads after the swap see
    the new table; DataFrames created against the old snapshot must be
    re-read — overwrite-in-place cannot give snapshot isolation; Delta MERGE
    replaces this wholesale when a transactional format is available."""
    def fill(tmp: str) -> None:
        merged = batch
        if exists(spark, target_path):
            target = spark.read.parquet(target_path)
            merged = upsert_delete_insert(target, batch, keys)
        merged.write.mode("overwrite").parquet(tmp)

    replace_dir(spark, target_path, fill)
    # Drop any cached file listings/plans pointing at the replaced snapshot.
    spark.catalog.refreshByPath(target_path)


def incremental_filter(
    source: DataFrame, sink: DataFrame | None, ts_col: str
) -> DataFrame:
    """S11: only rows newer than the sink's high-water mark. The max is a
    scalar subquery — one column scanned, min/max pruned from parquet
    footers — not a driver-side collect of the sink."""
    if sink is None:
        return source
    high_water = sink.agg(F.max(ts_col).alias("hw"))
    return (
        source.join(F.broadcast(high_water))
        .filter((F.col("hw").isNull()) | (F.col(ts_col) > F.col("hw")))
        .drop("hw")
    )


def backfill_id_column(
    df: DataFrame, col: str, offset: int = 0, order_by: list[str] | None = None
) -> DataFrame:
    """P9: add a synthetic id column only if it is absent from the schema
    (the reference backfills REVIEW_ID when an extract lacks it,
    src/pipeline/ingest_latest_synthetic_data.py:205-207).

    With ``order_by`` the ids are a deterministic dense sequence assigned
    distributively: range-partition on the sort keys (globally ordered
    partitions), row_number within each partition, then add per-partition
    row-count prefix offsets. A naive ``Window.orderBy`` without partitioning
    would collapse the whole table into one task; here the only global window
    runs over ONE ROW PER PARTITION (the count rollup), broadcast back.
    Without ``order_by``: ``monotonically_increasing_id`` — unique and
    order-preserving per partition, shuffle-free, but not dense — the right
    trade at 100 TB when only uniqueness matters.
    """
    if col in df.columns:
        return df
    if not order_by:
        new_id = F.monotonically_increasing_id() + F.lit(offset)
        return df.withColumn(col, new_id.cast("string"))
    cols = [F.col(c) for c in order_by]
    parts = df.repartitionByRange(*cols).withColumn("_pid", F.spark_partition_id())
    # one row per partition; the range exchange below parts is reused for
    # both subtrees, so _pid assignment is consistent across them
    offsets = (
        parts.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    local_rn = F.row_number().over(Window.partitionBy("_pid").orderBy(*cols))
    return (
        parts.join(F.broadcast(offsets), "_pid")
        .withColumn(col, (local_rn + F.col("_off") + F.lit(offset)).cast("string"))
        .drop("_pid", "_off")
    )


def relationships_check(
    child: DataFrame, parent: DataFrame, child_key: str | Column, parent_key: str | Column
) -> DataFrame:
    """dbt ``relationships`` test core: child keys with no matching parent
    (anti join; empty result = referential integrity holds)."""
    ck = F.col(child_key) if isinstance(child_key, str) else child_key
    pk = F.col(parent_key) if isinstance(parent_key, str) else parent_key
    return child.filter(ck.isNotNull()).join(
        parent.select(pk.alias("_pk")).distinct(),
        ck == F.col("_pk"),
        "left_anti",
    )
