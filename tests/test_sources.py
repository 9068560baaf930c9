"""Tests for sources/: readers (S1-S3), writers (S4-S7, S9-S12), upsert (S8,
S11, A11). Round-trips run on real driver parquet at sf0.001."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ecom_snowflake_duckdb_migration_spark import sources
from ecom_snowflake_duckdb_migration_spark.queries import load

ROW_SCHEMA = StructType(
    [StructField("id", IntegerType()), StructField("name", StringType())]
)


def test_envelope_json_roundtrip(spark, sf_dir, tmp_path):
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("id"), F.col("n_name").alias("name")
    )
    path = str(tmp_path / "envelope")
    sources.write_envelope_json(
        nation, path, "nation", run_ts=datetime.datetime(2026, 1, 1)
    )
    back = sources.read_envelope_json(
        spark, path + "/*.txt", data_schema=ROW_SCHEMA, validate_count=True
    )
    assert sorted(r.id for r in back.collect()) == sorted(
        r.id for r in nation.collect()
    )
    meta = sources.read_envelope_metadata(spark, path + "/*.txt", data_schema=ROW_SCHEMA)
    rows = meta.collect()
    assert all(m.table == "nation" for m in rows)
    assert sum(m.recordCount for m in rows) == nation.count()


def test_overwrite_parquet_rereads_with_inferred_schema(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", None)], "id BIGINT NOT NULL, name STRING, score DECIMAL(12,2)"
    ).select(
        "*",
        F.struct(F.col("id").alias("k"), F.lit("v").alias("v")).alias("pair"),
        F.array(F.col("id")).alias("ids"),
        F.create_map(F.col("name"), F.col("id")).alias("by_name"),
        F.lit(datetime.date(2026, 1, 1)).alias("day"),
        F.lit(datetime.datetime(2026, 1, 1, 12)).alias("ts"),
    )
    path = str(tmp_path / "t")
    back = sources.overwrite_parquet(df, path)
    assert back.schema == spark.read.parquet(path).schema
    assert back.collect() == df.collect()
    # a second call overwrites
    assert sources.overwrite_parquet(df.limit(0), path).count() == 0


def test_envelope_validate_count_rejects_corrupt(spark, tmp_path):
    bad = {
        "metadata": {"table": "t", "recordCount": 99, "generatedAt": "x", "version": "1"},
        "data": [{"id": 1, "name": "a"}],
    }
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match="recordCount"):
        sources.read_envelope_json(
            spark, str(p), data_schema=ROW_SCHEMA, validate_count=True
        )


@pytest.mark.parametrize("uri", ["", "file:"], ids=["path", "file-uri"])
def test_csv_sink_and_scan_with_schema(spark, sf_dir, tmp_path, uri):
    region = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("int").alias("id"), F.col("r_name").alias("name")
    )
    path = str(tmp_path / "csv")
    meta = sources.write_csv_with_metadata(
        region, uri + path, "region", single_file=True, run_ts=datetime.datetime(2026, 1, 1)
    )
    assert meta["recordCount"] == 5
    assert json.load(open(os.path.join(path, "_metadata.json")))["table"] == "region"
    back = sources.read_csv(spark, uri + path, schema=ROW_SCHEMA, uppercase=True)
    assert back.columns == ["ID", "NAME"]
    assert back.count() == 5
    assert dict(back.dtypes)["ID"] == "int"


def test_flatten_json_columns(spark):
    df = spark.createDataFrame(
        [Row(id=1, addr=Row(city="x", state="y"), tags=["a", "b"])]
    )
    flat = sources.flatten_json_columns(df)
    assert flat.columns == ["id", "addr_city", "addr_state", "tags"]
    row = flat.first()
    assert row.addr_city == "x" and json.loads(row.tags) == ["a", "b"]


def test_upsert_delete_insert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "old", "2024-01-01"), (2, "keep", "2024-01-01")], ["id", "v", "loaded_at"]
    )
    batch = spark.createDataFrame(
        [(1, "new", "2024-02-01"), (3, "ins", "2024-02-01")], ["id", "v", "loaded_at"]
    )
    out = sources.upsert_delete_insert(target, batch, ["id"])
    got = {r.id: r.v for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_upsert_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    first = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    sources.upsert_parquet(spark, path, first, ["id"])
    second = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    sources.upsert_parquet(spark, path, second, ["id"])
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def _upsert_case(spark, path, rows):
    batch = spark.createDataFrame(rows, "id long, v string")
    sources.upsert_parquet(spark, path, batch, ["id"])
    return {(r.id, r.v) for r in spark.read.parquet(path).collect()}


def _rollup_case(spark, path, rows):
    from ecom_snowflake_duckdb_migration_spark.operators.rollup import (
        read_rollup,
        refresh_rollup,
    )

    ts = [(i, v, datetime.datetime(2026, 2, i % 2 + 1, 9)) for i, v in rows]
    batch = spark.createDataFrame(ts, "event_id long, event_type string, ts timestamp")
    refresh_rollup(spark, path, batch.withColumn("value", F.lit(1.0)))
    return {(str(r.bucket), r.event_type, r.n_rows) for r in read_rollup(spark, path).collect()}


def _sketch_case(spark, path, rows):
    from ecom_snowflake_duckdb_migration_spark.operators.sketches import kmv_sketch
    from ecom_snowflake_duckdb_migration_spark.sources import sketch_store

    batch = spark.createDataFrame(rows, "id long, v string")
    sketch_store.merge_into(spark, path, kmv_sketch(batch, "v", k=64), "kmv", k=64)
    return {r.h for r in sketch_store.read_sketch(spark, path)[0].collect()}


@pytest.mark.parametrize(
    "write, uri",
    [
        (_upsert_case, ""),
        (_rollup_case, ""),
        (_sketch_case, ""),
        (_upsert_case, "file:"),
        (_rollup_case, "file:"),
        (_sketch_case, "file:"),
    ],
    ids=["upsert", "rollup", "sketch", "upsert-file-uri", "rollup-file-uri", "sketch-file-uri"],
)
def test_rewrite_recovers_from_crash_between_renames(spark, tmp_path, write, uri):
    """A crash between replace_dir's two renames leaves the table only at
    the hidden '.tbl.old' sibling; the next write restores it and keeps
    history instead of starting from the new batch alone. The same holds
    when the store is named by a ``file:`` URI, which driver-local ``os``
    checks would report as missing."""
    import shutil

    path = str(tmp_path / "tbl")
    first = [(1, "a"), (2, "b"), (3, "c")]
    write(spark, uri + path, first)
    shutil.move(path, str(tmp_path / ".tbl.old"))  # crash after rename 1
    got = write(spark, uri + path, [(4, "d")])
    expect = write(spark, str(tmp_path / "ref"), first + [(4, "d")])
    assert got == expect
    assert sorted(os.listdir(tmp_path)) == ["ref", "tbl"]  # no scratch left


def test_publish_text_replaces_stale_scratch(spark, tmp_path):
    """An interrupted publish leaves only the hidden '.m.tmp' scratch file;
    the next publish replaces it, the new content reads back, and no
    scratch file remains."""
    from ecom_snowflake_duckdb_migration_spark.sources.writers import (
        publish_text,
        read_text,
    )

    path = str(tmp_path / "m")
    publish_text(spark, path, "1\n")
    (tmp_path / ".m.tmp").write_text("")  # publish of "2" cut off mid-write
    assert read_text(spark, path) == "1\n"
    publish_text(spark, path, "2\n")
    assert read_text(spark, path) == "2\n"
    assert [n for n in os.listdir(tmp_path) if n.endswith(".tmp")] == []


def test_dedup_keep_newest(spark):
    df = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 1)], ["id", "v", "loaded_at"]
    )
    out = sources.dedup_keep_newest(df, ["id"], "loaded_at")
    assert {r.id: r.v for r in out.collect()} == {1: "new", 2: "only"}


def test_align_union_fills_missing(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "only_a"])
    b = spark.createDataFrame([(2, "y")], ["id", "only_b"])
    out = sources.align_union(a, b)
    assert set(out.columns) == {"id", "only_a", "only_b"}
    assert out.count() == 2
    assert out.filter(F.col("only_a").isNull()).count() == 1


def test_incremental_filter(spark):
    sink = spark.createDataFrame([(1, 10)], ["id", "ts"])
    source = spark.createDataFrame([(2, 5), (3, 10), (4, 11)], ["id", "ts"])
    out = sources.incremental_filter(source, sink, "ts")
    assert [r.id for r in out.collect()] == [4]
    # Empty sink -> NULL high-water mark lets everything through.
    empty = sink.filter(F.lit(False))
    assert sources.incremental_filter(source, empty, "ts").count() == 3


def test_relationships_check(spark):
    parent = spark.createDataFrame([(1,), (2,)], ["k"])
    child = spark.createDataFrame([(1,), (3,), (None,)], ["fk"])
    bad = sources.relationships_check(child, parent, "fk", "k")
    assert [r.fk for r in bad.collect()] == [3]  # NULLs are not violations


def test_typed_table_and_catalog(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    df.write.mode("overwrite").parquet(str(tmp_path / "ext"))
    sources.create_typed_table(spark, "t_sources_ext", ROW_SCHEMA, str(tmp_path / "ext"))
    try:
        infos = sources.describe_catalog(spark, "default")
        mine = [i for i in infos if i.table == "t_sources_ext"]
        assert mine and mine[0].row_count == 1 and mine[0].columns == ("id", "name")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sources_ext")


def test_backfill_id_column(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["v"])
    out = sources.backfill_id_column(df, "review_id", offset=1_000_000, order_by=["v"])
    ids = [r.review_id for r in out.orderBy("v").collect()]
    assert ids == ["1000001", "1000002", "1000003"]
    # column already present -> untouched (the schema guard)
    again = sources.backfill_id_column(out, "review_id")
    assert again is out
    # shuffle-free variant: unique, not necessarily dense
    fast = sources.backfill_id_column(df, "rid")
    vals = [r.rid for r in fast.collect()]
    assert len(set(vals)) == 3


def test_backfill_id_ordered_is_dense_and_distributed(spark):
    """order_by ids must be a dense 1..N sequence in sort order WITHOUT
    collapsing the table into a single task (the old Window.orderBy shape):
    the result must still live in multiple partitions."""
    n = 10_000
    df = spark.range(n).select(
        (F.col("id") * 2_654_435_761 % 1_000_003).alias("k"), F.col("id").alias("orig")
    )
    out = sources.backfill_id_column(df, "rid", order_by=["k", "orig"])
    rows = out.select("k", "orig", "rid").collect()
    assert len(rows) == n
    by_sort = sorted(rows, key=lambda r: (r.k, r.orig))
    assert [int(r.rid) for r in by_sort] == list(range(1, n + 1))
    # AQE legitimately coalesces this tiny shuffle to one partition; disable
    # coalescing so the underlying range-partitioned shape is observable.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    try:
        spark.conf.set(coalesce_key, "false")
        npart = out.select(F.spark_partition_id().alias("p")).distinct().count()
        assert npart > 1, "ordered backfill collapsed to a single partition"
    finally:
        spark.conf.set(coalesce_key, prev)


def test_jdbc_roundtrip_embedded_derby(spark, sf_dir):
    """S1/S6 against a real JDBC database (Derby ships with Spark): write a
    driver table out, read it back plain and with a partitioned scan."""
    url = "jdbc:derby:memory:srcjdbc;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    region = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("int").alias("id"), F.col("r_name").alias("name")
    )
    sources.write_jdbc(region, url, "regions", **drv)
    back = sources.read_jdbc(spark, url, "regions", **drv)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in region.collect()
    )
    # Partitioned extraction: same rows, parallel connections (S1 scale path).
    part = sources.read_jdbc(
        spark, url, "regions",
        partition_column="id", num_partitions=3, lower_bound=0, upper_bound=5,
        **drv,
    )
    assert part.rdd.getNumPartitions() == 3
    assert part.count() == region.count()
    # Append mode stacks a second batch (the daily-feed sink path).
    sources.write_jdbc(region, url, "regions", mode="append", **drv)
    assert sources.read_jdbc(spark, url, "regions", **drv).count() == 2 * region.count()


def test_jdbc_roundtrip_derby(spark, sf_dir, tmp_path):
    """S1/S6 verified end-to-end against Spark's bundled embedded Derby —
    the in-JVM stand-in for the reference's Postgres extract/load
    (src/pipeline/ingest_latest_synthetic_data.py:120-129,
    0_generate_historic_synthetic_data.py:463-492): write_jdbc creates and
    loads the table, read_jdbc scans it back, and the partitioned variant
    exercises the parallel fan-out contract of S1."""
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("id"), F.col("n_name").alias("name")
    )
    sources.write_jdbc(nation, url, "nation_rt", driver=driver)

    back = sources.read_jdbc(spark, url, "nation_rt", driver=driver)
    assert [f.name.lower() for f in back.schema.fields] == ["id", "name"]
    assert sorted((r.id, r.name) for r in back.collect()) == sorted(
        (r.id, r.name) for r in nation.collect()
    )

    part = sources.read_jdbc(
        spark,
        url,
        "nation_rt",
        partition_column="id",
        num_partitions=4,
        lower_bound=0,
        upper_bound=30,
        driver=driver,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == nation.count()

    # append mode: second load doubles the rows (the reference's daily
    # latest-batch load appends into the combined table)
    sources.write_jdbc(nation, url, "nation_rt", mode="append", driver=driver)
    assert sources.read_jdbc(spark, url, "nation_rt", driver=driver).count() == 2 * nation.count()


def test_sync_to_targets_verifies_counts(spark, sf_dir, tmp_path):
    """Dual-target load + cross-target count verification
    (ingest_latest_synthetic_data.py:610-703, cross-check :688-696)."""
    region = load(spark, sf_dir, "region")
    targets = [
        sources.SyncTarget("parquet", str(tmp_path / "p")),
        sources.SyncTarget("csv", str(tmp_path / "c")),
        sources.SyncTarget(
            "jdbc",
            f"jdbc:derby:{tmp_path}/db;create=true",
            table="region_sync",
            options={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        ),
    ]
    report = sources.sync_to_targets(region, targets, table="region").collect()
    assert len(report) == 3
    n = region.count()
    assert all(r.ok and r.rows_loaded == n and r.rows_expected == n for r in report)
    assert {r.target for r in report} == {"parquet", "csv", "jdbc"}

    # standalone re-verification passes against the landed targets
    again = sources.verify_targets(spark, region, targets, table="region").collect()
    assert all(r.ok for r in again)

    # a target that loses data (CSV dir emptied of parts) must flag ok=False
    import glob
    import os

    for part in glob.glob(str(tmp_path / "c" / "part-*")):
        os.remove(part)
    broken = {
        r.target: r
        for r in sources.verify_targets(spark, region, targets, table="region").collect()
    }
    assert broken["csv"].ok is False
    assert broken["parquet"].ok is True


def test_bucketed_reregister_preserves_layout(spark, sf_dir):
    """Cross-session reuse: files written with N buckets and asked for again
    at N re-register without a rewrite (registering them at another count
    would hash rows to the wrong buckets and silently lose join matches),
    and the re-registered pair still joins with zero exchanges."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark import plans
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import (
        bucketed_name,
        drop_bucketed_facts,
        ensure_bucketed_facts,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stash = None
    try:
        names = ensure_bucketed_facts(spark, sf_dir, buckets=4)
        # simulate a fresh session: drop catalog entries but keep the files
        stash = warehouse + "_stash"
        shutil.rmtree(stash, ignore_errors=True)
        os.makedirs(stash)
        for alias, name in names.items():
            shutil.copytree(os.path.join(warehouse, name), os.path.join(stash, name))
        drop_bucketed_facts(spark, sf_dir)
        for name in names.values():
            shutil.copytree(os.path.join(stash, name), os.path.join(warehouse, name))

        # re-register at the same count: the kept files are reused
        names2 = ensure_bucketed_facts(spark, sf_dir, buckets=4)
        assert names2 == names
        li, od = names["lineitem"], names["orders"]
        meta = json.load(
            open(os.path.join(warehouse, li, "_bucket_layout.json"))
        )
        assert meta["buckets"] == 4
        joined = (
            spark.table(od)
            .join(spark.table(li), F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert plans.plan_stats(joined).shuffles == 0
        # row-count identical to the raw join (no matches lost)
        from ecom_snowflake_duckdb_migration_spark.queries import load

        raw = (
            load(spark, sf_dir, "orders")
            .join(
                load(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert spark.table(od).join(
            spark.table(li), F.col("o_orderkey") == F.col("l_orderkey")
        ).count() == raw
    finally:
        drop_bucketed_facts(spark, sf_dir)
        if stash:
            shutil.rmtree(stash, ignore_errors=True)


def test_bucketed_cache_rebuilds_on_new_bucket_count(spark, sf_dir, tmp_path):
    """A bucket count other than the cached one is a stale layout: ensure
    rewrites the cache at the requested count, both while the old count's
    catalog entry is live and when only an earlier session's files remain.
    It never re-registers the old count."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark import plans
    from ecom_snowflake_duckdb_migration_spark.queries import load
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import (
        drop_bucketed_facts,
        ensure_bucketed_facts,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def check(names, buckets):
        li, od = names["lineitem"], names["orders"]
        for name in (li, od):
            with open(os.path.join(warehouse, name, "_bucket_layout.json")) as f:
                assert json.load(f)["buckets"] == buckets
            described = {
                r.col_name: r.data_type
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            }
            assert described["Num Buckets"] == str(buckets)
        cond = F.col("o_orderkey") == F.col("l_orderkey")
        joined = spark.table(od).join(spark.table(li), cond)
        assert plans.plan_stats(joined.groupBy("o_orderkey").count()).shuffles == 0
        raw = load(spark, sf_dir, "orders").join(load(spark, sf_dir, "lineitem"), cond)
        assert joined.count() == raw.count()

    try:
        names = ensure_bucketed_facts(spark, sf_dir, buckets=4)
        # same session, catalog entries live
        assert ensure_bucketed_facts(spark, sf_dir, buckets=2) == names
        check(names, 2)
        # new session: catalog entries gone, the 2-bucket files kept
        stash = str(tmp_path / "stash")
        for name in names.values():
            shutil.copytree(os.path.join(warehouse, name), os.path.join(stash, name))
        drop_bucketed_facts(spark, sf_dir)
        for name in names.values():
            shutil.copytree(os.path.join(stash, name), os.path.join(warehouse, name))
        assert ensure_bucketed_facts(spark, sf_dir, buckets=3) == names
        check(names, 3)
    finally:
        drop_bucketed_facts(spark, sf_dir)


def test_bucketed_cache_invalidates_on_source_change(spark, tmp_path):
    """Regenerated source data at the same sf_dir path must invalidate the
    cached bucketed copy — stale facts silently served to the bucketed
    queries would diverge from every raw-path reader."""
    import shutil

    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import (
        drop_bucketed_facts,
        ensure_bucketed_facts,
    )

    src = str(tmp_path / "sfX")
    shutil.copytree("/root/testdata/sf0.001", src)
    try:
        names = ensure_bucketed_facts(spark, src, buckets=4)
        n1 = spark.table(names["orders"]).count()
        # regenerate: halve orders at the same path
        half = spark.read.parquet(f"{src}/orders.parquet").limit(n1 // 2)
        pdf = half.toPandas()
        shutil.rmtree(f"{src}/orders.parquet", ignore_errors=True)
        import os

        if os.path.exists(f"{src}/orders.parquet"):
            os.remove(f"{src}/orders.parquet")
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf), f"{src}/orders.parquet")
        # simulate a fresh session: catalog entries gone, FILES REMAIN
        # (managed-table DROP deletes data, so stash and restore the dirs
        # to reach the re-register decision point)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        stash = str(tmp_path / "stash")
        os.makedirs(stash)
        for name in names.values():
            shutil.copytree(os.path.join(warehouse, name), os.path.join(stash, name))
        for name in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        for name in names.values():
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
            shutil.copytree(os.path.join(stash, name), os.path.join(warehouse, name))
        from ecom_snowflake_duckdb_migration_spark.queries import clear_load_cache

        clear_load_cache()
        names2 = ensure_bucketed_facts(spark, src, buckets=4)
        assert spark.table(names2["orders"]).count() == n1 // 2  # rebuilt, not stale
        # untouched lineitem re-registered from the stash (fingerprint match)
        assert spark.table(names2["lineitem"]).count() == spark.read.parquet(
            f"{src}/lineitem.parquet"
        ).count()
    finally:
        drop_bucketed_facts(spark, src)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """50 fragment files -> ceil(bytes/target) files, identical rows; a
    second compact at the same target is a stable no-op-shaped rewrite."""
    from ecom_snowflake_duckdb_migration_spark.sources import (
        compact_parquet,
        parquet_file_stats,
    )

    path = str(tmp_path / "frag")
    df = spark.range(20_000).selectExpr(
        "id", "id % 97 AS k", "repeat('x', 50) AS pad"
    )
    df.repartition(50).write.parquet(path)
    n0, b0 = parquet_file_stats(spark, path)
    assert n0 == 50
    stats = compact_parquet(spark, path, target_file_bytes=b0)
    assert stats["files_before"] == 50 and stats["files_after"] == 1
    assert stats["rows"] == 20_000
    back = spark.read.parquet(path)
    assert back.count() == 20_000
    assert back.selectExpr("sum(id)").first()[0] == 20_000 * 19_999 // 2
    # half-target -> 2 files, still all rows
    stats2 = compact_parquet(
        spark, path, target_file_bytes=max(1, stats["bytes_after"] // 2 + 1)
    )
    assert stats2["files_after"] == 2 and stats2["rows"] == 20_000


def test_compact_parquet_sort_by_gives_disjoint_file_ranges(spark, tmp_path):
    """sort_by range-clusters: each output file's footer min/max on the key
    must not overlap any other file's — whole-file pruning after compact."""
    import pyarrow.parquet as pq

    from ecom_snowflake_duckdb_migration_spark.sources import compact_parquet

    path = str(tmp_path / "clust")
    spark.range(30_000).selectExpr(
        "pmod(hash(id), 1000000) AS k", "id AS v", "repeat('y', 40) AS pad"
    ).repartition(40).write.parquet(path)
    import glob as _g

    b = sum(
        __import__("os").path.getsize(f) for f in _g.glob(path + "/*.parquet")
    )
    compact_parquet(spark, path, target_file_bytes=b // 4 + 1, sort_by=["k"])
    ranges = []
    for f in sorted(_g.glob(path + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) >= 2
    for a, b2 in zip(sorted(ranges), sorted(ranges)[1:]):
        assert a[1] <= b2[0], (a, b2)


def test_compact_parquet_accepts_leaf_partition_dir(spark, tmp_path):
    """Compacting a hive LEAF partition directory (dt=.../ itself) is the
    documented remediation for partitioned layouts and must work; only
    '=' directories strictly BELOW the compaction root are refused."""
    import glob as _g

    import pytest

    from ecom_snowflake_duckdb_migration_spark.sources import compact_parquet

    root = str(tmp_path / "events")
    for day in ("2026-08-01", "2026-08-02"):
        spark.range(2_500).selectExpr("id").repartition(8).write.parquet(
            f"{root}/dt={day}"
        )
    leaf = sorted(_g.glob(root + "/dt=*"))[0]
    stats = compact_parquet(spark, leaf, target_file_bytes=1 << 30)
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    assert stats["rows"] == 2_500
    assert spark.read.parquet(leaf).count() == 2_500
    # the ROOT is still refused — flattening would destroy partitioning
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, root, target_file_bytes=1 << 30)


def test_bucketed_same_session_source_change_rebuilds(spark, tmp_path):
    """Data regenerated at the same sf_dir WITHIN one session must not keep
    serving the already-registered stale bucketed copy: ensure re-checks
    the sidecar fingerprint even when the catalog entry exists."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecom_snowflake_duckdb_migration_spark.queries import clear_load_cache
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import (
        drop_bucketed_facts,
        ensure_bucketed_facts,
    )

    src = str(tmp_path / "sfY")
    shutil.copytree("/root/testdata/sf0.001", src)
    try:
        names = ensure_bucketed_facts(spark, src, buckets=4)
        n1 = spark.table(names["orders"]).count()
        # regenerate orders at the same path — catalog entries stay live
        pdf = spark.read.parquet(f"{src}/orders.parquet").limit(n1 // 2).toPandas()
        shutil.rmtree(f"{src}/orders.parquet", ignore_errors=True)
        if os.path.exists(f"{src}/orders.parquet"):
            os.remove(f"{src}/orders.parquet")
        pq.write_table(pa.Table.from_pandas(pdf), f"{src}/orders.parquet")
        clear_load_cache()
        names2 = ensure_bucketed_facts(spark, src, buckets=4)
        assert spark.table(names2["orders"]).count() == n1 // 2  # rebuilt
        # untouched lineitem kept its registration (fingerprint match)
        assert spark.table(names2["lineitem"]).count() == spark.read.parquet(
            f"{src}/lineitem.parquet"
        ).count()
    finally:
        drop_bucketed_facts(spark, src)


def test_compact_parquet_recovers_from_torn_swap(spark, tmp_path):
    """Crash between the two swap renames leaves only the hidden '.old'
    scratch: the next compact restores it and proceeds (sketch_store
    recovery contract). Scratch names are dot-prefixed SIBLINGS
    ('.torn.old') so partition discovery over a parent store never lists
    them."""
    import os

    from ecom_snowflake_duckdb_migration_spark.sources import compact_parquet

    path = str(tmp_path / "torn")
    spark.range(1000).write.parquet(path)
    os.rename(path, str(tmp_path / ".torn.old"))  # simulate crash after rename 1
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["rows"] == 1000 and stats["files_after"] == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(str(tmp_path / ".torn.old"))


def test_compact_cell_store_ann_lifecycle(spark, tmp_path):
    """Wiring compaction into the ANN store lifecycle: after appends grow
    one-file-per-batch-per-cell, compact_cell_store bounds the per-cell
    file count, probe results are IDENTICAL pre/post, quiet cells are
    skipped, and a simulated mid-compaction state (hidden scratch dirs
    present) is invisible to a store-root reader."""
    import glob as _g
    import shutil

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.operators import similarity as sim
    from ecom_snowflake_duckdb_migration_spark.sources import compact_cell_store

    rng = np.random.RandomState(4)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(240)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.make_centroids(16, 4, seed=1)
    books = sim.make_pq_codebooks(16, 4, 4, seed=2)
    path = str(tmp_path / "ivfadc")
    sim.write_ivfadc_store(e.filter("vec_id < 80"), cents, books, path)
    for lo in (80, 160):  # two weekly drops
        sim.append_ivfadc_store(
            e.filter(f"vec_id >= {lo} AND vec_id < {lo + 80}"), cents, books, path
        )
    qs = e.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )

    def probe():
        return {
            (r.q_id, r.vec_id, r.rnk)
            for r in sim.probe_ivfadc_store(
                spark, path, qs, cents, books, k=5, nprobe=2
            ).collect()
        }

    before = probe()
    assert before
    files_per_cell = {
        d: len(_g.glob(d + "/*.parquet")) for d in _g.glob(path + "/cell=*")
    }
    assert max(files_per_cell.values()) >= 3  # append creep is real
    stats = compact_cell_store(spark, path, target_file_bytes=1 << 30)
    assert stats["compacted"] >= 1
    after_files = {
        d: len(_g.glob(d + "/*.parquet")) for d in _g.glob(path + "/cell=*")
    }
    assert max(after_files.values()) == 1  # bounded per cell
    assert probe() == before  # identical results post-compaction
    # second pass: everything already compact -> all leaves skipped
    stats2 = compact_cell_store(spark, path, target_file_bytes=1 << 30)
    assert stats2["compacted"] == 0 and stats2["skipped"] == stats2["leaves"]

    # mid-compaction visibility: hidden scratch siblings must be invisible
    # to a root reader (partition discovery skips dot-prefixed dirs), so a
    # concurrent probe sees only committed files
    some_cell = sorted(_g.glob(path + "/cell=*"))[0]
    name = some_cell.rsplit("/", 1)[1]
    shutil.copytree(some_cell, f"{path}/.{name}.tmp")
    shutil.copytree(some_cell, f"{path}/.{name}.old")
    try:
        assert probe() == before
        cells = {
            r.cell for r in spark.read.parquet(path).select("cell").distinct().collect()
        }
        assert all(str(c).isdigit() for c in cells)  # no '3.old' ghosts
    finally:
        shutil.rmtree(f"{path}/.{name}.tmp")
        shutil.rmtree(f"{path}/.{name}.old")


def _write_batch_store(spark, root, batches):
    """Helper: batch-keyed store layout — {batch_id: [(doc_id, text), ...]}."""
    for bid, rows in batches.items():
        spark.createDataFrame(rows, "doc_id long, text string").repartition(
            3
        ).write.mode("overwrite").parquet(f"{root}/batch_id={bid}")


def test_consolidate_batch_store_merges_and_reads_back(spark, tmp_path):
    """N batch dirs -> 1 partition under the max id; read_batch_store sees
    identical rows before and after, and dir/file counts shrink."""
    from ecom_snowflake_duckdb_migration_spark.sources import (
        consolidate_batch_store,
        read_consolidated_floor,
    )
    from ecom_snowflake_duckdb_migration_spark.streaming.store_io import (
        read_batch_store,
    )

    root = str(tmp_path / "store")
    _write_batch_store(
        spark, root, {b: [(b * 10 + i, f"t{b}-{i}") for i in range(4)] for b in range(5)}
    )
    before = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    stats = consolidate_batch_store(spark, root)
    assert stats["batches_before"] == 5 and stats["batches_after"] == 1
    assert stats["rows"] == 20 and stats["upto"] == 4
    assert read_consolidated_floor(spark, root) == 4
    after = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    assert after == before
    import os

    dirs = [d for d in os.listdir(root) if d.startswith("batch_id=")]
    assert dirs == ["batch_id=4"]
    # stream continues: a NEW batch appends after consolidation and both
    # the consolidated history and the new batch are visible
    _write_batch_store(spark, root, {7: [(700, "new")]})
    again = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    assert again == before | {(700, "new")}
    # current-batch exclusion still applies to the new batch
    excl = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=7).collect()
    }
    assert excl == before


def test_consolidate_batch_store_crash_windows(spark, tmp_path):
    """Marker-before-GC crash: stale pre-floor dirs are invisible to
    readers and garbage-collected by the next call; a second consolidate
    over floor + new batches re-raises the floor."""
    from ecom_snowflake_duckdb_migration_spark.sources import (
        consolidate_batch_store,
    )
    from ecom_snowflake_duckdb_migration_spark.streaming.store_io import (
        read_batch_store,
    )

    root = str(tmp_path / "store")
    _write_batch_store(
        spark, root, {b: [(b * 10 + i, f"t{b}-{i}") for i in range(3)] for b in range(3)}
    )
    expect = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    consolidate_batch_store(spark, root)
    # simulate the crash window AFTER the marker write but BEFORE the
    # stale-dir deletions: resurrect a pre-floor directory with rows that
    # are already inside the consolidated partition
    _write_batch_store(spark, root, {0: [(0, "t0-0"), (1, "t0-1"), (2, "t0-2")]})
    seen = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    assert seen == expect  # no duplicate history re-emitted
    # next maintenance call garbage-collects the stale dir (no new merge
    # needed: only one live batch)
    stats = consolidate_batch_store(spark, root)
    assert stats["batches_before"] == 1 and stats["batches_after"] == 1
    import os

    assert sorted(d for d in os.listdir(root) if d.startswith("batch_id=")) == [
        "batch_id=2"
    ]
    # floor rises on a later consolidation over new batches
    _write_batch_store(spark, root, {5: [(50, "b5")], 6: [(60, "b6")]})
    stats2 = consolidate_batch_store(spark, root)
    assert stats2["upto"] == 6 and stats2["rows"] == len(expect) + 2
    final = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    assert final == expect | {(50, "b5"), (60, "b6")}


def test_consolidate_batch_store_crash_before_root_marker(spark, tmp_path):
    """Crash after the swap published the merged batch_id=K (rows plus its
    floor sidecar) but before the root marker write: the next call must
    restore the marker and garbage-collect the pre-K batches, not merge
    them into batch_id=K a second time."""
    import shutil

    from ecom_snowflake_duckdb_migration_spark.sources import (
        consolidate_batch_store,
        read_consolidated_floor,
    )
    from ecom_snowflake_duckdb_migration_spark.streaming.store_io import (
        read_batch_store,
    )

    root = str(tmp_path / "store")
    batches = {b: [(b * 10 + i, f"t{b}-{i}") for i in range(3)] for b in range(3)}
    _write_batch_store(spark, root, batches)
    expect = sorted(r for rows in batches.values() for r in rows)
    # the state that crash leaves: all 9 rows under batch_id=2 with the
    # sidecar, the pre-swap batch_id=2 possibly still at '.old', the
    # pre-floor batches still present, and no root marker
    shutil.move(f"{root}/batch_id=2", f"{root}/.batch_id=2.old")
    spark.createDataFrame(expect, "doc_id long, text string").write.parquet(
        f"{root}/batch_id=2"
    )
    with open(f"{root}/batch_id=2/_consolidated_upto", "w") as f:
        f.write("2\n")
    consolidate_batch_store(spark, root)
    got = sorted(
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    )
    assert len(got) == 9 and got == expect
    assert read_consolidated_floor(spark, root) == 2
    assert sorted(d for d in os.listdir(root) if "batch_id" in d) == ["batch_id=2"]


def test_consolidate_batch_store_restores_old_orphan(spark, tmp_path):
    """Crash between the two swap renames leaves the only complete copy at
    '.batch_id=K.old'; the next call's recovery preamble restores it
    before doing anything else."""
    import os
    import shutil

    from ecom_snowflake_duckdb_migration_spark.sources import (
        consolidate_batch_store,
    )
    from ecom_snowflake_duckdb_migration_spark.streaming.store_io import (
        read_batch_store,
    )

    root = str(tmp_path / "store")
    _write_batch_store(
        spark, root, {b: [(b * 10 + i, f"t{b}-{i}") for i in range(3)] for b in range(3)}
    )
    expect = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    # simulate: rename the max-id partition to the hidden .old orphan
    shutil.move(f"{root}/batch_id=2", f"{root}/.batch_id=2.old")
    stats = consolidate_batch_store(spark, root)
    assert stats["batches_after"] == 1 and stats["upto"] == 2
    got = {
        (r.doc_id, r.text)
        for r in read_batch_store(spark, root, batch_id=99).collect()
    }
    assert got == expect
    assert not os.path.exists(f"{root}/.batch_id=2.old")
