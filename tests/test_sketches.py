"""Sketch operators: merge algebra, error guarantees, plan shape.

Cross-engine value parity for the catalog entries (x64-x68) is covered by
the tests/test_parity.py sweep; this file pins the properties the sweep
can't see: mergeability (sketch(A ∪ B) == merge(sketch(A), sketch(B))),
the one-sided count-min guarantee, HLL/KMV error bounds, and JVM-only
plans with bounded output."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark import plans
from ecom_snowflake_duckdb_migration_spark.operators import sketches as sk
from ecom_snowflake_duckdb_migration_spark.queries import load


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_hll_merge_equals_sketch_of_union(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = sk.hll_merge(sk.hll_sketch(a, "user_id"), sk.hll_sketch(b, "user_id"))
    whole = sk.hll_sketch(ev, "user_id")
    assert _rows(merged) == _rows(whole)


def test_hll_estimate_within_bound(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    est = sk.hll_estimate(sk.hll_sketch(ev, "user_id", p=9), p=9).collect()[0]
    true = ev.select("user_id").distinct().count()
    # 3 sigma of the published 1.04/sqrt(m) relative error at m=512.
    assert abs(est.estimate - true) <= max(3, 3 * 1.04 / (512**0.5) * true)
    assert est.m == 512
    assert est.nonempty_buckets <= 512


def test_countmin_merge_and_guarantee(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = sk.countmin_merge(
        sk.countmin_sketch(a, "user_id"), sk.countmin_sketch(b, "user_id")
    )
    whole = sk.countmin_sketch(ev, "user_id")
    assert _rows(merged) == _rows(whole)

    keys = ev.select("user_id").distinct()
    est = sk.countmin_lookup(whole, keys, "user_id")
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("t"))
    joined = est.join(truth, "user_id").collect()
    assert joined and all(r.estimate >= r.t for r in joined)
    # eps-bound with overwhelming probability: overshoot <= e/w * total rows
    # (loose 3x slack for the fixed seed).
    total = ev.count()
    assert all(r.estimate - r.t <= 3 * 2.72 / 256 * total + 1 for r in joined)


def test_kmv_merge_and_estimate(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)
    merged = sk.kmv_merge(
        sk.kmv_sketch(a, "o_custkey"), sk.kmv_sketch(b, "o_custkey")
    )
    whole = sk.kmv_sketch(o, "o_custkey")
    assert _rows(merged) == _rows(whole)

    rows = whole.collect()
    est = sk.kmv_estimate_distinct(rows)
    true = o.select("o_custkey").distinct().count()
    if len(rows) < 256:
        assert est == float(true)  # sub-k: sketch is exhaustive, estimate exact
    else:
        assert abs(est - true) / true < 0.25


def test_kmv_join_size_exact_below_k(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a = sk.kmv_sketch(o, "o_custkey", k=4096)
    b = sk.kmv_sketch(c, "c_custkey", k=4096)
    r = sk.kmv_join_size(a, b, k=4096).collect()[0]
    true = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .join(c.select(F.col("c_custkey").alias("k")).distinct(), "k")
        .count()
    )
    if r.u_n < 4096:
        assert r.intersection_estimate == true
    else:
        assert abs(r.intersection_estimate - true) / max(true, 1) < 0.3


def test_sketch_plans_jvm_only_and_bounded(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    for df in (
        sk.hll_sketch(ev, "user_id"),
        sk.countmin_sketch(ev, "user_id"),
        sk.hll_estimate(sk.hll_sketch(ev, "user_id")),
    ):
        plans.assert_no_python_in_plan(df)
        assert plans.executed_codegen_spans(df) >= 1
    assert sk.hll_sketch(ev, "user_id", p=9).count() <= 512
    assert sk.countmin_sketch(ev, "user_id", d=4, w=256).count() <= 1024


def test_bloom_no_false_negatives_and_merge(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    keys = c.select("c_custkey")
    a = keys.filter(F.col("c_custkey") % 2 == 0)
    b = keys.filter(F.col("c_custkey") % 2 == 1)
    merged = sk.bloom_merge(
        sk.bloom_build(a, "c_custkey"), sk.bloom_build(b, "c_custkey")
    )
    whole = sk.bloom_build(keys, "c_custkey")
    assert _rows(merged) == _rows(whole)

    # Every key that went in must probe positive — the Bloom guarantee.
    probes = sk.bloom_might_contain(whole, keys, "c_custkey").collect()
    assert probes and all(r.might_contain for r in probes)


def test_bloom_false_positive_rate(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    members = c.filter(F.col("c_custkey") % 5 == 0).select("c_custkey")
    non_members = c.filter(F.col("c_custkey") % 5 != 0).select("c_custkey")
    bloom = sk.bloom_build(members, "c_custkey", m_bits=8192, k=4)
    hits = sk.bloom_might_contain(bloom, non_members, "c_custkey", m_bits=8192, k=4)
    n = non_members.count()
    fp = sum(1 for r in hits.collect() if r.might_contain)
    n_mem = members.count()
    # (1 - e^(-kn/m))^k with 5x slack (small-sample variance at unit scale).
    import math

    expected = (1 - math.exp(-4 * n_mem / 8192)) ** 4
    assert fp / n <= max(5 * expected, 0.05), (fp, n, expected)


def test_histogram_quantiles_within_bucket_width(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    hist = sk.histogram_sketch(o, "o_totalprice", 256)
    assert hist.count() <= 256
    est = {r.p_bp: r.value_estimate for r in sk.histogram_quantiles(hist, 256).collect()}
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    width = (hi - lo) / 256
    for p_bp, v in est.items():
        exact = o.approxQuantile("o_totalprice", [p_bp / 10000], 0.0)[0]
        assert abs(v - exact) <= width + 1e-6, (p_bp, v, exact, width)


def test_streaming_incremental_hll(spark, sf_dir, tmp_path):
    """Sketch x streaming integration: maintain a running HLL under a real
    readStream/foreachBatch loop (per-batch partial sketch, merged into a
    parquet-persisted running sketch) and land on the exact sketch a batch
    build over all data produces — the daily-ingest pattern (per-day
    sketches, merge forever, never re-scan history)."""
    from ecom_snowflake_duckdb_migration_spark import streaming

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.repartition(3).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "ckpt")

    def merge_batch(batch, batch_id):
        part = sk.hll_sketch(batch, "user_id")
        try:
            prev = batch.sparkSession.read.parquet(state)
            merged = sk.hll_merge(prev, part)
        except Exception:
            merged = part
        merged.toPandas().to_parquet(state + ".tmp.parquet")  # atomic-ish swap
        import os, shutil

        if os.path.isdir(state):
            shutil.rmtree(state)
        os.makedirs(state)
        shutil.move(state + ".tmp.parquet", state + "/part-0.parquet")

    stream = streaming.read_event_stream(
        spark, src, events.schema, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    running = spark.read.parquet(state)
    whole = sk.hll_sketch(events, "user_id")
    assert _rows(running.select("bucket", "rho")) == _rows(whole)


def test_sketch_store_fold_equals_whole(spark, sf_dir, tmp_path):
    """Durable shard-and-merge: folding per-shard sketches through the store
    lands on the whole-data sketch, for every kind; param mismatches refuse."""
    from ecom_snowflake_duckdb_migration_spark.sources import sketch_store as store

    ev = load(spark, sf_dir, "events")
    shards = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]

    cases = {
        "hll": (lambda d: sk.hll_sketch(d, "user_id", p=9), {"p": 9}),
        "countmin": (lambda d: sk.countmin_sketch(d, "user_id"), {"d": 4, "w": 256}),
        "kmv": (lambda d: sk.kmv_sketch(d, "user_id", k=64), {"k": 64}),
        "bloom": (lambda d: sk.bloom_build(d, "user_id"), {"m_bits": 8192, "k": 4}),
    }
    for kind, (build, params) in cases.items():
        path = str(tmp_path / kind)
        for shard in shards:
            store.merge_into(spark, path, build(shard), kind, **params)
        folded, meta = store.read_sketch(spark, path)
        assert meta == {"kind": kind, "params": params}
        assert _rows(folded) == _rows(build(ev)), kind

    # grouped HLL rides the same hll merge (extra group columns join the key)
    gpath = str(tmp_path / "hll_group")
    for shard in shards:
        store.merge_into(
            spark, gpath, sk.hll_group_sketch(shard, ["event_type"], "user_id"), "hll", p=9
        )
    folded, _ = store.read_sketch(spark, gpath)
    assert _rows(folded) == _rows(sk.hll_group_sketch(ev, ["event_type"], "user_id"))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="refusing to merge"):
        store.merge_into(
            spark, str(tmp_path / "hll"), sk.hll_sketch(ev, "user_id", p=10), "hll", p=10
        )


def test_sketch_store_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the two swap renames leaves only '.old'; the next
    merge must recover it instead of reinitializing and deleting history."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark.operators import sketches as sk
    from ecom_snowflake_duckdb_migration_spark.sources import sketch_store as store

    path = str(tmp_path / "kmv")
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    first = sk.kmv_sketch(df.limit(100), "o_orderkey", k=64)
    store.merge_into(spark, path, first, "kmv", k=64)
    baseline = sorted(r.h for r in store.read_sketch(spark, path)[0].collect())

    # simulate the torn window: store renamed aside, nothing at path
    shutil.move(path, str(tmp_path / ".kmv.old"))
    assert not os.path.exists(path)

    second = sk.kmv_sketch(df.limit(150), "o_orderkey", k=64)
    store.merge_into(spark, path, second, "kmv", k=64)
    merged = sorted(r.h for r in store.read_sketch(spark, path)[0].collect())
    # history survived: the recovered store contains the first batch's hashes
    whole = sk.kmv_merge(first, second, k=64)
    assert merged == sorted(r.h for r in whole.collect())
    assert set(baseline) <= set(merged) or len(merged) == 64
