"""SnapshotTable (S8 transactional upsert): versioned parquet + atomic commit
log, the Spark twin of the reference's transactional delete+insert
(src/pipeline/ingest_latest_synthetic_data.py:536-575)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark.sources import (
    CommitConflict,
    SnapshotTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_overwrite_and_merge_versions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    assert s1.version == 1
    s2 = t.merge(_df(spark, [(2, "B"), (3, "c")]), keys=["k"])
    assert s2.version == 2
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # version 1 still readable by explicit pin
    got1 = {r.k: r.v for r in t.read(1).collect()}
    assert got1 == {1: "a", 2: "b"}


def test_reader_pinned_across_commit(spark, tmp_path):
    """Snapshot isolation: a DataFrame resolved before a merge still scans
    its own immutable version afterwards (upsert_parquet's in-place rewrite
    breaks exactly this)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    pinned = t.read()
    t.merge(_df(spark, [(1, "CHANGED"), (9, "z")]), keys=["k"])
    assert {r.k: r.v for r in pinned.collect()} == {1: "a", 2: "b"}
    assert {r.k: r.v for r in t.read().collect()} == {
        1: "CHANGED", 2: "b", 9: "z",
    }


def test_lost_race_retries_against_winner(spark, tmp_path):
    """A competing commit claiming the next version forces merge to re-read
    the winner's snapshot and retry — both batches survive."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    # racing writer wins version 2
    winner = SnapshotTable(spark, t.path)
    name = winner._write_version(_df(spark, [(5, "w")]), 2)
    winner._commit(2, name)
    s = t.merge(_df(spark, [(6, "m")]), keys=["k"])
    assert s.version == 3
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {5: "w", 6: "m"}  # winner overwrote v1; merge applied on top


def test_commit_is_exclusive(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    with pytest.raises(CommitConflict):
        t._commit(1, "v-whatever")


def test_vacuum_drops_old_versions_keeps_current(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.merge(_df(spark, [(2, "b")]), keys=["k"])
    t.merge(_df(spark, [(3, "c")]), keys=["k"])
    removed = t.vacuum(keep_last=1)
    assert len(removed) == 2
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    with pytest.raises(KeyError):
        t.read(1)


def test_daily_run_transactional_idempotent(spark, tmp_path_factory):
    """The reference's daily loop through SnapshotTable: day-2 merge updates
    in place, a same-day rerun is a no-op, and every merge leaves a new
    version while old ones stay readable."""
    from ecom_snowflake_duckdb_migration_spark.ecom.orchestrate import daily_run

    root = str(tmp_path_factory.mktemp("txn_wh"))
    d1 = datetime.date(2026, 1, 15)
    d2 = datetime.date(2026, 1, 16)
    r1 = daily_run(spark, root, day=d1, n_customers=40, transactional=True)
    assert r1.quality_errors == []
    cust = SnapshotTable(spark, f"{root}/ecom_raw/customers")
    assert cust.current().version == 1

    r2 = daily_run(spark, root, day=d2, n_customers=40, transactional=True)
    assert cust.current().version == 2
    assert r2.raw_counts["customers"] == r1.raw_counts["customers"]
    # day-1 snapshot unaffected by day-2 commit
    assert cust.read(1).count() == r1.raw_counts["customers"]

    r2b = daily_run(spark, root, day=d2, n_customers=40, transactional=True)
    assert r2b.raw_counts == r2.raw_counts


def test_scheduled_run_retries_without_duplicates(spark, tmp_path_factory, monkeypatch):
    """Airflow-style retry policy: a step that fails once succeeds on retry
    and produces exactly the same warehouse as a clean run (PK-upsert
    idempotency means the partial first attempt leaves no duplicates)."""
    import ecom_snowflake_duckdb_migration_spark.ecom.orchestrate as orch

    root = str(tmp_path_factory.mktemp("retry_wh"))
    clean_root = str(tmp_path_factory.mktemp("clean_wh"))
    day = datetime.date(2026, 1, 15)

    real_runner = orch.PipelineRunner
    calls = {"n": 0}

    class FlakyRunner(real_runner):
        def run(self):
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("transient transform failure")
            return super().run()

    monkeypatch.setattr(orch, "PipelineRunner", FlakyRunner)
    # fails after ingest on attempt 1 (raw already upserted), retry completes
    r = orch.scheduled_run(spark, root, day=day, retries=2, n_customers=40)
    assert calls["n"] == 2
    assert r.attempts == 2
    assert r.quality_errors == []

    monkeypatch.setattr(orch, "PipelineRunner", real_runner)
    r_clean = orch.daily_run(spark, clean_root, day=day, n_customers=40)
    assert r.raw_counts == r_clean.raw_counts
    got = spark.read.parquet(f"{root}/ecom_marts/fct_customer_orders")
    want = spark.read.parquet(f"{clean_root}/ecom_marts/fct_customer_orders")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # retries exhausted -> the last error surfaces
    class AlwaysFail(real_runner):
        def run(self):
            raise OSError("permanent")
    monkeypatch.setattr(orch, "PipelineRunner", AlwaysFail)
    with pytest.raises(OSError, match="permanent"):
        orch.scheduled_run(
            spark, str(tmp_path_factory.mktemp("fail_wh")), day=day,
            retries=1, n_customers=40,
        )
