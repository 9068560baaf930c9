"""Daily-run orchestration tests: two consecutive days into one warehouse,
idempotent re-runs, true-incremental fact appends."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark.ecom import orchestrate
from ecom_snowflake_duckdb_migration_spark.ecom.orchestrate import daily_run

DAY1 = datetime.date(2026, 1, 15)
DAY2 = datetime.date(2026, 1, 16)
N = 80


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("daily_wh"))
    r1 = daily_run(spark, root, day=DAY1, n_customers=N)
    return root, r1


def test_day1_populates_everything(warehouse):
    _, r1 = warehouse
    assert r1.raw_counts["customers"] == N
    assert r1.raw_counts["orders"] == N * 5
    assert len(r1.models) == 37
    assert r1.quality_errors == []


def test_day2_upserts_and_day1_rerun_idempotent(spark, warehouse):
    root, r1 = warehouse
    before = {
        r.customer_id: r.first_name
        for r in spark.read.parquet(f"{root}/ecom_raw/customers").collect()
    }
    r2 = daily_run(spark, root, day=DAY2, n_customers=N)
    # Day-2 feed re-emits the same entity ids with day-2 attributes: the PK
    # upsert must update in place (same count, changed content).
    assert r2.raw_counts["customers"] == r1.raw_counts["customers"]
    after = {
        r.customer_id: r.first_name
        for r in spark.read.parquet(f"{root}/ecom_raw/customers").collect()
    }
    assert after.keys() == before.keys()
    assert any(after[k] != before[k] for k in after), "day-2 attributes not applied"
    assert r2.quality_errors == []

    # Re-running day 2 changes nothing (PK upsert idempotency).
    r2b = daily_run(spark, root, day=DAY2, n_customers=N)
    assert r2b.raw_counts == r2.raw_counts


def test_incremental_fact_appends_only_new_rows(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inc_wh"))
    daily_run(spark, root, day=DAY1, n_customers=40, incremental=True)
    fct = spark.read.parquet(f"{root}/ecom_marts/fct_customer_orders")
    n1 = fct.count()
    hw1 = fct.agg(F.max("order_date")).first()[0]

    daily_run(spark, root, day=DAY2, n_customers=40, incremental=True)
    spark.catalog.refreshByPath(f"{root}/ecom_marts/fct_customer_orders")
    fct2 = spark.read.parquet(f"{root}/ecom_marts/fct_customer_orders")
    n2 = fct2.count()
    # Appended, not rewritten: everything from day 1 is still there and every
    # appended row is past day-1's high-water mark.
    assert n2 > n1
    appended = fct2.join(fct, ["customer_id", "order_id"], "left_anti")
    assert appended.filter(F.col("order_date") <= hw1).count() == 0


def test_landing_envelopes_on_disk(spark, warehouse):
    root, _ = warehouse
    import glob

    files = glob.glob(f"{root}/landing/{DAY1.isoformat()}/orders/*.txt")
    assert files, "no envelope files landed"
    head = open(files[0]).read(100)
    assert head.startswith('{"metadata": {"table": "orders"')


@pytest.mark.parametrize(
    ("error", "attempts"),
    [(TypeError("bad argument"), 1), (ValueError("bad value"), 1), (OSError("disk hiccup"), 3)],
    ids=["TypeError", "ValueError", "OSError"],
)
def test_scheduled_run_retries_only_transient_failures(monkeypatch, error, attempts):
    """Deterministic errors fail on the first attempt; IO errors get
    ``retries + 1`` attempts before the last one surfaces."""
    calls = []

    def failing_run(*args, **kwargs):
        calls.append(1)
        raise error

    monkeypatch.setattr(orchestrate, "daily_run", failing_run)
    with pytest.raises(type(error)):
        orchestrate.scheduled_run(None, "/unused", day=DAY1, retries=2)
    assert len(calls) == attempts


def test_scheduled_run_records_attempts(monkeypatch):
    calls = []

    def flaky_run(*args, day=None, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("transient")
        return orchestrate.DailyRunResult(day=day, raw_counts={}, models={}, quality=[])

    monkeypatch.setattr(orchestrate, "daily_run", flaky_run)
    result = orchestrate.scheduled_run(None, "/unused", day=DAY1, retries=2)
    assert result.attempts == 2
