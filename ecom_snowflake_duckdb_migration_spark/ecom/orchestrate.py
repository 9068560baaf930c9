"""Daily-run orchestration — the Spark equivalent of the reference's Airflow
DAGs (SURVEY §3 E2).

The reference schedules generate → ingest → transform daily
(/root/reference/ecom_airflow/dags/gen_latest_synth_dag.py:25,56-71 and one
DbtDag per dbt layer). ``daily_run`` is that DAG body as one deterministic
function:

1. **generate** the day's delta feed (distributed, seeded by day);
2. **land** each table as envelope JSON (the S3 interchange format, S5) and
   read it back with the declared schema (S2) — the real pipeline's
   produce/consume boundary, exercised not skipped;
3. **ingest**: schema-align, dedup-by-PK keep-newest (A11), delete+insert
   upsert into the raw layer (S8; the reference's
   IncrementalETL.run_etl, src/pipeline/ingest_latest_synthetic_data.py:787-844);
4. **transform**: materialize the three model layers (E1);
5. **test**: run the data-quality suite (dbt test semantics).

Scale notes: every step is a DataFrame pipeline — the driver only sequences
jobs. Day-over-day reruns are idempotent (upsert by PK; model layers
overwrite or append-past-high-water in incremental mode).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources import (
    SnapshotTable,
    dedup_keep_newest,
    read_envelope_json,
    upsert_parquet,
    write_envelope_json,
)
from .generate import generate_all
from .quality import TestResult, run_suite
from .registry import DEFAULT_RUN_TS, PipelineRunner
from .schemas import RAW_SCHEMAS

# Primary keys for the raw upsert (ingest pk map,
# src/pipeline/ingest_latest_synthetic_data.py:510-513). reviews: review_id
# is NULL on historic rows, so the engine upserts on the natural key instead.
RAW_PRIMARY_KEYS: dict[str, list[str]] = {
    "customers": ["customer_id"],
    "products": ["product_id"],
    "orders": ["order_id"],
    "order_items": ["order_item_id"],
    "reviews": ["review_id", "order_id", "product_id", "customer_id"],
    "categories": ["category_id"],
    "subcategories": ["subcategory_id"],
    "interactions": ["event_id"],
}


@dataclass
class DailyRunResult:
    day: _dt.date
    raw_counts: dict[str, int]
    models: dict[str, DataFrame] = field(repr=False)
    quality: list[TestResult] = field(repr=False)
    attempts: int = 1  # set by scheduled_run: 1 + the retries it took

    @property
    def quality_errors(self) -> list[TestResult]:
        return [r for r in self.quality if not r.passed and r.severity == "error"]


def daily_run(
    spark: SparkSession,
    warehouse_dir: str,
    day: _dt.date | None = None,
    n_customers: int = 200,
    incremental: bool = False,
    transactional: bool = False,
) -> DailyRunResult:
    """One scheduled pipeline run (generate -> land -> ingest -> transform ->
    test) into ``warehouse_dir``. Re-running the same ``day`` is idempotent.

    ``transactional=True`` routes the raw upsert through ``SnapshotTable``
    (versioned parquet + atomic commit log) instead of in-place directory
    rewrite — the Spark twin of the reference's transactional delete+insert
    (src/pipeline/ingest_latest_synthetic_data.py:536-575): concurrent
    readers pinned to an earlier version never observe a half-applied batch,
    and downstream models read the exact committed snapshot."""
    day = day or DEFAULT_RUN_TS.date()
    seed = 42 + day.toordinal()
    feed = generate_all(spark, n_customers=n_customers, seed=seed)

    raw_counts: dict[str, int] = {}
    raw_read: dict[str, DataFrame] = {}
    for table, df in feed.items():
        landing = f"{warehouse_dir}/landing/{day.isoformat()}/{table}"
        write_envelope_json(
            df, landing, table, run_ts=_dt.datetime.combine(day, _dt.time())
        )
        landed = read_envelope_json(
            spark,
            landing + "/*.txt",
            data_schema=RAW_SCHEMAS[table],
            validate_count=True,
        )
        deduped = dedup_keep_newest(landed, RAW_PRIMARY_KEYS[table], "loaded_at")
        target = f"{warehouse_dir}/ecom_raw/{table}"
        if transactional:
            snap_table = SnapshotTable(spark, target)
            snap = snap_table.merge(deduped, RAW_PRIMARY_KEYS[table])
            raw_read[table] = snap_table.read(snap.version)
        else:
            upsert_parquet(spark, target, deduped, RAW_PRIMARY_KEYS[table])
            raw_read[table] = spark.read.parquet(target)
        raw_counts[table] = raw_read[table].count()

    runner = PipelineRunner(
        spark,
        raw_read,
        warehouse_dir=warehouse_dir,
        run_ts=_dt.datetime.combine(day, _dt.time()),
        incremental=incremental,
    )
    models = runner.run()
    quality = run_suite(runner.ref)
    return DailyRunResult(day=day, raw_counts=raw_counts, models=models, quality=quality)


def scheduled_run(
    spark: SparkSession,
    warehouse_dir: str,
    day: _dt.date | None = None,
    retries: int = 2,
    retry_delay: float = 0.0,
    **kwargs,
) -> DailyRunResult:
    """``daily_run`` under the reference DAG's retry policy
    (ecom_airflow/dags/gen_latest_synth_dag.py:20-27: ``retries=2`` with a
    delay). Safe to retry because ``daily_run`` is idempotent per ``day``:
    ingestion is a PK upsert (re-applying the same batch is a no-op) and
    model layers rebuild deterministically from the raw snapshot — a retry
    after a partial failure completes the run without duplicating rows.

    Only failures worth retrying are retried: IO errors (``OSError``) and
    failed Spark jobs, which reach Python as a ``Py4JJavaError`` carrying
    the JVM's ``SparkException`` (stage aborts, lost executors, unreadable
    files). Anything else — ``TypeError``, ``ValueError``, analysis errors —
    fails the same way every time and is raised on the first attempt. The
    result's ``attempts`` counts the runs it took."""
    import time as _time

    from py4j.protocol import Py4JJavaError

    attempt = 1
    while True:
        try:
            result = daily_run(spark, warehouse_dir, day=day, **kwargs)
        except (OSError, Py4JJavaError):
            if attempt > retries:
                raise
            attempt += 1
            if retry_delay > 0:
                _time.sleep(retry_delay)
        else:
            result.attempts = attempt
            return result
