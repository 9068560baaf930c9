"""End-to-end parity: every ecom model vs the reference SQL run on DuckDB.

The generator writes the 8 raw tables to parquet; DuckDB builds all 37 models
from the hand-compiled reference SQL (ecom/oracle_sql.py) over the SAME
files; the engine builds them with the PySpark model functions. Each model is
compared row-for-row (sorted, numeric-tolerant).
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from ecom_snowflake_duckdb_migration_spark.ecom import PipelineRunner
from ecom_snowflake_duckdb_migration_spark.ecom.generate import generate_all
from ecom_snowflake_duckdb_migration_spark.ecom.quality import assert_suite, run_suite
from ecom_snowflake_duckdb_migration_spark.ecom.registry import DEFAULT_RUN_TS, MODELS

from ecom_snowflake_duckdb_migration_spark.ecom.oracle_sql import MODEL_ORACLE_SQL

N_CUSTOMERS = 200
RUN_TS_SQL = f"TIMESTAMP '{DEFAULT_RUN_TS:%Y-%m-%d %H:%M:%S}'"
RUN_DATE_SQL = f"DATE '{DEFAULT_RUN_TS:%Y-%m-%d}'"


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ecom_raw")
    raw = generate_all(spark, n_customers=N_CUSTOMERS)
    paths = {}
    for name, df in raw.items():
        path = str(root / name)
        df.write.mode("overwrite").parquet(path)
        paths[name] = path
    raw_read = {name: spark.read.parquet(path) for name, path in paths.items()}
    runner = PipelineRunner(spark, raw_read)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("CREATE SCHEMA ecom_raw")
    for name, path in paths.items():
        con.execute(
            f"CREATE VIEW ecom_raw.{name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    for name, sql in MODEL_ORACLE_SQL.items():
        compiled = sql.replace("{RUN_TS}", RUN_TS_SQL).replace("{RUN_DATE}", RUN_DATE_SQL)
        con.execute(f"CREATE VIEW {name} AS {compiled}")
    yield runner, con
    con.close()


def _norm(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float)) or hasattr(v, "as_tuple"):  # int/float/Decimal
        f = float(v)
        return "nan" if math.isnan(f) else round(f, 4)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.mark.parametrize("model", list(MODEL_ORACLE_SQL))
def test_model_matches_reference_sql(pipeline, model):
    runner, con = pipeline
    ours = runner.ref(model)
    got_cols = [c.lower() for c in ours.columns]
    got = _rows(got_cols, [tuple(r) for r in ours.collect()])

    cur = con.execute(f"SELECT * FROM {model}")
    want_cols = [d[0].lower() for d in cur.description]
    want = _rows(want_cols, cur.fetchall())

    assert sorted(got_cols) == sorted(want_cols), f"{model}: column mismatch"
    assert len(got) == len(want), f"{model}: {len(got)} rows vs oracle {len(want)}"
    mismatches = [
        (i, g, w)
        for i, (g, w) in enumerate(zip(got, want))
        if not _close(g, w)
    ]
    assert not mismatches, f"{model}: {len(mismatches)} row mismatches; first: {mismatches[0]}"


def _close(g, w):
    if len(g) != len(w):
        return False
    for a, b in zip(g, w):
        if isinstance(a, float) and isinstance(b, float):
            if not math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-4):
                return False
        elif a != b:
            return False
    return True


def test_quality_suite_passes(pipeline):
    runner, _ = pipeline
    results = run_suite(runner.ref)
    # severity-warn tests may fail (dirty product FKs are planted on purpose);
    # severity-error tests must all pass.
    assert_suite(results)
    warn_fails = [r for r in results if not r.passed and r.severity == "warn"]
    # The generator plants missing-product FKs → the warn test must actually fire.
    assert any(
        r.model == "stg_order_items" and r.column == "product_id" for r in warn_fails
    ), "expected the severity-warn dirty-FK test to fire on planted bad rows"


def test_materialized_table_rereads_with_inferred_schema(spark, pipeline, tmp_path):
    runner, _ = pipeline
    warehouse = PipelineRunner(spark, runner.raw, warehouse_dir=str(tmp_path))
    for name in ("orders", "customers_enriched"):
        spec = MODELS[name]
        path = f"{tmp_path}/{spec.layer}/{name}"
        assert warehouse.ref(name).schema == spark.read.parquet(path).schema


def test_generator_is_deterministic(spark):
    a = generate_all(spark, n_customers=50)["orders"].collect()
    b = generate_all(spark, n_customers=50)["orders"].collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pipeline_handles_tiny_and_empty_inputs(spark):
    """Degenerate scales must not break any of the 37 models: n_customers=1,
    and fully-empty raw tables (0 rows everywhere)."""
    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark.ecom import PipelineRunner
    from ecom_snowflake_duckdb_migration_spark.ecom.generate import generate_all

    tiny = PipelineRunner(spark, generate_all(spark, n_customers=1))
    out = tiny.run()
    assert len(out) == 37
    for name, df in out.items():
        df.count()  # must evaluate without error

    empty_raw = {
        name: df.filter(F.lit(False)) for name, df in generate_all(spark, 5).items()
    }
    empty = PipelineRunner(spark, empty_raw)
    out2 = empty.run()
    assert all(df.count() == 0 for df in out2.values())
