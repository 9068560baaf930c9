"""E3 ad-hoc SQL session tests: the reference's sample_ecom_*_query scripts
translated to the engine's SQL facade."""

from __future__ import annotations

import pytest

from ecom_snowflake_duckdb_migration_spark.ecom import PipelineRunner
from ecom_snowflake_duckdb_migration_spark.ecom.generate import generate_all
from ecom_snowflake_duckdb_migration_spark.ecom.sql import open_warehouse, register_models, sql


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sql_wh"))
    raw = generate_all(spark, n_customers=60)
    for name, df in raw.items():
        df.write.mode("overwrite").parquet(f"{root}/ecom_raw/{name}")
    runner = PipelineRunner(spark, raw, warehouse_dir=root)
    runner.run()
    return root, runner


def test_open_warehouse_registers_tables(spark, warehouse):
    root, _ = warehouse
    names = open_warehouse(spark, root)
    assert "customers" in names and "fct_sales_by_date" in names
    # the reference's catalog-walk script: row counts per table via SQL
    n = sql(spark, "SELECT count(*) AS n FROM ecom_raw_customers").first().n
    assert n == 60
    # LIMIT preview (sample_ecom_raw_query_duckdb.py:40)
    assert len(sql(spark, "SELECT * FROM fct_order_details LIMIT 5").collect()) == 5


def test_open_warehouse_takes_file_uri(spark, warehouse):
    root, _ = warehouse
    assert open_warehouse(spark, "file:" + root) == open_warehouse(spark, root)


def test_register_models_exposes_lazy_views(spark, warehouse):
    _, runner = warehouse
    register_models(runner, ["dim_customers", "dim_categories"])
    row = sql(
        spark,
        """SELECT customer_status, count(*) AS n
           FROM dim_customers GROUP BY 1 ORDER BY n DESC""",
    ).first()
    assert row.n > 0
    cats = sql(spark, "SELECT category_id, subcategories FROM dim_categories").collect()
    assert len(cats) == 5


def test_analyst_join_across_layers(spark, warehouse):
    root, _ = warehouse
    open_warehouse(spark, root)
    out = sql(
        spark,
        """SELECT o.status_id, count(*) AS n, round(sum(o.total_amount), 2) AS amt
           FROM ecom_intermediate_orders o
           JOIN ecom_intermediate_order_statuses s ON o.status_id = s.status_id
           GROUP BY 1 ORDER BY n DESC""",
    ).collect()
    assert len(out) == 4  # four order statuses
