"""Ad-hoc SQL session over the warehouse (SURVEY §3 E3).

The reference's user-facing query API is ``duckdb.connect('ecom_db')`` +
SQL strings over schema-qualified tables
(/root/reference/src/sample_ecom_raw_query_duckdb.py:4-43 and the three
sibling scripts). The Spark equivalent: register every materialized warehouse
table (and, optionally, the lazily-built view models) in the session catalog,
then ``spark.sql`` — both the catalog-walk scripts and arbitrary analyst SQL
work unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.writers import list_names
from .registry import LAYERS, MODELS, PipelineRunner


def open_warehouse(spark: SparkSession, warehouse_dir: str) -> list[str]:
    """Register every table materialized under ``warehouse_dir`` as a view
    named ``{layer}_{model}`` plus a bare ``{model}`` alias (layer-qualified
    names mirror the reference's ecom_raw/ecom_staging/... schemas; Spark
    temp views cannot contain dots). Returns the registered bare names."""
    registered = []
    for layer in ("ecom_raw",) + LAYERS:
        layer_dir = f"{warehouse_dir.rstrip('/')}/{layer}"
        for name in sorted(list_names(spark, layer_dir) or []):
            if name.startswith((".", "_")):
                continue  # replace_dir scratch siblings, checksums, markers
            df = spark.read.parquet(f"{layer_dir}/{name}")
            df.createOrReplaceTempView(f"{layer}_{name}")
            df.createOrReplaceTempView(name)
            registered.append(name)
    return registered


def register_models(runner: PipelineRunner, names: list[str] | None = None) -> list[str]:
    """Register model DataFrames (including lazy view models that have no
    on-disk table) as temp views so ``spark.sql`` sees the full 37-model
    surface, not just the materialized subset."""
    names = names or list(MODELS)
    for name in names:
        runner.ref(name).createOrReplaceTempView(name)
    return names


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Thin E3 façade: named-table SQL in, DataFrame out."""
    return spark.sql(query)
