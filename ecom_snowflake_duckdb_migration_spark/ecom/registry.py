"""Model registry and topological pipeline runner (SURVEY §3 E1).

The Spark equivalent of the reference's dbt invocation
(`dbt run --select ecom_staging|ecom_intermediate|ecom_marts`, commands.txt:1-7):
- every model is a named pure function ``(ref, ctx) -> DataFrame``;
- ``ref()`` edges define the DAG; models build lazily and memoize;
- materialization follows dbt/dbt_duckdb/dbt_project.yml:16-30 — staging and
  mart dims are VIEWS (lazy DataFrames: Catalyst fuses them into consumers),
  intermediate and mart facts are TABLES (written to the warehouse as parquet
  and re-read, which breaks the pipeline exactly where dbt did);
- ``fct_customer_activity`` declares 'incremental' but has no is_incremental()
  filter → full refresh, replicated as such (SURVEY S11 quirk); true
  incremental loading is available separately via sources.incremental_filter.

Materializations run one at a time, each fanning out across the executor
cores; dbt's ``threads: 4`` has no equivalent here yet. The quality suite's
checks do overlap (``quality.run_suite``), and ``ref()`` memoization is not
thread-safe, so callers resolve models on one thread.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import exists, overwrite_parquet
from . import intermediate as I
from . import marts as M
from .staging import RAW_FOR_STAGING, STAGING_SPECS, stage


@dataclass(frozen=True)
class RunContext:
    """Injectable clock (SURVEY F10): CURRENT_TIMESTAMP/CURRENT_DATE in the
    reference become deterministic literals here."""

    run_ts: _dt.datetime

    def ts_lit(self) -> Column:
        return F.lit(self.run_ts).cast("timestamp")

    def date_lit(self) -> Column:
        return F.lit(self.run_ts.date())


@dataclass(frozen=True)
class ModelSpec:
    name: str
    layer: str  # ecom_staging | ecom_intermediate | ecom_marts
    materialization: str  # view | table | incremental
    fn: Callable


def _staging_spec(name: str) -> ModelSpec:
    return ModelSpec(
        name,
        "ecom_staging",
        "view",
        lambda ref, ctx, _n=name: stage(ref(f"raw.{RAW_FOR_STAGING[_n]}"), _n),
    )


MODELS: dict[str, ModelSpec] = {
    **{name: _staging_spec(name) for name in STAGING_SPECS},
    # intermediate: all tables (dbt_project.yml:23-26)
    **{
        name: ModelSpec(name, "ecom_intermediate", "table", fn)
        for name, fn in [
            ("education_types", I.education_types),
            ("marital_statuses", I.marital_statuses),
            ("order_statuses", I.order_statuses),
            ("payment_methods", I.payment_methods),
            ("locations", I.locations),
            ("addresses", I.addresses),
            ("brands", I.brands),
            ("categories_enriched", I.categories_enriched),
            ("subcategories_enriched", I.subcategories_enriched),
            ("customers_enriched", I.customers_enriched),
            ("products_enriched", I.products_enriched),
            ("reviews_enriched", I.reviews_enriched),
            ("orders", I.orders),
            ("order_items", I.order_items),
            ("customer_interactions", I.customer_interactions),
        ]
    },
    # marts: dims are views, facts tables (dbt_project.yml:27-29 + per-model config)
    **{
        name: ModelSpec(name, "ecom_marts", mat, fn)
        for name, mat, fn in [
            ("dim_categories", "view", M.dim_categories),
            ("dim_customers", "view", M.dim_customers),
            ("dim_dates", "view", M.dim_dates),
            ("dim_locations", "view", M.dim_locations),
            ("dim_products", "view", M.dim_products),
            ("fct_customer_activity", "incremental", M.fct_customer_activity),
            ("fct_customer_orders", "table", M.fct_customer_orders),
            ("fct_customer_reviews", "table", M.fct_customer_reviews),
            ("fct_order_details", "table", M.fct_order_details),
            ("fct_product_interactions", "table", M.fct_product_interactions),
            ("fct_product_performance", "table", M.fct_product_performance),
            ("fct_sales_by_date", "table", M.fct_sales_by_date),
            ("fct_sales_by_product", "table", M.fct_sales_by_product),
            ("fct_sales_by_region", "table", M.fct_sales_by_region),
        ]
    },
}

LAYERS = ("ecom_staging", "ecom_intermediate", "ecom_marts")

DEFAULT_RUN_TS = _dt.datetime(2026, 1, 15, 0, 0, 0)

# True-incremental high-water-mark columns (SURVEY S11): the reference
# DECLARES is_incremental() filters (fct_customer_orders.sql:18-20,
# fct_customer_reviews.sql:16-18) but its 'table' materialization means they
# never fire — full refresh is the parity behavior. With
# ``PipelineRunner(incremental=True)`` the engine honors the one whose
# high-water column actually exists in the model output
# (fct_customer_reviews filters on r.created_at, a column its own SELECT
# drops — that filter could never run even as written). Only rows past the
# sink's max(ts) are computed and appended.
INCREMENTAL_FILTERS: dict[str, str] = {
    "fct_customer_orders": "order_date",
}


class PipelineRunner:
    """Builds and materializes the model DAG over a dict of raw DataFrames.

    ``warehouse_dir`` given → 'table'/'incremental' models are written to
    ``{warehouse_dir}/{layer}/{name}`` as parquet and re-read (dbt-style
    pipeline breaking; downstream models scan columnar storage with pushdown).
    Without it, table models are ``.cache()``-ed instead (fast for tests).
    """

    def __init__(
        self,
        spark: SparkSession,
        raw: dict[str, DataFrame],
        warehouse_dir: str | None = None,
        run_ts: _dt.datetime = DEFAULT_RUN_TS,
        incremental: bool = False,
    ) -> None:
        self.spark = spark
        self.raw = raw
        self.warehouse_dir = warehouse_dir
        self.ctx = RunContext(run_ts)
        self.incremental = incremental
        self._built: dict[str, DataFrame] = {}

    def ref(self, name: str) -> DataFrame:
        # Raw tables live in the ``raw.`` namespace: intermediate model names
        # shadow raw table names (e.g. ``orders``), exactly like the
        # reference's schema-qualified ecom_raw.orders vs ecom_intermediate.orders.
        if name.startswith("raw."):
            return self.raw[name.removeprefix("raw.")]
        if name in self.raw and name not in MODELS:
            return self.raw[name]
        if name not in self._built:
            spec = MODELS[name]
            df = spec.fn(self.ref, self.ctx)
            if spec.materialization in ("table", "incremental"):
                df = self._materialize(spec, df)
            self._built[name] = df
        return self._built[name]

    def _materialize(self, spec: ModelSpec, df: DataFrame) -> DataFrame:
        if self.warehouse_dir:
            path = f"{self.warehouse_dir}/{spec.layer}/{spec.name}"
            if self.incremental and spec.name in INCREMENTAL_FILTERS:
                return self._materialize_incremental(spec, df, path)
            return overwrite_parquet(df, path)
        return df.cache()

    def _materialize_incremental(self, spec: ModelSpec, df: DataFrame, path: str) -> DataFrame:
        """S11 for real: append only rows past the sink's high-water mark."""
        from ..sources.upsert import incremental_filter

        ts_col = INCREMENTAL_FILTERS[spec.name]
        if exists(self.spark, path):
            sink = self.spark.read.parquet(path)
            fresh = incremental_filter(df, sink.select(ts_col), ts_col)
            fresh.write.mode("append").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        self.spark.catalog.refreshByPath(path)
        return self.spark.read.parquet(path)

    def run(self, select: str | None = None) -> dict[str, DataFrame]:
        """Materialize a layer (or everything), like ``dbt run --select``."""
        names = [
            n
            for n, s in MODELS.items()
            if select is None or s.layer == select or s.name == select
        ]
        return {n: self.ref(n) for n in names}
