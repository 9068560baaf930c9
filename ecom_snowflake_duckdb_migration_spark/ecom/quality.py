"""Data-quality test runner — the engine equivalent of dbt schema tests.

The reference's correctness surface is declarative tests compiled to SQL
(SURVEY §5): ``unique``/``not_null`` on every PK, ``relationships`` FK checks
with per-test severity (e.g. order_items.product_id → products_enriched is
severity warn, /root/reference/dbt/dbt_duckdb/models/ecom_intermediate/
schema.yml:186-191; global severity error, dbt_project.yml:41-43).

Each check compiles to one aggregate/anti-join count — no collect of
row-level data; only violation counts. ``run_suite`` runs the counts
concurrently (``session.run_concurrently``), the counterpart of dbt's
``threads: 4``; most of them are one-task jobs over small models.

DEFAULT_SUITE mirrors the reference's schema.yml files for the layers we
materialize.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import run_concurrently
from ..sources.upsert import relationships_check

Severity = Literal["error", "warn"]


@dataclass(frozen=True)
class TestResult:
    model: str
    test: str
    column: str
    violations: int
    severity: Severity

    @property
    def passed(self) -> bool:
        return self.violations == 0


def unique(df: DataFrame, model: str, column: str, severity: Severity = "error") -> TestResult:
    dupes = (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .count()
        .filter(F.col("count") > 1)
    )
    return TestResult(model, "unique", column, dupes.count(), severity)


def not_null(df: DataFrame, model: str, column: str, severity: Severity = "error") -> TestResult:
    nulls = df.filter(F.col(column).isNull())
    return TestResult(model, "not_null", column, nulls.count(), severity)


def relationships(
    child: DataFrame,
    parent: DataFrame,
    model: str,
    column: str,
    parent_column: str,
    severity: Severity = "error",
) -> TestResult:
    orphans = relationships_check(child, parent, column, parent_column)
    return TestResult(model, "relationships", column, orphans.count(), severity)


# (model, test, column, parent_model, parent_column, severity) — mirrors the
# reference's schema.yml trees (staging :132-222, intermediate :17-239).
DEFAULT_SUITE: list[tuple] = [
    ("stg_customers", "unique", "customer_id", None, None, "error"),
    ("stg_customers", "not_null", "customer_id", None, None, "error"),
    ("stg_customers", "not_null", "email", None, None, "error"),
    ("stg_products", "unique", "product_id", None, None, "error"),
    ("stg_products", "not_null", "product_id", None, None, "error"),
    ("stg_orders", "unique", "order_id", None, None, "error"),
    ("stg_orders", "not_null", "order_id", None, None, "error"),
    ("stg_orders", "relationships", "customer_id", "stg_customers", "customer_id", "error"),
    ("stg_order_items", "unique", "order_item_id", None, None, "error"),
    ("stg_order_items", "relationships", "order_id", "stg_orders", "order_id", "error"),
    # product_id → products is the reference's severity-warn test (dirty FKs
    # are expected in raw; the order_items model semi-join drops them).
    ("stg_order_items", "relationships", "product_id", "stg_products", "product_id", "warn"),
    ("stg_categories", "unique", "category_id", None, None, "error"),
    ("stg_subcategories", "unique", "subcategory_id", None, None, "error"),
    ("stg_subcategories", "relationships", "category_id", "stg_categories", "category_id", "error"),
    ("stg_interactions", "unique", "event_id", None, None, "error"),
    ("stg_interactions", "relationships", "customer_id", "stg_customers", "customer_id", "error"),
    ("customers_enriched", "unique", "customer_id", None, None, "error"),
    ("products_enriched", "unique", "product_id", None, None, "error"),
    ("orders", "unique", "order_id", None, None, "error"),
    ("orders", "relationships", "customer_id", "customers_enriched", "customer_id", "warn"),
    ("order_items", "unique", "order_item_id", None, None, "error"),
    ("order_items", "relationships", "product_id", "products_enriched", "product_id", "warn"),
    ("brands", "unique", "brand_id", None, None, "error"),
    ("locations", "unique", "location_id", None, None, "error"),
    ("addresses", "unique", "address_id", None, None, "error"),
    ("fct_sales_by_date", "unique", "sale_date", None, None, "error"),
]


def run_suite(ref, suite: list[tuple] | None = None) -> list[TestResult]:
    """Run a test suite against a resolver (e.g. ``PipelineRunner.ref``);
    results come back in suite order.

    Every ``ref()`` resolves on the calling thread first (resolving can
    materialize a model, and the resolver's memo is not thread-safe); only
    the counts run concurrently.
    """
    checks = []
    for model, test, column, parent_model, parent_column, severity in (
        suite if suite is not None else DEFAULT_SUITE
    ):
        df = ref(model)
        if test == "unique":
            checks.append(partial(unique, df, model, column, severity))
        elif test == "not_null":
            checks.append(partial(not_null, df, model, column, severity))
        elif test == "relationships":
            checks.append(partial(
                relationships, df, ref(parent_model), model, column, parent_column, severity
            ))
        else:
            raise ValueError(f"unknown test {test}")
    return run_concurrently(df.sparkSession, checks) if checks else []


def assert_suite(results: list[TestResult]) -> None:
    """Raise on any severity-error failure (dbt run's failure semantics)."""
    errors = [r for r in results if not r.passed and r.severity == "error"]
    if errors:
        lines = "\n".join(
            f"  {r.model}.{r.column} {r.test}: {r.violations} violations" for r in errors
        )
        raise AssertionError(f"data-quality failures:\n{lines}")
