"""Physical-plan inspection utilities.

The reference inherits DuckDB's optimizer wholesale (SURVEY §4) — our
equivalent guarantee is that Catalyst keeps the properties we rely on at
100 TB: filters reach the parquet scan, scans read only projected columns,
dimension joins broadcast, fact joins shuffle once, and SQL-expressible paths
stay inside whole-stage codegen. These helpers turn those properties into
assertions (used by tests/test_plans.py) so a regression in plan shape fails
CI instead of shipping a 10x slowdown.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """The .explain('formatted') text, without printing to stdout."""
    jvm = df._sc._jvm  # public ABI of .explain(); capture instead of print
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@dataclass(frozen=True)
class PlanStats:
    shuffles: int  # Exchange hashpartitioning (real repartitions)
    broadcasts: int  # BroadcastExchange
    broadcast_joins: int
    sort_merge_joins: int
    shuffled_hash_joins: int
    codegen_spans: int
    scans: int
    python_evals: int  # ArrowEvalPython / BatchEvalPython / MapInPandas


def plan_stats(df: DataFrame) -> PlanStats:
    # The formatted plan prints each operator twice (tree line + numbered
    # detail section); count the numbered detail headers, which are unique.
    plan = formatted_plan(df)
    return PlanStats(
        shuffles=len(re.findall(r"Arguments: hashpartitioning", plan)),
        broadcasts=len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        broadcast_joins=len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        sort_merge_joins=len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        shuffled_hash_joins=len(re.findall(r"\(\d+\) ShuffledHashJoin", plan)),
        codegen_spans=codegen_subtrees(df),
        scans=len(re.findall(r"\(\d+\) Scan parquet", plan)),
        python_evals=len(
            re.findall(
                r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)",
                plan,
            )
        ),
    )


def codegen_subtrees(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees (mode='codegen'). Under AQE this
    is 0 before execution — use ``executed_codegen_spans`` for the truth."""
    jvm = df._sc._jvm
    text = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0


def executed_codegen_spans(df: DataFrame) -> int:
    """Distinct WholeStageCodegen span ids in the FINAL (post-AQE) plan.
    Executes the query — AQE finalizes plans per-stage at runtime only, so
    pre-execution plans show zero codegen regardless of reality."""
    df.collect()
    jvm = df._sc._jvm
    simple = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    return len(set(re.findall(r"\*\((\d+)\)", simple)))


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far; a
    cache hit does not count. The difference across a pass is that pass's
    compiles, so a repeat pass that reads nonzero means the codegen cache
    evicted part of its working set."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries per parquet scan (empty list element = nothing
    pushed for that scan)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def scanned_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per parquet scan — the column-pruning witness."""
    out = []
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols = [c.split(":")[0].strip() for c in schema.split(",") if c.strip()]
        out.append(cols)
    return out


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    if not any(column in fl for fl in pushed_filters(df)):
        raise AssertionError(
            f"no pushed filter mentions {column!r}; pushed: {pushed_filters(df)}"
        )


def assert_columns_pruned(df: DataFrame, table_cols: dict[str, int]) -> None:
    """Assert each scan reads at most the expected number of columns
    (``{scan_substring_column: max_cols}`` keyed by a column unique to the
    scan)."""
    scans = scanned_columns(df)
    for marker, max_cols in table_cols.items():
        matching = [s for s in scans if any(marker == c for c in s)]
        if not matching:
            raise AssertionError(f"no scan reads column {marker!r}: {scans}")
        worst = max(len(s) for s in matching)
        if worst > max_cols:
            raise AssertionError(
                f"scan containing {marker!r} reads {worst} cols (max {max_cols}): {matching}"
            )


def assert_no_python_in_plan(df: DataFrame) -> None:
    """SQL-expressible paths must not fall out of the JVM (SURVEY §2.10:
    no UDFs needed for parity)."""
    stats = plan_stats(df)
    if stats.python_evals:
        raise AssertionError(f"plan contains {stats.python_evals} Python eval node(s)")
