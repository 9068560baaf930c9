"""Physical-plan inspection and plan-shape assertions."""

from .lint import Finding, assert_scale_clean, lint
from .inspect import (
    PlanStats,
    assert_columns_pruned,
    assert_filter_pushed,
    assert_no_python_in_plan,
    codegen_compiles,
    codegen_subtrees,
    executed_codegen_spans,
    formatted_plan,
    plan_stats,
    pushed_filters,
    scanned_columns,
)

__all__ = [
    "Finding",
    "PlanStats",
    "assert_scale_clean",
    "lint",
    "assert_columns_pruned",
    "assert_filter_pushed",
    "assert_no_python_in_plan",
    "codegen_compiles",
    "codegen_subtrees",
    "executed_codegen_spans",
    "formatted_plan",
    "plan_stats",
    "pushed_filters",
    "scanned_columns",
]
