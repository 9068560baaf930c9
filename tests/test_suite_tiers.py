"""Spark-free guard for the two-tier suite: every ``SLOW_TESTS`` entry in
conftest.py must name a test function defined in its file. A stale or
misspelled entry otherwise skips nothing and goes unnoticed when a test is
deleted or renamed."""

from __future__ import annotations

import ast
import os

from conftest import SLOW_TESTS

HERE = os.path.dirname(os.path.abspath(__file__))


def _defined_functions(fname: str) -> set[str]:
    path = os.path.join(HERE, fname)
    if not os.path.exists(path):
        return set()
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=fname)
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_slow_tests_name_defined_test_functions():
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in sorted(SLOW_TESTS):
        fname, _, name = entry.partition("::")
        if fname not in defined:
            defined[fname] = _defined_functions(fname)
        # parametrized ids carry a "[...]" suffix after the function name
        func = name.split("[", 1)[0]
        if not func.startswith("test_") or func not in defined[fname]:
            stale.append(entry)
    assert not stale, f"SLOW_TESTS entries naming no test function: {stale}"
