"""Spark-free guards: every ``SLOW_TESTS`` entry in conftest.py must name a
test function defined in its file (a stale or misspelled entry otherwise
skips nothing and goes unnoticed when a test is deleted or renamed),
host sizing stays in ``session.py``, and each shared oracle SQL fragment
is spelled once."""

from __future__ import annotations

import ast
import os
import re

from conftest import SLOW_TESTS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


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


# "[_]" keeps this file from matching a plain search for the variable prefix
HOST_SIZING = re.compile(r"os\.cpu_count|SC_PHYS_PAGES|SPARK_GRAFT_BENCH[_]")
# A literal shuffle width (a REPARTITION hint or a repartition call whose
# first argument is a number) pins the width that default_parallelism sets.
# Package files only: a script may fix a width that a recorded measurement
# depends on.
LITERAL_WIDTH = re.compile(r"(?i)repartition(ByRange)?\(\s*\d")


def test_host_sizing_lives_in_session_py():
    """Core count and RAM are read in ``session.py`` only, and no bench env
    var overrides the sizing: the package, bench.py and scripts/ follow
    ``default_parallelism`` / ``default_driver_memory``, and no package file
    pins a literal shuffle width. perfbench/ is not scanned: it is frozen
    outside benchmark changes and still keeps its own driver-memory rule."""
    package = os.path.join(ROOT, "ecom_snowflake_duckdb_migration_spark")
    paths = [os.path.join(ROOT, "bench.py")]
    for top in (package, os.path.join(ROOT, "scripts")):
        for dirpath, _, names in os.walk(top):
            paths += [os.path.join(dirpath, n) for n in names if n.endswith((".py", ".sh"))]
    offenders = []
    for path in paths:
        if path == os.path.join(package, "session.py"):
            continue
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                if HOST_SIZING.search(line) or (
                    path.startswith(package + os.sep) and LITERAL_WIDTH.search(line)
                ):
                    offenders.append(f"{os.path.relpath(path, ROOT)}:{lineno}")
    assert not offenders, f"host sizing outside session.py: {offenders}"


# SQL fragments of the DuckDB oracles (and of the Spark int8 quantizer)
# that several entries need: each is spelled once, inside its builder in
# queries/catalog_llm.py (operators/similarity.py for the Spark one), so a
# fold rule cannot differ between two copies.
SHARED_FRAGMENTS = {
    "64-element dot": r"list_sum\(list_transform\(range\(1, len\(",
    "vector norm": r"x -> CAST\(x AS DOUBLE\) \* CAST\(x AS DOUBLE\)",
    "left-assoc chain": r"CAST\(0\.0 AS DOUBLE\)",
    "first-index argmax": r"= \{?best\}? THEN",
    "md5 MinHash component": r"min\(md5\('",
    "char 3-shingle set": r"list_distinct\(\[substr\(text, i, 3\)",
    "shingle overlap": r"FROM sh a JOIN sh b ON a\.shingle = b\.shingle",
    "int8 quantization (DuckDB)": r"\* 127\.0 /",
    "int8 quantization (Spark)": r"\* 127\.0D /",
    "md5 split ladder": r"WHEN substr\(md5\('\{seed\}",
}


def test_shared_oracle_fragments_live_in_one_builder():
    package = os.path.join(ROOT, "ecom_snowflake_duckdb_migration_spark")
    sources = []
    for dirpath, _, names in os.walk(package):
        for n in names:
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), encoding="utf-8") as f:
                    sources.append(f.read())
    counts = {
        name: sum(len(re.findall(pat, src)) for src in sources)
        for name, pat in SHARED_FRAGMENTS.items()
    }
    assert all(n == 1 for n in counts.values()), counts
