"""Spark-free guards: every ``SLOW_TESTS`` entry in conftest.py must name a
test function defined in its file (a stale or misspelled entry otherwise
skips nothing and goes unnoticed when a test is deleted or renamed),
host sizing stays in ``session.py``, each shared oracle SQL fragment is
spelled once, and the headline queries leave the bucketed-or-raw choice
to ``queries.run_sql``."""

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


# SQL fragments that several DuckDB oracles or Spark operators need: each
# is spelled once, inside its builder in queries/catalog_llm.py (the
# oracles), operators/similarity.py or operators/text.py (Spark), or
# operators/sketches.py (the 60-bit hash, both engines), so a fold or
# tokenization rule cannot differ between two copies.
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
    "word split (Spark)": r"""\bsplit\([^\n]*?(?:'\\\\\\\\s\+'|r"\\s\+")""",
    "word split (DuckDB)": r"string_split_regex\(",
    "word n-grams (Spark)": r"concat_ws\(' ', slice\(",
    "char k-grams (Spark)": r"transform\(sequence\(1, length\(",
    "md5 60-bit hash (Spark)": r"1, 15\), 16, 10\)",
    "md5 60-bit hash (DuckDB)": r"'0x' \|\| substr\(md5\(",
    "whitespace trim (Spark)": r"""(?:'\^\\\\\\\\s\+'|r"\^\\s\+")""",
    "whitespace trim (DuckDB)": r"'\^\\\\?s\+'",
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


# Text operators take column NAMES and quote each one where it enters SQL
# text (``quote_ident``); an f-string that splices a bare name breaks on a
# column named ``my text``.
BARE_NAME = re.compile(r"\{(text_col|id_col|hash_col|rank_col)\}")


def test_text_operators_splice_no_bare_column_name():
    path = os.path.join(ROOT, "ecom_snowflake_duckdb_migration_spark", "operators", "text.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    offenders = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.JoinedStr)
        and any(
            isinstance(v, ast.FormattedValue)
            and isinstance(v.value, ast.Name)
            and BARE_NAME.fullmatch("{" + v.value.id + "}")
            for v in node.values
        )
    ]
    assert not offenders, f"f-strings splicing a bare column name at lines {offenders}"


# Headline templates name a bucketed layout with a ``{bkt_<alias>}``
# placeholder and run through ``queries.run_sql``, the one place that picks
# the bucketed copy or the raw view: no catalog module looks the copies up
# itself, runs a template with ``spark.sql`` or swaps a column in by hand.
LAYOUT_BYPASS = re.compile(
    r"bucketed_table|bucketed_fact_names|spark\.sql\(\s*Q\w*_SQL"
    r"|\.replace\(\s*\"\{(?:day|hash)\}\""
)


def test_headline_layout_resolves_in_run_sql():
    qdir = os.path.join(ROOT, "ecom_snowflake_duckdb_migration_spark", "queries")
    offenders = []
    for name in sorted(os.listdir(qdir)):
        if name.startswith("catalog_") and name.endswith(".py"):
            with open(os.path.join(qdir, name), encoding="utf-8") as f:
                text = f.read()
            offenders += [
                f"{name}:{text.count(chr(10), 0, m.start()) + 1}"
                for m in LAYOUT_BYPASS.finditer(text)
            ]
    assert not offenders, f"headline layout chosen outside run_sql: {offenders}"
