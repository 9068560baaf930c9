"""Local DuckDB-oracle parity harness.

Mirrors the driver's t2 check (the repo root's __spark_entry__.py contract): run the
Spark query and the DuckDB SQL over the same parquet tables, then compare
row count + sorted-by-name schema + order-insensitive values. Used by
tests/test_parity.py so every catalog entry is validated locally before the
driver grades it.
"""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .queries import TABLES


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_value(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_value(x) for x in v))
    return (type(v).__name__, v)


def _norm_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str

    def __bool__(self):
        return self.ok


def _oracle_compare(spark_cols: list[str], spark_rows: list[tuple], oracle_sql: str, sf_dir: str):
    """Fetch ``oracle_sql`` from DuckDB; returns ``(oracle_cols, n_rows,
    mismatches)``, where ``mismatches`` (normalized (spark, oracle) row
    pairs that differ) is None unless columns and row counts agree."""
    con = duckdb_connection(sf_dir)
    try:
        cur = con.execute(oracle_sql)
        oracle_cols = [d[0] for d in cur.description]
        oracle_rows = cur.fetchall()
    finally:
        con.close()
    mismatches = None
    if sorted(spark_cols) == sorted(oracle_cols) and len(spark_rows) == len(oracle_rows):
        s = _norm_rows(spark_cols, spark_rows)
        o = _norm_rows(oracle_cols, oracle_rows)
        mismatches = [(a, b) for a, b in zip(s, o) if a != b]
    return oracle_cols, len(oracle_rows), mismatches


def compare_to_oracle(name: str, df: DataFrame, oracle_sql: str, sf_dir: str) -> ParityResult:
    spark_cols = list(df.columns)
    spark_rows = [tuple(r) for r in df.collect()]
    oracle_cols, n_oracle, mismatches = _oracle_compare(spark_cols, spark_rows, oracle_sql, sf_dir)

    if sorted(spark_cols) != sorted(oracle_cols):
        return ParityResult(
            name, False, f"columns differ: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
        )
    if len(spark_rows) != n_oracle:
        return ParityResult(
            name, False, f"row count differs: spark={len(spark_rows)} oracle={n_oracle}"
        )
    if mismatches:
        return ParityResult(
            name, False, f"values differ; first mismatched (spark, oracle): {mismatches[:3]}"
        )
    return ParityResult(name, True, f"{len(spark_rows)} rows match")


def driver_canonicalize(columns: list[str], rows: list[tuple]):
    """Replicate the DRIVER's pandas canonicalizer exactly (round-5 lesson:
    q61 passed the local tuple-sort compare but died at the gate because the
    driver pandas-``sort_values`` the frame, and ``Categorical(list)`` raises
    ``TypeError: unhashable type: 'list'`` on array columns). Any entry whose
    result frame this function cannot canonicalize would be a RED driver row
    regardless of value correctness — so the local sweep runs it and fails
    loudly first."""
    import pandas as pd

    cols = sorted(columns)
    pdf = pd.DataFrame(rows, columns=columns)[cols]
    # sort_values only routes through Categorical/factorize (where lists
    # blow up) for MULTI-column sorts — a single-column frame of lists
    # sorts fine locally yet still dies in the driver's hash step. Reject
    # unhashable cell types explicitly so the guarantee holds for every
    # arity.
    for c in cols:
        if pdf[c].dtype == object:
            bad = pdf[c].map(lambda v: isinstance(v, (list, dict, set))).any()
            if bad:
                raise TypeError(
                    f"column {c!r} holds unhashable values (list/dict/set) — "
                    "the driver's canonicalizer cannot process them"
                )
    pdf = pdf.sort_values(by=cols).reset_index(drop=True)  # raises on unhashables
    return pdf


def driver_style_result(name: str, fn, oracle_sql: str | None, spark, sf_dir: str) -> dict:
    """Run one catalog entry and report it in the driver's CORRECTNESS row
    schema (rows_match / schema_match / hash_match / spark_rows / oracle_rows
    / err) so the local sweep (scripts/local_correctness.py →
    CORRECTNESS_LOCAL_r{N}.json) is machine-comparable with the driver's
    gate. hash_match here is the order-insensitive normalized value compare —
    the same contract the driver's value hash enforces, including Python-type
    sensitivity (Decimal vs float tag differently in _norm_value)."""
    row = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": None, "oracle_rows": None, "err": None,
    }
    try:
        df = fn(spark, sf_dir)
        spark_cols = list(df.columns)
        spark_rows = [tuple(r) for r in df.collect()]
        row["spark_rows"] = len(spark_rows)
        driver_canonicalize(spark_cols, spark_rows)  # raises like the driver would
        if oracle_sql is None:
            row["err"] = "no_oracle"
            return row
        oracle_cols, n_oracle, mismatches = _oracle_compare(
            spark_cols, spark_rows, oracle_sql, sf_dir
        )
        row["oracle_rows"] = n_oracle
        row["rows_match"] = len(spark_rows) == n_oracle
        row["schema_match"] = sorted(spark_cols) == sorted(oracle_cols)
        row["hash_match"] = mismatches == []
    except Exception as e:  # keep sweeping; the row records the failure
        row["err"] = f"{type(e).__name__}: {e}"[:300]
    return row
