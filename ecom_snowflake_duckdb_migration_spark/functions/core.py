"""Scalar / aggregate helpers mirroring the reference's SQL function surface.

Reference citations (paths relative to /root/reference):
- surrogate_key: dbt_utils.generate_surrogate_key as used in
  dbt/dbt_duckdb/models/ecom_intermediate/entities/locations.sql:53 and the
  lookup models — md5 of '-'-joined, ''-coalesced varchar casts.
- dow_sunday0: DuckDB EXTRACT(DOW) is Sunday=0 while Spark dayofweek() is
  Sunday=1 (dbt/dbt_duckdb/models/ecom_marts/core/dim_dates.sql:10).
- string_agg_distinct_ordered: STRING_AGG(DISTINCT s, ', ' ORDER BY s)
  (dbt/dbt_duckdb/models/ecom_marts/core/dim_categories.sql:7-18).
- with_lineage_columns: DATA_SOURCE/BATCH_ID/LOADED_AT added at ingest
  (src/pipeline/0_ingest_historic_synthetic_data.py:121-123).

All helpers are pure Column expressions (JVM-side, codegen-friendly) — no
Python UDFs, so Catalyst pushdown/pruning and whole-stage codegen stay intact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def quote_ident(name: str) -> str:
    """Backtick-quote an identifier for parsed SQL (``selectExpr``, ``F.expr``,
    DDL), doubling embedded backticks. Unquoted, a reserved word fails to
    parse and a column named 'a-b' silently parses as subtraction."""
    return "`" + name.replace("`", "``") + "`"


def surrogate_key(*cols: Column | str) -> Column:
    """dbt_utils.generate_surrogate_key parity: md5 of '-'-joined fields,
    each NULL-coalesced to '' after a varchar cast."""
    parts = [F.coalesce(_col(c).cast("string"), F.lit("")) for c in cols]
    return F.md5(F.concat_ws("-", *parts))


def dow_sunday0(c: Column | str) -> Column:
    """Day-of-week with DuckDB/Postgres convention (Sunday=0 .. Saturday=6)."""
    return (F.dayofweek(_col(c)) - F.lit(1)).cast("int")


def string_agg_distinct_ordered(c: Column | str, sep: str = ", ") -> Column:
    """STRING_AGG(DISTINCT s, sep ORDER BY s) — exact because the reference
    only ever orders by the aggregated column itself (SURVEY A6)."""
    return F.array_join(F.array_sort(F.collect_set(_col(c))), sep)


def try_to_timestamp(c: Column | str, fmt: str | None = None) -> Column:
    """TRY_CAST(x AS TIMESTAMP): malformed strings become NULL.

    Genuinely ANSI-safe: the fmt=None path uses ``Column.try_cast``, which
    yields NULL on malformed input even under ``spark.sql.ansi.enabled=true``
    (Spark 4's default) — a plain ``.cast`` would throw there and only the
    project's own session factory (ansi off) would mask it.

    Range contract: only years 1..9999 are accepted; anything outside (BC
    years from a leading '-', 5-digit years) yields NULL. Spark's raw cast
    parses e.g. '-2000-01-01' to a negative-year timestamp that cannot cross
    the Python datetime boundary, and DuckDB parses it to a BC timestamp —
    both outside the reference's raw-layer domain, so the engine rejects
    them deterministically instead of inheriting either quirk.

    Separator contract (DuckDB parity, pinned by
    tests/test_property_parity.py): DuckDB's timestamp parser takes the
    date-time separator as either 'T' (uppercase only, optionally followed
    by whitespace) or ANY whitespace run — Spark accepts only a single
    space or 'T'. The separator is normalized to one space before the
    cast. DuckDB also rejects a date followed by nothing but whitespace
    (the trailing run is taken as a separator with a missing time), while
    Spark would trim it to a bare date — that shape is nulled explicitly.

    Zone contract: a '+'/'-' after the time is a zone designator; the
    engines disagree irreconcilably there (Spark's cast applies JVM zone
    offsets bounded at +-18 h, DuckDB accepts e.g. '-23' and shifts a
    nominally zone-naive TIMESTAMP) and the reference raw layer is
    zone-naive, so zone-bearing strings are rejected outright.
    """
    if fmt is not None:
        ts = F.try_to_timestamp(_col(c), F.lit(fmt))
        return F.when(F.year(ts).between(1, 9999), ts)
    date_re = r"\d{1,4}-\d{1,2}-\d{1,2}"
    src = _col(c)
    norm = F.regexp_replace(src, rf"^(\s*{date_re})(T\s*|\s+)(?=\S)", r"$1 ")
    ts = F.when(
        ~src.rlike(rf"^\s*{date_re}\s+$")  # date + trailing whitespace only
        & ~src.rlike(r":.*[-+]")  # zone designator after the time
        & ~src.rlike(r"^\s*\+"),  # explicit '+year' sign (DuckDB rejects)
        norm.try_cast("timestamp"),
    )
    return F.when(F.year(ts).between(1, 9999), ts)


def with_lineage_columns(
    df: DataFrame, data_source: str, batch_id: str, loaded_at: Column | None = None
) -> DataFrame:
    """Attach the reference's three ingest lineage columns (P5)."""
    return (
        df.withColumn("data_source", F.lit(data_source))
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("loaded_at", loaded_at if loaded_at is not None else F.current_timestamp())
    )
