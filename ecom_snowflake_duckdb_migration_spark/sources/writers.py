"""Sinks and materialization (SURVEY §2.1 S4-S7, S9-S10, S12).

Reference behaviors replicated (paths relative to /root/reference):
- S4 CSV sink + JSON metadata sidecar
  (src/pipeline/0_ingest_historic_synthetic_data.py:173-202,
  ingest_latest_synthetic_data.py:278-303).
- S5 envelope JSON sink: DataFrame → ``{metadata, data}`` object
  (src/pipeline/0_generate_historic_synthetic_data.py:429-461).
- S6 Postgres sink via COPY (0_generate_historic_synthetic_data.py:463-492)
  → ``df.write.jdbc``.
- S7 typed table create from a dtype map
  (ingest_latest_synthetic_data.py:521-535) → catalog DDL with explicit schema.
- S9/S10 view vs table materialization (dbt/dbt_duckdb/dbt_project.yml:19-29).
- S12 catalog introspection (src/sample_ecom_raw_query_duckdb.py:8-27).

Scale notes: parquet is the default table format (columnar, splittable,
predicate-pushdown-friendly); CSV/JSON sinks exist only for reference-format
interchange. ``write_table`` takes optional ``partition_by`` + ``bucket_by``
so hot join keys can be co-located and date columns pruned at 100 TB.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.core import quote_ident


def write_csv_with_metadata(
    df: DataFrame,
    path: str,
    table: str,
    single_file: bool = False,
    run_ts: datetime | None = None,
) -> dict:
    """S4: CSV sink plus a JSON metadata sidecar describing the extract.

    ``single_file=True`` coalesces to one part (reference emits one CSV per
    table) — only sane for small interchange extracts; leave False at scale.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)
    meta = {
        "table": table,
        "recordCount": df.count(),
        "generatedAt": (run_ts or datetime.now(timezone.utc)).isoformat(),
        "columns": df.columns,
        "version": "1.0",
    }
    publish_text(df.sparkSession, f"{path.rstrip('/')}/_metadata.json", json.dumps(meta))
    return meta


def overwrite_parquet(df: DataFrame, path: str) -> DataFrame:
    """Overwrite ``path`` with ``df`` as parquet and read it back with
    ``df``'s schema, which skips the one-task schema-inference job a plain
    re-read launches. File sources read every column as nullable, so the
    schema equals ``spark.read.parquet(path).schema``."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, resolved as ``spark.read`` resolves
    it (plain path, file:, hdfs://, s3a://). Every durable-store check, listing
    and sidecar goes through this: driver-local ``os`` calls report a ``file:``
    or remote store as missing, so its history would be silently dropped."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def list_names(spark: SparkSession, path: str) -> list[str] | None:
    """Child entry names of ``path`` (hidden ones too); None if it is missing."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 content of the small file ``path``, or None if it does not exist."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def publish_text(spark: SparkSession, path: str, text: str) -> None:
    """Write the small file ``path`` so a reader never sees a partial file:
    write the hidden sibling ``.{name}.tmp`` (replacing a stale one), delete
    ``path``, then a checked rename (in between, a reader finds no file)."""
    fs, hpath = hadoop_fs(spark, path)
    tmp = _hidden_sibling(spark, path, "tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(hpath):
        fs.delete(hpath, False)
    if not fs.rename(tmp, hpath):
        raise OSError(f"publish rename {tmp} -> {path} failed")


def _hidden_sibling(spark: SparkSession, path: str, suffix: str):
    """Hadoop Path of the hidden sibling ``.{name}.{suffix}`` (partition discovery skips it)."""
    parent, sep, name = path.rstrip("/").rpartition("/")
    return spark._jvm.org.apache.hadoop.fs.Path(f"{parent}{sep}.{name}.{suffix}")


def restore_dir(spark: SparkSession, path: str) -> None:
    """Recovery preamble of :func:`replace_dir`: a ``.old`` with nothing at
    ``path`` is the only complete copy left by a crash between the renames,
    so move it back; a ``.old`` next to ``path`` is stale, so delete it."""
    fs, hpath = hadoop_fs(spark, path)
    old = _hidden_sibling(spark, path, "old")
    if not fs.exists(old):
        return
    if fs.exists(hpath):
        fs.delete(old, True)
    elif not fs.rename(old, hpath):
        raise OSError(f"recovery rename {old} -> {path} failed")


def replace_dir(spark: SparkSession, path: str, fill):
    """Replace (or create) the directory ``path`` with what ``fill(tmp)``
    writes into its hidden ``tmp`` sibling; returns ``fill``'s result.

    ``fill`` runs after :func:`restore_dir`, so it may read the last
    complete ``path``; sidecars it writes into ``tmp`` are published by the
    same rename as the data. The swap is two checked renames (``path`` to
    ``.old``, ``tmp`` to ``path``), then ``.old`` is deleted: crash-safe,
    not atomic — a reader can hit ENOENT between the renames and should
    retry, and a crash leaves a complete ``.old`` or ``.tmp``, never a torn
    directory. Runs no Spark action beyond ``fill``'s."""
    restore_dir(spark, path)
    fs, hpath = hadoop_fs(spark, path)
    old, tmp = _hidden_sibling(spark, path, "old"), _hidden_sibling(spark, path, "tmp")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    result = fill(str(tmp))
    # Hadoop rename() returns False instead of raising: check each step so
    # a failed rename aborts before the delete can remove the only copy.
    had_path = fs.exists(hpath)
    if had_path and not fs.rename(hpath, old):
        raise OSError(f"swap aborted: rename {path} -> {old} failed; data intact")
    if not fs.rename(tmp, hpath):
        if had_path:
            fs.rename(old, hpath)
        raise OSError(f"swap aborted: rename {tmp} -> {path} failed; original restored")
    fs.delete(old, True)
    return result


def write_envelope_json(
    df: DataFrame,
    path: str,
    table: str,
    run_ts: datetime | None = None,
    version: str = "1.0",
) -> None:
    """S5: write the reference's ``{metadata, data}`` envelope.

    Implemented distributed: every output partition becomes one complete,
    self-describing envelope file (matching the reference's per-object layout,
    which ``read_envelope_json`` reads back as a glob). recordCount is the
    per-envelope row count, computed inside the partition — no driver collect.
    """
    generated_at = (run_ts or datetime.now(timezone.utc)).isoformat()

    envelopes = (
        df.select(F.to_json(F.struct(*df.columns)).alias("j"))
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.collect_list("j").alias("rows"))
        .select(
            F.concat(
                F.lit('{"metadata": {"table": "' + table + '", "recordCount": '),
                F.size("rows").cast("string"),
                F.lit(', "generatedAt": "' + generated_at + '", "version": "' + version + '"}, '),
                F.lit('"data": ['),
                F.concat_ws(", ", "rows"),
                F.lit("]}"),
            ).alias("value")
        )
    )
    envelopes.write.mode("overwrite").text(path)


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "overwrite", **options: str
) -> None:
    """S6: relational sink (reference: pandas to_sql DDL + COPY FROM STDIN)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for key, value in options.items():
        writer = writer.option(key, value)
    writer.save()


def create_typed_table(
    spark: SparkSession, name: str, schema: StructType, path: str | None = None
) -> None:
    """S7: CREATE TABLE IF NOT EXISTS with a declared schema (no inference in
    the engine path). External parquet when ``path`` is given."""
    ddl = ", ".join(f"{quote_ident(f.name)} {f.dataType.simpleString()}" for f in schema.fields)
    location = f" LOCATION '{path}'" if path else ""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING parquet{location}")


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """S10: table materialization (CREATE TABLE AS).

    ``partition_by`` → directory partition pruning on date/enum columns;
    ``bucket_by=(n, cols)`` → pre-shuffled layout so joins/aggs on those
    columns skip the exchange entirely (the 100 TB co-location lever).
    """
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(name)


def create_view(df: DataFrame, name: str) -> None:
    """S9: view materialization — lazy, re-planned per query like a DuckDB
    CREATE VIEW (staging models and mart dims)."""
    df.createOrReplaceTempView(name)


@dataclass(frozen=True)
class TableInfo:
    database: str
    table: str
    columns: tuple[str, ...]
    row_count: int


def describe_catalog(spark: SparkSession, database: str | None = None) -> list[TableInfo]:
    """S12: information_schema-style introspection with row counts
    (reference: sample_ecom_*_query_duckdb.py catalog walk)."""
    out = []
    databases = [database] if database else [d.name for d in spark.catalog.listDatabases()]
    for db in databases:
        for t in spark.catalog.listTables(db):
            if t.tableType == "TEMPORARY" and db != databases[0]:
                continue  # temp views are global; report them once
            qualified = f"{t.database}.{t.name}" if t.database else t.name
            cols = tuple(c.name for c in spark.catalog.listColumns(qualified))
            count = spark.table(qualified).count()
            out.append(TableInfo(db, t.name, cols, count))
    return out
