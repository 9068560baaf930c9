"""Parquet small-files compaction — the 100 TB maintenance operator.

A day of streaming micro-batches (streaming/ingest.py sinks, the
reference's daily S3 drops) or a wide shuffle write leaves thousands of
KB-scale files; every later scan then pays per-file open + footer reads
and the driver pays the listing. ``compact_parquet`` rewrites a directory
to ``ceil(total_bytes / target_file_bytes)`` files — optionally
range-clustered on sort keys so row-group min/max pruning works after the
rewrite — using the package's one crash-safe directory swap,
``writers.replace_dir`` (write to a hidden ``.{name}.tmp`` sibling, two
checked renames, recovery preamble).

Filesystem access goes through the Hadoop-FS helpers in ``writers``, so
the same code serves file://, hdfs:// and s3a:// (on object stores a
rename is a server-side copy — there, prefer compacting into a NEW prefix
and flipping the catalog pointer that write_table registration provides;
the swap here is the single-filesystem path); markers are published whole
by ``publish_text``, so a cut-off write never leaves an empty marker.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from .writers import (
    exists,
    hadoop_fs,
    list_names,
    publish_text,
    read_text,
    replace_dir,
    restore_dir,
)


def parquet_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(data file count, total data bytes) under ``path``, recursively —
    counts ``*.parquet`` only (skips _SUCCESS, sidecars, checksums)."""
    fs, hpath = hadoop_fs(spark, path)
    it = fs.listFiles(hpath, True)
    n = total = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            n += 1
            total += st.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite the parquet directory at ``path`` into
    ``ceil(total_bytes / target_file_bytes)`` files; returns
    ``{files_before, files_after, bytes_before, bytes_after, rows}``.

    ``sort_by``: range-partition + sort within partitions on these
    columns, so the compacted files carry disjoint sorted key ranges and
    footer min/max stats prune whole files for key predicates (the
    cluster_by_zorder single-key analogue; use Z-order for 2-D).

    Output sizing uses the INPUT's compressed bytes — same codec in and
    out, so it lands near the target without a second pass. The rewrite
    goes through ``writers.replace_dir``: crash-safe, not atomic (see
    there), and a crash inside an earlier call's swap is recovered first.
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    fs, hpath = hadoop_fs(spark, path)
    # recover before the guard and the stats below look at path
    restore_dir(spark, path)

    # Hive-partitioned layouts are refused, not silently flattened: the
    # rewrite would demote partition directories to plain columns in a
    # flat directory, destroying pruning and breaking any reader that
    # addresses path/dt=.../ directly. Compact each leaf partition
    # directory instead. Only directory components strictly BELOW the
    # root count — the root itself being a dt=... leaf is exactly the
    # supported per-partition call, and must not trip its own guard.
    root = str(fs.makeQualified(hpath).toUri().getPath()).rstrip("/")
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        rel = str(it.next().getPath().toUri().getPath())
        parent = rel.rsplit("/", 1)[0]
        below = parent[len(root):].strip("/") if parent.startswith(root) else parent
        for comp in below.split("/"):
            if "=" in comp:
                raise ValueError(
                    f"{path!r} is hive-partitioned ({comp}); "
                    "compact each leaf partition directory separately"
                )

    files_before, bytes_before = parquet_file_stats(spark, path)
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))
    df: DataFrame = spark.read.parquet(path)
    if sort_by:
        shaped = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        shaped = df.repartition(n_out)

    def fill(tmp: str) -> int:
        shaped.write.mode("overwrite").parquet(tmp)
        return spark.read.parquet(tmp).count()

    rows = replace_dir(spark, path, fill)
    files_after, bytes_after = parquet_file_stats(spark, path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "rows": rows,
    }


def compact_cell_store(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    sort_by: list[str] | None = None,
) -> dict:
    """Compact every LEAF PARTITION directory (``col=value``) of a
    partitioned store — the maintenance pass for append-grown ANN
    indexes: ``append_ivfadc_store`` / ``append`` on ``write_ivf_store``
    layouts land one file per batch per cell, so weekly drops x cells =
    small-file creep and every probe pays per-file opens (the
    write-clustering note in similarity.write_ivf_store measured 2.7 s
    of open overhead alone on a slivered store).

    Each leaf compacts independently through :func:`compact_parquet`'s
    crash-safe ``replace_dir`` swap; the scratch directories are HIDDEN
    siblings (``.cell=3.tmp`` / ``.cell=3.old``) that partition
    discovery skips, so CONCURRENT PROBES of the store root keep reading
    committed files mid-compaction — a probe never sees a half-written
    leaf or a bogus string partition value. Leaves already at fewer than
    ``min_files`` data files are skipped (no rewrite churn on quiet
    cells). A crash mid-pass leaves every untouched leaf intact and the
    in-flight leaf recoverable by the next call (the per-leaf recovery
    preamble).

    Returns ``{leaves, compacted, skipped, files_before, files_after,
    rows}`` summed over compacted leaves.
    """
    names = list_names(spark, path)
    if names is None:
        raise FileNotFoundError(path)
    leaves = [
        f"{path.rstrip('/')}/{name}"
        for name in names
        if "=" in name and not name.startswith((".", "_"))
    ]
    out = {
        "leaves": len(leaves), "compacted": 0, "skipped": 0,
        "files_before": 0, "files_after": 0, "rows": 0,
    }
    for leaf in sorted(leaves):
        n_files, _ = parquet_file_stats(spark, leaf)
        if n_files < min_files:
            out["skipped"] += 1
            continue
        stats = compact_parquet(
            spark, leaf, target_file_bytes=target_file_bytes, sort_by=sort_by
        )
        out["compacted"] += 1
        out["files_before"] += stats["files_before"]
        out["files_after"] += stats["files_after"]
        out["rows"] += stats["rows"]
    return out


# ---------------------------------------------------------------------------
# Batch-keyed store consolidation
# ---------------------------------------------------------------------------

CONSOLIDATED_MARKER = "_consolidated_upto"


def read_consolidated_floor(spark: SparkSession, path: str) -> int | None:
    """The store's consolidation floor: batches below this id were merged
    into the ``batch_id=<floor>`` partition and their directories are
    garbage (deleted, or pending deletion after a crash). ``None`` when
    the store has never been consolidated. Readers must drop
    ``batch_id < floor`` rows — streaming/store_io.read_batch_store does."""
    text = read_text(spark, f"{path.rstrip('/')}/{CONSOLIDATED_MARKER}")
    return None if text is None else int(text.strip())


def consolidate_batch_store(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_batches: int = 2,
) -> dict:
    """Merge every committed ``batch_id=N`` partition of a batch-keyed
    durable store (streaming/corpus_dedup, streaming/semantic_dedup docs
    and band stores) into the HIGHEST committed id's directory — the
    across-batch twin of :func:`compact_cell_store`'s per-leaf pass. A
    long-running stream lands one directory per micro-batch; after ~10^3
    batches every probe pays partition listing + per-file opens on a
    sliver per batch, and this pass folds them into
    ``ceil(bytes / target_file_bytes)`` files under one partition.

    Replay safety: the streaming engine only ever replays the LAST
    (uncommitted) batch, whose id exceeds every committed id, so merging
    committed batches into the max committed id K can never collide with
    a replay overwrite, and ``read_batch_store``'s current-batch
    exclusion (!= N with N > K) never excludes consolidated rows.

    Crash safety (``writers.replace_dir``'s contract): the merged rows
    replace ``batch_id=K`` with a ``_consolidated_upto`` sidecar (= K)
    inside, published by the same rename; then the root marker (= K) is
    written BEFORE the stale ``batch_id<K`` directories are deleted. A
    crash before the root marker shows duplicate rows until the next
    call, which restores the marker from the sidecar and deletes the
    pre-K directories instead of merging them again. A crash before the
    deletions leaves directories every reader ignores
    (``read_batch_store`` filters ``batch_id < floor``) and the next call
    garbage-collects. A crash inside the swap leaves a
    ``.batch_id=K.old`` orphan, restored before the batches are listed.

    Returns ``{batches_before, batches_after, files_before, files_after,
    rows, upto}``; a store with fewer than ``min_batches`` committed
    batches only runs recovery + garbage collection.
    """
    from pyspark.sql import functions as F

    names = list_names(spark, path)
    if names is None:
        raise FileNotFoundError(path)
    root = path.rstrip("/")
    marker = f"{root}/{CONSOLIDATED_MARKER}"

    # recovery: a crash inside replace_dir's swap leaves the target
    # partition's only complete copy at the hidden '.batch_id=K.old'
    for name in names:
        if name.startswith(".batch_id=") and name.endswith(".old"):
            restore_dir(spark, f"{root}/{name[1:-len('.old')]}")

    floor = read_consolidated_floor(spark, path)
    ids = sorted(
        int(name.split("=", 1)[1])
        for name in list_names(spark, path)
        if name.startswith("batch_id=")
    )
    # recovery: a crash before the root marker write leaves the floor only
    # in the merged partition's sidecar; restore the marker from it
    merged_ids = [
        i for i in ids
        if (floor is None or i > floor)
        and exists(spark, f"{root}/batch_id={i}/{CONSOLIDATED_MARKER}")
    ]
    if merged_ids:
        floor = max(merged_ids)
        publish_text(spark, marker, f"{floor}\n")
    live = [i for i in ids if floor is None or i >= floor]
    stale = [i for i in ids if floor is not None and i < floor]
    out = {
        "batches_before": len(live), "batches_after": len(live),
        "files_before": 0, "files_after": 0, "rows": 0,
        "upto": floor,
    }
    if len(live) >= min_batches:
        upto = max(live)
        stats = [parquet_file_stats(spark, f"{root}/batch_id={i}") for i in live]
        files_before, total_bytes = (sum(col) for col in zip(*stats))
        n_out = max(1, math.ceil(total_bytes / target_file_bytes))
        merged = (
            spark.read.parquet(path)
            .where(F.col("batch_id").isin([int(i) for i in live]))
            .drop("batch_id")
            .repartition(n_out)
        )
        target = f"{root}/batch_id={upto}"

        def fill(tmp: str) -> int:
            merged.write.mode("overwrite").parquet(tmp)
            publish_text(spark, f"{tmp}/{CONSOLIDATED_MARKER}", f"{upto}\n")  # the sidecar
            return spark.read.parquet(tmp).count()

        rows = replace_dir(spark, target, fill)
        publish_text(spark, marker, f"{upto}\n")
        stale = sorted(set(stale) | {i for i in live if i < upto})
        out.update(
            batches_after=1,
            files_before=files_before,
            files_after=parquet_file_stats(spark, target)[0],
            rows=rows,
            upto=upto,
        )
    # garbage-collect directories below the floor (normal path AND the
    # crash-recovery path where a previous call died before its deletes)
    for i in stale:
        fs, stale_dir = hadoop_fs(spark, f"{root}/batch_id={i}")
        fs.delete(stale_dir, True)
    return out
