"""Shared read path for batch-keyed durable stores.

Every ``foreachBatch`` durable store in this package is batch-keyed
(``store/batch_id=N`` directories written with overwrite — the
replay-atomic scheme standardized after the round-6 torn-append
finding). Reading one back has two subtle failure modes that used to be
papered over by a blanket ``except Exception`` (round-7 ADVICE):

1. *crash before the first commit*: the store directory exists but
   holds only uncommitted task output (``_temporary`` etc.) — this IS
   the "no corpus yet" case and must return None;
2. *anything else* — corrupted files, transient IO, permission errors —
   must FAIL the batch loudly: silently treating a damaged store as
   empty re-emits historical pairs / keeps semantic duplicates.

We distinguish them structurally: a committed store always has at least
one ``batch_id=*`` partition directory, so we check for those BEFORE
reading and let every read error after that propagate. A store with
data files but no ``batch_id=*`` partitions is the pre-batch-keying
flat-append layout — state is durable across sessions, so we detect it
and raise a clear migration error instead of crashing later with an
unresolved-column AnalysisException.

The store is listed with ``sources.writers.list_names`` (Hadoop FS), so an
hdfs://, s3a:// or ``file:`` store is never mistaken for a missing one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import list_names


class LegacyStoreLayoutError(RuntimeError):
    """A durable store written by the pre-batch-keyed flat-append layout."""


def _committed_partitions(names: list[str]) -> list[str]:
    return [d for d in names if d.startswith("batch_id=")]


def _has_flat_data(names: list[str]) -> bool:
    # flat-append layout: parquet part files directly under the root
    return any(
        name.endswith(".parquet") or name.startswith("part-")
        for name in names
        if not name.startswith(("_", "."))
    )


def read_batch_store(
    spark: SparkSession, path: str, batch_id: int, drop_batch_id: bool = False
) -> DataFrame | None:
    """Read a batch-keyed store, excluding ``batch_id``'s own partition.

    Returns None iff the store has no committed batch yet (missing
    directory, or a directory holding only uncommitted task output from
    a crash before the first batch's file commit). Raises
    :class:`LegacyStoreLayoutError` on a flat-append layout store, and
    propagates every other read failure — a damaged durable store must
    fail the batch, not masquerade as an empty corpus.

    A consolidated store (sources/compaction.consolidate_batch_store)
    carries a ``_consolidated_upto`` root marker: batches below the
    marker were merged into the ``batch_id=<marker>`` partition and any
    surviving pre-marker directory is garbage from a crash between the
    marker write and the deletions — rows below the floor are filtered
    out so that crash window never re-emits duplicate history.
    """
    names = list_names(spark, path)
    if names is None:
        return None
    if not _committed_partitions(names):
        if _has_flat_data(names):
            raise LegacyStoreLayoutError(
                f"durable store at {path} uses the legacy flat-append layout "
                "(no batch_id=* partitions); the store format was upgraded to "
                "batch-keyed partitions for replay atomicity. Migrate it by "
                "rewriting the existing rows into a batch_id=-1 subdirectory, "
                "or rebuild the store from the source corpus."
            )
        # only uncommitted task output (crash before the first batch's
        # file commit) — no corpus yet
        return None
    full = spark.read.parquet(path)
    out = full.where(F.col("batch_id") != F.lit(batch_id))
    if "_consolidated_upto" in names:
        from ..sources.compaction import read_consolidated_floor

        floor = read_consolidated_floor(spark, path)
        if floor is not None:
            out = out.where(F.col("batch_id") >= F.lit(floor))
    return out.drop("batch_id") if drop_batch_id else out
