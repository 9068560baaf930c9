"""Streaming corpus deduplication: each micro-batch of documents probes the
durable LSH band store, emits its near-dup pairs, and folds its own band
rows into the store.

The streaming composition of :mod:`..operators.incremental_dedup` — the
shape a training-data ingest actually runs: documents arrive continuously
(files dropped into a directory, the reference's S3-drop pattern), and the
pipeline must answer "is this new document a near-dup of ANYTHING seen so
far?" without ever re-pairing history.

Per micro-batch (``foreachBatch``):
1. sign + band the batch only;
2. probe its band rows against the ``lsh_bands`` store (equi-join on
   (band, bucket)) for batch-vs-corpus candidates, plus a batch self-join
   for batch-internal candidates;
3. exact-Jaccard verify candidates only (corpus text read back just for
   candidate ids — a semi-join against the docs store);
4. append verified pairs to the output sink, then ``merge_into`` the
   batch's band rows (distinct-union — idempotent, so a replayed batch
   after a failure cannot duplicate store rows) and the batch's docs into
   the text store.

Exactly-once: pairs are written per-batch with the micro-batch id
(foreachBatch's replay key); the band-store merge is idempotent by
construction. State is the DURABLE parquet store, not Spark state-store
memory — watermarks are unnecessary because near-dup lookback is
unbounded by design (that is the point of corpus dedup).

Equivalence contract (pinned in tests/test_streaming.py): running the
stream over a seeded directory with availableNow and concatenating the
emitted pair batches equals the one-shot batch ``minhash_lsh_pairs`` over
the full corpus, restricted to pairs whose LATER doc arrived after the
earlier one — i.e. every pair is reported exactly once, when its second
member arrives.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental_dedup import incremental_minhash_pairs, lsh_band_table
from ..sources import sketch_store
from .store_io import read_batch_store


def streaming_corpus_dedup(
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    pairs_out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_e6: int = 800_000,
    hash_fn: str = "xxhash64",
    trigger: dict | None = None,
):
    """Wire a document stream into the incremental-dedup loop.

    ``store_dir`` holds two durable artifacts: ``bands`` (the lsh_bands
    sketch store) and ``docs`` (the corpus text, appended per batch — the
    targeted read-back source for candidate verification). ``trigger`` is
    passed to ``writeStream.trigger(**trigger)``; the default
    ``{"availableNow": True}`` drains what exists and stops — pass e.g.
    ``{"processingTime": "1 minute"}`` for continuous ingest. Returns the
    started StreamingQuery.

    Redelivery/replay safety: doc ids already in the docs store are
    dropped from the batch up front (a redelivered doc does not re-emit
    its pairs), and the batch's own ids are anti-joined out of the band
    store's probe side (a batch replayed after a crash between the band
    merge and the checkpoint commit does not match its own bands). Pair
    output is overwritten per batch partition, so replays are idempotent.
    The docs store is likewise batch-keyed (``docs/batch_id=N``, written
    with overwrite): a crash mid-write cannot leave a torn append that a
    replay would half-see — the replay excludes its OWN partition from the
    corpus, so it sees all of its docs as new (full reprocess, identical
    pairs overwrite) rather than a subset (which would permanently drop
    the already-appended docs' pairs from the rewritten pairs partition).

    Maintenance: a long-running stream lands one ``batch_id=N`` directory
    per micro-batch under the docs store; fold them periodically (stream
    stopped or between batches) with
    ``sources.compaction.consolidate_batch_store(spark, <docs path>)`` —
    the read path above honors its ``_consolidated_upto`` floor marker.
    After a consolidation crash, rerun it before restarting the stream:
    a crash before the marker write shows duplicate history until the
    next call restores the marker.
    """
    params = dict(k=k, num_hashes=num_hashes, bands=bands, hash_fn=hash_fn)
    bands_path = os.path.join(store_dir, "bands")
    docs_path = os.path.join(store_dir, "docs")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.select(id_col, text_col)
        # exclude this batch's own (possibly torn) partition: a replay
        # must see either none of its docs or all of them. Read errors
        # other than "no committed batch yet" propagate (store_io).
        full = read_batch_store(spark, docs_path, batch_id)
        corpus = None
        if full is not None:
            corpus = full.select(id_col, text_col)
            # cross-batch redelivery: a doc id already in the corpus is
            # not new — processing it again would re-emit its historical
            # pairs into a fresh batch partition (duplicates across
            # partitions).
            batch = batch.join(corpus.select(id_col), id_col, "left_anti")
        batch.persist()
        try:
            if batch.isEmpty():
                return
            if corpus is not None:
                corpus_bands, meta = sketch_store.read_sketch(spark, bands_path)
                if meta["kind"] != "lsh_bands":
                    raise ValueError(f"store at {bands_path} is {meta['kind']}")
                got = {p: meta["params"].get(p) for p in params}
                if got != params:
                    raise ValueError(
                        f"band store at {bands_path} was signed with {meta['params']}; "
                        f"refusing to probe with {params} (bucket spaces are "
                        "incompatible — the join would be meaningless)"
                    )
                # crash replay: the batch's own bands may already be merged
                # into the store; probing them would yield self-matches.
                corpus_bands = corpus_bands.join(
                    batch.select(id_col), id_col, "left_anti"
                )
            else:
                corpus = spark.createDataFrame([], batch.schema)
                corpus_bands = lsh_band_table(corpus, text_col, id_col, **params)
            pairs = incremental_minhash_pairs(
                batch, corpus, corpus_bands,
                text_col=text_col, id_col=id_col,
                threshold_e6=threshold_e6, **params,
            )
            # pairs first (idempotent per batch id on replay: overwrite the
            # batch's own partition — the directory name supplies the
            # batch_id column via partition discovery), then the
            # idempotent store merges.
            pairs.write.mode("overwrite").parquet(
                os.path.join(pairs_out_dir, f"batch_id={batch_id}")
            )
            sketch_store.merge_into(
                spark, bands_path,
                lsh_band_table(batch, text_col, id_col, **params),
                "lsh_bands", **params,
            )
            batch.write.mode("overwrite").parquet(
                os.path.join(docs_path, f"batch_id={batch_id}")
            )
        finally:
            batch.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
