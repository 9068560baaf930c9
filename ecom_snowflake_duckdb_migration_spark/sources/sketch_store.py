"""Durable sketch store: persist, validate, and merge-into sketch artifacts.

Operationalizes operators/sketches.py for the shard-and-merge workflow: a
100 TB pipeline computes one sketch per ingest batch (day, shard, source)
and folds it into a running artifact instead of ever re-scanning history.
The store is a parquet directory plus a ``_sketch_meta.json`` sidecar (same
pattern as the CSV metadata sidecar, ``writers.write_csv_with_metadata``)
recording the sketch kind and its parameters — merging two sketches is only
algebraically valid when those parameters match, so ``merge_into`` refuses
mismatches instead of silently producing garbage. The sidecar goes through
the Hadoop-FS helpers in ``writers`` (any Hadoop-FS URI) and is written into
``replace_dir``'s scratch dir, so one rename publishes it with the parquet.

Merge algebra per kind (all idempotent on re-delivery of the same rows —
max/OR — or exactly-once by upstream dedup for the additive ones):
- hll / hll_group: (group-,) bucket-wise MAX(rho)
- countmin:        cell-wise SUM  (additive: upstream must not re-deliver)
- kmv:             distinct union, re-take k smallest
- bloom:           word-wise OR
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .writers import exists, publish_text, read_text, replace_dir

_META_NAME = "_sketch_meta.json"

# kind -> (merge fn over a unioned frame, required meta params)
_MERGE_KEYS = {
    "hll": (["bucket"], {"rho": "max"}, ("p",)),
    "countmin": (["r", "cell"], {"total": "sum"}, ("d", "w")),
    "kmv": (None, None, ("k",)),  # special-cased: distinct + top-k
    "bloom": (["word"], {"bits": "bit_or"}, ("m_bits", "k")),
    # LSH band index for incremental corpus dedup (operators.incremental_dedup):
    # no value columns — merge is a distinct union of (id, band, bucket) rows,
    # idempotent on re-delivered batches. Params pin the signing scheme:
    # probing with mismatched k/num_hashes/bands/hash_fn is meaningless.
    "lsh_bands": (["band", "bucket"], {}, ("k", "num_hashes", "bands", "hash_fn")),
}


def _meta_path(path: str) -> str:
    return f"{path.rstrip('/')}/{_META_NAME}"


def write_sketch(df: DataFrame, path: str, kind: str, **params) -> None:
    """Persist a sketch with its kind/params sidecar (overwrite)."""
    if kind not in _MERGE_KEYS:
        raise ValueError(f"unknown sketch kind: {kind!r}")
    _, _, required = _MERGE_KEYS[kind]
    missing = [p for p in required if p not in params]
    if missing:
        raise ValueError(f"{kind} sketch requires params {missing}")
    replace_dir(df.sparkSession, path, lambda tmp: _write_with_sidecar(df, tmp, kind, params))


def _write_with_sidecar(df: DataFrame, tmp: str, kind: str, params: dict) -> None:
    # The sidecar goes into the scratch directory with the parquet, so the
    # swap's rename publishes both together: no reader window sees one
    # without the other. (Spark ignores _-prefixed files in parquet dirs.)
    df.write.mode("overwrite").parquet(tmp)
    meta = json.dumps({"kind": kind, "params": dict(params)})
    publish_text(df.sparkSession, _meta_path(tmp), meta)


def read_sketch(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a sketch and its metadata; raises if the sidecar is absent."""
    text = read_text(spark, _meta_path(path))
    if text is None:
        raise FileNotFoundError(_meta_path(path))
    return spark.read.parquet(path), json.loads(text)


def merge_sketches(a: DataFrame, b: DataFrame, kind: str, **params) -> DataFrame:
    """Merge two same-kind, same-params sketch frames (pure transform)."""
    if kind == "kmv":
        k = int(params["k"])
        return a.unionByName(b).distinct().orderBy("h").limit(k)
    keys, aggs, _ = _MERGE_KEYS[kind]
    u = a.unionByName(b)
    if not aggs:  # pure set-union kinds (lsh_bands): dedup rows, no agg
        return u.distinct()
    agg_cols = [getattr(F, fn)(c).alias(c) for c, fn in aggs.items()]
    # hll_group sketches carry extra group columns ahead of the bucket —
    # merge on every non-value column so the same code serves both.
    extra = [c for c in a.columns if c not in keys and c not in aggs]
    return u.groupBy(*extra, *keys).agg(*agg_cols).select(*a.columns)


def merge_into(spark: SparkSession, path: str, new_sketch: DataFrame, kind: str, **params) -> DataFrame:
    """Fold a new partial sketch into the stored artifact; returns the merged frame.

    Refuses kind/param mismatches (merging an HLL(p=9) into an HLL(p=10)
    or a (d,w)-mismatched count-min is algebraically meaningless). First
    call creates the store. The rewrite goes through
    ``writers.replace_dir``: its recovery preamble runs first, so a crash
    in an earlier merge's swap restores the accumulated history instead of
    reinitializing the store, and the sidecar is written into the scratch
    directory so the same rename publishes parquet and metadata together.
    """

    def fill(tmp: str) -> None:
        merged = new_sketch
        if exists(spark, _meta_path(path)):
            prev, meta = read_sketch(spark, path)
            if meta["kind"] != kind or {k: meta["params"].get(k) for k in params} != {
                k: params[k] for k in params
            }:
                raise ValueError(
                    f"sketch at {path} is {meta['kind']}({meta['params']}); "
                    f"refusing to merge {kind}({params})"
                )
            merged = merge_sketches(prev, new_sketch, kind, **params)
        _write_with_sidecar(merged, tmp, kind, params)

    replace_dir(spark, path, fill)
    return spark.read.parquet(path)
