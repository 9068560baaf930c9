"""Perceptual image hashing + near-duplicate pairs — the image-side twin
of text MinHash/SimHash dedup (the one LLM-pipeline operator a multimodal
corpus needs weekly; reference scope: the corpus-curation role of
``src/pipeline`` ingest, applied to image payloads).

Two classic 64-bit perceptual hashes over the decoded luminance grid:

- **aHash** (average hash): downsample to ``grid x grid``, bit = pixel >
  mean. Robust to resize/re-encode; cheap.
- **dHash** (difference hash): downsample to ``grid x (grid+1)``, bit =
  px[r, c] < px[r, c+1] (horizontal gradient). More discriminative than
  aHash under brightness shifts.

Both are computed **orientation-canonically**: the hash of an image is the
MINIMUM packed value over its 8 dihedral transforms (4 rotations x
mirror), so a rotated or flipped copy hashes identically and a resized
copy lands within a few bits — without storing 8 hashes per image.

Near-dup pairs reuse the SimHash pigeonhole band join
(``operators.text.hamming_near_pairs``): with max_hamming < blocks any
qualifying pair agrees on one exact chunk, so candidates come from
equi-joins on (block, chunk) — never all-pairs. 100 TB posture: hashing
is an Arrow-batched mapInPandas over the payload column (zero shuffle,
the documented non-codegen path shared by every decode op); only the
16-byte-per-image hash table enters the band join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.text import hamming_near_pairs
from .columns import _map_payloads


IMAGE_HASH_SCHEMA = StructType(  # the default media_id-keyed shape
    [
        StructField("media_id", StringType()),
        StructField("ahash", LongType()),
        StructField("dhash", LongType()),
        StructField("ok", StringType()),  # 'ok' | error class name
    ]
)


def _downsample(px: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Nearest-neighbor downsample (same scheme as columns.resize_images —
    deterministic, no interpolation library)."""
    ys = np.linspace(0, px.shape[0] - 1, rows).astype(int)
    xs = np.linspace(0, px.shape[1] - 1, cols).astype(int)
    return px[np.ix_(ys, xs)]


def _pack_bits(bits: np.ndarray) -> int:
    """Row-major bool grid -> signed 64-bit int (bit i = flat index i)."""
    flat = bits.ravel().astype(np.uint64)
    v = int((flat << np.arange(flat.size, dtype=np.uint64)).sum(dtype=np.uint64))
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def _hashes_one(px: np.ndarray, grid: int) -> tuple[int, int]:
    """(ahash, dhash), each the min packed value over the 8 dihedral
    orientations of the source pixels — rotation/flip-canonical."""
    a_best = d_best = None
    for k in range(4):
        rot = np.rot90(px, k)
        for img in (rot, np.fliplr(rot)):
            small = _downsample(img, grid, grid).astype(np.float64)
            a = _pack_bits(small > small.mean())
            wide = _downsample(img, grid, grid + 1).astype(np.int16)
            d = _pack_bits(wide[:, :-1] < wide[:, 1:])
            a_best = a if a_best is None else min(a_best, a)
            d_best = d if d_best is None else min(d_best, d)
    return a_best, d_best


def image_hashes(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    grid: int = 8,
) -> DataFrame:
    """(media_id, ahash, dhash, ok) per image payload.

    Errors are captured per row (``ok`` column), never thrown across the
    batch — the decode_images contract; one corrupt file must not kill a
    100 TB job.

    ``grid`` is capped at 8: both hashes pack ``grid * grid`` bits into
    a 64-bit value, and numpy shifts >= 64 are undefined — a larger grid
    would silently produce garbage hashes rather than wider ones."""
    if grid * grid > 64:
        raise ValueError(
            f"grid={grid} needs {grid * grid} bits; the packed hash is "
            "64-bit, so grid must be <= 8 (wider hashes would be silently "
            "corrupted by undefined >=64-bit shifts)"
        )

    def kernel(d: dict) -> tuple[int, int]:
        return _hashes_one(d["pixels"].reshape(d["height"], d["width"]), grid)

    return _map_payloads(
        df, id_col, payload_col, "image", IMAGE_HASH_SCHEMA.fields[1:-1], kernel
    )


def image_near_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    blocks: int = 4,
    method: str = "dhash",
    grid: int = 8,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: ``(d1, d2, hamming)`` with
    d1 < d2, Hamming distance on the canonical ``method`` hash <=
    ``max_hamming``. Decode failures are silently excluded (their hash is
    NULL; inspect ``image_hashes`` directly for the error census)."""
    if method not in ("ahash", "dhash"):
        raise ValueError(f"method must be ahash|dhash, got {method!r}")
    # barrier (round-10, guide §8): the pigeonhole band join references
    # the fingerprint frame on BOTH sides, and without it each side
    # re-runs the full Python image decode (no exchange to reuse under
    # the mapInPandas scan). Checkpoint the narrow (id, hash) frame so
    # payloads are decoded exactly once.
    fp = (
        image_hashes(df, id_col, payload_col, grid)
        .filter(f"{method} IS NOT NULL")
        .select(id_col, method)
        .localCheckpoint(eager=False)
    )
    return hamming_near_pairs(fp, method, id_col, max_hamming, blocks)
