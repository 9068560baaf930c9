"""Audio perceptual fingerprinting + near-duplicate pairs — the audio
member of the near-dup family (text SimHash, image aHash/dHash, audio
band-energy hash), completing the modality triangle over one shared
candidate machinery (``operators.text.hamming_near_pairs``).

Algorithm (Haitsma & Kalker 2002, "A highly robust audio fingerprint
system", simplified to one 64-bit document hash): decode PCM samples,
split into ``t_frames`` equal time segments, compute each segment's
magnitude spectrum (numpy rFFT), sum it into ``n_bands + 1`` log-spaced
frequency bands, and set bit ``(t, b)`` = band energy ``E[t, b] >
E[t, b+1]``. Energy-ratio signs are invariant to volume scaling and
robust to re-encoding/mild truncation; structurally different audio
flips about half the bits.

100 TB posture: hashing is an Arrow-batched mapInPandas over the payload
column (zero shuffle, the documented non-codegen path shared by every
decode op); only the 8-byte hash enters the pigeonhole band join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.text import hamming_near_pairs
from .columns import _map_payloads

AUDIO_HASH_SCHEMA = StructType(  # the default media_id-keyed shape
    [
        StructField("media_id", StringType()),
        StructField("audio_hash", LongType()),
        StructField("ok", StringType()),  # 'ok' | error class name
    ]
)


def _band_edges(n_fft_bins: int, n_bands: int) -> np.ndarray:
    """Log-spaced band edges over [1, n_fft_bins) — bin 0 (DC) excluded,
    matching the paper's perceptually-spaced bands."""
    return np.unique(
        np.geomspace(1, max(2, n_fft_bins - 1), n_bands + 1).astype(int)
    )


def _hash_one(samples: np.ndarray, t_frames: int = 8, n_bands: int = 9) -> int:
    x = samples.astype(np.float64)
    if x.size < t_frames * 2:
        raise ValueError(f"audio too short to fingerprint: {x.size} samples")
    frames = np.array_split(x, t_frames)
    n_fft = min(len(f) for f in frames)
    edges = _band_edges(n_fft // 2 + 1, n_bands)
    grid = np.empty((t_frames, len(edges) - 1))
    for t, f in enumerate(frames):
        mag = np.abs(np.fft.rfft(f[:n_fft]))
        for b in range(len(edges) - 1):
            grid[t, b] = mag[edges[b]: edges[b + 1]].sum()
    bits = grid[:, :-1] > grid[:, 1:]  # t_frames x (bands - 1)
    flat = bits.ravel()[:64].astype(np.uint64)
    v = int((flat << np.arange(flat.size, dtype=np.uint64)).sum(dtype=np.uint64))
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def audio_hashes(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    t_frames: int = 8,
    n_bands: int = 9,
) -> DataFrame:
    """(media_id, audio_hash, ok) per audio payload; decode errors are
    captured per row (``ok`` column), never thrown across the batch."""

    return _map_payloads(
        df, id_col, payload_col, "audio", AUDIO_HASH_SCHEMA.fields[1:-1],
        lambda d: (_hash_one(d["samples"], t_frames, n_bands),),
    )


def audio_near_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    blocks: int = 4,
    t_frames: int = 8,
    n_bands: int = 9,
) -> DataFrame:
    """Near-duplicate audio pairs ``(d1, d2, hamming)`` with d1 < d2 —
    the pigeonhole band join over the band-energy fingerprints; decode
    failures are excluded (NULL hash)."""
    # same decode-once barrier as image_near_pairs (round-10, guide §8):
    # both band-join sides otherwise re-run the Python audio decode
    fp = (
        audio_hashes(df, id_col, payload_col, t_frames, n_bands)
        .filter("audio_hash IS NOT NULL")
        .select(id_col, "audio_hash")
        .localCheckpoint(eager=False)
    )
    return hamming_near_pairs(fp, "audio_hash", id_col, max_hamming, blocks)
