"""Multimodal (image/audio/video) column plumbing.

Design for a 100 TB training-data pipeline: media travels as opaque
``binary`` payload columns with a typed metadata struct alongside; all
decode/feature work runs in Arrow-batched Pandas UDFs (``mapInPandas``) so
bytes never round-trip through row-at-a-time Python, and partitioning is
preserved (no shuffle is introduced by any operator here).

Five genuine standard formats decode natively (struct + numpy + stdlib
zlib, no external libs): **BMP** (BI_RGB at 1/4/8-bit palette,
16-bit XRGB1555, 24- and 32-bit, plus BI_RLE8/BI_RLE4 run-length —
RLE8 cross-validated against ImageIO's own BI_RLE8 writer), **WAV** (RIFF: PCM 8/16/24/32-bit + IEEE float32/64, G.711 mu-law/A-law
and IMA/DVI ADPCM — the compressed-WAV formats telephony and game
corpora actually carry, each cross-validated bit-for-bit against
CPython's independent ``audioop`` C implementation — incl.
WAVE_FORMAT_EXTENSIBLE, normalized to mono int16), **JPEG** (baseline
sequential AND progressive DCT:
grayscale + YCbCr color, 4:4:4/4:2:2/4:2:0 subsampling, restart markers,
multi-scan spectral selection + successive approximation —
full encoder + decoder in ``jpeg.py``, cross-validated against the JVM's
javax.imageio, including decoding 4:2:0 and progressive streams the JVM
itself encoded),
**PNG** (all color types at 8- AND 16-bit depth, all five row filters,
Adam7 interlace in ``png.py``; lossless, so round-trips are exact), and
**GIF** (87a/89a incl. animation,
LZW, interlace, transparency and disposal in ``gif.py`` — animated GIFs
feed ``sample_video_frames`` with real decoded frames, upgrading the
video modality beyond the toy codec). Remaining formats (arithmetic/
lossless/12-bit JPEG, MP3, H.264) need PIL/librosa/ffmpeg, which are NOT
in this container — those payloads raise ``NotImplementedError`` naming
the missing piece; swapping a real codec in is a per-row function change
inside the same ``mapInPandas`` plumbing. A deterministic toy codec
(``SIMG``/``SAUD``/``SVID`` headers + raw samples) remains for
high-volume synthetic tests.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_METADATA_SCHEMA = StructType(
    [
        StructField("modality", StringType()),  # image | audio | video
        StructField("format", StringType()),  # simg | saud | svid | jpeg | ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

_IMG_MAGIC, _AUD_MAGIC, _VID_MAGIC = b"SIMG", b"SAUD", b"SVID"


# ---- toy codec (deterministic fake standing in for PIL/librosa/ffmpeg) ----

def encode_image(width: int, height: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    pixels = rng.integers(0, 256, size=width * height, dtype=np.uint8)
    return _IMG_MAGIC + struct.pack("<II", width, height) + pixels.tobytes()


# ---- real codecs: BMP (BI_RGB + RLE) and WAV (RIFF PCM16) ----

def encode_bmp(pixels: np.ndarray) -> bytes:
    """8-bit-palette grayscale BMP (spec-conformant: BITMAPFILEHEADER +
    BITMAPINFOHEADER + 256-entry BGRA palette, bottom-up rows padded to 4
    bytes). ``pixels`` is (height, width) uint8."""
    h, w = pixels.shape
    row_bytes = (w + 3) & ~3
    data_offset = 14 + 40 + 256 * 4
    image_size = row_bytes * h
    header = b"BM" + struct.pack("<IHHI", data_offset + image_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, image_size, 2835, 2835, 256, 0)
    palette = np.zeros((256, 4), dtype=np.uint8)
    palette[:, 0] = palette[:, 1] = palette[:, 2] = np.arange(256)
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, :w] = pixels[::-1]  # bottom-up
    return header + info + palette.tobytes() + rows.tobytes()


def _bmp_gray_lut(payload: bytes, hdr_size: int, bits: int, clr_used: int) -> np.ndarray:
    """Palette -> gray lookup (channel mean, the module's luminance rule).
    ``biClrUsed`` caps the table when nonzero, else 2^bits entries."""
    n_pal = clr_used if clr_used else (1 << bits)
    pal_off = 14 + hdr_size
    palette = np.frombuffer(payload, np.uint8, n_pal * 4, pal_off).reshape(n_pal, 4)
    return palette[:, :3].mean(axis=1).round().astype(np.uint8)


def _bmp_rle_indexed(data: np.ndarray, w: int, h: int, bits: int) -> np.ndarray:
    """Decode BI_RLE8/BI_RLE4 to an (h, w) indexed array in ENCODED row
    order (bottom-up per spec — caller flips). Escapes: 0 = end of line,
    1 = end of bitmap, 2 = (dx, dy) delta; n >= 3 = absolute run, padded
    to a word boundary. RLE4 runs alternate the value byte's high/low
    nibbles; absolute runs pack two pixels per byte, high nibble first."""
    out = np.zeros((h, w), np.uint8)
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = int(data[i]), int(data[i + 1])
        i += 2
        if cnt > 0:  # encoded run
            if y >= h or x + cnt > w:
                raise ValueError("RLE run overflows the bitmap")
            if bits == 8:
                out[y, x : x + cnt] = val
            else:
                pair = np.array([val >> 4, val & 0xF], np.uint8)
                out[y, x : x + cnt] = np.tile(pair, (cnt + 1) // 2)[:cnt]
            x += cnt
        elif val == 0:  # end of line
            y += 1
            x = 0
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            # the (dx, dy) pair must re-check bounds: a truncated stream
            # would raise IndexError instead of the decoder's ValueError
            # contract, and an unchecked move past (w, h) would defer the
            # failure to whichever run happens to follow
            if i + 1 >= n:
                raise ValueError("RLE delta truncated")
            x += int(data[i])
            y += int(data[i + 1])
            i += 2
            if x > w or y > h:
                raise ValueError("RLE delta moves outside the bitmap")
        else:  # absolute run of `val` pixels
            if y >= h or x + val > w:
                raise ValueError("RLE absolute run overflows the bitmap")
            if bits == 8:
                out[y, x : x + val] = data[i : i + val]
                i += val + (val & 1)
            else:
                nbytes = (val + 1) // 2
                raw = data[i : i + nbytes]
                nibs = np.empty(nbytes * 2, np.uint8)
                nibs[0::2] = raw >> 4
                nibs[1::2] = raw & 0xF
                out[y, x : x + val] = nibs[:val]
                i += (nbytes + 1) & ~1  # word-align
            x += val
    return out


def _decode_bmp(payload: bytes) -> tuple[str, dict]:
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bits, compression = struct.unpack_from("<HHI", payload, 26)
    clr_used = struct.unpack_from("<I", payload, 46)[0] if hdr_size >= 36 else 0
    if compression not in (0, 1, 2):
        raise NotImplementedError(
            f"BMP compression {compression} (BITFIELDS/embedded JPEG-PNG) "
            "unsupported; BI_RGB, BI_RLE8, and BI_RLE4 decode natively"
        )
    if compression == 0 and bits not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"invalid BI_RGB bit depth {bits}")
    top_down = h < 0
    h = abs(h)
    if compression in (1, 2):  # BI_RLE8 / BI_RLE4 (always palette, bottom-up)
        want_bits = 8 if compression == 1 else 4
        if bits != want_bits or top_down:
            raise ValueError(f"malformed RLE BMP (bits={bits}, topdown={top_down})")
        gray_lut = _bmp_gray_lut(payload, hdr_size, bits, clr_used)
        data = np.frombuffer(payload, np.uint8, len(payload) - data_offset, data_offset)
        px = gray_lut[_bmp_rle_indexed(data, w, h, bits)]
    elif bits in (1, 4):
        # bit/nibble-packed palette rows, MSB-first, padded to 4 bytes
        row_bytes = ((w * bits + 7) // 8 + 3) & ~3
        gray_lut = _bmp_gray_lut(payload, hdr_size, bits, clr_used)
        rows = np.frombuffer(payload, np.uint8, row_bytes * h, data_offset).reshape(
            h, row_bytes
        )
        if bits == 1:
            idx = np.unpackbits(rows, axis=1)[:, :w]
        else:
            nibs = np.empty((h, row_bytes * 2), np.uint8)
            nibs[:, 0::2] = rows >> 4
            nibs[:, 1::2] = rows & 0xF
            idx = nibs[:, :w]
        px = gray_lut[idx]
    elif bits == 8:
        row_bytes = (w + 3) & ~3
        gray_lut = _bmp_gray_lut(payload, hdr_size, 8, clr_used)
        rows = np.frombuffer(payload, np.uint8, row_bytes * h, data_offset)
        px = gray_lut[rows.reshape(h, row_bytes)[:, :w]]
    elif bits == 16:
        # BI_RGB 16 is XRGB1555; 5-bit channels scale by 255/31
        row_bytes = (w * 2 + 3) & ~3
        rows = np.frombuffer(payload, np.uint8, row_bytes * h, data_offset).reshape(
            h, row_bytes
        )
        v = rows[:, : w * 2].copy().view("<u2").reshape(h, w)
        r = ((v >> 10) & 31) * 255 // 31
        g = ((v >> 5) & 31) * 255 // 31
        b = (v & 31) * 255 // 31
        px = ((r + g + b) / 3.0).round().astype(np.uint8)
    elif bits == 32:
        rows = np.frombuffer(payload, np.uint8, w * 4 * h, data_offset)
        bgrx = rows.reshape(h, w, 4)
        px = bgrx[:, :, :3].mean(axis=2).round().astype(np.uint8)
    else:
        row_bytes = (w * 3 + 3) & ~3
        rows = np.frombuffer(payload, np.uint8, row_bytes * h, data_offset)
        bgr = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
        px = bgr.mean(axis=2).round().astype(np.uint8)  # luminance as channel mean
    if not top_down:
        px = px[::-1]
    return "image", {"width": w, "height": h, "pixels": px.ravel()}


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE. ``samples`` is int16."""
    samples = np.asarray(samples, dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _build_ulaw_table() -> np.ndarray:
    """G.711 mu-law byte -> linear int16, the CCITT reference expansion
    (complement, then ``(((u&0xF)<<3)+0x84) << seg`` minus the 0x84 bias).
    Table-driven so the data chunk decodes as one numpy gather."""
    u = np.arange(256, dtype=np.int32) ^ 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _build_alaw_table() -> np.ndarray:
    """G.711 A-law byte -> linear int16 (xor 0x55, segment expansion;
    sign bit SET means positive in A-law, unlike mu-law)."""
    a = np.arange(256, dtype=np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)))
    return np.where(a & 0x80, t, -t).astype(np.int16)


_ULAW_TABLE = _build_ulaw_table()
_ALAW_TABLE = _build_alaw_table()

# IMA/DVI ADPCM quantizer step table (89 entries) and index adjustments —
# the published IMA reference constants (same constants CPython's audioop
# ships; the tests cross-validate our decode against that independent C
# implementation nibble-for-nibble).
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int32)


def _ima_decode_blocks(blocks: np.ndarray, n_channels: int) -> np.ndarray:
    """Decode WAV-IMA ADPCM blocks -> int16 samples, vectorized ACROSS
    blocks and channels (the quantizer feedback loop is inherently
    sequential along the sample axis, so the Python loop runs
    samples-per-block times over ``(n_blocks, n_channels)`` numpy lanes —
    long files cost the same loop depth as one block).

    ``blocks`` is ``(n_blocks, block_align)`` uint8. Each block: per
    channel a 4-byte header (int16 predictor = the block's FIRST output
    sample, uint8 step index, reserved), then 4-byte nibble groups
    interleaved by channel, LOW nibble first (the RIFF layout; audioop's
    raw DVI stream is high-first — the tests swap when comparing).
    Returns ``(n_blocks, n_channels, samples_per_block)``.
    """
    nb = blocks.shape[0]
    if nb == 1 and n_channels == 1:
        # Single-lane decode (one short mono clip): the numpy per-step
        # overhead dominates at lane count 1 (~10 array ops per sample on
        # scalars), so run the quantizer as plain int arithmetic —
        # measured ~10x faster on the 300-sample clips audio corpora are
        # full of. Bit-identical by construction (same int ops).
        return _ima_decode_block_scalar(blocks[0])[None, None, :]
    hdr = blocks[:, : 4 * n_channels].reshape(nb, n_channels, 4)
    pred = hdr[:, :, 0].astype(np.int32) | (hdr[:, :, 1].astype(np.int32) << 8)
    pred = np.where(pred >= 0x8000, pred - 0x10000, pred)
    index = np.clip(hdr[:, :, 2].astype(np.int32), 0, 88)
    data = blocks[:, 4 * n_channels :]
    n_groups = data.shape[1] // (4 * n_channels)
    g = data[:, : n_groups * 4 * n_channels].reshape(nb, n_groups, n_channels, 4)
    nib = np.empty((nb, n_groups, n_channels, 8), dtype=np.uint8)
    nib[..., 0::2] = g & 0x0F
    nib[..., 1::2] = g >> 4
    nib = nib.transpose(0, 2, 1, 3).reshape(nb, n_channels, n_groups * 8)
    n_steps = nib.shape[2]
    out = np.empty((nb, n_channels, 1 + n_steps), dtype=np.int16)
    out[:, :, 0] = pred.astype(np.int16)
    for s in range(n_steps):
        d = nib[:, :, s].astype(np.int32)
        step = _IMA_STEPS[index]
        diff = (step >> 3) + np.where(d & 4, step, 0)
        diff += np.where(d & 2, step >> 1, 0) + np.where(d & 1, step >> 2, 0)
        pred = np.clip(np.where(d & 8, pred - diff, pred + diff), -32768, 32767)
        index = np.clip(index + _IMA_INDEX_ADJ[d], 0, 88)
        out[:, :, s + 1] = pred.astype(np.int16)
    return out


_IMA_STEPS_PY = [int(s) for s in _IMA_STEPS]
_IMA_INDEX_ADJ_PY = [int(a) for a in _IMA_INDEX_ADJ]


def _ima_decode_block_scalar(block: np.ndarray) -> np.ndarray:
    """One mono block as a plain-Python loop (see the single-lane fast
    path in :func:`_ima_decode_blocks` for why)."""
    bb = block.tobytes()
    pred = struct.unpack_from("<h", bb, 0)[0]
    index = min(max(bb[2], 0), 88)
    out = [pred]
    steps, adj = _IMA_STEPS_PY, _IMA_INDEX_ADJ_PY
    for byte in bb[4:]:
        for d in (byte & 0x0F, byte >> 4):
            step = steps[index]
            diff = step >> 3
            if d & 4:
                diff += step
            if d & 2:
                diff += step >> 1
            if d & 1:
                diff += step >> 2
            pred = pred - diff if d & 8 else pred + diff
            pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
            index = index + adj[d]
            index = 0 if index < 0 else (88 if index > 88 else index)
            out.append(pred)
    return np.asarray(out, dtype=np.int16)


def encode_wav_ima(samples: np.ndarray, sample_rate: int, block_align: int = 256) -> bytes:
    """Mono WAV-IMA ADPCM (format 0x11) encoder — generation/test path
    (scalar feedback loop; the DECODER is the 100 TB surface). Standard
    layout: per block a (predictor, index) header holding the first
    sample, then low-nibble-first 4-bit codes; final partial block
    truncated at a 4-byte group boundary like mainstream writers."""
    samples = np.asarray(samples, dtype=np.int16)
    spb = (block_align - 4) * 2 + 1
    chunks: list[bytes] = []
    n_total = 0
    for b0 in range(0, len(samples), spb):
        blk = samples[b0 : b0 + spb]
        pred, index = int(blk[0]), 0
        codes: list[int] = []
        for x in blk[1:]:
            step = int(_IMA_STEPS[index])
            delta = int(x) - pred
            code = 0
            if delta < 0:
                code, delta = 8, -delta
            diff = step >> 3
            if delta >= step:
                code |= 4
                delta -= step
                diff += step
            if delta >= step >> 1:
                code |= 2
                delta -= step >> 1
                diff += step >> 1
            if delta >= step >> 2:
                code |= 1
                diff += step >> 2
            pred = max(-32768, min(32767, pred + (-diff if code & 8 else diff)))
            index = max(0, min(88, index + int(_IMA_INDEX_ADJ[code])))
            codes.append(code)
        while len(codes) % 8:  # pad to a whole 4-byte group
            codes.append(0)
        packed = bytes(
            (codes[i] & 0x0F) | (codes[i + 1] << 4) for i in range(0, len(codes), 2)
        )
        chunks.append(struct.pack("<hBB", int(blk[0]), 0, 0) + packed)
        n_total += len(blk)
    data = b"".join(chunks)
    spb_out = spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        sample_rate * block_align // spb, block_align, 4, 2, spb_out,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, n_total)
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(payload: bytes) -> tuple[str, dict]:
    """RIFF/WAVE decode normalized to mono int16. Sample formats: PCM
    8-bit unsigned, 16/24/32-bit signed, IEEE float32/float64, G.711
    mu-law/A-law (formats 7/6 — telephony corpora), and IMA/DVI ADPCM
    (format 0x11, mono+stereo — the classic 4-bit compressed WAV);
    wider formats scale down to the int16 contract (24/32-bit by
    arithmetic shift, float by *32767)."""
    pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
    sample_rate = n_channels = None
    audio_format = bits = None
    block_align = fact_samples = None
    samples = None
    while pos + 8 <= min(end, len(payload)):
        chunk_id = bytes(payload[pos : pos + 4])
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if chunk_id == b"fmt ":
            audio_format, n_channels, sample_rate = struct.unpack_from("<HHI", payload, pos + 8)
            block_align, bits = struct.unpack_from("<HH", payload, pos + 20)
            if audio_format == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real
                # format is the first 2 bytes of the SubFormat GUID
                audio_format = struct.unpack_from("<H", payload, pos + 32)[0]
            if (audio_format, bits) not in (
                (1, 8), (1, 16), (1, 24), (1, 32), (3, 32), (3, 64),
                (6, 8), (7, 8), (0x11, 4),
            ):
                raise NotImplementedError(
                    f"WAV format {audio_format}/{bits}-bit unsupported "
                    "(PCM 8/16/24/32, float 32/64, G.711 mu-law/A-law and "
                    "IMA ADPCM decode natively)"
                )
        elif chunk_id == b"fact":
            fact_samples = struct.unpack_from("<I", payload, pos + 8)[0]
        elif chunk_id == b"data":
            if n_channels is None:
                raise ValueError("WAV data chunk before fmt chunk")
            if audio_format == 0x11:  # IMA ADPCM: block-structured nibbles
                ba = block_align if block_align else 4 * n_channels + 4
                raw8 = np.frombuffer(payload, np.uint8, min(size, len(payload) - pos - 8), pos + 8)
                n_full = raw8.size // ba
                parts = []
                if n_full:
                    parts.append(_ima_decode_blocks(raw8[: n_full * ba].reshape(n_full, ba), n_channels))
                tail = raw8[n_full * ba :]
                if tail.size >= 4 * n_channels and tail.size > 0:  # short block
                    parts.append(_ima_decode_blocks(tail.reshape(1, -1), n_channels))
                if not parts:
                    raise ValueError("IMA ADPCM data smaller than one block header")
                # (blocks, ch, spb) -> mono int16 in block-sample order
                chans = [
                    np.concatenate([p[:, c, :].ravel() for p in parts])
                    for c in range(n_channels)
                ]
                raw = (
                    chans[0]
                    if n_channels == 1
                    else np.stack(chans, axis=1).mean(axis=1).round().astype(np.int16)
                )
                if fact_samples is not None:  # writers pad the last group
                    raw = raw[:fact_samples]
                samples = raw
                pos += 8 + size + (size & 1)
                continue
            if audio_format in (6, 7):  # G.711 A-law / mu-law
                u8 = np.frombuffer(payload, np.uint8, size, pos + 8)
                raw = (_ALAW_TABLE if audio_format == 6 else _ULAW_TABLE)[u8]
            elif audio_format == 3:  # IEEE float
                dt = "<f4" if bits == 32 else "<f8"
                fl = np.frombuffer(payload, dt, size // (bits // 8), pos + 8)
                raw = np.clip(np.round(fl * 32767.0), -32768, 32767).astype(np.int16)
            elif bits == 8:  # unsigned with 128 bias
                u8 = np.frombuffer(payload, np.uint8, size, pos + 8)
                raw = ((u8.astype(np.int16) - 128) << 8).astype(np.int16)
            elif bits == 16:
                raw = np.frombuffer(payload, "<i2", size // 2, pos + 8)
            elif bits == 24:
                b = np.frombuffer(payload, np.uint8, size // 3 * 3, pos + 8)
                tri = b.reshape(-1, 3).astype(np.int32)
                val = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
                val = np.where(val >= 1 << 23, val - (1 << 24), val)
                raw = (val >> 8).astype(np.int16)
            else:  # 32-bit PCM
                i32 = np.frombuffer(payload, "<i4", size // 4, pos + 8)
                raw = (i32 >> 16).astype(np.int16)
            if n_channels > 1:  # downmix interleaved channels to mono
                raw = raw[: raw.size // n_channels * n_channels]
                raw = raw.reshape(-1, n_channels).mean(axis=1).round().astype(np.int16)
            samples = raw
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if samples is None:
        raise ValueError("WAV without a data chunk")
    return "audio", {"sample_rate": sample_rate, "samples": samples}


def _decode_payload(payload: bytes) -> tuple[str, dict]:
    if payload is None:
        return None, None
    magic = bytes(payload[:4])
    if magic == _IMG_MAGIC:
        w, h = struct.unpack("<II", bytes(payload[4:12]))
        px = np.frombuffer(payload, dtype=np.uint8, offset=12, count=w * h)
        return "image", {"width": w, "height": h, "pixels": px}
    if magic == _AUD_MAGIC:
        sr, n = struct.unpack("<II", bytes(payload[4:12]))
        samples = np.frombuffer(payload, dtype=np.int16, offset=12, count=n)
        return "audio", {"sample_rate": sr, "samples": samples}
    if magic == _VID_MAGIC:
        (nf,) = struct.unpack("<I", bytes(payload[4:8]))
        return "video", {"n_frames": nf, "frames": bytes(payload[8:])}
    if magic[:2] == b"BM":
        return _decode_bmp(bytes(payload))
    if magic == b"RIFF" and bytes(payload[8:12]) == b"WAVE":
        return _decode_wav(bytes(payload))
    if magic[:2] == b"\xff\xd8":  # JPEG SOI
        from .jpeg import decode_jpeg

        px = decode_jpeg(bytes(payload))
        h, w = px.shape[:2]
        if px.ndim == 3:  # color: stats/resize operate on luminance
            px = px.mean(axis=2).round().astype(np.uint8)
        return "image", {"width": w, "height": h, "pixels": px.ravel()}
    if magic == b"\x89PNG":
        from .png import decode_png

        px = decode_png(bytes(payload))
        h, w = px.shape[:2]
        if px.ndim == 3:
            px = px.mean(axis=2).round().astype(np.uint8)
        return "image", {"width": w, "height": h, "pixels": px.ravel()}
    if magic[:3] == b"GIF":
        from .gif import decode_gif

        frames, delays = decode_gif(bytes(payload))
        if len(frames) == 1:  # static GIF behaves as an image
            px = frames[0].mean(axis=2).round().astype(np.uint8)
            h, w = px.shape
            return "image", {"width": w, "height": h, "pixels": px.ravel()}
        return "video", {
            "n_frames": len(frames),
            "frame_list": frames,
            "delays": delays,
        }
    # Remaining compressed formats (MP3/H.264) would be handled here:
    raise NotImplementedError(
        "decoding MP3/H.264 media requires librosa/ffmpeg, which are not "
        f"installed; unknown magic {magic!r}"
    )


# ---- Spark-side operators ----


def _map_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    kind: str,
    value_fields: list[StructField],
    kernel: Callable[[dict], tuple],
) -> DataFrame:
    """Per-payload kernel over mapInPandas: decode each payload, require
    ``kind``, and emit ``(id_col, *kernel(decoded), ok='ok')``. The id
    column keeps the caller's name and type (a doc_id-keyed corpus works
    unchanged).

    Errors are captured per row: NULL values and ``ok`` = the error class
    name, never thrown across the batch — one corrupt file must not kill a
    100 TB job. Value columns are built as object arrays so a NULL beside
    a 64-bit hash does not turn the column into float64 (which rounds
    every other hash in the batch)."""
    names = [f.name for f in value_fields]

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[payload_col]:
                try:
                    got, d = _decode_payload(payload)
                    if got != kind:
                        raise ValueError(f"not {kind}: {got}")
                    rows.append((*kernel(d), "ok"))
                except Exception as e:  # captured, not raised
                    rows.append((*[None] * len(names), type(e).__name__))
            out = pd.DataFrame(rows, columns=names + ["ok"], dtype=object)
            out.insert(0, id_col, pdf[id_col].to_numpy())
            yield out

    ok = StructField("ok", StringType())  # 'ok' | error class name
    return df.mapInPandas(_batches, StructType([df.schema[id_col], *value_fields, ok]))


DECODED_IMAGE_SCHEMA = StructType(  # the default media_id-keyed shape
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_pixel", FloatType()),
        StructField("ok", StringType()),  # 'ok' | error class name
    ]
)


def decode_images(df: DataFrame, id_col: str = "media_id", payload_col: str = "payload") -> DataFrame:
    """Decode image payloads to (id, width, height, mean pixel, ok) via
    mapInPandas; the id column keeps the caller's name and type, and a
    failed decode yields NULLs with its error class in ``ok``."""
    return _map_payloads(
        df, id_col, payload_col, "image", DECODED_IMAGE_SCHEMA.fields[1:-1],
        lambda d: (d["width"], d["height"], float(d["pixels"].mean())),
    )


def resize_images(
    df: DataFrame, new_width: int, new_height: int, payload_col: str = "payload"
) -> DataFrame:
    """Re-encode every image payload at new dimensions (nearest-neighbor on
    the toy codec; a real pipeline swaps in PIL.Image.resize here)."""
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != payload_col]
        + [StructField(payload_col, BinaryType())]
    )
    other_cols = [f.name for f in df.schema.fields if f.name != payload_col]

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = []
            for payload in pdf[payload_col]:
                kind, d = _decode_payload(payload)
                if kind != "image":
                    raise ValueError(f"not an image: {kind}")
                px = d["pixels"].reshape(d["height"], d["width"])
                ys = (np.linspace(0, d["height"] - 1, new_height)).astype(int)
                xs = (np.linspace(0, d["width"] - 1, new_width)).astype(int)
                small = px[np.ix_(ys, xs)]
                if bytes(payload[:2]) == b"BM":  # format-preserving
                    resized.append(encode_bmp(small))
                elif bytes(payload[:2]) == b"\xff\xd8":
                    from .jpeg import encode_jpeg

                    resized.append(encode_jpeg(small))
                elif bytes(payload[:4]) == b"\x89PNG":
                    from .png import encode_png

                    resized.append(encode_png(small))
                else:
                    resized.append(
                        _IMG_MAGIC
                        + struct.pack("<II", new_width, new_height)
                        + small.ravel().tobytes()
                    )
            out = pdf[other_cols].copy()
            out[payload_col] = resized
            yield out

    return df.mapInPandas(_batches, out_schema)


def extract_byte_features(
    df: DataFrame, payload_col: str = "payload", n_bins: int = 16
) -> DataFrame:
    """Append a normalized byte-histogram feature vector (array<float>) —
    a real feature extractor (CLIP/wav2vec) drops into the same shape."""
    out_schema = StructType(
        df.schema.fields + [StructField("features", ArrayType(FloatType()))]
    )

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[payload_col]:
                if payload is None:
                    feats.append(None)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
                total = hist.sum() or 1
                feats.append((hist / total).astype(np.float32).tolist())
            out = pdf.copy()
            out["features"] = feats
            yield out

    return df.mapInPandas(_batches, out_schema)


def sample_video_frames(
    df: DataFrame,
    every_nth: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
    frame_bytes: int = 64,
) -> DataFrame:
    """Explode video payloads into sampled frame rows (one row per kept
    frame) — the fan-out shape of real frame extraction, with deterministic
    fixed-size toy frames."""
    out_schema = StructType(
        [
            StructField(id_col, StringType()),
            StructField("frame_index", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                kind, d = _decode_payload(payload)
                if kind != "video":
                    raise ValueError(f"not a video: {kind}")
                for i in range(0, d["n_frames"], every_nth):
                    ids.append(mid)
                    idxs.append(i)
                    if "frame_list" in d:  # real container (GIF): re-encode
                        from .png import encode_png

                        frames.append(encode_png(d["frame_list"][i]))
                    else:  # toy SVID: fixed-size raw frame slices
                        frames.append(
                            d["frames"][i * frame_bytes : (i + 1) * frame_bytes]
                        )
            yield pd.DataFrame({id_col: ids, "frame_index": idxs, "frame": frames})

    return df.mapInPandas(_batches, out_schema)


def generate_media(
    spark,
    n: int,
    modality: str = "image",
    seed: int = 42,
    partitions: int | None = None,
    media_format: str | None = None,
) -> DataFrame:
    """Deterministic media table: (media_id, metadata struct, payload).
    Distributed via mapInPandas over spark.range — no driver-side bytes.
    ``media_format``: image -> ``simg`` (toy, default) or ``bmp`` (real
    8-bit BMP); audio -> ``saud`` (toy, default) or ``wav`` (real PCM16)."""
    rng_base = seed

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "metadata": [], "payload": []}
            for i in pdf["id"]:
                i = int(i)
                if modality == "image":
                    w, h = 16 + (i % 17), 16 + (i % 13)
                    if media_format == "bmp":
                        rng = np.random.default_rng(rng_base + i)
                        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
                        payload, fmt = encode_bmp(px), "bmp"
                    elif media_format == "jpeg":
                        from .jpeg import encode_jpeg

                        rng = np.random.default_rng(rng_base + i)
                        # smooth ramp + mild noise: representative of real
                        # photos (pure noise defeats any DCT codec)
                        px = np.clip(
                            np.add.outer(np.arange(h), np.arange(w)) * 3 % 256
                            + rng.integers(-12, 12, size=(h, w)),
                            0, 255,
                        ).astype(np.uint8)
                        payload, fmt = encode_jpeg(px), "jpeg"
                    elif media_format == "png":
                        from .png import encode_png

                        rng = np.random.default_rng(rng_base + i)
                        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
                        payload, fmt = encode_png(px), "png"
                    else:
                        payload, fmt = encode_image(w, h, rng_base + i), "simg"
                    meta = {"modality": "image", "format": fmt, "width": w,
                            "height": h, "sample_rate": None, "n_frames": None}
                elif modality == "audio":
                    sr, ns = 16000, 256 + (i % 64)
                    rng = np.random.default_rng(rng_base + i)
                    samples = rng.integers(-32768, 32767, size=ns, dtype=np.int16)
                    if media_format == "wav":
                        payload, fmt = encode_wav(samples, sr), "wav"
                    else:
                        payload = _AUD_MAGIC + struct.pack("<II", sr, ns) + samples.tobytes()
                        fmt = "saud"
                    meta = {"modality": "audio", "format": fmt, "width": None,
                            "height": None, "sample_rate": sr, "n_frames": None}
                else:
                    nf = 4 + (i % 9)
                    rng = np.random.default_rng(rng_base + i)
                    if media_format == "gif":
                        from .gif import encode_gif

                        fr = [
                            rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
                            for _ in range(nf)
                        ]
                        payload, fmt = encode_gif(fr, delay_cs=4), "gif"
                    else:
                        frames = rng.integers(
                            0, 256, size=nf * 64, dtype=np.uint8
                        ).tobytes()
                        payload = _VID_MAGIC + struct.pack("<I", nf) + frames
                        fmt = "svid"
                    meta = {"modality": "video", "format": fmt, "width": None,
                            "height": None, "sample_rate": None, "n_frames": nf}
                rows["media_id"].append(f"{modality}-{i}")
                rows["metadata"].append(meta)
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("metadata", MEDIA_METADATA_SCHEMA),
            StructField("payload", BinaryType()),
        ]
    )
    base = spark.range(n)
    if partitions:
        base = base.repartition(partitions)
    return base.mapInPandas(_gen, schema)
