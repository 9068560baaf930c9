"""Wall-clock of the multimodal operator family: decode, resize, feature
extraction, perceptual image hashing, audio fingerprinting, and the
near-dup pair joins, over generated BMP/WAV media at a configurable item
count. Items/sec is the number that matters — these are the mapInPandas
(non-codegen) paths, and their throughput bounds what a 100 TB multimodal
ingest can push per core.

Usage: python scripts/perf_multimodal.py [out.json] [n_items] [n_reps]
"""

from __future__ import annotations

import json
import sys
import time

import _repo  # noqa: F401  (puts the repo on sys.path and PYTHONPATH)

from ecom_snowflake_duckdb_migration_spark import multimodal as mm
from ecom_snowflake_duckdb_migration_spark.session import get_spark


def _progressive_payloads(spark, n: int, seed: int = 7) -> list[bytes]:
    """n REAL progressive JPEG payloads: random RGB -> our baseline
    encoder -> JVM ImageIO transcode with MODE_DEFAULT progression
    (libjpeg's standard 10-scan script). Driver-side; ~ms per item."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal.jpeg import encode_jpeg

    jvm = spark._jvm
    rng = np.random.RandomState(seed)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    out = []
    for _ in range(n):
        h = int(rng.randint(16, 33))
        w = int(rng.randint(16, 33))
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        bimg = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(encode_jpeg(px))
        )
        bos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(bimg, None, None), param)
        ios.close()
        out.append(bytes(bos.toByteArray()))
    writer.dispose()
    return out


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PERF_MULTIMODAL.json"
    n_items = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    n_reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark()
    par = spark.sparkContext.defaultParallelism
    imgs = mm.generate_media(
        spark, n_items, "image", partitions=par, media_format="bmp"
    ).localCheckpoint(eager=True)
    audio = mm.generate_media(
        spark, n_items, "audio", partitions=par, media_format="wav"
    ).localCheckpoint(eager=True)

    ops = {
        "decode_images": lambda: mm.decode_images(imgs),
        "resize_images": lambda: mm.resize_images(imgs, 8, 8),
        "byte_features": lambda: mm.extract_byte_features(imgs),
        "image_hashes": lambda: mm.image_hashes(imgs),
        "image_near_pairs": lambda: mm.image_near_pairs(imgs, max_hamming=3),
        "audio_hashes": lambda: mm.audio_hashes(audio),
        "audio_near_pairs": lambda: mm.audio_near_pairs(audio, max_hamming=3),
    }
    # progressive JPEG decode: real SOF2 multi-scan streams transcoded by
    # the JVM's writer from our baseline encodes (the JVM runs libjpeg's
    # standard progressive script), decoded by the pure-numpy SOF2 path
    n_prog = min(n_items, 1000)
    prog = _progressive_payloads(spark, n_prog)
    prog_df = spark.createDataFrame(
        [(f"prog-{i}", p) for i, p in enumerate(prog)],
        "media_id STRING, payload BINARY",
    ).repartition(par).localCheckpoint(eager=True)

    bad = (
        mm.decode_images(prog_df).filter("ok <> 'ok'").count()
    )
    if bad:
        raise SystemExit(f"{bad}/{n_prog} progressive payloads failed to decode")

    # compressed audio: transcode the PCM WAVs to IMA ADPCM (4-bit) and
    # time the fingerprint op over the compressed payloads — the decode
    # now includes the vectorized quantizer feedback loop
    def _to_adpcm(batches):
        import pandas as pd

        from ecom_snowflake_duckdb_migration_spark.multimodal.columns import (
            _decode_payload,
            encode_wav_ima,
        )

        for pdf in batches:
            payloads = [
                encode_wav_ima(
                    (d := _decode_payload(p)[1])["samples"], d["sample_rate"]
                )
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    adpcm = audio.select("media_id", "payload").mapInPandas(
        _to_adpcm, "media_id STRING, payload BINARY"
    ).localCheckpoint(eager=True)
    bad_a = mm.audio_hashes(adpcm).filter("ok <> 'ok'").count()
    if bad_a:
        raise SystemExit(f"{bad_a}/{n_items} ADPCM payloads failed to decode")

    results = {}
    sized = dict(
        ops,
        decode_progressive_jpeg=lambda: mm.decode_images(prog_df),
        audio_hashes_adpcm=lambda: mm.audio_hashes(adpcm),
    )
    for name, fn in sized.items():
        count = n_prog if name == "decode_progressive_jpeg" else n_items
        fn().count()  # warm
        times = []
        for _ in range(n_reps):
            t0 = time.perf_counter()
            n = fn().count()
            times.append(time.perf_counter() - t0)
        best = min(times)
        results[name] = {
            "rows": n,
            "best_sec": round(best, 4),
            "items_per_sec": round(count / best),
        }
        print(f"{name}: {results[name]}", flush=True)
    with open(out_path, "w") as f:
        json.dump(
            {
                "n_items": n_items,
                "n_reps": n_reps,
                "parallelism": par,
                "note": "generated BMP (16-32px) / WAV (256-320 samples) media; "
                "items_per_sec = n_items / best_sec (pair ops: rows = pairs "
                "found among generated non-duplicate media, expected ~0); "
                "audio_hashes_adpcm = same fingerprints over IMA-ADPCM "
                "transcodes of the PCM WAVs (4-bit compressed decode path); "
                "decode_progressive_jpeg: REAL SOF2 multi-scan streams "
                "(JVM-transcoded from baseline encodes, libjpeg standard "
                "progression), every payload verified ok before timing",
                "entries": results,
            },
            f,
            indent=2,
        )
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
