"""Multimodal plumbing tests: schema, batch shape, error capture,
partition preservation, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark import multimodal as mm


@pytest.fixture(scope="module")
def images(spark):
    return mm.generate_media(spark, 40, "image", partitions=4).cache()


def test_generate_schema_and_determinism(spark, images):
    assert [f.name for f in images.schema.fields] == ["media_id", "metadata", "payload"]
    assert images.schema["metadata"].dataType == mm.MEDIA_METADATA_SCHEMA
    again = mm.generate_media(spark, 40, "image", partitions=2)
    a = {r.media_id: bytes(r.payload) for r in images.collect()}
    b = {r.media_id: bytes(r.payload) for r in again.collect()}
    assert a == b  # content independent of partitioning


def test_decode_images(images):
    decoded = mm.decode_images(images)
    rows = decoded.collect()
    assert len(rows) == 40
    assert all(r.ok == "ok" for r in rows)
    meta = {r.media_id: r for r in images.select("media_id", "metadata.*").collect()}
    for r in rows:
        assert r.width == meta[r.media_id].width
        assert r.height == meta[r.media_id].height
        assert 0.0 <= r.mean_pixel <= 255.0


def test_decode_captures_corrupt_rows(spark, images):
    corrupt = images.withColumn(
        "payload",
        F.when(F.col("media_id") == "image-3", F.lit(b"JPEG-not-supported")).otherwise(
            F.col("payload")
        ),
    )
    rows = {r.media_id: r for r in mm.decode_images(corrupt).collect()}
    assert rows["image-3"].ok == "NotImplementedError"
    assert rows["image-3"].width is None
    assert sum(1 for r in rows.values() if r.ok == "ok") == 39


def test_resize_roundtrip(images):
    resized = mm.resize_images(images, 8, 8)
    assert resized.schema["payload"].dataType.typeName() == "binary"
    decoded = mm.decode_images(resized)
    rows = decoded.collect()
    assert all(r.width == 8 and r.height == 8 and r.ok == "ok" for r in rows)


def test_byte_features_shape(images):
    feats = mm.extract_byte_features(images, n_bins=16)
    row = feats.select("features").first()
    assert len(row.features) == 16
    assert abs(sum(row.features) - 1.0) < 1e-5


def test_feature_pipeline_preserves_partitioning(images):
    # mapInPandas must not introduce a shuffle: partition count is preserved.
    feats = mm.extract_byte_features(images)
    assert feats.rdd.getNumPartitions() == images.rdd.getNumPartitions()


def test_video_frame_sampling(spark):
    videos = mm.generate_media(spark, 10, "video")
    frames = mm.sample_video_frames(videos, every_nth=2)
    got = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    nf = {r.media_id: r.n_frames for r in videos.select("media_id", "metadata.n_frames").collect()}
    for r in got:
        expect = (nf[r.media_id] + 1) // 2
        assert r.n == expect
    f0 = frames.filter(F.col("frame_index") == 0).first()
    assert len(bytes(f0.frame)) == 64


def test_audio_features(spark):
    audio = mm.generate_media(spark, 12, "audio")
    feats = mm.extract_byte_features(audio)
    assert feats.count() == 12
    assert all(len(r.features) == 16 for r in feats.select("features").collect())


# ---- real codecs: BMP and WAV ----


def test_bmp_roundtrip_through_spark(spark):
    """Real-format path end to end: 8-bit BMP payloads decode to the exact
    generated pixels (dims + mean), through the same mapInPandas plumbing."""
    import numpy as np

    imgs = mm.generate_media(spark, 30, "image", seed=7, partitions=3, media_format="bmp")
    assert {r.metadata.format for r in imgs.select("metadata").collect()} == {"bmp"}
    decoded = mm.decode_images(imgs)
    got = {r.media_id: r for r in decoded.collect()}
    assert all(r.ok == "ok" for r in got.values())
    for i in range(30):
        w, h = 16 + (i % 17), 16 + (i % 13)
        rng = np.random.default_rng(7 + i)
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        r = got[f"image-{i}"]
        assert (r.width, r.height) == (w, h)
        assert abs(r.mean_pixel - float(px.mean())) < 1e-4


def test_bmp_header_is_spec_conformant():
    """Independent header parse (not our decoder): magic, offsets, sizes,
    bottom-up padded rows — so any standards-compliant reader accepts it."""
    import struct

    import numpy as np

    px = np.arange(35, dtype=np.uint8).reshape(5, 7)
    payload = mm.encode_bmp(px)
    assert payload[:2] == b"BM"
    file_size, _, _, data_offset = struct.unpack_from("<IHHI", payload, 2)
    assert file_size == len(payload)
    assert data_offset == 14 + 40 + 1024
    hdr, w, h, planes, bits, comp = struct.unpack_from("<IiiHHI", payload, 14)
    assert (hdr, w, h, planes, bits, comp) == (40, 7, 5, 1, 8, 0)
    row_bytes = (7 + 3) & ~3
    # bottom row of the image is stored first
    first_stored = np.frombuffer(payload, np.uint8, 7, data_offset)
    assert list(first_stored) == list(px[-1])
    assert len(payload) == data_offset + row_bytes * 5


def test_bmp_24bit_decode():
    """24-bit BGR BMPs from third-party writers decode too (channel-mean
    luminance)."""
    import struct

    import numpy as np

    w, h = 3, 2
    row_bytes = (w * 3 + 3) & ~3
    bgr = np.zeros((h, row_bytes), dtype=np.uint8)
    # image rows (top->bottom): [[10,20,40],[7,7,7],[0,255,0]] as (B,G,R) pixels
    img = np.array([[[10, 20, 40], [100, 110, 130], [1, 2, 3]],
                    [[7, 7, 7], [0, 255, 0], [255, 0, 255]]], dtype=np.uint8)
    bgr[0, : w * 3] = img[-1].ravel()  # bottom-up storage
    bgr[1, : w * 3] = img[0].ravel()
    data_offset = 14 + 40
    body = bgr.tobytes()
    payload = (
        b"BM" + struct.pack("<IHHI", data_offset + len(body), 0, 0, data_offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    kind, d = mm.columns._decode_payload(payload)
    assert (kind, d["width"], d["height"]) == ("image", w, h)
    want = img.mean(axis=2).round().astype(np.uint8).ravel()
    assert list(d["pixels"]) == list(want)


def test_wav_roundtrip_and_stereo_downmix():
    import numpy as np

    samples = (np.sin(np.linspace(0, 20, 500)) * 20000).astype(np.int16)
    kind, d = mm.columns._decode_payload(mm.encode_wav(samples, 22050))
    assert kind == "audio"
    assert d["sample_rate"] == 22050
    assert np.array_equal(d["samples"], samples)

    # hand-built stereo PCM16: decoder downmixes interleaved channels
    import struct

    stereo = np.array([100, 200, -100, 300, 0, -50], dtype="<i2")  # L,R pairs
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", stereo.nbytes) + stereo.tobytes())
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    kind, d = mm.columns._decode_payload(payload)
    assert list(d["samples"]) == [150, 100, -25]


def test_resize_preserves_bmp_format(spark):
    imgs = mm.generate_media(spark, 6, "image", seed=3, media_format="bmp")
    small = mm.resize_images(imgs, 8, 8)
    rows = mm.decode_images(small).collect()
    assert all((r.width, r.height, r.ok) == (8, 8, "ok") for r in rows)
    assert all(bytes(r.payload)[:2] == b"BM" for r in small.collect())


def test_compressed_formats_still_captured_as_unsupported(spark):
    """An MP3 payload reports NotImplementedError per row instead of
    killing the batch."""
    mp3ish = b"ID3\x04" + b"\x00" * 64
    df = spark.createDataFrame([("p1", bytearray(mp3ish))], "media_id string, payload binary")
    row = mm.decode_images(df).collect()[0]
    assert row.ok == "NotImplementedError"


# ---- baseline JPEG codec (multimodal/jpeg.py) ----


def _test_image(h, w, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    ramp = np.add.outer(np.arange(h), np.arange(w)) * 3 % 256
    return np.clip(ramp + rng.integers(-15, 15, size=(h, w)), 0, 255).astype(np.uint8)


def test_jpeg_roundtrip_is_exact_vs_reference():
    """decode(encode(x)) must equal the encoder's own reconstruction
    byte-for-byte (deterministic round-trip oracle, not a tolerance)."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    for shape in [(8, 8), (16, 24), (17, 23), (1, 1), (9, 130)]:
        img = _test_image(*shape)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
        assert dec.shape == shape
        assert np.array_equal(dec, jpeg.reconstruct_reference(img))


def test_jpeg_quality_bound():
    """Lossy, but bounded: >=27 dB PSNR on ramp+noise content."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    img = _test_image(48, 64)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    mse = np.mean((dec.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 27


def test_jpeg_cross_validated_against_jvm_decoder(spark, tmp_path):
    """Independent-decoder check: the JVM's javax.imageio must read our
    stream to the same raster within +-1 (T.81 allows IDCT rounding to
    differ by one code between conforming decoders)."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    img = _test_image(24, 40)
    path = str(tmp_path / "x.jpg")
    with open(path, "wb") as f:
        f.write(jpeg.encode_jpeg(img))
    jvm = spark._jvm
    bimg = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    assert (bimg.getHeight(), bimg.getWidth()) == (24, 40)
    raster = bimg.getRaster()
    java_px = np.array(
        [[raster.getSample(x, y, 0) for x in range(40)] for y in range(24)],
        dtype=np.int64,
    )
    ours = jpeg.decode_jpeg(jpeg.encode_jpeg(img)).astype(np.int64)
    assert np.abs(java_px - ours).max() <= 1


def test_jpeg_through_spark_decode_and_resize(spark):
    imgs = mm.generate_media(spark, 12, "image", seed=5, media_format="jpeg")
    rows = sorted(
        mm.decode_images(imgs).collect(),
        key=lambda r: int(r.media_id.split("-")[1]),
    )
    assert all(r.ok == "ok" for r in rows)
    assert [(r.width, r.height) for r in rows] == [
        (16 + (i % 17), 16 + (i % 13)) for i in range(12)
    ]
    small = mm.resize_images(imgs, 8, 8)
    srows = mm.decode_images(small).collect()
    assert all((r.width, r.height, r.ok) == (8, 8, "ok") for r in srows)
    # format preserved: resized payloads are still JPEG
    assert all(bytes(r.payload)[:2] == b"\xff\xd8" for r in small.collect())


def test_jpeg_unsupported_modes_raise_named_errors():
    import struct as _s

    import numpy as np
    import pytest as _pt

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    img = _test_image(8, 8)
    data = bytearray(jpeg.encode_jpeg(img))
    # flip SOF0 -> SOF3 (lossless): still a named boundary (SOF2
    # progressive became a SUPPORTED mode in round 9)
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC3
    with _pt.raises(NotImplementedError, match="SOF3"):
        jpeg.decode_jpeg(bytes(data))
    # a baseline stream relabeled SOF2 is CORRUPT (its single scan codes
    # DC+AC together, illegal in progressive mode) -> ValueError, not a
    # silent misdecode
    data[i + 1] = 0xC2
    with _pt.raises(ValueError):
        jpeg.decode_jpeg(bytes(data))
    # truncated entropy stream -> ValueError, and captured per-row in Spark
    good = jpeg.encode_jpeg(img)
    with _pt.raises((ValueError, NotImplementedError)):
        jpeg.decode_jpeg(good[: len(good) // 2] )


def test_jpeg_roundtrip_property():
    """Property: for ANY uint8 image (including pure noise, flat fields,
    extreme values), decode(encode(x)) == encoder reconstruction exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        seed=st.integers(0, 2**31 - 1),
        mode=st.sampled_from(["noise", "flat", "ramp"]),
    )
    def check(h, w, seed, mode):
        rng = np.random.default_rng(seed)
        if mode == "noise":
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        elif mode == "flat":
            img = np.full((h, w), rng.integers(0, 256), dtype=np.uint8)
        else:
            img = (np.add.outer(np.arange(h), np.arange(w)) * 7 % 256).astype(np.uint8)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
        assert dec.shape == (h, w)
        assert np.array_equal(dec, jpeg.reconstruct_reference(img))

    check()


def test_jpeg_color_roundtrip_and_jvm_cross_validation(spark, tmp_path):
    """Color (YCbCr 4:4:4) path: exact vs encoder reconstruction, and the
    JVM's javax.imageio reads the stream to the same RGB within +-2 (Java
    uses integer-approximated color conversion)."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    rng = np.random.default_rng(3)
    h, w = 24, 40
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.add.outer(np.arange(h), np.arange(w)) * 5 % 256
    img[..., 1] = rng.integers(0, 256, size=(h, w)) // 4 + 60
    img[..., 2] = np.linspace(0, 255, w, dtype=int)[None, :]
    data = jpeg.encode_jpeg(img)
    dec = jpeg.decode_jpeg(data)
    assert dec.shape == (h, w, 3)
    assert np.array_equal(dec, jpeg.reconstruct_reference(img))
    path = str(tmp_path / "c.jpg")
    with open(path, "wb") as f:
        f.write(data)
    jvm = spark._jvm
    bimg = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    assert (bimg.getHeight(), bimg.getWidth()) == (h, w)
    java = np.zeros((h, w, 3), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            argb = bimg.getRGB(x, y)
            java[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    assert np.abs(java - dec.astype(np.int64)).max() <= 2


def test_jpeg_color_through_decode_images(spark):
    """Color JPEG payloads flow through the mapInPandas decode with
    luminance stats."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    img = np.zeros((12, 18, 3), dtype=np.uint8)
    img[..., 0] = 200
    img[..., 1] = 100
    img[..., 2] = 50
    df = spark.createDataFrame(
        [("c1", bytearray(jpeg.encode_jpeg(img)))], "media_id string, payload binary"
    )
    row = mm.decode_images(df).collect()[0]
    assert (row.width, row.height, row.ok) == (18, 12, "ok")
    # flat color image: luminance mean ~ mean of channel means
    assert abs(row.mean_pixel - (200 + 100 + 50) / 3) < 3


def test_jpeg_decodes_third_party_420_stream(spark, tmp_path):
    """The decoder reads a JPEG produced by a DIFFERENT encoder (the JVM's
    ImageIO, which writes YCbCr 4:2:0) — the practically-universal wild
    format. Tolerance vs Java's own decode covers the legitimate
    chroma-upsampling-filter difference (we replicate, libjpeg smooths)."""
    import struct as _s

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    jvm = spark._jvm
    h, w = 32, 48
    bimg = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
    for y in range(h):
        for x in range(w):
            bimg.setRGB(x, y, (((x * 5) % 256) << 16) | (((y * 7) % 256) << 8) | ((x + y) * 3) % 256)
    path = str(tmp_path / "java.jpg")
    jvm.javax.imageio.ImageIO.write(bimg, "jpg", jvm.java.io.File(path))
    with open(path, "rb") as f:
        data = f.read()
    # prove the fixture really is subsampled 4:2:0 (else this test is vacuous)
    pos = 2
    samplings = []
    while pos + 4 <= len(data):
        size = _s.unpack_from(">H", data, pos + 2)[0]
        if data[pos + 1] == 0xC0:
            body = data[pos + 4 : pos + 2 + size]
            samplings = [body[7 + 3 * ci] for ci in range(body[5])]
            break
        pos += 2 + size
    assert samplings == [0x22, 0x11, 0x11]
    ours = jpeg.decode_jpeg(data)
    assert ours.shape == (h, w, 3)
    bimg2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    java = np.zeros((h, w, 3), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            argb = bimg2.getRGB(x, y)
            java[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    diff = np.abs(java - ours.astype(np.int64))
    assert diff.mean() < 3
    assert diff.max() <= 16


def _write_progressive_jpeg(jvm, bimg, path: str) -> None:
    """Write ``bimg`` as a PROGRESSIVE JPEG via the JVM's own writer
    (libjpeg's standard multi-scan script: interleaved DC first, then
    spectral-selection AC bands with successive-approximation refinement
    passes) — a third-party fixture our encoder cannot produce."""
    writers = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg")
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
        jvm.java.io.File(path)
    )
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bimg, None, None), param)
    ios.close()
    writer.dispose()


def _jpeg_scan_info(data: bytes):
    """(sof_marker, n_scans) of a JPEG stream — walks marker segments,
    skipping entropy bytes after each SOS."""
    import struct as _s

    sof = None
    n_scans = 0
    pos = 2
    while pos + 4 <= len(data):
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        size = _s.unpack_from(">H", data, pos + 2)[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            sof = marker
        pos += 2 + size
        if marker == 0xDA:
            n_scans += 1
            while pos + 1 < len(data):
                if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF) \
                        and not (0xD0 <= data[pos + 1] <= 0xD7):
                    break
                pos += 1
    return sof, n_scans


def test_jpeg_progressive_color_cross_validated_against_jvm(spark, tmp_path):
    """Progressive (SOF2) color decode: the JVM writes its standard
    multi-scan progressive stream (DC + spectral AC bands + successive
    approximation); our decoder must reconstruct it to the same RGB the
    JVM's own reader produces, within the baseline tolerance (the only
    legitimate difference is the chroma upsampling filter)."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    jvm = spark._jvm
    h, w = 40, 56
    bimg = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
    # smooth wrap-free gradients (same family as the baseline 4:2:0
    # cross-validation test): the tolerance below is the chroma-
    # upsampling-filter difference (replication vs libjpeg triangle),
    # verified identical for a BASELINE encode of the same pixels —
    # sharp chroma edges widen that filter gap for both modes equally,
    # telling us nothing about progressive decode
    for y in range(h):
        for x in range(w):
            bimg.setRGB(x, y, ((x * 4) << 16) | ((y * 6) << 8)
                        | ((x + y) * 2))
    path = str(tmp_path / "prog.jpg")
    _write_progressive_jpeg(jvm, bimg, path)
    with open(path, "rb") as f:
        data = f.read()
    sof, n_scans = _jpeg_scan_info(data)
    assert sof == 0xC2 and n_scans > 3  # really progressive, really multi-scan
    ours = jpeg.decode_jpeg(data)
    assert ours.shape == (h, w, 3)
    bimg2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    java = np.zeros((h, w, 3), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            argb = bimg2.getRGB(x, y)
            java[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    diff = np.abs(java - ours.astype(np.int64))
    assert diff.mean() < 3
    assert diff.max() <= 16


def test_jpeg_progressive_grayscale_cross_validated_against_jvm(spark, tmp_path):
    """Progressive grayscale: single-component scans are all
    non-interleaved (component-grid walking, not MCU-grid) — decode must
    match the JVM reader near-exactly (no chroma filter in play; +-1 for
    IDCT rounding)."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    jvm = spark._jvm
    h, w = 24, 40
    bimg = jvm.java.awt.image.BufferedImage(w, h, 10)  # TYPE_BYTE_GRAY
    raster = bimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, (x * 7 + y * 3) % 256)
    path = str(tmp_path / "prog_gray.jpg")
    _write_progressive_jpeg(jvm, bimg, path)
    with open(path, "rb") as f:
        data = f.read()
    sof, n_scans = _jpeg_scan_info(data)
    assert sof == 0xC2 and n_scans > 1
    ours = jpeg.decode_jpeg(data)
    assert ours.shape == (h, w)
    bimg2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    raster2 = bimg2.getRaster()
    java = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            java[y, x] = raster2.getSample(x, y, 0)
    diff = np.abs(java - ours.astype(np.int64))
    assert diff.max() <= 1


def test_jpeg_restart_intervals(spark, tmp_path):
    """DRI/RSTn: encoder emits restart markers, decoder resets predictors
    at each; round-trip stays byte-exact and javax reads the stream."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import jpeg

    rng = np.random.default_rng(11)
    img = np.clip(
        (np.add.outer(np.arange(33), np.arange(47)) * 3 % 256).astype(int)
        + rng.integers(-15, 15, size=(33, 47)),
        0, 255,
    ).astype(np.uint8)
    cimg = np.stack([img, img[::-1], np.full_like(img, 90)], axis=-1)
    for ri in (2, 5):
        for im in (img, cimg):
            dec = jpeg.decode_jpeg(jpeg.encode_jpeg(im, restart_interval=ri))
            assert np.array_equal(dec, jpeg.reconstruct_reference(im))
    data = jpeg.encode_jpeg(cimg, restart_interval=3)
    assert b"\xff\xdd" in data and b"\xff\xd0" in data  # DRI + RST0 present
    path = str(tmp_path / "dri.jpg")
    with open(path, "wb") as f:
        f.write(data)
    jvm = spark._jvm
    bimg = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    assert (bimg.getHeight(), bimg.getWidth()) == (33, 47)


# ---- PNG codec (multimodal/png.py) ----


def test_png_lossless_roundtrip_property():
    """PNG is lossless: decode(encode(x)) == x exactly for any uint8 image."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    @settings(max_examples=20, deadline=None)
    @given(h=st.integers(1, 20), w=st.integers(1, 20), seed=st.integers(0, 2**31 - 1),
           color=st.booleans())
    def check(h, w, seed, color):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(png.decode_png(png.encode_png(img)), img)

    check()


def test_png_all_filter_types_reconstruct():
    """Hand-filter rows with each of the five PNG filters (Sub/Up/Average/
    Paeth use the spec's recurrences) and assert the decoder recovers the
    identical image — javax's encoder always picks filter 0, so foreign
    files alone would leave these paths untested."""
    import struct
    import zlib

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png as p

    rng = np.random.default_rng(9)
    h, w, bpp = 9, 11, 3
    img = np.clip(
        np.add.outer(np.arange(h) * 8, np.arange(w) * 5)[..., None]
        + rng.integers(0, 30, size=(h, w, 3)),
        0, 255,
    ).astype(np.uint8)
    raw = img.reshape(h, w * 3).astype(np.int32)

    def filtered_png(ftype):
        rows = []
        for y in range(h):
            row = raw[y]
            prev = raw[y - 1] if y else np.zeros_like(row)
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            if ftype == 0:
                f = row
            elif ftype == 1:
                f = (row - left) & 0xFF
            elif ftype == 2:
                f = (row - prev) & 0xFF
            elif ftype == 3:
                f = (row - ((left + prev) >> 1)) & 0xFF
            else:
                pr = left + prev - ul
                pa, pb, pc = np.abs(pr - left), np.abs(pr - prev), np.abs(pr - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
                f = (row - pred) & 0xFF
            rows.append(bytes([ftype]) + bytes(f.astype(np.uint8)))
        return (
            p._PNG_MAGIC
            + p._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + p._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + p._chunk(b"IEND", b"")
        )

    for ftype in range(5):
        assert np.array_equal(p.decode_png(filtered_png(ftype)), img), ftype


def test_png_cross_validated_with_jvm_both_directions(spark, tmp_path):
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    rng = np.random.default_rng(5)
    h, w = 16, 20
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    ours_path = str(tmp_path / "ours.png")
    with open(ours_path, "wb") as f:
        f.write(png.encode_png(img))
    jvm = spark._jvm
    bimg = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(ours_path))
    java = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            argb = bimg.getRGB(x, y)
            java[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    assert np.array_equal(java, img)  # javax reads ours exactly
    # and we read a javax-written PNG exactly
    bimg2 = jvm.java.awt.image.BufferedImage(w, h, 1)
    for y in range(h):
        for x in range(w):
            bimg2.setRGB(x, y, (int(img[y, x, 0]) << 16) | (int(img[y, x, 1]) << 8) | int(img[y, x, 2]))
    theirs_path = str(tmp_path / "java.png")
    jvm.javax.imageio.ImageIO.write(bimg2, "png", jvm.java.io.File(theirs_path))
    with open(theirs_path, "rb") as f:
        assert np.array_equal(png.decode_png(f.read()), img)


def test_png_adam7_interlace_roundtrip_and_jvm_cross_validation(spark, tmp_path):
    """Adam7: exact round-trips across shapes that exercise empty and
    partial passes (1x1 has six empty passes; 9x7 has ragged pass
    dimensions), the pass grid provably partitions every pixel exactly
    once, and the JVM's ImageIO decodes our interlaced streams to the
    source pixels — pinning the layout to the spec, not to this module's
    own reading of it."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    rng = np.random.default_rng(6)
    for shape in [(16, 16), (9, 7), (1, 1), (3, 19), (33, 17), (7, 5, 3), (16, 24, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(png.decode_png(png.encode_png(img, interlace=True)), img)

    for h, w in [(16, 16), (9, 7), (1, 1), (5, 3)]:
        cov = np.zeros((h, w), int)
        for x0, y0, xs, ys in png._ADAM7:
            cov[y0::ys, x0::xs] += 1
        assert (cov == 1).all()

    h, w = 19, 13
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    ours_path = str(tmp_path / "adam7.png")
    with open(ours_path, "wb") as f:
        f.write(png.encode_png(img, interlace=True))
    jvm = spark._jvm
    bimg = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(ours_path))
    java = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            argb = bimg.getRGB(x, y)
            java[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    assert np.array_equal(java, img)

    # interlace byte claiming Adam7 over a non-interlaced body fails loudly
    import struct
    import zlib

    bad = bytearray(png.encode_png(img))
    bad[8 + 8 + 12] = 1
    crc = zlib.crc32(b"IHDR" + bytes(bad[16 : 16 + 13])) & 0xFFFFFFFF
    bad[16 + 13 : 16 + 17] = struct.pack(">I", crc)
    with pytest.raises(ValueError):
        png.decode_png(bytes(bad))


def test_png_16bit_decode_and_jvm_cross_validation(spark, tmp_path):
    """16-bit PNG: filters operate at the byte level (spec 9.2) and
    samples downscale to the 8-bit contract via the top byte — pinned on
    hand-built filter-0 and Up-filtered streams, and on a genuinely
    foreign file: the JVM's ImageIO writing a TYPE_USHORT_GRAY image as
    a 16-bit PNG that our decoder must read back as value >> 8."""
    import struct
    import zlib

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    rng = np.random.default_rng(10)
    for nch, ct in [(1, 0), (3, 2)]:
        h, w = 11, 7
        samples = rng.integers(0, 65536, (h, w, nch), dtype=np.uint16)
        rows = np.frombuffer(samples.astype(">u2").tobytes(), np.uint8).reshape(
            h, w * nch * 2
        )
        body = np.concatenate([np.zeros((h, 1), np.uint8), rows], axis=1).tobytes()
        payload = (
            png._PNG_MAGIC
            + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, ct, 0, 0, 0))
            + png._chunk(b"IDAT", zlib.compress(body))
            + png._chunk(b"IEND", b"")
        )
        want = (samples >> 8).astype(np.uint8)
        got = png.decode_png(payload)
        assert np.array_equal(got, want[:, :, 0] if ct == 0 else want)

    h, w = 9, 6
    vals = rng.integers(0, 65536, (h, w), dtype=np.uint16)
    jvm = spark._jvm
    bimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_USHORT_GRAY
    )
    raster = bimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(vals[y, x]))
    path = str(tmp_path / "gray16.png")
    jvm.javax.imageio.ImageIO.write(bimg, "png", jvm.java.io.File(path))
    with open(path, "rb") as f:
        data = f.read()
    depth = data[8 + 8 + 8]  # IHDR bit-depth byte
    assert depth == 16  # the JVM really wrote a 16-bit stream
    assert np.array_equal(png.decode_png(data), (vals >> 8).astype(np.uint8))


def test_png_through_spark_decode_and_resize(spark):
    imgs = mm.generate_media(spark, 10, "image", seed=4, media_format="png")
    rows = mm.decode_images(imgs).collect()
    assert all(r.ok == "ok" for r in rows)
    small = mm.resize_images(imgs, 8, 8)
    srows = mm.decode_images(small).collect()
    assert all((r.width, r.height, r.ok) == (8, 8, "ok") for r in srows)
    assert all(bytes(r.payload)[:4] == b"\x89PNG" for r in small.collect())


# ---- GIF codec (multimodal/gif.py) ----


def test_gif_lossless_roundtrip_and_animation():
    """Palette GIF is lossless: single frames and animations round-trip to
    exact pixel equality with per-frame delays preserved."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import gif

    rng = np.random.default_rng(6)
    g = rng.integers(0, 256, size=(7, 13), dtype=np.uint8)
    frames, delays = gif.decode_gif(gif.encode_gif(g))
    assert len(frames) == 1
    assert np.array_equal(frames[0], np.repeat(g[..., None], 3, axis=2))

    fs = [rng.integers(0, 256, size=(10, 14), dtype=np.uint8) for _ in range(5)]
    frames, delays = gif.decode_gif(gif.encode_gif(fs, delay_cs=7))
    assert len(frames) == 5 and delays == [7] * 5
    for f, src in zip(frames, fs):
        assert np.array_equal(f, np.repeat(src[..., None], 3, axis=2))

    # dictionary growth + 4096-reset path
    big = np.tile(np.arange(256, dtype=np.uint8), (64, 16))
    frames, _ = gif.decode_gif(gif.encode_gif(big))
    assert np.array_equal(frames[0][:, :, 0], big)


def test_gif_cross_validated_with_jvm(spark, tmp_path):
    """javax.imageio reads our GIFs exactly (incl. per-frame animation
    access), and our decoder matches javax's decode of a javax-written GIF
    byte-for-byte."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import gif

    jvm = spark._jvm
    rng = np.random.default_rng(8)
    fs = [rng.integers(0, 256, size=(8, 9), dtype=np.uint8) for _ in range(4)]
    path = str(tmp_path / "anim.gif")
    with open(path, "wb") as f:
        f.write(gif.encode_gif(fs, delay_cs=5))
    stream = jvm.javax.imageio.ImageIO.createImageInputStream(jvm.java.io.File(path))
    reader = jvm.javax.imageio.ImageIO.getImageReaders(stream).next()
    reader.setInput(stream)
    assert reader.getNumImages(True) == 4
    f2 = reader.read(2)
    java = np.array(
        [[f2.getRGB(x, y) & 0xFF for x in range(9)] for y in range(8)], dtype=np.uint8
    )
    assert np.array_equal(java, fs[2])

    # javax-written GIF (its writer quantizes; we must match ITS read)
    src = np.clip(np.add.outer(np.arange(12) * 9, np.arange(16) * 7), 0, 255).astype(np.uint8)
    bimg = jvm.java.awt.image.BufferedImage(16, 12, 10)  # TYPE_BYTE_GRAY
    for y in range(12):
        for x in range(16):
            v = int(src[y, x])
            bimg.setRGB(x, y, (v << 16) | (v << 8) | v)
    jpath = str(tmp_path / "java.gif")
    jvm.javax.imageio.ImageIO.write(bimg, "gif", jvm.java.io.File(jpath))
    with open(jpath, "rb") as f:
        ours = gif.decode_gif(f.read())[0][0]
    bimg2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(jpath))
    java2 = np.zeros((12, 16, 3), dtype=np.uint8)
    for y in range(12):
        for x in range(16):
            argb = bimg2.getRGB(x, y)
            java2[y, x] = [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF]
    assert np.array_equal(ours, java2)


def test_gif_video_frame_sampling_through_spark(spark):
    """Animated GIF payloads flow through sample_video_frames: real decoded
    frames come out as PNG-encoded binaries."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    videos = mm.generate_media(spark, 6, "video", seed=2, media_format="gif")
    assert {r.metadata.format for r in videos.select("metadata").collect()} == {"gif"}
    frames = mm.sample_video_frames(videos, every_nth=2)
    got = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    nf = {r.media_id: r.n_frames for r in videos.select("media_id", "metadata.n_frames").collect()}
    for r in got:
        assert r.n == (nf[r.media_id] + 1) // 2
    f0 = frames.filter(F.col("frame_index") == 0).first()
    px = png.decode_png(bytes(f0.frame))
    assert px.shape == (8, 8, 3)
    # frame content is the seeded generator's frame 0 for that media id
    i = int(f0.media_id.split("-")[1])
    rng = np.random.default_rng(2 + i)
    want = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    assert np.array_equal(px, np.repeat(want[..., None], 3, axis=2))


def test_wav_extended_sample_formats():
    """PCM 8/24/32-bit and IEEE float WAVs decode to the mono-int16
    contract with exact scaling (hand-built fixtures)."""
    import struct

    import numpy as np

    def wav(fmt_code, bits, body_bytes, rate=8000, nch=1):
        fmt = struct.pack("<HHIIHH", fmt_code, nch, rate, rate * bits // 8, bits // 8, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(body_bytes)) + body_bytes)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # 8-bit unsigned: 128 -> 0, 255 -> 32512, 0 -> -32768
    kind, d = mm.columns._decode_payload(wav(1, 8, bytes([128, 255, 0])))
    assert list(d["samples"]) == [0, 32512, -32768]
    # 24-bit: full-scale 24-bit samples scale to int16 via >> 8
    vals24 = [8388607, -8388608, 65536, -256]
    raw = b"".join(int(v).to_bytes(3, "little", signed=True) for v in vals24)
    kind, d = mm.columns._decode_payload(wav(1, 24, raw))
    assert list(d["samples"]) == [v >> 8 for v in vals24]
    # 32-bit PCM: top 16 bits survive
    raw = np.array([1 << 30, -(1 << 30), 0], dtype="<i4").tobytes()
    kind, d = mm.columns._decode_payload(wav(1, 32, raw))
    assert list(d["samples"]) == [16384, -16384, 0]
    # float32: scaled by 32767
    raw = np.array([0.0, 1.0, -0.5], dtype="<f4").tobytes()
    kind, d = mm.columns._decode_payload(wav(3, 32, raw))
    assert list(d["samples"]) == [0, 32767, -16384]
    # unsupported (e.g. MS ADPCM format 2) still raises a named error
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        mm.columns._decode_payload(wav(2, 4, b"\x00\x00"))


def _wav_container(fmt_code, bits, body_bytes, rate=8000, nch=1, block_align=None):
    import struct

    ba = block_align if block_align is not None else nch * max(bits // 8, 1)
    fmt = struct.pack("<HHIIHH", fmt_code, nch, rate, rate * ba, ba, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body_bytes)) + body_bytes)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_g711_decode_bit_exact_vs_audioop():
    """mu-law and A-law byte expansion matches CPython's audioop — an
    independent C implementation of the same G.711 tables — on every one
    of the 256 byte values, and a full mu-law RIFF payload decodes to
    audioop's expansion of the same data chunk."""
    import struct

    import numpy as np

    audioop = pytest.importorskip("audioop")
    from ecom_snowflake_duckdb_migration_spark.multimodal.columns import (
        _ALAW_TABLE,
        _ULAW_TABLE,
    )

    every = bytes(range(256))
    assert list(_ULAW_TABLE) == list(np.frombuffer(audioop.ulaw2lin(every, 2), "<i2"))
    assert list(_ALAW_TABLE) == list(np.frombuffer(audioop.alaw2lin(every, 2), "<i2"))

    rng = np.random.default_rng(11)
    pcm = (rng.standard_normal(1000) * 9000).astype(np.int16)
    ul = audioop.lin2ulaw(pcm.tobytes(), 2)
    kind, d = mm.columns._decode_payload(_wav_container(7, 8, ul))
    assert kind == "audio" and d["sample_rate"] == 8000
    assert (d["samples"] == np.frombuffer(audioop.ulaw2lin(ul, 2), "<i2")).all()
    al = audioop.lin2alaw(pcm.tobytes(), 2)
    kind, d = mm.columns._decode_payload(_wav_container(6, 8, al))
    assert (d["samples"] == np.frombuffer(audioop.alaw2lin(al, 2), "<i2")).all()


def test_wav_ima_adpcm_core_bit_exact_vs_audioop():
    """The IMA quantizer feedback loop matches audioop's DVI ADPCM
    decoder sample-for-sample: encode PCM with audioop, swap its
    high-first nibble packing to the RIFF low-first layout, wrap in a
    block whose header predictor/index equal audioop's (0, 0) initial
    state — our decode past the header sample must be bit-identical."""
    import numpy as np

    audioop = pytest.importorskip("audioop")
    from ecom_snowflake_duckdb_migration_spark.multimodal.columns import (
        _ima_decode_blocks,
    )

    rng = np.random.default_rng(12)
    raw = (rng.standard_normal(4000) * 12000).astype(np.int16)
    adpcm, _ = audioop.lin2adpcm(raw.tobytes(), 2, None)
    a = np.frombuffer(adpcm, np.uint8)
    swapped = ((a << 4) | (a >> 4)).astype(np.uint8)
    block = np.concatenate([np.zeros(4, np.uint8), swapped]).reshape(1, -1)
    ours = _ima_decode_blocks(block, 1)[0, 0, :]
    theirs = np.frombuffer(audioop.adpcm2lin(adpcm, 2, None)[0], "<i2")
    assert ours[0] == 0
    assert (ours[1:] == theirs).all()


def test_wav_ima_adpcm_roundtrip_stereo_and_spark_path(spark):
    """encode_wav_ima -> _decode_wav round-trips a 5k-sample tone at
    >25 dB SNR with the fact chunk trimming the padded tail to the exact
    length; stereo blocks de-interleave to the same samples as the two
    mono decodes; and the payload decodes through the Arrow-batched
    Spark audio path like any PCM WAV."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal.columns import (
        _ima_decode_blocks,
        encode_wav_ima,
    )

    pcm = (np.sin(np.arange(5000) / 20.0) * 15000).astype(np.int16)
    wav = encode_wav_ima(pcm, 16000)
    kind, d = mm.columns._decode_payload(wav)
    assert kind == "audio" and d["sample_rate"] == 16000
    s = d["samples"].astype(np.float64)
    assert len(s) == len(pcm)  # fact-chunk trim, not group-padded length
    snr = 10 * np.log10((pcm.astype(np.float64) ** 2).sum() / ((s - pcm) ** 2).sum())
    assert snr > 25.0

    rng = np.random.default_rng(13)
    h0 = np.array([1234 & 0xFF, 1234 >> 8, 30, 0], np.uint8)
    h1 = np.array([(-900) & 0xFF, ((-900) >> 8) & 0xFF, 10, 0], np.uint8)
    d0 = rng.integers(0, 256, 16, dtype=np.uint8)
    d1 = rng.integers(0, 256, 16, dtype=np.uint8)
    inter = np.empty((8, 4), np.uint8)
    inter[0::2] = d0.reshape(-1, 4)
    inter[1::2] = d1.reshape(-1, 4)
    stereo = np.concatenate([h0, h1, inter.ravel()]).reshape(1, -1)
    out = _ima_decode_blocks(stereo, 2)
    m0 = _ima_decode_blocks(np.concatenate([h0, d0]).reshape(1, -1), 1)[0, 0, :]
    m1 = _ima_decode_blocks(np.concatenate([h1, d1]).reshape(1, -1), 1)[0, 0, :]
    assert (out[0, 0, :] == m0).all() and (out[0, 1, :] == m1).all()

    df = spark.createDataFrame(
        [("ima1", bytearray(wav))], "media_id string, payload binary"
    )
    row = mm.audio_hashes(df).collect()[0]
    assert row.ok == "ok"

    # the single-lane scalar fast path is bit-identical to the
    # vectorized multi-block kernel on identical input
    for trial in range(10):
        blk = np.concatenate([
            rng.integers(0, 256, 4, dtype=np.uint8),
            rng.integers(0, 256, int(rng.integers(2, 50)) * 4, dtype=np.uint8),
        ])
        scalar = _ima_decode_blocks(blk.reshape(1, -1).copy(), 1)
        vec = _ima_decode_blocks(np.vstack([blk, blk]), 1)
        assert (scalar[0, 0, :] == vec[0, 0, :]).all()
        assert (vec[0, 0, :] == vec[1, 0, :]).all()


def _smooth(fr, fc, pr, pc, h=64, w=64):
    import numpy as np

    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    px = (
        128
        + 60 * np.sin(2 * np.pi * fr * r / h + pr)
        + 60 * np.sin(2 * np.pi * fc * c / w + pc)
    )
    return np.clip(px, 0, 255).astype("uint8")


def _nn_resize(px, h, w):
    import numpy as np

    ys = np.linspace(0, px.shape[0] - 1, h).astype(int)
    xs = np.linspace(0, px.shape[1] - 1, w).astype(int)
    return px[np.ix_(ys, xs)]


def test_image_near_pairs_planted_duplicates(spark):
    """Planted-duplicates oracle for perceptual near-dup: a rotated copy
    hashes IDENTICALLY (dihedral-canonical hash), a resized copy lands
    within the Hamming budget, and structurally distinct images pair with
    nothing."""
    import numpy as np

    base = _smooth(2, 3, 0.4, 1.1)
    rows = [
        ("base", mm.encode_bmp(base)),
        ("rot90", mm.encode_bmp(np.rot90(base))),
        ("flip", mm.encode_bmp(np.fliplr(base))),
        ("resized", mm.encode_bmp(_nn_resize(base, 48, 48))),
        ("other1", mm.encode_bmp(_smooth(5, 1, 2.0, 0.2))),
        ("other2", mm.encode_bmp(_smooth(1, 6, 0.9, 2.5))),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], ["media_id", "payload"]
    )
    pairs = {
        (r.d1, r.d2): r.hamming
        for r in mm.image_near_pairs(df, max_hamming=3, blocks=4).collect()
    }
    dupset = {"base", "rot90", "flip", "resized"}
    want_keys = {
        (a, b) for a in dupset for b in dupset if a < b
    }
    assert set(pairs) == want_keys, pairs
    # exact dihedral copies are hamming 0; the resize stays within budget
    assert pairs[("base", "rot90")] == 0
    assert pairs[("base", "flip")] == 0
    assert pairs[("base", "resized")] <= 3


def test_image_hashes_error_capture_and_determinism(spark, images):
    """Decode failures are captured per row (video payload in an image
    column), and hashes are a pure function of content — repartitioning
    cannot change them."""
    hashed = {r.media_id: (r.ahash, r.dhash) for r in mm.image_hashes(images).collect()}
    assert len(hashed) == 40
    again = {
        r.media_id: (r.ahash, r.dhash)
        for r in mm.image_hashes(images.repartition(7)).collect()
    }
    assert again == hashed
    vids = mm.generate_media(spark, 3, "video")
    bad = mm.image_hashes(vids).collect()
    assert all(r.ahash is None and r.ok == "ValueError" for r in bad)


def test_image_dedup_end_to_end_canonical_keep(spark):
    """The weekly multimodal-corpus dedup, composed from existing parts:
    perceptual near-dup pairs -> connected components -> canonical keep
    (min media_id per duplicate group; singletons survive untouched)."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.operators.dedup_groups import (
        select_canonical,
    )

    base = _smooth(3, 2, 1.0, 0.3)
    other = _smooth(6, 5, 0.1, 1.8)
    rows = [
        ("a1", mm.encode_bmp(base)),
        ("a2", mm.encode_bmp(np.rot90(base, 2))),
        ("a3", mm.encode_bmp(_nn_resize(base, 52, 52))),
        ("b1", mm.encode_bmp(other)),
        ("b2", mm.encode_bmp(np.fliplr(other))),
        ("c1", mm.encode_bmp(_smooth(1, 4, 2.2, 0.7))),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], ["media_id", "payload"]
    )
    pairs = mm.image_near_pairs(df, max_hamming=3, blocks=4)
    kept = {
        r.media_id
        for r in select_canonical(
            df.select("media_id"), pairs, id_col="media_id"
        ).collect()
    }
    assert kept == {"a1", "b1", "c1"}


def test_audio_near_pairs_planted_duplicates(spark):
    """Band-energy fingerprints: a volume-scaled copy hashes identically
    (energy-ratio signs are amplitude-invariant), a lightly truncated
    copy lands within the Hamming budget, different tone mixes pair with
    nothing."""
    import numpy as np

    def tone(freqs, n=8000, sr=16000, amp=8000.0):
        t = np.arange(n) / sr
        x = sum(np.sin(2 * np.pi * f * t + 0.1 * i) for i, f in enumerate(freqs))
        return (amp * x / len(freqs)).astype(np.int16)

    base = tone([440, 1320, 3300])
    rows = [
        ("base", mm.encode_wav(base, 16000)),
        ("quiet", mm.encode_wav((base * 0.35).astype(np.int16), 16000)),
        ("trunc", mm.encode_wav(base[: int(len(base) * 0.95)], 16000)),
        ("other1", mm.encode_wav(tone([620, 2500]), 16000)),
        ("other2", mm.encode_wav(tone([150, 900, 5000, 7000]), 16000)),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], ["media_id", "payload"]
    )
    pairs = {
        (r.d1, r.d2): r.hamming
        for r in mm.audio_near_pairs(df, max_hamming=3, blocks=4).collect()
    }
    dupset = {"base", "quiet", "trunc"}
    assert set(pairs) == {(a, b) for a in dupset for b in dupset if a < b}, pairs
    assert pairs[("base", "quiet")] == 0
    assert pairs[("base", "trunc")] <= 3

    # errors captured per-row: image payloads in an audio column
    imgs = mm.generate_media(spark, 3, "image")
    bad = mm.audio_hashes(imgs).collect()
    assert all(r.audio_hash is None and r.ok == "ValueError" for r in bad)


def test_image_hashes_custom_id_col(spark):
    """A doc_id-keyed (non-media_id) corpus works unchanged: the output
    carries the caller's id column name AND type."""
    import numpy as np

    df = spark.createDataFrame(
        [(7, bytearray(mm.encode_bmp(_smooth(2, 3, 0.1, 0.2))))],
        ["doc_id", "payload"],
    )
    out = mm.image_hashes(df, id_col="doc_id").collect()
    assert out[0].doc_id == 7 and out[0].ok == "ok"
    pairs = mm.image_near_pairs(df, id_col="doc_id")
    assert pairs.count() == 0  # single image, no pairs — but the plan resolves


def test_decode_images_custom_int_id_col(spark):
    """decode_images keeps the caller's id column name AND type, like the
    hash operators: an INT ``img`` key comes back as ``img``, still INT,
    with failures captured per row."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    df = spark.createDataFrame(
        [(7, bytearray(mm.encode_bmp(np.full((3, 5), 9, np.uint8)))), (8, bytearray(b"junk"))],
        "img INT, payload BINARY",
    )
    out = mm.decode_images(df, id_col="img")
    assert out.columns == ["img", "width", "height", "mean_pixel", "ok"]
    assert out.schema["img"].dataType == IntegerType()
    rows = {r.img: r for r in out.collect()}
    assert (rows[7].width, rows[7].height, rows[7].mean_pixel, rows[7].ok) == (5, 3, 9.0, "ok")
    assert rows[8].width is None and rows[8].ok == "NotImplementedError"


def test_image_hashes_keep_64_bits_beside_a_failed_row(spark, images):
    """A failed row in the same Arrow batch leaves every other row's hash
    exact: a NULL beside 64-bit ints must not round the column through
    float64."""
    alone = {r.media_id: (r.ahash, r.dhash) for r in mm.image_hashes(images).collect()}
    vids = mm.generate_media(spark, 1, "video")
    mixed = images.unionByName(vids).coalesce(1)
    got = {
        r.media_id: (r.ahash, r.dhash)
        for r in mm.image_hashes(mixed).collect()
        if r.ok == "ok"
    }
    assert got == alone


def _pack_subbyte_rows(samples, depth, filt=0):
    """Bit-pack (h, w) raw sample values MSB-first at ``depth`` bits with a
    leading filter byte per row — the inverse of png._unpack_subbyte."""
    import numpy as np

    h, w = samples.shape
    stride = (w * depth + 7) // 8
    bits = np.zeros((h, stride * 8), np.uint8)
    for j in range(depth):
        bits[:, j : w * depth : depth] = (samples >> (depth - 1 - j)) & 1
    rows = np.packbits(bits, axis=1)
    return np.concatenate(
        [np.full((h, 1), filt, np.uint8), rows], axis=1
    ).tobytes()


def test_png_subbyte_gray_and_palette_decode():
    """1/2/4-bit PNG: bit-packed rows unpack MSB-first with pad bits
    ignored (width chosen to not align to a byte); grayscale scales by
    the max-value ratio, palette indices look up PLTE unscaled; the
    filter distance stays 1 byte (an Up-filtered stream reconstructs)."""
    import struct
    import zlib

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    rng = np.random.default_rng(11)
    for depth in (1, 2, 4):
        h, w = 7, 13  # 13 samples never fill the last byte at any depth
        maxv = (1 << depth) - 1
        samples = rng.integers(0, maxv + 1, (h, w), dtype=np.uint8)
        body = _pack_subbyte_rows(samples, depth)
        payload = (
            png._PNG_MAGIC
            + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0))
            + png._chunk(b"IDAT", zlib.compress(body))
            + png._chunk(b"IEND", b"")
        )
        got = png.decode_png(payload)
        assert np.array_equal(got, samples * (255 // maxv)), depth

        # palette: indices are raw, colors come from PLTE
        plte = rng.integers(0, 256, (maxv + 1, 3), dtype=np.uint8)
        payload_p = (
            png._PNG_MAGIC
            + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0))
            + png._chunk(b"PLTE", plte.tobytes())
            + png._chunk(b"IDAT", zlib.compress(body))
            + png._chunk(b"IEND", b"")
        )
        assert np.array_equal(png.decode_png(payload_p), plte[samples]), depth

    # Up filter at depth 4: filtering applies to the PACKED bytes
    h, w = 4, 6
    samples = rng.integers(0, 16, (h, w), dtype=np.uint8)
    packed = np.frombuffer(_pack_subbyte_rows(samples, 4), np.uint8).reshape(h, -1)
    rows = packed[:, 1:]
    up = rows.copy().astype(np.int32)
    up[1:] = (rows[1:].astype(np.int32) - rows[:-1].astype(np.int32)) & 0xFF
    body = np.concatenate(
        [np.concatenate([[0 if y == 0 else 2], up[y]]).astype(np.uint8)
         for y in range(h)]
    ).tobytes()
    payload = (
        png._PNG_MAGIC
        + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 4, 0, 0, 0, 0))
        + png._chunk(b"IDAT", zlib.compress(body))
        + png._chunk(b"IEND", b"")
    )
    assert np.array_equal(png.decode_png(payload), samples * 17)

    # sub-byte RGB is illegal per spec 11.2.2 and must fail loudly
    import pytest as _pytest

    bad = (
        png._PNG_MAGIC
        + png._chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0))
        + png._chunk(b"IDAT", zlib.compress(b"\x00" * 4))
        + png._chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="cannot be 4-bit"):
        png.decode_png(bad)


def test_png_subbyte_adam7_interlaced_decode():
    """Sub-byte Adam7: each pass bit-packs rows at the PASS width (pad
    bits per pass row, not per image row) — decode scatters the seven
    passes back onto the spec grid."""
    import struct
    import zlib

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    rng = np.random.default_rng(12)
    for depth in (1, 2, 4):
        maxv = (1 << depth) - 1
        h, w = 10, 11
        samples = rng.integers(0, maxv + 1, (h, w), dtype=np.uint8)
        parts = []
        for x0, y0, xs, ys in png._ADAM7:
            sub = samples[y0::ys, x0::xs]
            if sub.size == 0:
                continue
            parts.append(_pack_subbyte_rows(sub, depth))
        payload = (
            png._PNG_MAGIC
            + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 1))
            + png._chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + png._chunk(b"IEND", b"")
        )
        got = png.decode_png(payload)
        assert np.array_equal(got, samples * (255 // maxv)), depth


def test_png_subbyte_cross_validated_against_jvm(spark, tmp_path):
    """Foreign sub-byte files: the JVM's ImageIO writes TYPE_BYTE_BINARY
    images as 1-bit PNG and IndexColorModel images as 2/4-bit palette
    PNG — our decoder must agree with the colors ImageIO itself reads
    back."""
    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import png

    jvm = spark._jvm
    rng = np.random.default_rng(13)

    # 1-bit: TYPE_BYTE_BINARY (black/white)
    h, w = 9, 14
    bw = rng.integers(0, 2, (h, w), dtype=np.uint8)
    bimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_BINARY
    )
    raster = bimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(bw[y, x]))
    path = str(tmp_path / "bw1.png")
    jvm.javax.imageio.ImageIO.write(bimg, "png", jvm.java.io.File(path))
    with open(path, "rb") as f:
        data = f.read()
    assert data[8 + 8 + 8] == 1  # IHDR depth byte: genuinely 1-bit
    got = png.decode_png(data)
    want = bw * 255
    if got.ndim == 3:  # ImageIO may emit a palette variant
        want = np.repeat(want[:, :, None], 3, axis=2)
    assert np.array_equal(got, want)

    # 2- and 4-bit: IndexColorModel over a bit-PACKED raster
    # (TYPE_BYTE_INDEXED stores 8-bit samples and ImageIO writes the
    # sample depth — MultiPixelPackedSampleModel is what makes the PNG
    # writer emit genuine 2/4-bit streams)
    for depth, ncolors in [(2, 4), (4, 16)]:
        pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
        rj = bytes(int(v) for v in pal[:, 0])
        gj = bytes(int(v) for v in pal[:, 1])
        bj = bytes(int(v) for v in pal[:, 2])
        icm = jvm.java.awt.image.IndexColorModel(depth, ncolors, rj, gj, bj)
        packed = jvm.java.awt.image.Raster.createPackedRaster(
            jvm.java.awt.image.DataBuffer.TYPE_BYTE, w, h, 1, depth, None
        )
        bimg = jvm.java.awt.image.BufferedImage(icm, packed, False, None)
        idx = rng.integers(0, ncolors, (h, w), dtype=np.uint8)
        raster = bimg.getRaster()
        for y in range(h):
            for x in range(w):
                raster.setSample(x, y, 0, int(idx[y, x]))
        path = str(tmp_path / f"pal{depth}.png")
        jvm.javax.imageio.ImageIO.write(bimg, "png", jvm.java.io.File(path))
        with open(path, "rb") as f:
            data = f.read()
        assert data[8 + 8 + 8] == depth  # ImageIO honored the ICM depth
        assert np.array_equal(png.decode_png(data), pal[idx]), depth


def _bmp_payload(w, h, bits, compression, palette_gray, body, clr_used=0):
    """Assemble a BMP with a grayscale palette (R=G=B per entry)."""
    import struct

    import numpy as np

    n_pal = len(palette_gray)
    pal = np.zeros((n_pal, 4), np.uint8)
    pal[:, 0] = pal[:, 1] = pal[:, 2] = palette_gray
    data_offset = 14 + 40 + n_pal * 4
    return (
        b"BM"
        + struct.pack("<IHHI", data_offset + len(body), 0, 0, data_offset)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bits, compression, len(body),
            0, 0, clr_used, 0,
        )
        + pal.tobytes()
        + body
    )


def test_bmp_subbyte_decode():
    """1- and 4-bit palette BMPs: MSB-first bit/nibble rows padded to 4
    bytes, palette indexed via biClrUsed-sized tables."""
    import numpy as np

    # 1-bit, w=10 (crosses a byte boundary; row pads to 4 bytes)
    w, h = 10, 3
    idx = (np.arange(w * h).reshape(h, w) % 2).astype(np.uint8)
    row_bytes = ((w + 7) // 8 + 3) & ~3
    rows = np.zeros((h, row_bytes), np.uint8)
    packed = np.packbits(idx, axis=1)
    rows[:, : packed.shape[1]] = packed[::-1]  # bottom-up
    pal = np.array([15, 240], np.uint8)
    payload = _bmp_payload(w, h, 1, 0, pal, rows.tobytes(), clr_used=2)
    kind, d = mm.columns._decode_payload(payload)
    assert (kind, d["width"], d["height"]) == ("image", w, h)
    assert list(d["pixels"]) == list(pal[idx].ravel())

    # 4-bit, odd width (nibble padding)
    w, h = 5, 2
    idx = np.array([[0, 1, 2, 3, 4], [4, 3, 2, 1, 0]], np.uint8)
    row_bytes = (((w + 1) // 2) + 3) & ~3
    rows = np.zeros((h, row_bytes), np.uint8)
    for y in range(h):
        r = idx[h - 1 - y]  # bottom-up
        for x in range(w):
            rows[y, x // 2] |= r[x] << (4 if x % 2 == 0 else 0)
    pal = np.array([0, 60, 120, 180, 240], np.uint8)
    payload = _bmp_payload(w, h, 4, 0, pal, rows.tobytes(), clr_used=5)
    kind, d = mm.columns._decode_payload(payload)
    assert list(d["pixels"]) == list(pal[idx].ravel())


def test_bmp_rle8_and_rle4_decode():
    """BI_RLE8/BI_RLE4: encoded runs, absolute runs (word-aligned), EOL,
    delta (skipped pixels default to index 0), EOB."""
    import numpy as np

    pal = np.arange(0, 256, 16, dtype=np.uint8)  # 16 gray entries
    # RLE8 over a 6x3 image (encoded bottom-up)
    # bottom row: 3x idx5, absolute [1,2,3] (pad byte)
    # middle row: delta (2,0) skips 2 -> zeros, then 4x idx7
    # top row: 6x idx1, EOB
    body = bytes(
        [3, 5, 0, 3, 1, 2, 3, 0, 0, 0,       # run, abs(3)+pad, EOL
         0, 2, 2, 0, 4, 7, 0, 0,              # delta(2,0), run, EOL
         6, 1, 0, 1]                          # run, EOB
    )
    payload = _bmp_payload(6, 3, 8, 1, pal, body, clr_used=16)
    kind, d = mm.columns._decode_payload(payload)
    want = np.array(
        [[1, 1, 1, 1, 1, 1],
         [0, 0, 7, 7, 7, 7],
         [5, 5, 5, 1, 2, 3]], np.uint8
    )
    assert list(d["pixels"]) == list(pal[want].ravel())

    # RLE4 over a 5x2 image: run of 4 alternating (9,3), 1 more pixel
    # via absolute(3) -> nibbles 1,2,4 won't fit width; use abs on row 2
    body4 = bytes(
        [4, 0x93, 1, 0x50, 0, 0,    # row0 (bottom): 9,3,9,3,5  EOL
         0, 3, 0x12, 0x40, 2, 0x66, 0, 1]  # row1: abs(3)=1,2,4, run 2x6, EOB
    )
    payload4 = _bmp_payload(5, 2, 4, 2, pal, body4, clr_used=16)
    kind, d4 = mm.columns._decode_payload(payload4)
    want4 = np.array([[1, 2, 4, 6, 6], [9, 3, 9, 3, 5]], np.uint8)
    assert list(d4["pixels"]) == list(pal[want4].ravel())


def test_bmp_16_and_32bit_decode():
    """BI_RGB 16 (XRGB1555, 5-bit channels scaled by 255/31) and 32
    (BGRX) decode to channel-mean luminance."""
    import struct

    import numpy as np

    # 16-bit 2x1: pure red (31<<10) and mid gray (16,16,16)
    w, h = 2, 1
    v = np.array([[31 << 10, (16 << 10) | (16 << 5) | 16]], "<u2")
    payload = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + 4, 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 16, 0, 4, 0, 0, 0, 0)
        + v.tobytes()
    )
    kind, d = mm.columns._decode_payload(payload)
    r = 31 * 255 // 31
    g16 = 16 * 255 // 31
    want = [round((r + 0 + 0) / 3), round((g16 * 3) / 3)]
    assert list(d["pixels"]) == want

    # 32-bit 1x2 top-down (negative height): BGRX
    w, h = 1, 2
    px = np.array([[10, 20, 40, 0], [200, 100, 50, 255]], np.uint8)
    payload = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + 8, 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, 8, 0, 0, 0, 0)
        + px.tobytes()
    )
    kind, d = mm.columns._decode_payload(payload)
    want = [round((10 + 20 + 40) / 3), round((200 + 100 + 50) / 3)]
    assert list(d["pixels"]) == want


def test_bmp_rle8_cross_validated_against_jvm(spark, tmp_path):
    """Foreign RLE8: ImageIO's BMP writer emits BI_RLE8 when asked — our
    decoder must reproduce the gray values ImageIO itself reads back."""
    import numpy as np

    jvm = spark._jvm
    rng = np.random.default_rng(21)
    h, w = 11, 17
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    bimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    raster = bimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(gray[y, x]))
    writers = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("bmp")
    writer = writers.next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(
        jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
    )
    param.setCompressionType("BI_RLE8")
    path = str(tmp_path / "rle8.bmp")
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
        jvm.java.io.File(path)
    )
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bimg, None, None), param)
    ios.close()
    with open(path, "rb") as f:
        data = f.read()
    import struct as _s

    assert _s.unpack_from("<I", data, 30)[0] == 1  # genuinely BI_RLE8
    kind, d = mm.columns._decode_payload(data)
    assert (kind, d["width"], d["height"]) == ("image", w, h)
    assert np.array_equal(
        np.asarray(d["pixels"]).reshape(h, w), gray
    )


def test_gif_disposal_restore_previous():
    """Disposal 3: the frame's pixels vanish from the NEXT frame's canvas
    — the compositor restores the pre-frame snapshot (distinct from
    disposal 2, which restores to the background color)."""
    import struct

    import numpy as np

    from ecom_snowflake_duckdb_migration_spark.multimodal import gif

    # frame 1: full 4x4 canvas of gray 100, disposal 0
    # frame 2: 2x2 patch of gray 200 at (1,1), disposal 3
    # frame 3: 1x1 patch of gray 50 at (0,0), disposal 0
    base = np.full((4, 4), 100, np.uint8)
    patch = np.full((2, 2), 200, np.uint8)
    dot = np.full((1, 1), 50, np.uint8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 4, 4, 0xF7, 0, 0)
    out += np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()

    def frame(px, x, y, disposal):
        b = bytearray()
        b += b"\x21\xf9\x04" + struct.pack("<BHB", disposal << 2, 5, 0) + b"\x00"
        fh, fw = px.shape
        b += b"\x2c" + struct.pack("<HHHHB", x, y, fw, fh, 0)
        b.append(8)
        b += gif._sub_blocks(gif._lzw_encode(px.ravel(), 8))
        return bytes(b)

    out += frame(base, 0, 0, 0)
    out += frame(patch, 1, 1, 3)
    out += frame(dot, 0, 0, 0)
    out += b"\x3b"

    frames, delays = gif.decode_gif(bytes(out))
    assert len(frames) == 3
    # frame 2 shows the patch...
    assert frames[1][1, 1, 0] == 200 and frames[1][2, 2, 0] == 200
    # ...frame 3's canvas has it RESTORED to gray 100, not background 0
    assert frames[2][1, 1, 0] == 100 and frames[2][2, 2, 0] == 100
    assert frames[2][0, 0, 0] == 50  # the new dot rendered
    assert frames[2][3, 3, 0] == 100  # untouched area persists
