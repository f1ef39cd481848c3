"""Multimodal column plumbing: schema, Arrow batch shape, payload
pruning. Decoders are stubbed (no media libs in container); what's
tested is the real Spark-side machinery."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pystreams_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_features,
    frame_sample,
    media_stats,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        Row(
            media_id=i,
            payload=bytes([i % 251]) * (100 + i),
            meta=Row(
                uri=f"s3://bucket/obj{i}.mp4" if i % 2 else f"file:///img{i}.png",
                mime="video/mp4" if i % 2 else "image/png",
                width=640 + i,
                height=480,
                duration_ms=3000 if i % 2 else None,
            ),
        )
        for i in range(8)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_features_deterministic(media_df):
    out = decode_features(media_df, dim=16)
    rows = {r.media_id: r.features for r in out.collect()}
    rows2 = {r.media_id: r.features for r in decode_features(media_df, dim=16).collect()}
    assert rows == rows2
    assert all(len(v) == 16 for v in rows.values())
    # distinct payloads → distinct fake features
    assert rows[0] != rows[1]


def test_decode_stub_raises_for_real_path(media_df):
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg|PIL"):
        decode_features(media_df, decode_stub=False).collect()


def test_frame_sample_explodes_video_rows(media_df):
    frames = frame_sample(media_df, every_ms=1000)
    got = frames.groupBy("media_id").count().collect()
    by_id = {r.media_id: r["count"] for r in got}
    # videos (odd ids, 3000ms) → 3 frames; images (duration None) → 1
    assert by_id[1] == 3 and by_id[3] == 3
    assert by_id[0] == 1
    assert frames.schema["frame"].dataType.typeName() == "binary"


def test_media_stats_prunes_payload(media_df, tmp_path):
    path = str(tmp_path / "media")
    media_df.write.parquet(path)
    df = media_df.sparkSession.read.parquet(path)
    stats = media_stats(df)
    rows = {r.mime: r.n for r in stats.collect()}
    assert rows == {"video/mp4": 4, "image/png": 4}
    # the binary payload must be pruned from the parquet scan
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


def _wav_bytes(freq=440, rate=8000, n=8000, amp=0.5):
    """Mono 16-bit PCM sine — RMS must come out ≈ amp/√2."""
    import struct

    import numpy as np

    t = np.arange(n) / rate
    samples = (amp * 32767 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _bmp_bytes(w=6, h=4, rgb=(200, 100, 50)):
    """Uncompressed 24-bit solid-color BMP (bottom-up, padded rows)."""
    import struct

    row = bytes(reversed(rgb)) * w  # BGR per pixel
    pad = b"\x00" * ((4 - (w * 3) % 4) % 4)
    pixels = (row + pad) * h
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    return header + info + pixels


def _ppm_bytes(w=5, h=3, rgb=(10, 20, 30)):
    return (f"P6\n# cmt\n{w} {h}\n255\n").encode() + bytes(rgb) * (w * h)


def test_real_decoders_extract_true_features(spark):
    """WAV/BMP/PPM payloads REALLY decode: sine RMS ≈ amp/√2, solid
    colors give exact channel means and a flat thumbnail; unknown
    magic bytes degrade to kind='undecodable' with the reason."""
    from pystreams_spark.operators.multimodal import decode_media_features

    rows = [
        (1, _wav_bytes()),
        (2, _bmp_bytes()),
        (3, _ppm_bytes()),
        (4, b"\xff\xd8\xff\xe0 fake JPEG payload"),  # r7: really parsed now — degrades with a JPEG-specific reason
        (5, b"\x89PNG\r\n\x1a\n no chunks"),  # PNG magic, malformed body
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_media_features(df).collect()}

    wav = out[1]
    assert wav.kind == "audio"
    assert wav.sample_rate == 8000 and wav.n_channels == 1
    assert wav.duration_ms == 1000
    assert abs(wav.rms - 0.5 / 2**0.5) < 0.01
    assert 0.05 < wav.zero_crossing_rate < 0.2  # 440 Hz at 8 kHz ≈ 0.11

    bmp = out[2]
    assert bmp.kind == "image" and (bmp.width, bmp.height) == (6, 4)
    assert (bmp.mean_r, bmp.mean_g, bmp.mean_b) == (200.0, 100.0, 50.0)
    gray = (200 + 100 + 50) / 3 / 255.0
    assert len(bmp.thumb) == 16 and all(abs(v - gray) < 1e-6 for v in bmp.thumb)

    ppm = out[3]
    assert ppm.kind == "image" and (ppm.width, ppm.height) == (5, 3)
    assert (ppm.mean_r, ppm.mean_g, ppm.mean_b) == (10.0, 20.0, 30.0)

    jpg = out[4]  # r7: JPEG is now REALLY decoded — a JPEG-magic payload
    # with no scan gets a JPEG-specific parse error, not the codec excuse
    assert jpg.kind == "undecodable" and "JPEG" in jpg.decode_error
    png = out[5]  # r6: PNG is now REALLY decoded — a malformed body gets
    # a PNG-specific parse error, not the needs-a-codec excuse
    assert png.kind == "undecodable" and "IHDR" in png.decode_error
    # payload column must NOT survive into the output (narrow plan)
    assert "payload" not in out[1].asDict()


def test_real_decoder_strict_mode_raises(spark):
    import pytest as _pytest

    from pystreams_spark.operators.multimodal import decode_media_features

    df = spark.createDataFrame(
        [(1, b"\xff\xd8\xff jpeg-ish")], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="undecodable payload"):
        decode_media_features(df, on_undecodable="error").collect()


def test_real_decoder_rejects_malformed_gracefully(spark):
    """Truncated/corrupt members of supported formats must yield
    undecodable rows (with reasons), never crash the batch."""
    from pystreams_spark.operators.multimodal import decode_media_features

    import struct

    # ≥44 bytes overall, but the fmt chunk body is cut off mid-struct:
    # unpack_from raises struct.error (NOT ValueError) — must degrade,
    # not kill the task
    cut_fmt = (
        b"RIFF" + struct.pack("<I", 44) + b"WAVE"
        + b"JUNK" + struct.pack("<I", 20) + b"\x00" * 20
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    )
    rows = [
        (1, _bmp_bytes()[:30]),              # truncated BMP header
        (2, _wav_bytes()[:40]),              # truncated WAV
        (3, b"P6\n2 2\n255\n\x00"),          # truncated PPM pixels
        (4, _bmp_bytes()),                   # one good row in the batch
        (5, cut_fmt),                        # struct.error path
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_media_features(df).collect()}
    assert out[4].kind == "image"
    assert all(out[i].kind == "undecodable" for i in (1, 2, 3, 5))
    assert all(out[i].decode_error for i in (1, 2, 3, 5))
    assert "error" in out[5].decode_error.lower()


def test_png_decode_differential_vs_java_imageio(spark):
    """PNG decoder differential vs the Java ImageIO reference in
    Spark's own JVM, BOTH directions: (a) ImageIO-encoded PNGs (whose
    writer picks real scanline filters, exercising Sub/Up/Average/
    Paeth unfiltering) decode to the exact pixels we set; (b) our
    filter-0 encoder's output reads back identically through ImageIO."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_png, encode_png

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    w = h = 23  # odd size: exercises row remainders

    # deterministic non-trivial image: gradients + diagonal stripes so
    # the ImageIO encoder has structure worth filtering
    rng = np.arange(w * h).reshape(h, w)
    arr = np.stack(
        [
            (rng * 7) % 256,
            (rng // 3 + 11 * (rng % 5)) % 256,
            ((rng % 13) * 19) % 256,
        ],
        axis=2,
    ).astype(np.uint8)

    # (a) ImageIO writes → we decode
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    pix = gw.new_array(jvm.int, w * h)
    flat = (
        (arr[:, :, 0].astype(np.int64) << 16)
        | (arr[:, :, 1].astype(np.int64) << 8)
        | arr[:, :, 2].astype(np.int64)
    ).ravel()
    for i, v in enumerate(flat):
        pix[i] = int(v)
    img.setRGB(0, 0, w, h, pix, 0, w)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
    payload = bytes(baos.toByteArray())
    got = _decode_png(payload)
    assert got.shape == (h, w, 3)
    assert (got == arr).all(), "pixels differ from what ImageIO encoded"

    # (b) we encode → ImageIO reads
    ours = encode_png(arr)
    bais = jvm.java.io.ByteArrayInputStream(ours)
    img2 = jvm.javax.imageio.ImageIO.read(bais)
    assert img2.getWidth() == w and img2.getHeight() == h
    back = gw.new_array(jvm.int, w * h)
    img2.getRGB(0, 0, w, h, back, 0, w)
    got2 = np.array([back[i] for i in range(w * h)], dtype=np.int64) & 0xFFFFFF
    assert (got2 == flat).all(), "ImageIO read different pixels from our PNG"


def test_png_variants_and_refusals(spark):
    """Gray / palette / RGBA PNGs decode per spec; unsupported depths
    refuse with the reason (Adam7 interlace decodes for real since r7 —
    see test_png_adam7_and_tiff_compressions)."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from pystreams_spark.operators.multimodal import _decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def png(w, h, color, channels, raw_rows, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in raw_rows)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # grayscale 2x2 → replicated RGB
    g = png(2, 2, 0, 1, [bytes([10, 200]), bytes([0, 255])])
    out = _decode_png(g)
    assert out.shape == (2, 2, 3) and (out[0, 1] == [200, 200, 200]).all()

    # palette 2x1
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 0, 255]))
    p = png(2, 1, 3, 1, [bytes([1, 0])], extra=plte)
    out = _decode_png(p)
    assert (out[0, 0] == [0, 0, 255]).all() and (out[0, 1] == [255, 0, 0]).all()

    # RGBA: alpha dropped
    a = png(1, 1, 6, 4, [bytes([9, 8, 7, 128])])
    assert (_decode_png(a)[0, 0] == [9, 8, 7]).all()

    # refusals (r7: 16-bit now decodes — see the dedicated test; 4-bit
    # and other sub-byte depths still refuse)
    with pytest.raises(ValueError, match="bit depth"):
        bad = bytearray(g)
        # IHDR depth byte: offset 8(sig)+8(len/type)+8(w,h) = 24
        bad[24] = 4
        _decode_png(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        _decode_png(b"JFIF....")


def test_media_decode_report_includes_png(spark, sf_dir):
    """decode_media_features: PNG payloads flow through the SAME kernel
    as BMP/PPM and land as kind='image' with exact means."""
    import numpy as np
    import pandas as pd

    from pystreams_spark.operators.multimodal import (
        decode_media_features,
        encode_png,
    )

    arr = np.zeros((4, 4, 3), np.uint8)
    arr[:, :, 0] = 100
    arr[:, :, 1] = 150
    arr[:, :, 2] = 200
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(arr)))], "id long, payload binary"
    )
    row = decode_media_features(df).collect()[0]
    assert row.kind == "image" and row.width == 4 and row.height == 4
    assert (row.mean_r, row.mean_g, row.mean_b) == (100.0, 150.0, 200.0)
    assert row.decode_error is None


def test_tiff_decode_differential_vs_java_imageio(spark):
    """Baseline-TIFF decoder differential: ImageIO (JDK's TIFF writer)
    encodes a known image; our IFD parser must read back the exact
    pixels — covering whichever strip layout and byte order the
    reference writer picks. Compressed TIFF refuses with the scheme."""
    import numpy as np
    import pytest

    from pystreams_spark.operators.multimodal import (
        _decode_tiff,
        decode_media_features,
    )

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    w, h = 19, 11
    rng = np.arange(w * h).reshape(h, w)
    arr = np.stack(
        [(rng * 5) % 256, (rng * 11 + 3) % 256, (rng * 29 + 7) % 256], axis=2
    ).astype(np.uint8)

    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    pix = gw.new_array(jvm.int, w * h)
    flat = (
        (arr[:, :, 0].astype(np.int64) << 16)
        | (arr[:, :, 1].astype(np.int64) << 8)
        | arr[:, :, 2].astype(np.int64)
    ).ravel()
    for i, v in enumerate(flat):
        pix[i] = int(v)
    img.setRGB(0, 0, w, h, pix, 0, w)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "tiff", baos), (
        "JDK TIFF writer unavailable"
    )
    payload = bytes(baos.toByteArray())
    got = _decode_tiff(payload)
    assert got.shape == (h, w, 3)
    assert (got == arr).all(), "pixels differ from what ImageIO encoded"

    # the same payload flows through the kernel as kind='image'
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, payload binary")
    row = decode_media_features(df).collect()[0]
    assert row.kind == "image" and (row.width, row.height) == (w, h)

    # compressed TIFF refuses with the scheme named (LZW header forged)
    import struct

    lzw = bytearray(payload)
    # find the Compression tag (259) in the first IFD and set value 5
    (ifd_off,) = struct.unpack_from("<I" if payload[:2] == b"II" else ">I", payload, 4)
    bo = "<" if payload[:2] == b"II" else ">"
    (n,) = struct.unpack_from(bo + "H", payload, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        (tag,) = struct.unpack_from(bo + "H", payload, base)
        if tag == 259:
            struct.pack_into(bo + "H", lzw, base + 8, 5)
            break
    with pytest.raises(ValueError, match="LZW"):
        _decode_tiff(bytes(lzw))


def test_gif_decode_differential_vs_java_imageio(spark):
    """GIF decoder differential vs Java ImageIO (Spark's JVM), both
    directions: (a) an ImageIO-written GIF (its real LZW encoder +
    palette) must decode to the same pixels ImageIO itself reads back;
    (b) our CLEAR-per-symbol encoder's output must read identically
    through ImageIO."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_gif, encode_gif

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    w, h = 17, 13
    # indexed image so the GIF writer's palette is exact, not quantized
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_INDEXED
    )
    rng = np.arange(w * h).reshape(h, w)
    vals = ((rng * 29) % 255).astype(np.int64)
    rgb = (vals << 16) | (vals << 8) | vals  # grayscale: present in any palette
    pix = gw.new_array(jvm.int, w * h)
    for i, v in enumerate(rgb.ravel()):
        pix[i] = int(v)
    img.setRGB(0, 0, w, h, pix, 0, w)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "gif", baos)
    payload = bytes(baos.toByteArray())

    # reference = what ImageIO itself reads back from those bytes
    img2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(payload))
    ref = gw.new_array(jvm.int, w * h)
    img2.getRGB(0, 0, w, h, ref, 0, w)
    ref_px = np.array([ref[i] for i in range(w * h)], dtype=np.int64) & 0xFFFFFF

    got = _decode_gif(payload)
    assert got.shape == (h, w, 3)
    got_rgb = (
        (got[:, :, 0].astype(np.int64) << 16)
        | (got[:, :, 1].astype(np.int64) << 8)
        | got[:, :, 2].astype(np.int64)
    ).ravel()
    assert (got_rgb == ref_px).all(), "pixels differ from ImageIO's own read"

    # (b) ours -> ImageIO
    arr = np.stack([(rng * 3) % 200, (rng * 7) % 200, (rng * 11) % 200], axis=2).astype(np.uint8)
    ours = encode_gif(arr)
    img3 = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(ours))
    assert img3.getWidth() == w and img3.getHeight() == h
    back = gw.new_array(jvm.int, w * h)
    img3.getRGB(0, 0, w, h, back, 0, w)
    want = (
        (arr[:, :, 0].astype(np.int64) << 16)
        | (arr[:, :, 1].astype(np.int64) << 8)
        | arr[:, :, 2].astype(np.int64)
    ).ravel()
    got2 = np.array([back[i] for i in range(w * h)], dtype=np.int64) & 0xFFFFFF
    assert (got2 == want).all(), "ImageIO read different pixels from our GIF"

    # self-roundtrip closes the loop
    assert (_decode_gif(ours) == arr).all()


def test_gif_interlace_and_kernel_path(spark):
    """Interlaced GIFs (4-pass row order) deinterlace correctly, and a
    GIF payload flows through decode_media_features as kind='image'."""
    import struct

    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_gif,
        decode_media_features,
        encode_gif,
    )

    # build an interlaced variant of our own encoder's output: permute
    # rows into pass order and set the interlace bit
    h, w = 11, 5
    arr = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        arr[y, :, 0] = 20 * y + 10
    plain = bytearray(encode_gif(arr))
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    permuted = arr[order]
    inter = bytearray(encode_gif(permuted))
    # image descriptor packed byte: after 6(sig)+7(lsd)+3*tbl, at
    # introducer+9; find 0x2C and set bit 6 of its packed field
    i = inter.index(0x2C, 13)
    inter[i + 9] |= 0x40
    got = _decode_gif(bytes(inter))
    assert (got == arr).all(), "deinterlace mismatch"

    df = spark.createDataFrame(
        [(1, bytearray(encode_gif(arr)))], "id long, payload binary"
    )
    row = decode_media_features(df).collect()[0]
    assert row.kind == "image" and (row.width, row.height) == (w, h)


def _imageio_write_rgb(spark, arr, fmt="jpg"):
    """ImageIO-encode an (H, W, 3) uint8 array via Spark's JVM."""
    import numpy as np

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    h, w = arr.shape[:2]
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    flat = (
        (arr[:, :, 0].astype(np.int64) << 16)
        | (arr[:, :, 1].astype(np.int64) << 8)
        | arr[:, :, 2].astype(np.int64)
    ).ravel()
    pix = gw.new_array(jvm.int, w * h)
    for i, v in enumerate(flat):
        pix[i] = int(v)
    img.setRGB(0, 0, w, h, pix, 0, w)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, fmt, baos)
    return bytes(baos.toByteArray())


def _imageio_read_rgb(spark, payload, h, w):
    """ImageIO-decode JPEG/PNG bytes → (H, W, 3) int array."""
    import numpy as np

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    img = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(payload)
    )
    assert img.getWidth() == w and img.getHeight() == h
    back = gw.new_array(jvm.int, w * h)
    img.getRGB(0, 0, w, h, back, 0, w)
    ref = np.array([back[i] for i in range(w * h)], dtype=np.int64)
    return np.stack(
        [(ref >> 16) & 255, (ref >> 8) & 255, ref & 255], axis=1
    ).reshape(h, w, 3).astype(int)


def test_jpeg_decode_differential_vs_java_imageio(spark):
    """Baseline-JPEG decoder differential vs Java ImageIO (the JDK's
    IJG-derived reader) on files ImageIO ITSELF encodes:

    - grayscale (1-component): our pixels must match ImageIO's own
      read-back within ±2 — pure Huffman/dequant/IDCT agreement;
    - color 4:2:0 (ImageIO's default): chroma upsampling is decoder
      freedom (ImageIO interpolates, we replicate — T.81 doesn't
      specify), so the pinned invariants are upsampling-independent:
      tile INTERIORS match within ±3, and the luma recovered from the
      output RGB (a pure function of the full-resolution Y plane)
      matches within ±2 on unclipped pixels of a noisy image."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_jpeg

    jvm = spark._jvm
    w = h = 23

    # --- grayscale: exact decoder-core agreement
    rng = np.arange(w * h).reshape(h, w)
    gray = ((rng * 11) % 256).astype(np.uint8)
    gimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    raster = gimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(gray[y, x]))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(gimg, "jpg", baos)
    gp = bytes(baos.toByteArray())
    ours_g = _decode_jpeg(gp).astype(int)
    assert ours_g.shape == (h, w, 3)
    img2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(gp))
    r2 = img2.getRaster()
    refg = np.array(
        [[r2.getSample(x, y, 0) for x in range(w)] for y in range(h)], dtype=int
    )
    assert np.abs(ours_g[:, :, 0] - refg).max() <= 2
    # all three output channels replicate the gray plane
    assert (ours_g[:, :, 0] == ours_g[:, :, 1]).all()
    assert (ours_g[:, :, 0] == ours_g[:, :, 2]).all()

    # --- color, 16x16 solid tiles: interiors are upsampling-proof
    tiles = np.zeros((32, 32, 3), np.uint8)
    tiles[:16, :16] = [200, 30, 40]
    tiles[:16, 16:] = [20, 180, 220]
    tiles[16:, :16] = [90, 90, 90]
    tiles[16:, 16:] = [250, 240, 10]
    tp = _imageio_write_rgb(spark, tiles)
    # ImageIO's default writer really does subsample (0x22 luma) — the
    # interleaved-MCU + upsample path is genuinely exercised
    i = tp.find(b"\xff\xc0")
    assert tp[i + 11] == 0x22 and tp[i + 14] == 0x11
    ours_t = _decode_jpeg(tp).astype(int)
    ref_t = _imageio_read_rgb(spark, tp, 32, 32)
    ys = np.arange(32)
    inner = (ys % 16 >= 3) & (ys % 16 <= 12)
    mask = inner[:, None] & inner[None, :]
    assert np.abs(ours_t - ref_t)[mask].max() <= 3

    # --- noisy color: recovered luma pins the full-res Y path
    noisy = np.stack(
        [
            (rng * 7) % 256,
            (rng // 3 + 11 * (rng % 5)) % 256,
            ((rng % 13) * 19) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    np_ = _imageio_write_rgb(spark, noisy)
    o = _decode_jpeg(np_).astype(float)
    r = _imageio_read_rgb(spark, np_, h, w).astype(float)

    def luma(a):
        return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]

    unclipped = ((o > 0) & (o < 255)).all(axis=2) & (
        (r > 0) & (r < 255)
    ).all(axis=2)
    assert unclipped.sum() > 100  # the comparison is not vacuous
    assert np.abs(luma(o) - luma(r))[unclipped].max() <= 2.0


def test_jpeg_encode_differential_vs_java_imageio(spark):
    """Our T.81 encoder's output (4:4:4, flat quant=1 → near-lossless)
    through Java ImageIO: pixels ImageIO reads must match the original
    within ±4 and OUR decode of the same bytes within ±3 (same file,
    same sampling — only IDCT rounding differs). The restart-interval
    variant (DRI + RSTn markers) must read identically through both."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    w = h = 23
    rng = np.arange(w * h).reshape(h, w)
    arr = np.stack(
        [
            (rng * 7) % 256,
            (rng // 3 + 11 * (rng % 5)) % 256,
            ((rng % 13) * 19) % 256,
        ],
        axis=2,
    ).astype(np.uint8)

    mine = encode_jpeg(arr)
    ref = _imageio_read_rgb(spark, mine, h, w)
    assert np.abs(ref - arr.astype(int)).max() <= 4
    assert np.abs(ref - _decode_jpeg(mine).astype(int)).max() <= 3

    mine_r = encode_jpeg(arr, restart_interval=3)
    assert b"\xff\xdd" in mine_r and b"\xff\xd0" in mine_r
    ref_r = _imageio_read_rgb(spark, mine_r, h, w)
    assert np.abs(ref_r - _decode_jpeg(mine_r).astype(int)).max() <= 3

    # constant-gray 1-component file round-trips EXACTLY (DC-only
    # blocks, flat quant) — the closed-form fact media_decode_report's
    # oracle arithmetic relies on
    g = np.full((8, 8), 77, np.uint8)
    out = _decode_jpeg(encode_jpeg(g))
    assert (out == 77).all()


def _imageio_progressive_jpg(spark, img):
    """ImageIO-encode a BufferedImage as PROGRESSIVE JPEG (SOF2)."""
    jvm = spark._jvm
    iw = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = iw.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    iw.setOutput(ios)
    iw.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.close()
    return bytes(baos.toByteArray())


def test_jpeg_rgb_decode_matches_imageio_samples(spark):
    """Colour frames render as T.81/JFIF decoders do: each component is
    rounded and clamped to integer samples before the YCbCr→RGB
    conversion. On seeded noisy 4:4:4 files from `encode_jpeg` (8×8
    tiles of uniform colours plus ±20 noise, flat quant 1, 4 and 16),
    at least 90% of our channel values equal Java ImageIO's read of
    the same bytes, and none is more than 3 apart."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(1)
    equal = total = worst = 0
    for h in range(24, 72, 8):
        tiles = np.kron(
            rng.integers(0, 256, (h // 8, 5, 3)), np.ones((8, 8, 1), np.int64)
        )
        noise = rng.integers(-20, 21, tiles.shape)
        img = np.clip(tiles + noise, 0, 255).astype(np.uint8)
        for quant in (1, 4, 16):
            payload = encode_jpeg(img, quant=quant)
            ref = _imageio_read_rgb(spark, payload, h, 40)
            d = np.abs(_decode_jpeg(payload).astype(int) - ref)
            equal += int((d == 0).sum())
            total += d.size
            worst = max(worst, int(d.max()))
    assert equal >= 0.9 * total, equal / total
    assert worst <= 3, worst


def test_jpeg_progressive_decode_differential_vs_java_imageio(spark):
    """PROGRESSIVE JPEG (SOF2 — spectral selection + successive
    approximation, T.81 Annex G) decodes for real: files written by
    ImageIO's progressive mode (its standard multi-scan script: DC
    first/refine, AC bands at Al=2 → refinements to Al=0, EOB runs)
    match ImageIO's own read-back with the same tightness as baseline —
    gray ±2 everywhere, color via the upsampling-independent
    invariants (tile interiors ±3, recovered luma ±2)."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_jpeg

    jvm = spark._jvm
    w = h = 23
    rng = np.arange(w * h).reshape(h, w)

    # gray: pure coefficient-accumulation agreement
    gray = ((rng * 11) % 256).astype(np.uint8)
    gimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    raster = gimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(gray[y, x]))
    gp = _imageio_progressive_jpg(spark, gimg)
    assert b"\xff\xc2" in gp  # really SOF2
    ours = _decode_jpeg(gp).astype(int)
    img2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(gp))
    r2 = img2.getRaster()
    refg = np.array(
        [[r2.getSample(x, y, 0) for x in range(w)] for y in range(h)], dtype=int
    )
    assert np.abs(ours[:, :, 0] - refg).max() <= 2

    # color 4:2:0 progressive: interiors + recovered luma
    tiles = np.zeros((32, 32, 3), np.uint8)
    tiles[:16, :16] = [200, 30, 40]
    tiles[:16, 16:] = [20, 180, 220]
    tiles[16:, :16] = [90, 90, 90]
    tiles[16:, 16:] = [250, 240, 10]
    timg = spark._jvm.java.awt.image.BufferedImage(
        32, 32, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    gw = spark.sparkContext._gateway
    flat = (
        (tiles[:, :, 0].astype(np.int64) << 16)
        | (tiles[:, :, 1].astype(np.int64) << 8)
        | tiles[:, :, 2].astype(np.int64)
    ).ravel()
    pix = gw.new_array(jvm.int, 32 * 32)
    for i, v in enumerate(flat):
        pix[i] = int(v)
    timg.setRGB(0, 0, 32, 32, pix, 0, 32)
    tp = _imageio_progressive_jpg(spark, timg)
    assert b"\xff\xc2" in tp
    ot = _decode_jpeg(tp).astype(int)
    rt = _imageio_read_rgb(spark, tp, 32, 32)
    ys = np.arange(32)
    inner = (ys % 16 >= 3) & (ys % 16 <= 12)
    mask = inner[:, None] & inner[None, :]
    assert np.abs(ot - rt)[mask].max() <= 3

    noisy = np.stack(
        [
            (rng * 7) % 256,
            (rng // 3 + 11 * (rng % 5)) % 256,
            ((rng % 13) * 19) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    nimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    flat = (
        (noisy[:, :, 0].astype(np.int64) << 16)
        | (noisy[:, :, 1].astype(np.int64) << 8)
        | noisy[:, :, 2].astype(np.int64)
    ).ravel()
    pix = gw.new_array(jvm.int, w * h)
    for i, v in enumerate(flat):
        pix[i] = int(v)
    nimg.setRGB(0, 0, w, h, pix, 0, w)
    np_ = _imageio_progressive_jpg(spark, nimg)
    o = _decode_jpeg(np_).astype(float)
    r = _imageio_read_rgb(spark, np_, h, w).astype(float)

    def luma(a):
        return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]

    unclipped = ((o > 0) & (o < 255)).all(axis=2) & (
        (r > 0) & (r < 255)
    ).all(axis=2)
    assert unclipped.sum() > 100
    assert np.abs(luma(o) - luma(r))[unclipped].max() <= 2.0


def test_jpeg_refusals(spark):
    """Arithmetic-coded and other non-Huffman SOF variants refuse with
    the scheme named; malformed payloads refuse loudly."""
    import struct

    import numpy as np
    import pytest

    from pystreams_spark.operators.multimodal import _decode_jpeg, encode_jpeg

    # hand-built SOF5 (differential sequential, hierarchical) header —
    # arithmetic (SOF9/SOF10) and lossless (SOF3) decode since r8;
    # hierarchical/differential still refuse by name
    sof5 = (
        b"\xff\xd8"
        + b"\xff\xc5" + struct.pack(">H", 11) + bytes([8]) +
        struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(ValueError, match="hierarchical|differential"):
        _decode_jpeg(sof5)

    with pytest.raises(ValueError, match="not a JPEG"):
        _decode_jpeg(b"\x89PNG....")
    # truncated entropy stream: cut the last 60% of a valid file
    rng = np.arange(16 * 16).reshape(16, 16)
    arr = np.stack([(rng * 5) % 256] * 3, axis=2).astype(np.uint8)
    good = encode_jpeg(arr)
    with pytest.raises(ValueError):
        _decode_jpeg(good[: int(len(good) * 0.4)])


def test_jpeg_kernel_path(spark):
    """A JPEG payload flows through decode_media_features (the same
    mapInPandas kernel as BMP/PNG/...) as kind='image', and a
    constant-gray JPEG yields EXACT channel means."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        decode_media_features,
        encode_jpeg,
    )

    g = np.full((8, 8), 133, np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(g)))], "id long, payload binary"
    )
    row = decode_media_features(df).collect()[0]
    assert row.kind == "image"
    assert (row.width, row.height) == (8, 8)
    assert row.mean_r == 133.0 and row.mean_g == 133.0 and row.mean_b == 133.0


def test_png_adam7_and_tiff_compressions(spark):
    """r7 refusal-lifting differentials vs Java ImageIO:

    - Adam7-interlaced PNG (ImageIO's progressive mode writes real
      7-pass files) decodes pixel-EXACTLY;
    - TIFF Deflate/ZLib and PackBits compressed files (ImageIO's TIFF
      writer) decode pixel-exactly per strip."""
    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_png, _decode_tiff

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    w, h = 21, 13  # odd sizes exercise ragged Adam7 passes
    rng = np.arange(w * h).reshape(h, w)
    arr = np.stack(
        [(rng * 7) % 256, (rng * 13 + 5) % 256, (rng * 29 + 11) % 256],
        axis=2,
    ).astype(np.uint8)

    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    flat = (
        (arr[:, :, 0].astype(np.int64) << 16)
        | (arr[:, :, 1].astype(np.int64) << 8)
        | arr[:, :, 2].astype(np.int64)
    ).ravel()
    pix = gw.new_array(jvm.int, w * h)
    for i, v in enumerate(flat):
        pix[i] = int(v)
    img.setRGB(0, 0, w, h, pix, 0, w)

    # --- Adam7 PNG via the writer's progressive mode
    iw = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    param = iw.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    iw.setOutput(ios)
    iw.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.close()
    payload = bytes(baos.toByteArray())
    # IHDR interlace byte (offset 8+8+13-1=28) really is Adam7
    assert payload[28] == 1
    got = _decode_png(payload)
    assert (got == arr).all(), "Adam7 pixels differ from the original"

    # --- TIFF compressions
    for ctype in ("Deflate", "ZLib", "PackBits"):
        tw = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "tiff"
        ).next()
        tparam = tw.getDefaultWriteParam()
        tparam.setCompressionMode(
            jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
        )
        tparam.setCompressionType(ctype)
        tb = jvm.java.io.ByteArrayOutputStream()
        tios = jvm.javax.imageio.ImageIO.createImageOutputStream(tb)
        tw.setOutput(tios)
        tw.write(None, jvm.javax.imageio.IIOImage(img, None, None), tparam)
        tios.close()
        tp = bytes(tb.toByteArray())
        gt = _decode_tiff(tp)
        assert (gt == arr).all(), f"TIFF {ctype} pixels differ"


def test_tiff_lzw_and_jpeg_in_tiff(spark):
    """r7: TIFF-LZW (MSB-first, early-change) decodes pixel-exactly
    against ImageIO's LZW writer; new-style JPEG-in-TIFF (compression
    7, JPEGTables splice) composes with the T.81 decoder — gray within
    ±2 of ImageIO's own readback, color tile interiors exact; and the
    horizontal-differencing predictor (tag 317=2) reconstructs a
    hand-built file exactly."""
    import struct

    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_tiff

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    w, h = 21, 13
    rng = np.arange(w * h).reshape(h, w)
    arr = np.stack(
        [(rng * 7) % 256, (rng * 13 + 5) % 256, (rng * 29 + 11) % 256], axis=2
    ).astype(np.uint8)
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    flat = (
        (arr[:, :, 0].astype(np.int64) << 16)
        | (arr[:, :, 1].astype(np.int64) << 8)
        | arr[:, :, 2].astype(np.int64)
    ).ravel()
    pix = gw.new_array(jvm.int, w * h)
    for i, v in enumerate(flat):
        pix[i] = int(v)
    img.setRGB(0, 0, w, h, pix, 0, w)

    def tiff_bytes(ctype, image):
        tw = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "tiff"
        ).next()
        p = tw.getDefaultWriteParam()
        p.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionType(ctype)
        b = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(b)
        tw.setOutput(ios)
        tw.write(None, jvm.javax.imageio.IIOImage(image, None, None), p)
        ios.close()
        return bytes(b.toByteArray())

    # LZW: lossless → exact
    assert (_decode_tiff(tiff_bytes("LZW", img)) == arr).all()

    # JPEG-in-TIFF, gray: ±2 of ImageIO's own readback
    gray = ((rng * 11) % 256).astype(np.uint8)
    gimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    raster = gimg.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(gray[y, x]))
    jp = tiff_bytes("JPEG", gimg)
    gotj = _decode_tiff(jp).astype(int)
    img2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(jp))
    r2 = img2.getRaster()
    refg = np.array(
        [[r2.getSample(x, y, 0) for x in range(w)] for y in range(h)], dtype=int
    )
    assert np.abs(gotj[:, :, 0] - refg).max() <= 2

    # JPEG-in-TIFF, color tiles: interiors exact vs ImageIO's readback
    tiles = np.zeros((32, 32, 3), np.uint8)
    tiles[:16, :16] = [200, 30, 40]
    tiles[:16, 16:] = [20, 180, 220]
    tiles[16:, :16] = [90, 90, 90]
    tiles[16:, 16:] = [250, 240, 10]
    timg = jvm.java.awt.image.BufferedImage(
        32, 32, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    tf = (
        (tiles[:, :, 0].astype(np.int64) << 16)
        | (tiles[:, :, 1].astype(np.int64) << 8)
        | tiles[:, :, 2].astype(np.int64)
    ).ravel()
    tpix = gw.new_array(jvm.int, 32 * 32)
    for i, v in enumerate(tf):
        tpix[i] = int(v)
    timg.setRGB(0, 0, 32, 32, tpix, 0, 32)
    jp2 = tiff_bytes("JPEG", timg)
    gotc = _decode_tiff(jp2).astype(int)
    img3 = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(jp2)
    )
    back = gw.new_array(jvm.int, 32 * 32)
    img3.getRGB(0, 0, 32, 32, back, 0, 32)
    ref = np.array([back[i] for i in range(32 * 32)], dtype=np.int64)
    ref = np.stack(
        [(ref >> 16) & 255, (ref >> 8) & 255, ref & 255], axis=1
    ).reshape(32, 32, 3).astype(int)
    ys = np.arange(32)
    inner = (ys % 16 >= 3) & (ys % 16 <= 12)
    mask = inner[:, None] & inner[None, :]
    assert np.abs(gotc - ref)[mask].max() <= 3

    # hand-built predictor=2 (horizontal differencing) file: the
    # reconstruction cumsum must recover the original bytes exactly
    pw, ph = 5, 3
    orig = ((np.arange(pw * ph * 3).reshape(ph, pw, 3) * 37) % 256).astype(
        np.uint8
    )
    diff = orig.astype(np.int64).copy()
    diff[:, 1:, :] = (orig[:, 1:, :].astype(np.int64)
                      - orig[:, :-1, :].astype(np.int64)) % 256
    strip = diff.astype(np.uint8).tobytes()

    def entry(tag, ttype, count, value):
        return struct.pack("<HHI4s", tag, ttype, count, value)

    n_entries = 9
    strip_off = 8 + 2 + n_entries * 12 + 4 + 6  # header+ifd+next+bps
    bps_off = 8 + 2 + n_entries * 12 + 4
    ifd = struct.pack("<H", n_entries)
    ifd += entry(256, 3, 1, struct.pack("<I", pw))       # width
    ifd += entry(257, 3, 1, struct.pack("<I", ph))       # height
    ifd += entry(258, 3, 3, struct.pack("<I", bps_off))  # bits/sample
    ifd += entry(259, 3, 1, struct.pack("<I", 1))        # uncompressed
    ifd += entry(262, 3, 1, struct.pack("<I", 2))        # RGB
    ifd += entry(273, 4, 1, struct.pack("<I", strip_off))
    ifd += entry(277, 3, 1, struct.pack("<I", 3))        # 3 samples
    ifd += entry(279, 4, 1, struct.pack("<I", len(strip)))
    ifd += entry(317, 3, 1, struct.pack("<I", 2))        # predictor 2
    payload = (
        b"II*\x00" + struct.pack("<I", 8) + ifd
        + struct.pack("<I", 0) + struct.pack("<HHH", 8, 8, 8) + strip
    )
    assert (_decode_tiff(payload) == orig).all()


def test_png_16bit_and_float_wav(spark):
    """r7: 16-bit PNGs decode (downscaled to the high byte) — verified
    against a real 16-bit gray file from ImageIO (TYPE_USHORT_GRAY);
    IEEE-float WAV (format 3) decodes with exact RMS arithmetic."""
    import struct

    import numpy as np

    from pystreams_spark.operators.multimodal import _decode_png, _decode_wav

    jvm = spark._jvm
    w, h = 19, 11
    rng = np.arange(w * h).reshape(h, w)
    g16 = ((rng * 997) % 65536).astype(np.uint16)
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_USHORT_GRAY
    )
    raster = img.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(g16[y, x]))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
    payload = bytes(baos.toByteArray())
    # really 16-bit: IHDR depth byte
    assert payload[24] == 16
    got = _decode_png(payload)
    assert got.shape == (h, w, 3)
    assert (got[:, :, 0] == (g16 >> 8).astype(np.uint8)).all()

    # IEEE-float WAV: 0.25-amplitude square wave → RMS exactly 0.25
    n, rate = 64, 8000
    samples = np.array(
        [0.25 if i % 2 == 0 else -0.25 for i in range(n)], np.float32
    ).tobytes()
    fmt = struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    out = _decode_wav(wav)
    assert out["kind"] == "audio" and out["sample_rate"] == rate
    assert out["rms"] == 0.25 and out["zero_crossing_rate"] == 1.0


def test_jpeg_arithmetic_coder_roundtrip_randomized():
    """r8 (VERDICT r7 #7): the QM coder pair — randomized biased
    decision streams across shared adaptive contexts must round-trip
    exactly, with encoder and decoder finishing in IDENTICAL context
    states (any state-machine asymmetry diverges within a few hundred
    decisions). No external arithmetic-JPEG codec exists in this
    container (Java ImageIO reads none), so the spec-transcribed
    decoder is pinned by this mirror property plus the cross-entropy
    equality test below."""
    import random

    from pystreams_spark.operators.jpeg_arith import (
        ArithDecoder,
        ArithEncoder,
        fixed_stat,
        new_stats,
    )

    rng = random.Random(1234)
    for _ in range(60):
        n_ctx = rng.randint(1, 10)
        bits, ctxs = [], []
        bias = [rng.random() for _ in range(n_ctx)]
        for _ in range(rng.randint(1, 3000)):
            c = rng.randrange(n_ctx)
            ctxs.append(c)
            bits.append(1 if rng.random() < bias[c] else 0)
        enc, es = ArithEncoder(), new_stats(n_ctx)
        for c, b in zip(ctxs, bits):
            enc.code(es[c], b)
        data = enc.flush()
        dec, ds = ArithDecoder(data), new_stats(n_ctx)
        assert [dec.decode(ds[c]) for c in ctxs] == bits
        assert es == ds
    # the never-adapting equiprobable bin (AC sign path)
    enc, f = ArithEncoder(), fixed_stat()
    bits = [rng.randrange(2) for _ in range(400)]
    for b in bits:
        enc.code(f, b)
    assert f == fixed_stat()  # stays put by construction
    dec, f2 = ArithDecoder(enc.flush()), fixed_stat()
    assert [dec.decode(f2) for _ in bits] == bits


def test_jpeg_arithmetic_stuffing_and_marker_framing():
    """Every 0xFF in the entropy stream must be followed by a stuffed
    0x00 (decoder treats the pair as a data FF), and a trailing marker
    must terminate the feed without being consumed as data."""
    import random

    from pystreams_spark.operators.jpeg_arith import (
        ArithDecoder,
        ArithEncoder,
        new_stats,
    )

    rng = random.Random(9)
    # long skewed stream → long MPS runs → 0xFF-rich output
    enc, es = ArithEncoder(), new_stats(1)
    bits = [1 if rng.random() < 0.98 else 0 for _ in range(20000)]
    for b in bits:
        enc.code(es[0], b)
    data = enc.flush()
    for i, b in enumerate(data[:-1]):
        if b == 0xFF:
            assert data[i + 1] == 0x00, f"unstuffed FF at {i}"
    # append an EOI marker: decode must still succeed and stop early
    dec, ds = ArithDecoder(data + b"\xff\xd9"), new_stats(1)
    assert [dec.decode(ds[0]) for _ in bits] == bits
    assert dec.pos <= len(data) + 1  # never consumed past the marker FF


def test_jpeg_arithmetic_decode_equals_huffman_pixels(spark):
    """Cross-entropy-coding equality: the SAME quantized coefficients
    through the Huffman and the arithmetic entropy layers must decode
    to IDENTICAL pixels (both layers are lossless), across gray/RGB,
    sizes, quants, and restart intervals."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg,
        encode_jpeg_arith,
    )

    rng = np.random.default_rng(77)
    cases = [
        (np.full((16, 16), 200, np.uint8), 1, 0),
        (rng.integers(0, 256, (24, 40), dtype=np.uint8), 1, 0),
        (rng.integers(0, 256, (33, 47, 3), dtype=np.uint8), 2, 0),
        (rng.integers(0, 256, (40, 24, 3), dtype=np.uint8), 3, 2),
        ((np.indices((17, 19)).sum(0) * 9 % 256).astype(np.uint8), 2, 5),
    ]
    for arr, quant, ri in cases:
        a = _decode_jpeg_parse(encode_jpeg_arith(arr, quant=quant,
                                                 restart_interval=ri))
        h = _decode_jpeg_parse(encode_jpeg(arr, quant=quant,
                                           restart_interval=ri))
        assert (a == h).all(), (arr.shape, quant, ri)
    # constant gray is BIT-exact (flat quant closed form, like baseline)
    img = _decode_jpeg_parse(encode_jpeg_arith(np.full((8, 8), 55, np.uint8)))
    assert (img == 55).all()


def test_jpeg_arithmetic_total_on_garbage():
    """Corrupt arithmetic scans must raise ValueError (or decode to
    SOME image), never hang or crash — landing-zone bytes are
    untrusted."""
    import numpy as np
    import pytest

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg_arith,
    )

    rng = np.random.default_rng(5)
    good = encode_jpeg_arith(
        rng.integers(0, 256, (16, 16), dtype=np.uint8), quant=2
    )
    sos = good.find(b"\xff\xda")
    for seed in range(40):
        r2 = np.random.default_rng(seed)
        bad = bytearray(good)
        # flip bytes inside the entropy span only (headers stay valid)
        for _ in range(4):
            i = int(r2.integers(sos + 14, len(good) - 2))
            bad[i] = int(r2.integers(0, 256))
        try:
            img = _decode_jpeg_parse(bytes(bad))
            assert img.shape == (16, 16, 3)
        except ValueError:
            pass


def test_jpeg_progressive_arithmetic_decode_equals_huffman_pixels(spark):
    """r8: SOF10 progressive-arithmetic — the full §G.2 scan script
    (interleaved DC first Al=1, DC refinement, per-component AC first
    + AC refinement) must reproduce exactly the pixels the sequential
    Huffman path decodes from the same quantized coefficients."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg,
        encode_jpeg_progressive_arith,
    )

    rng = np.random.default_rng(23)
    cases = [
        (np.full((16, 16), 90, np.uint8), 1),
        (rng.integers(0, 256, (24, 40), dtype=np.uint8), 2),
        (rng.integers(0, 256, (33, 47, 3), dtype=np.uint8), 3),
        ((np.indices((25, 18)).sum(0) * 11 % 256).astype(np.uint8), 2),
    ]
    for arr, quant in cases:
        a = _decode_jpeg_parse(encode_jpeg_progressive_arith(arr, quant=quant))
        h = _decode_jpeg_parse(encode_jpeg(arr, quant=quant))
        assert (a == h).all(), (arr.shape, quant)
    img = _decode_jpeg_parse(
        encode_jpeg_progressive_arith(np.full((8, 8), 55, np.uint8))
    )
    assert (img == 55).all()


def test_jpeg_12bit_precision_decodes(spark):
    """r8: 12-bit extended-sequential (SOF1) — level shift 2048, DC
    categories to 15, output scaled round(v*255/4095) into the uint8
    feature domain. Constant planes are closed-form; random content
    stays within DCT rounding of the direct downscale."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg,
    )

    img = _decode_jpeg_parse(
        encode_jpeg(np.full((16, 16), 3000, np.uint16), precision=12)
    )
    assert (img == round(3000 * 255 / 4095)).all()
    rng = np.random.default_rng(31)
    g12 = rng.integers(0, 4096, (24, 40), dtype=np.uint16)
    img = _decode_jpeg_parse(encode_jpeg(g12, precision=12))
    ref = np.round(g12 * (255 / 4095))
    assert np.abs(img[:, :, 0].astype(float) - ref).max() <= 1
    c12 = rng.integers(0, 4096, (17, 19, 3), dtype=np.uint16)
    img = _decode_jpeg_parse(encode_jpeg(c12, precision=12, quant=2))
    assert np.abs(img.astype(float) - np.round(c12 * (255 / 4095))).max() <= 1


def test_jpeg_cmyk_adobe_decodes(spark):
    """r8: 4-component Adobe CMYK (APP14 transform 0) — samples in the
    Adobe-inverted convention, RGB = stored·K/255. Constant planes are
    closed-form. No external CMYK codec exists offline, so the
    inversion convention is pinned by our encoder + this test."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg,
    )

    arr = np.zeros((16, 16, 4), np.uint8)
    arr[:, :, 0], arr[:, :, 1], arr[:, :, 2], arr[:, :, 3] = 200, 150, 100, 250
    img = _decode_jpeg_parse(encode_jpeg(arr))
    exp = [round(v * 250 / 255) for v in (200, 150, 100)]
    assert (img == np.array(exp, np.uint8)).all()
    rng = np.random.default_rng(41)
    a = rng.integers(0, 256, (24, 24, 4), dtype=np.uint8)
    img = _decode_jpeg_parse(encode_jpeg(a))
    ref = np.round(a[:, :, :3].astype(float) * a[:, :, 3:4].astype(float) / 255)
    # ±2: DCT rounding in stored samples compounds through the ·K/255
    # product
    assert np.abs(img.astype(float) - ref).max() <= 2


def test_jpeg_lossless_decodes_exactly(spark):
    """r8: SOF3 lossless (T.81 Annex H) — all 7 predictors, gray/RGB,
    restart intervals, 8/12/16-bit precision. Being lossless, decode
    must reproduce the input EXACTLY (modulo the >8-bit feature-domain
    scaling, which is a pure closed form)."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(59)
    g = rng.integers(0, 256, (20, 30), dtype=np.uint8)
    for pred in range(1, 8):
        img = _decode_jpeg_parse(encode_jpeg_lossless(g, predictor=pred))
        assert (img[:, :, 0] == g).all(), f"predictor {pred}"
    c = rng.integers(0, 256, (15, 17, 3), dtype=np.uint8)
    assert (_decode_jpeg_parse(encode_jpeg_lossless(c, predictor=4)) == c).all()
    img = _decode_jpeg_parse(
        encode_jpeg_lossless(g, predictor=7, restart_interval=37)
    )
    assert (img[:, :, 0] == g).all()
    g16 = rng.integers(0, 65536, (12, 14), dtype=np.uint16)
    img = _decode_jpeg_parse(
        encode_jpeg_lossless(g16, predictor=1, precision=16)
    )
    assert (img[:, :, 0] == np.round(g16 * (255 / 65535)).astype(np.uint8)).all()
    g12 = rng.integers(0, 4096, (9, 11), dtype=np.uint16)
    img = _decode_jpeg_parse(
        encode_jpeg_lossless(g12, predictor=5, precision=12)
    )
    assert (img[:, :, 0] == np.round(g12 * (255 / 4095)).astype(np.uint8)).all()


@pytest.mark.parametrize("predictor", [0, 8, -1])
def test_jpeg_lossless_encoder_refuses_invalid_predictor(predictor):
    """A non-differential lossless scan's Ss must be one of the seven
    predictors (T.81 H.1.2.1): 0 and 8 would give a stream the decoder
    refuses, so the encoder raises instead of writing one."""
    import numpy as np

    from pystreams_spark.operators.multimodal import encode_jpeg_lossless

    with pytest.raises(ValueError, match="predictor must be 1-7"):
        encode_jpeg_lossless(np.zeros((8, 8), dtype=np.uint8), predictor=predictor)


def test_tiff_old_style_jpeg_compression6(spark):
    """r8: old-style JPEG-in-TIFF (compression 6) — the interoperable
    JPEGInterchangeFormat variant holds one complete JPEG stream;
    decode it whole. The fragmented per-tag-tables variant (TTN2-
    deprecated) still refuses by name."""
    import struct

    import numpy as np
    import pytest as _pytest

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        _decode_tiff,
        encode_jpeg,
    )

    rng = np.random.default_rng(67)
    arr = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    jpg = encode_jpeg(arr, quant=1)

    def tiff6(with_jif):
        entries = [
            (256, 4, 1, 32), (257, 4, 1, 24), (259, 3, 1, 6), (277, 3, 1, 3),
        ]
        n_all = len(entries) + (2 if with_jif else 0)
        jpg_off = 8 + 2 + 12 * n_all + 4
        if with_jif:
            entries += [(513, 4, 1, jpg_off), (514, 4, 1, len(jpg))]
        out = bytearray(b"II*\x00" + struct.pack("<I", 8))
        out += struct.pack("<H", len(entries))
        for tag, ttype, count, val in entries:
            out += struct.pack("<HHII", tag, ttype, count, val)
        out += struct.pack("<I", 0)
        out += jpg
        return bytes(out)

    px = _decode_tiff(tiff6(True))
    assert (px == _decode_jpeg_parse(jpg)).all()
    with _pytest.raises(ValueError, match="fragmented tables"):
        _decode_tiff(tiff6(False))


def test_jpeg_progressive_arithmetic_restart_intervals(spark):
    """r8: progressive-arithmetic scans with DRI/RST — every restart
    re-inits the coder AND zeroes the statistics areas; pixels must
    still match the Huffman path exactly."""
    import numpy as np

    from pystreams_spark.operators.multimodal import (
        _decode_jpeg_parse,
        encode_jpeg,
        encode_jpeg_progressive_arith,
    )

    rng = np.random.default_rng(83)
    for shape, q, ri in [((24, 40), 2, 3), ((33, 47, 3), 3, 5),
                         ((16, 16), 1, 1)]:
        arr = rng.integers(0, 256, shape, dtype=np.uint8)
        a = _decode_jpeg_parse(
            encode_jpeg_progressive_arith(arr, quant=q, restart_interval=ri)
        )
        h = _decode_jpeg_parse(encode_jpeg(arr, quant=q))
        assert (a == h).all(), (shape, q, ri)


def test_jpeg_hierarchical_lossless_final_is_exact(spark):
    """r9 (VERDICT r8 #7): hierarchical pyramids (Annex J) whose final
    frame is DIFFERENTIAL LOSSLESS (SOF7 Huffman / SOF15 arithmetic)
    must reproduce the source EXACTLY regardless of how lossy the
    reduced-resolution frames below were — the strongest end-to-end
    check of the EXP upsampler, the reference add/clamp arithmetic,
    and both entropy layers at once. Also: 3-level pyramids, and odd
    (non-multiple-of-16) dimensions."""
    import numpy as np

    from pystreams_spark.operators.jpeg_hier import encode_jpeg_hierarchical
    from pystreams_spark.operators.multimodal import _decode_jpeg

    rng = np.random.RandomState(42)
    for shape in ((21, 19), (32, 32), (13, 27)):
        img = rng.randint(0, 256, shape, dtype=np.uint8)
        for entropy in ("huffman", "arith"):
            for levels in (2, 3):
                p = encode_jpeg_hierarchical(
                    img, quant=5, entropy=entropy,
                    diff_mode="lossless", levels=levels,
                )
                out = _decode_jpeg(p)
                assert out.shape == (*shape, 3)
                assert (out[:, :, 0] == img).all(), (
                    shape, entropy, levels,
                )


def test_jpeg_hierarchical_cross_entropy_equivalence(spark):
    """The same pyramid parameters through Huffman differential frames
    (SOF5/SOF6/SOF7) and arithmetic ones (SOF13/SOF14/SOF15) must
    decode to IDENTICAL pixels — entropy coding is lossless, so any
    model/coder asymmetry in the differential paths shows up here."""
    import numpy as np

    from pystreams_spark.operators.jpeg_hier import encode_jpeg_hierarchical
    from pystreams_spark.operators.multimodal import _decode_jpeg

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (24, 17), dtype=np.uint8)
    for mode in ("seq", "prog", "lossless"):
        a = _decode_jpeg(
            encode_jpeg_hierarchical(
                img, quant=3, entropy="huffman", diff_mode=mode
            )
        )
        b = _decode_jpeg(
            encode_jpeg_hierarchical(
                img, quant=3, entropy="arith", diff_mode=mode
            )
        )
        assert (a == b).all(), mode


def test_jpeg_hierarchical_dct_final_near_exact(spark):
    """DCT differential final frames at quant=1 reconstruct within ±1
    per sample (FDCT/IDCT round-trip rounding) — and constant planes
    are BIT-exact through every variant (the media_decode_report
    closed form)."""
    import numpy as np

    from pystreams_spark.operators.jpeg_hier import encode_jpeg_hierarchical
    from pystreams_spark.operators.multimodal import _decode_jpeg

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (19, 23), dtype=np.uint8)
    for entropy in ("huffman", "arith"):
        for mode in ("seq", "prog"):
            out = _decode_jpeg(
                encode_jpeg_hierarchical(
                    img, quant=1, entropy=entropy, diff_mode=mode
                )
            )
            err = np.abs(out[:, :, 0].astype(int) - img.astype(int)).max()
            assert err <= 1, (entropy, mode, err)
    for entropy in ("huffman", "arith"):
        for mode in ("seq", "prog", "lossless"):
            out = _decode_jpeg(
                encode_jpeg_hierarchical(
                    np.full((8, 8), 173, np.uint8),
                    entropy=entropy, diff_mode=mode,
                )
            )
            assert (out == 173).all(), (entropy, mode)


def test_jpeg_dhp_wrapped_frame_decodes_like_bare_frame(spark):
    """A hierarchical stream cut to its first frame (a DHP sized to that
    frame, then EOI) decodes to exactly the array of the same bytes
    without the DHP segment: hierarchical and plain frames share one
    reconstruction and one colour render."""
    import numpy as np

    from pystreams_spark.operators.jpeg_hier import encode_jpeg_hierarchical
    from pystreams_spark.operators.multimodal import _decode_jpeg

    rng = np.random.default_rng(12)
    for shape in ((16, 16), (24, 40), (16, 16, 3), (24, 40, 3)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for entropy in ("huffman", "arith"):
            p = encode_jpeg_hierarchical(
                img, quant=2, entropy=entropy, diff_mode="seq"
            )
            # entropy bytes stuff every FF, so the first FF DF is EXP
            cut = p.find(b"\xff\xdf")
            dhp = p.find(b"\xff\xde")
            sof = p.find(b"\xff\xc9" if entropy == "arith" else b"\xff\xc0")
            assert 0 < dhp < sof < cut
            dhp_end = dhp + 2 + int.from_bytes(p[dhp + 2 : dhp + 4], "big")
            # DHP body: P, then Y and X — set them to the first frame's
            wrapped = p[: dhp + 5] + p[sof + 5 : sof + 9] + p[dhp + 9 : cut]
            bare = p[:dhp] + p[dhp_end:cut]
            a = _decode_jpeg(wrapped + b"\xff\xd9")
            b = _decode_jpeg(bare + b"\xff\xd9")
            assert a.shape == b.shape == (
                -(-shape[0] // 2), -(-shape[1] // 2), 3
            )
            assert (a == b).all(), (shape, entropy)


def test_jpeg_lossless_arith_sof11_exact(spark):
    """r9: standalone Annex H arithmetic lossless (SOF11) round-trips
    exactly for grayscale AND 3-component images, and flows through
    decode_media_features as kind='image'."""
    import numpy as np

    from pystreams_spark.operators.jpeg_hier import encode_jpeg_lossless_arith
    from pystreams_spark.operators.multimodal import _decode_jpeg

    rng = np.random.RandomState(8)
    g = rng.randint(0, 256, (17, 31), dtype=np.uint8)
    out = _decode_jpeg(encode_jpeg_lossless_arith(g))
    assert (out[:, :, 0] == g).all() and (out[:, :, 2] == g).all()

    c = rng.randint(0, 256, (9, 12, 3), dtype=np.uint8)
    out = _decode_jpeg(encode_jpeg_lossless_arith(c))
    assert (out == c).all()


def test_jpeg_hierarchical_total_on_garbage():
    """Corrupt hierarchical scans must raise ValueError (or decode to
    SOME right-shaped image), never hang/IndexError — same totality
    contract as every other codec path."""
    import numpy as np
    import pytest

    from pystreams_spark.operators.jpeg_hier import encode_jpeg_hierarchical
    from pystreams_spark.operators.multimodal import _decode_jpeg

    rng = np.random.default_rng(5)
    good = encode_jpeg_hierarchical(
        rng.integers(0, 256, (16, 16), dtype=np.uint8),
        quant=2, entropy="arith", diff_mode="seq",
    )
    first_sos = good.find(b"\xff\xda")
    for seed in range(40):
        r2 = np.random.default_rng(seed)
        bad = bytearray(good)
        for _ in range(4):
            i = int(r2.integers(first_sos + 4, len(good) - 2))
            bad[i] = int(r2.integers(0, 256))
        try:
            img = _decode_jpeg(bytes(bad))
            assert img.shape == (16, 16, 3)
        except ValueError:
            pass
    # truncation sweep over the whole stream: ValueError or a decode
    # (cuts landing after the last entropy byte but before EOI decode
    # fine); anything else fails the totality contract
    for cut in range(2, len(good), 53):
        try:
            img = _decode_jpeg(good[:cut])
            assert img.shape == (16, 16, 3)
        except ValueError:
            pass


def test_jpeg_annexh_lossless_model_roundtrip_randomized():
    """r9: the Annex H lossless statistical model — randomized signed
    difference sequences with realistic 2D conditioning (each value
    conditioned on the previous value and a pseudo-'above' value) must
    round-trip exactly through _encode_ll/_decode_ll, across the full
    magnitude range including the ±32768 mod-2^16 edge."""
    import random

    from pystreams_spark.operators.jpeg_arith import (
        ArithDecoder,
        ArithEncoder,
        LL_STAT_BINS,
        _decode_ll,
        _encode_ll,
        new_stats,
    )

    rng = random.Random(77)
    for trial in range(40):
        n = rng.randint(1, 800)
        # mixture of small diffs (typical) and large ones (edges)
        vals = [
            rng.choice(
                [0, 0, 0, rng.randint(-4, 4), rng.randint(-255, 255),
                 rng.randint(-32767, 32768)]
            )
            for _ in range(n)
        ]
        # conditioning streams: previous value = Da; a lagged value = Db
        das = [0] + vals[:-1]
        dbs = [0] * min(7, n) + vals[: max(0, n - 7)]
        lo, up = rng.choice([(0, 1), (0, 2), (1, 3)])
        enc, es = ArithEncoder(), new_stats(LL_STAT_BINS)
        for v, da, db in zip(vals, das, dbs):
            _encode_ll(enc, es, da, db, lo, up, v)
        data = enc.flush()
        dec, ds = ArithDecoder(data), new_stats(LL_STAT_BINS)
        got = [
            _decode_ll(dec, ds, da, db, lo, up)
            for da, db in zip(das, dbs)
        ]
        assert got == vals, trial
        assert es == ds  # identical final context states


def test_jpeg_hierarchical_upsampler_properties():
    """§J.1.1.2 filter invariants: constants stay constant, even
    output samples copy the input exactly, odd samples are the rounded
    neighbor average, trailing edge replicates — on random planes and
    odd crops."""
    import numpy as np

    from pystreams_spark.operators.jpeg_hier import _upsample_ref

    rng = np.random.RandomState(4)
    for _ in range(20):
        h, w = rng.randint(1, 12), rng.randint(1, 12)
        p = rng.randint(0, 256, (h, w)).astype(np.int64)
        fh, fw = 2 * h - rng.randint(0, min(2, h)), 2 * w
        u = _upsample_ref(p, 1, 1, fh, fw)
        assert u.shape == (fh, fw)
        assert (u[0::2, 0::2] == p[: (fh + 1) // 2, :w]).all()
        if w > 1:
            expect = (p[:, :-1] + p[:, 1:] + 1) >> 1
            assert (u[0::2, 1 : 2 * w - 1 : 2]
                    == expect[: (fh + 1) // 2]).all()
        c = np.full((3, 5), 201, np.int64)
        assert (_upsample_ref(c, 1, 1, 6, 10) == 201).all()
    # no-expansion call validates/crops only
    p = rng.randint(0, 256, (6, 6)).astype(np.int64)
    assert (_upsample_ref(p, 0, 0, 4, 5) == p[:4, :5]).all()
    import pytest

    with pytest.raises(ValueError, match="smaller than the frame"):
        _upsample_ref(p, 0, 0, 8, 8)


def test_webp_vp8l_roundtrips_every_path(spark):
    """r9: WebP lossless (VP8L) — every encoder-exercised decode path
    round-trips pixel-exactly: plain literals, LZ77 references
    (neighborhood AND plain distance codes), color cache,
    subtract-green, fixed-mode predictor blocks, palette with sub-byte
    bundling (2/4/16/256-color), odd dimensions."""
    import numpy as np

    from pystreams_spark.operators.vp8l import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (13, 17, 3), dtype=np.uint8)
    quant = rng.randint(0, 4, (20, 20, 3), dtype=np.uint8) * 80
    tiled = np.tile(img[:4, :4], (6, 8, 1))
    two = (quant > 100).astype(np.uint8) * 255
    cases = [
        ("literals", encode_webp_lossless(img, use_lz77=False), img),
        ("lz77", encode_webp_lossless(tiled, use_lz77=True), tiled),
        ("cache", encode_webp_lossless(quant, use_lz77=False, cache_bits=4), quant),
        ("subgreen", encode_webp_lossless(img, use_lz77=False, subtract_green=True), img),
        ("pred_left", encode_webp_lossless(img, use_lz77=False, predictor_mode=1), img),
        ("pred_top", encode_webp_lossless(img, use_lz77=False, predictor_mode=2), img),
        ("palette16", encode_webp_lossless(quant, palette=True, use_lz77=False), quant),
        ("palette2", encode_webp_lossless(two, palette=True, use_lz77=False), two),
    ]
    for name, payload, ref in cases:
        out = decode_webp(payload)
        assert out.shape == ref.shape and (out == ref).all(), name
    # compression is real on redundant shapes
    assert len(encode_webp_lossless(tiled, use_lz77=True)) * 5 < tiled.size
    # refusals name the missing scheme
    import pytest as _pytest

    lossy = b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8 " + (
        8
    ).to_bytes(4, "little") + b"\x00" * 8
    with _pytest.raises(ValueError, match="lossy VP8"):
        decode_webp(lossy)


def test_webp_vp8l_flows_through_media_kernel(spark):
    """A WebP payload flows through decode_media_features as
    kind='image' with exact solid-color means."""
    import numpy as np
    import pandas as pd

    from pystreams_spark.operators.multimodal import decode_media_features
    from pystreams_spark.operators.vp8l import encode_webp_lossless

    solid = np.full((8, 8, 3), [10, 140, 200], np.uint8)
    payloads = [
        encode_webp_lossless(solid, use_lz77=True, subtract_green=True),
        encode_webp_lossless(solid, palette=True, use_lz77=False),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": payloads})
    )
    rows = {r.doc_id: r for r in decode_media_features(df).collect()}
    for r in rows.values():
        assert r.kind == "image" and (r.width, r.height) == (8, 8)
        assert (r.mean_r, r.mean_g, r.mean_b) == (10.0, 140.0, 200.0)


def test_webp_vp8l_total_on_garbage():
    """Corrupt VP8L payloads raise ValueError (or decode to the right
    shape), never hang/IndexError."""
    import numpy as np

    from pystreams_spark.operators.vp8l import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.default_rng(3)
    good = encode_webp_lossless(
        rng.integers(0, 256, (12, 12, 3), dtype=np.uint8), use_lz77=True
    )
    for seed in range(60):
        r2 = np.random.default_rng(seed)
        bad = bytearray(good)
        for _ in range(3):
            i = int(r2.integers(20, len(good)))
            bad[i] = int(r2.integers(0, 256))
        try:
            img = decode_webp(bytes(bad))
            assert img.shape == (12, 12, 3)
        except ValueError:
            pass
    for cut in range(12, len(good), 17):
        try:
            img = decode_webp(good[:cut])
            assert img.shape == (12, 12, 3)
        except ValueError:
            pass


def test_webp_vp8l_random_roundtrip_sweep(spark):
    """Randomized shape/path sweep: 40 random images through random
    encoder configurations must round-trip exactly."""
    import numpy as np

    from pystreams_spark.operators.vp8l import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.RandomState(11)
    for trial in range(40):
        h = int(rng.randint(1, 25))
        w = int(rng.randint(1, 25))
        depth = int(rng.choice([2, 8, 256]))
        img = (
            rng.randint(0, depth, (h, w, 3)) * (255 // (depth - 1))
        ).astype(np.uint8)
        mode = trial % 5
        if mode == 0:
            p = encode_webp_lossless(img, use_lz77=False)
        elif mode == 1:
            p = encode_webp_lossless(img, use_lz77=True)
        elif mode == 2:
            p = encode_webp_lossless(
                img, use_lz77=False, cache_bits=int(rng.randint(1, 8))
            )
        elif mode == 3:
            p = encode_webp_lossless(img, use_lz77=False, subtract_green=True)
        else:
            p = encode_webp_lossless(img, palette=True, use_lz77=False)
        out = decode_webp(p)
        assert (out == img).all(), (trial, mode, h, w, depth)


def test_webp_vp8l_meta_groups_and_combined_cache_lz77(spark):
    """r9 follow-up: the decoder's META prefix-group path (per-block
    code-group selection) and the LZ77+color-cache COMBINATION (the
    decoder inserts every copied pixel into the cache) are both
    encoder-exercised — no claimed decode path is fixture-blind."""
    import numpy as np

    from pystreams_spark.operators.vp8l import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.RandomState(21)
    # left half smooth / right half noisy: two genuinely different
    # histograms, so the two meta groups carry different codes
    img = np.zeros((16, 24, 3), np.uint8)
    img[:, :12] = 37
    img[:, 12:] = rng.randint(0, 256, (16, 12, 3))
    p = encode_webp_lossless(img, use_lz77=False, meta_split=True)
    assert (decode_webp(p) == img).all()

    tiled = np.tile(rng.randint(0, 3, (4, 4, 3), dtype=np.uint8) * 90,
                    (5, 7, 1))
    p2 = encode_webp_lossless(tiled, use_lz77=True, cache_bits=5)
    assert (decode_webp(p2) == tiled).all()
    p3 = encode_webp_lossless(
        tiled, use_lz77=True, cache_bits=4, meta_split=True
    )
    assert (decode_webp(p3) == tiled).all()
