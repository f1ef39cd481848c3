"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.K).

Payloads are opaque ``binary`` columns with a typed metadata struct —
the parquet-native layout for 100 TB multimodal corpora (bytes stay
columnar, metadata prunes without touching payloads).

Decode tiers:

- ``decode_media_features`` REALLY decodes the self-describing
  formats — WAV/RIFF PCM audio, BMP (24/32-bit uncompressed), PPM
  (P6), baseline TIFF (r6: uncompressed strips, both byte orders),
  GIF87a/89a (r6: pure-Python LZW + interlace, first frame),
  PNG from the W3C spec (r6: stdlib zlib inflate + scanline unfilter;
  8-bit gray/RGB/RGBA/palette), and JPEG from ITU-T T.81 — every SOF
  process (sequential, progressive, lossless and hierarchical, Huffman
  or arithmetic coded) through one decoder: entropy decode, dequant,
  vectorized IDCT, integer samples, chroma upsample, YCbCr→RGB —
  verified against Java ImageIO both directions where ImageIO reads
  the process — with numpy + stdlib alone: header parse →
  ``np.frombuffer`` → per-modality features (dims, mean RGB, grayscale
  thumbnail; sample rate, duration, RMS, zero-crossing rate). This is
  the production kernel shape (bytes→array→features inside an Arrow
  batch), not a mock.
- Audio/video codecs (MP3/MP4...) need external codec libraries that
  are not dependencies: those payloads yield NULL features with a
  reason (or raise, policy-switchable).
  ``decode_features``'s hash-stub path remains for plumbing tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("uri", StringType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)


def read_binary_files(spark, path: str, glob: str | None = None) -> DataFrame:
    """Ingest raw files as (path, modificationTime, length, content) —
    Spark's binaryFile source; content is the opaque payload column."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real encoder: hash-seeded values."""
    import hashlib

    h = hashlib.sha256(payload or b"").digest()
    return [((h[i % 32] / 255.0) * 2 - 1) for i in range(dim)]


def decode_features(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "features",
    dim: int = 16,
    decode_stub: bool = True,
) -> DataFrame:
    """Decode payload → feature vector via mapInPandas (Arrow batches).

    Real decoders plug in by replacing the per-batch kernel; the Spark
    plumbing (schema growth, batch iteration, partition preservation) is
    identical. Stub features are deterministic in the payload bytes.
    """
    out_schema = StructType(df.schema.fields + [StructField(out_col, ArrayType(FloatType()))])

    def kernel(batches):
        for pdf in batches:
            if decode_stub:
                pdf[out_col] = pdf[payload_col].map(lambda b: _fake_feature(bytes(b or b""), dim))
            else:
                raise NotImplementedError(
                    "real media decoding requires PIL/ffmpeg — not in this container"
                )
            yield pdf

    return df.mapInPandas(kernel, out_schema)


def encode_bmp(arr) -> bytes:
    """H×W×3 uint8 RGB → a 24-bit uncompressed BMP (bottom-up BGR,
    4-byte row stride) — the mirror of ``_decode_bmp``, so decoded
    video frames re-enter the image pipeline (``frame_sample``'s real
    path emits BMP frames that ``decode_image_pixels`` reads back
    pixel-exactly)."""
    import struct

    import numpy as np

    h, w = int(arr.shape[0]), int(arr.shape[1])
    stride = (w * 3 + 3) & ~3
    bgr = np.ascontiguousarray(arr[::-1, :, ::-1]).astype(np.uint8)
    if stride != w * 3:
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = bgr.reshape(h, w * 3)
        pixels = padded.tobytes()
    else:
        pixels = bgr.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    return header + info + pixels


def frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    payload_col: str = "payload",
    meta_col: str = "meta",
    decode_stub: bool = True,
) -> DataFrame:
    """Sample video payloads into per-frame rows (1→N via mapInPandas).

    Output: (media_id, frame_idx, frame_ts_ms, frame BinaryType).
    Uncompressed-AVI payloads decode for REAL (r10 —
    ``operators/videohash.decode_video_frames``): every ``every_ms``
    of timeline the frame at-or-before that instant is emitted as a
    BMP payload ``decode_image_pixels`` reads back pixel-exactly, with
    its true timestamp (integer math over the container's own
    µs-per-frame). Non-AVI payloads keep the deterministic byte-slice
    stub when ``decode_stub=True``; with ``decode_stub=False`` they
    refuse naming the missing codec (MP4/MOV need ffmpeg, not in this
    container).
    """
    import pandas as pd

    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_ts_ms", LongType()),
            StructField("frame", BinaryType()),
        ]
    )

    def kernel(batches):
        from .videohash import decode_video_frames

        for pdf in batches:
            rows = []
            # plain column zip, not iterrows: row materialization cost
            # matters at 1→N explode volume
            for mid, pay, meta in zip(
                pdf["media_id"], pdf[payload_col], pdf[meta_col]
            ):
                payload = bytes(pay or b"")
                if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
                    # Real decode can fail on AVI-magic payloads this
                    # container can't handle (compressed streams,
                    # truncated container, usec<=0). With
                    # decode_stub=True that degrades to the byte-slice
                    # stub like any other non-decodable container —
                    # one corrupt clip must not kill the job (ADVICE
                    # r10); decode_stub=False surfaces the named error.
                    try:
                        frames, usec, _, _ = decode_video_frames(payload)
                        if usec <= 0:
                            raise ValueError("AVI carries no frame timing")
                    except Exception:
                        if not decode_stub:
                            raise
                        frames = None
                    if frames is not None:
                        total_ms = (len(frames) * usec) // 1000
                        for i, ts in enumerate(
                            range(0, max(int(total_ms), 1), every_ms)
                        ):
                            fi = min(len(frames) - 1, (ts * 1000) // usec)
                            rows.append(
                                {
                                    "media_id": mid,
                                    "frame_idx": i,
                                    "frame_ts_ms": ts,
                                    "frame": encode_bmp(frames[fi]),
                                }
                            )
                        continue
                if not decode_stub:
                    raise NotImplementedError(
                        "real frame extraction for non-AVI containers "
                        "needs ffmpeg"
                    )
                duration = (meta["duration_ms"] or 0) if meta is not None else 0
                for i, ts in enumerate(range(0, max(int(duration), 1), every_ms)):
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "frame_ts_ms": ts,
                            "frame": payload[i % max(len(payload), 1) :][:16],
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_ts_ms", "frame"])

    return df.mapInPandas(kernel, out_schema)


def media_stats(
    df: DataFrame, meta_col: str = "meta", avg_digits: int | None = None
) -> DataFrame:
    """Metadata-only aggregate — touches no payload bytes, so column
    pruning keeps the (huge) binary column out of the scan entirely
    (verify via .explain: ReadSchema excludes payload).

    ``avg_digits``: None (default) returns raw double averages; an int
    switches both averages to the engine-exact integer-scaled half-up
    contract at that many digits (``functions/exact`` — the metadata
    fields are exact integers, so the scaled sums are exact)."""
    if avg_digits is None:
        avg_width = F.avg(F.col(f"{meta_col}.width").cast("double"))
        avg_dur = F.avg(F.col(f"{meta_col}.duration_ms").cast("double"))
    else:
        from ..functions.exact import avg_round_half_up

        avg_width = avg_round_half_up(f"{meta_col}.width", avg_digits)
        avg_dur = avg_round_half_up(f"{meta_col}.duration_ms", avg_digits)
    return df.groupBy(F.col(f"{meta_col}.mime").alias("mime")).agg(
        F.count(F.lit(1)).alias("n"),
        avg_width.alias("avg_width"),
        avg_dur.alias("avg_duration_ms"),
    )


# ---------------------------------------------------------------------------
# Real decoders — numpy-only, for the self-describing uncompressed formats
# ---------------------------------------------------------------------------

_FEATURE_FIELDS = (
    "kind string, width int, height int, mean_r double, mean_g double, "
    "mean_b double, thumb array<float>, sample_rate int, n_channels int, "
    "duration_ms bigint, rms double, zero_crossing_rate double, "
    "decode_error string"
)


def decode_audio_samples(payload: bytes):
    """RIFF/WAVE PCM parser → ``(samples, sample_rate, bits, audio_fmt)``
    with ``samples`` an (n, channels) array in the RAW dtype (uint8 /
    int16 / int32 integer PCM, float32/float64 IEEE-float) — no
    normalization, so integer-exact consumers (the audio fingerprint
    in ``operators/audiohash.py``, r10) see the container's own
    values. Raises ValueError on malformed headers or compressed
    encodings. Split out of ``_decode_wav`` the way
    ``decode_image_pixels`` was."""
    import struct

    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_channels, sample_rate, _, _, bits = fmt
    if audio_fmt == 1:  # integer PCM
        dtype = {8: np.uint8, 16: np.int16, 32: np.int32}.get(bits)
        if dtype is None:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_fmt == 3:  # IEEE-float PCM (r7)
        dtype = {32: np.float32, 64: np.float64}.get(bits)
        if dtype is None:
            raise ValueError(f"unsupported float-PCM bit depth {bits}")
    else:
        raise ValueError(f"non-PCM WAV (format {audio_fmt}) needs a codec")
    samples = np.frombuffer(data, dtype=dtype)
    n_channels = max(int(n_channels), 1)
    samples = samples[: len(samples) - len(samples) % n_channels]
    return (
        samples.reshape(-1, n_channels),
        int(sample_rate),
        int(bits),
        int(audio_fmt),
    )


def _decode_wav(payload: bytes) -> dict:
    """RIFF/WAVE PCM → unified audio feature dict (rms, zcr, …) via
    ``decode_audio_samples``."""
    import numpy as np

    samples2d, sample_rate, bits, audio_fmt = decode_audio_samples(payload)
    n_channels = samples2d.shape[1]
    samples = (
        samples2d.mean(axis=1) if n_channels > 1 else samples2d[:, 0]
    )
    x = samples.astype(np.float64)
    if audio_fmt == 1:
        if bits == 8:
            x = x - 128.0
        x = x / float(2 ** (bits - 1))
    n = len(x)
    rms = float(np.sqrt((x * x).mean())) if n else 0.0
    zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if n > 1 else 0.0
    return {
        "kind": "audio",
        "sample_rate": int(sample_rate),
        "n_channels": int(n_channels),
        "duration_ms": int(n * 1000 / sample_rate) if sample_rate else 0,
        "rms": round(rms, 6),
        "zero_crossing_rate": round(zcr, 6),
    }


def _decode_bmp(payload: bytes):
    """Uncompressed 24/32-bit BMP → (H, W, 3) uint8 RGB array. BMP rows
    are bottom-up and padded to 4-byte boundaries."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    header_size, width, height = struct.unpack_from("<Iii", payload, 14)
    if header_size < 40:
        raise ValueError("BMP core-header variant unsupported")
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) needs a codec")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    bottom_up = height > 0
    height = abs(height)
    bytes_pp = bpp // 8
    row_stride = (width * bytes_pp + 3) & ~3
    need = data_off + row_stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_stride * height, offset=data_off
    ).reshape(height, row_stride)
    px = rows[:, : width * bytes_pp].reshape(height, width, bytes_pp)
    if bottom_up:
        px = px[::-1]
    # BMP stores BGR(A) — reorder to RGB
    return px[:, :, 2::-1][:, :, :3].copy()


def _decode_ppm(payload: bytes):
    """Binary PPM (P6) → (H, W, 3) uint8 RGB array."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: P6 <w> <h> <maxval> with comments/whitespace
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return arr.reshape(h, w, 3).copy()


def _png_unfilter(raw: bytes, offset: int, w: int, h: int, channels: int,
                  bps: int = 1):
    """Undo the five scanline filters over one (sub-)image starting at
    ``offset`` in the inflated stream; returns (rows array, new
    offset). ``bps`` = bytes per sample (2 for 16-bit, r7); the filter
    unit is channels·bps bytes per spec. Sub/Average/Paeth are
    pixel-sequential by spec."""
    import numpy as np

    stride = w * channels * bps
    bpp = channels * bps
    if offset + (stride + 1) * h > len(raw):
        raise ValueError("PNG pixel data truncated")
    recon = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        base = offset + y * (stride + 1)
        f = raw[base]
        cur = np.frombuffer(raw, np.uint8, stride, base + 1).astype(np.int32)
        if f == 0:
            pass
        elif f == 2:  # Up — whole-row vectorizable
            cur = (cur + prev) & 0xFF
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        recon[y] = cur.astype(np.uint8)
        prev = cur
    return recon, offset + (stride + 1) * h


def _decode_png(payload: bytes):
    """PNG (W3C/RFC 2083 spec) → (H, W, 3) uint8 RGB array — stdlib
    ``zlib`` inflates IDAT, numpy + a per-row loop undo the five scanline
    filters (None/Sub/Up/Average/Paeth; Sub/Average/Paeth are
    pixel-sequential within a row by definition, so those rows cost a
    Python loop over the stride — fine for the thumbnail/feature sizes
    this ingest path decodes; a throughput image pipeline would hand
    payloads to a codec lib). Supports 8-bit gray / gray+alpha /
    RGB / RGBA / palette, plus Adam7 interlace (r7: 7 independently
    filtered sub-images scattered to the grid); alpha is dropped, palette is
    looked up. Same offline-spec move as ``formats/avro.py``."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # data + length/type/CRC words
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth not in (8, 16):
        raise ValueError(f"PNG bit depth {depth} unsupported (8/16 only)")
    if depth == 16 and color == 3:
        raise ValueError("PNG 16-bit palette is not a legal combination")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"PNG color type {color} unsupported")
    bps = depth // 8
    sw = channels * bps  # bytes per pixel
    raw = zlib.decompress(b"".join(idat))
    if not interlace:
        if len(raw) != (w * sw + 1) * h:
            raise ValueError("PNG pixel data size mismatch")
        px = _png_unfilter(raw, 0, w, h, channels, bps)[0].reshape(h, w, sw)
    else:  # Adam7 (r7): 7 independently-filtered sub-images, scattered
        px = np.zeros((h, w, sw), np.uint8)
        offset = 0
        for x0, y0, xs, ys in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            pw = -(-(w - x0) // xs) if w > x0 else 0
            ph = -(-(h - y0) // ys) if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, offset = _png_unfilter(raw, offset, pw, ph, channels, bps)
            px[y0::ys, x0::xs] = sub.reshape(ph, pw, sw)
        if offset != len(raw):
            raise ValueError("PNG interlaced pixel data size mismatch")
    if bps == 2:  # 16-bit is big-endian per spec: high byte = 8-bit value
        px = np.ascontiguousarray(px[:, :, 0::2])
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        if int(px.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[px[:, :, 0]].copy()
    if channels in (1, 2):  # gray / gray+alpha → replicate to RGB
        return np.repeat(px[:, :, :1], 3, axis=2).copy()
    return px[:, :, :3].copy()


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 spec §13): MSB-first code packing,
    9→12-bit codes with EARLY change (width grows one code sooner than
    GIF's), Clear=256 / EOI=257. Pure Python, like the GIF sibling."""
    CLEAR, EOI = 256, 257

    def fresh():
        return [bytes([i]) for i in range(256)] + [b"", b""]

    table = fresh()
    width = 9
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = fresh()
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt TIFF LZW stream")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt TIFF LZW stream")
            out += entry
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1  # early change (TIFF writers switch here)
    return bytes(out)  # EOI missing: tolerate, like most readers


def _packbits_decode(data: bytes) -> bytes:
    """PackBits (TIFF 6.0 spec, §9 — Apple's classic RLE): n in 0..127
    → copy n+1 literal bytes; n in -127..-1 → repeat next byte 1-n
    times; -128 is a no-op."""
    out = bytearray()
    i, ln = 0, len(data)
    while i < ln:
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n >= 0:
            out += data[i : i + n + 1]
            i += n + 1
        elif n != -128:
            out += data[i : i + 1] * (1 - n)
            i += 1
    return bytes(out)


def _decode_tiff(payload: bytes):
    """TIFF (Adobe TIFF 6.0 spec + TTN2) → (H, W, 3) uint8 RGB —
    uncompressed, LZW (§13, MSB-first early-change — r7), deflate/ZLib
    (8 + legacy 32946, r7), PackBits (32773, r7), or new-style
    JPEG-in-TIFF (compression 7 with JPEGTables splicing, composed
    with the T.81 decoder — r7) strips; optional horizontal-
    differencing predictor (tag 317=2); 8 bits/sample, grayscale or
    RGB(A), either byte order. TIFF is the scanned-document staple;
    IFD parsing + per-strip decode + ``np.frombuffer`` (only old-style
    JPEG, compression 6, still raises)."""
    import struct

    import numpy as np

    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    _TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 6: 1, 7: 1}  # 7=UNDEFINED (JPEGTables)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, ttype = struct.unpack_from(bo + "HH", payload, base)
        (count,) = struct.unpack_from(bo + "I", payload, base + 4)
        size = _TYPE_SIZE.get(ttype)
        if size is None:
            continue  # rational/unknown types are irrelevant to pixel layout
        total = size * count
        off = base + 8 if total <= 4 else struct.unpack_from(bo + "I", payload, base + 8)[0]
        fmt = {1: "B", 2: "B", 3: "H", 4: "I", 6: "b", 7: "B"}[ttype]
        tags[tag] = list(struct.unpack_from(bo + str(count) + fmt, payload, off))
    try:
        w, h = tags[256][0], tags[257][0]
        # old-JPEG (compression 6) files may legally omit strip tags —
        # the pixel data lives behind JPEGInterchangeFormat instead
        if tags.get(259, [1])[0] != 6:
            offsets, counts = tags[273], tags[279]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag {exc}") from None
    compression = tags.get(259, [1])[0]
    if compression not in (1, 5, 6, 7, 8, 32946, 32773):
        raise ValueError(f"TIFF compression {compression} needs a codec")

    if compression == 6:  # old-style JPEG-in-TIFF (TIFF 6.0 §22, r8)
        # The interoperable variant stores ONE complete JPEG stream at
        # JPEGInterchangeFormat (513) / ...Length (514) — decode it
        # whole. The fragmented per-tag-tables variant (JPEGQTables 519
        # etc. with bare scan strips) is the famously broken part of
        # the spec (TTN2 deprecates it) — refuse it by name.
        jif = tags.get(513)
        jlen = tags.get(514)
        if not jif:
            raise ValueError(
                "TIFF old-JPEG (compression 6) without "
                "JPEGInterchangeFormat (fragmented tables variant) "
                "unsupported — re-encode as TTN2 new-style JPEG"
            )
        off = jif[0]
        n = jlen[0] if jlen else len(payload) - off
        px = _decode_jpeg(payload[off : off + n])[:h, :w]
        return np.ascontiguousarray(px)

    strips = [payload[o : o + c] for o, c in zip(offsets, counts)]

    if compression == 7:  # new-style JPEG-in-TIFF (TTN2): each strip is
        # a JPEG stream; tag 347 (JPEGTables) may hold an abbreviated
        # tables-only stream (SOI + DQT/DHT + EOI) shared by all strips
        jt = tags.get(347)
        parts = []
        for s in strips:
            if jt is not None:
                jtb = bytes(jt)
                if s[:2] != b"\xff\xd8" or jtb[:2] != b"\xff\xd8":
                    raise ValueError("TIFF JPEG strip/tables missing SOI")
                s = jtb[:-2] + s[2:]  # splice: tables (sans EOI) + strip body
            parts.append(_decode_jpeg(s))
        px = np.vstack(parts)[:h, :w]
        return np.ascontiguousarray(px)

    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [1])
    if any(b != 8 for b in bits[:spp]):
        raise ValueError(f"TIFF bits-per-sample {bits} unsupported (8 only)")
    if compression in (8, 32946):  # Adobe / legacy deflate: zlib per strip
        import zlib

        strips = [zlib.decompress(s) for s in strips]
    elif compression == 32773:  # PackBits (TIFF 6.0 §9): per-strip RLE
        strips = [_packbits_decode(s) for s in strips]
    elif compression == 5:  # LZW (TIFF 6.0 §13)
        strips = [_tiff_lzw_decode(s) for s in strips]
    data = b"".join(strips)
    if len(data) < w * h * spp:
        raise ValueError("truncated TIFF strip data")
    px = np.frombuffer(data, np.uint8, w * h * spp).reshape(h, w, spp)
    if tags.get(317, [1])[0] == 2:  # horizontal-differencing predictor
        px = (np.cumsum(px.astype(np.int64), axis=1) % 256).astype(np.uint8)
    elif tags.get(317, [1])[0] not in (1,):
        raise ValueError(f"TIFF predictor {tags[317][0]} unsupported")
    if spp == 1:
        return np.repeat(px, 3, axis=2).copy()
    if spp == 2:  # gray + alpha
        return np.repeat(px[:, :, :1], 3, axis=2).copy()
    return px[:, :, :3].copy()  # RGB / RGBA (alpha dropped)


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW (GIF89a spec appendix): variable-width codes
    (min+1 … 12 bits, LSB-first packing), CLEAR resets the table, EOI
    ends the stream. Pure Python — dictionary coding, not entropy
    coding, so no codec library is needed."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt GIF LZW stream")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return bytes(out)  # EOI missing: tolerate, like most readers


def _decode_gif(payload: bytes):
    """GIF87a/89a (public spec) → (H, W, 3) uint8 RGB of the FIRST
    frame: logical screen + color tables + LZW image data, Adam-style
    4-pass interlace honored. Extensions (GCE/comment/application) are
    skipped; animation frames beyond the first are ignored (a feature
    pipeline wants one representative raster)."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    packed = payload[10]
    pos = 13
    global_table = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_table = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(-1, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            _, _, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            table = global_table
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(-1, 3)
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image has no color table")
            min_code = payload[pos]
            pos += 1
            chunks = []
            while payload[pos] != 0:
                ln = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = np.frombuffer(
                _gif_lzw_decode(b"".join(chunks), min_code), np.uint8
            )
            if len(idx) < w * h:
                raise ValueError("truncated GIF pixel data")
            px = idx[: w * h].reshape(h, w)
            if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                order = (
                    list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2))
                )
                deinter = np.empty_like(px)
                deinter[order] = px
                px = deinter
            if int(px.max()) >= len(table):
                raise ValueError("GIF color index out of range")
            return table[px].copy()
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"GIF unexpected block 0x{b:02x}")
    raise ValueError("GIF contains no image data")


# --- JPEG (ITU-T T.81, public spec) ----------------------------------------

# zigzag index -> natural (row-major) coefficient index, T.81 Figure 5
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_dct_basis():
    """Orthonormal 8-point DCT-II basis C with C[u, x] =
    a(u)·cos((2x+1)uπ/16) — forward DCT is C·B·Cᵀ, inverse is Cᵀ·F·C."""
    import numpy as np

    x = np.arange(8, dtype=np.float64)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    a = np.full(8, np.sqrt(0.25))
    a[0] = np.sqrt(0.125)
    return a[:, None] * c


def _jpeg_idct(coef, h: int, w: int, level: float):
    """Dequantized zigzag coefficient grid (rows, cols, 64) → the
    rounded int64 sample plane cropped to (h, w): de-zigzag, one
    vectorized 8×8 inverse DCT over all blocks, plus ``level`` —
    2^(P−1), or 0 in a differential frame."""
    import numpy as np

    nat = np.zeros_like(coef)
    nat[:, :, np.asarray(_JPEG_ZIGZAG)] = coef
    r, q = nat.shape[0], nat.shape[1]
    blocks = nat.reshape(r, q, 8, 8).astype(np.float64)
    basis = _jpeg_dct_basis()
    spatial = np.einsum("ux,rcuv,vy->rcxy", basis, blocks, basis) + level
    plane = spatial.transpose(0, 2, 1, 3).reshape(r * 8, q * 8)
    return np.round(plane[:h, :w]).astype(np.int64)


def _fdct_zz(plane, quant: int, level: float):
    """Float sample plane → quantized zigzag blocks (nby, nbx, 64):
    edge-padded to whole blocks, minus ``level``, forward DCT, divided
    by the flat ``quant`` and rounded."""
    import numpy as np

    h, w = plane.shape
    nby, nbx = -(-h // 8), -(-w // 8)
    padded = np.pad(
        plane.astype(np.float64),
        ((0, nby * 8 - h), (0, nbx * 8 - w)),
        mode="edge",
    )
    blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - level
    basis = _jpeg_dct_basis()
    coef = np.einsum("ux,rcxy,vy->rcuv", basis, blocks, basis)
    q = np.round(coef / float(quant)).astype(np.int64)
    return q.reshape(nby, nbx, 64)[:, :, np.asarray(_JPEG_ZIGZAG)]


def _jpeg_source_planes(arr, level: float = 128.0, maxv: int = 255):
    """Fixture-encoder input → float component planes: an (H, W) array
    is one gray plane; an (H, W, 3) RGB array becomes JFIF YCbCr,
    rounded and clipped to [0, maxv]."""
    import numpy as np

    if arr.ndim == 2:
        return [arr.astype(np.float64)]
    rgb = arr.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    return [
        np.clip(np.round(p), 0, maxv)
        for p in (
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + level,
            0.5 * r - 0.418688 * g - 0.081312 * b + level,
        )
    ]


_JFIF = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"  # APP0 body


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment: FF, the marker, the length, the body."""
    import struct

    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _sof_body(prec: int, h: int, w: int, nc: int) -> bytes:
    """SOF (or DHP) body of the fixture encoders: components 1..nc, all
    1×1 sampled, all on quantization table 0."""
    import struct

    body = struct.pack(">BHHB", prec, h, w, nc)
    for i in range(nc):
        body += bytes([i + 1, 0x11, 0])
    return body


def _sos_body(idx, ss: int, se: int, ahal: int = 0) -> bytes:
    """SOS body of the fixture encoders: the 0-based component indexes
    ``idx`` (ids i+1, entropy tables 0), then Ss, Se and Ah<<4|Al."""
    body = bytes([len(idx)])
    for i in idx:
        body += bytes([i + 1, 0x00])
    return body + bytes([ss, se, ahal])


def _huff_seq_tables(precision: int = 8):
    """The fixture encoders' single-length canonical Huffman tables as
    (dc_code, ac_code, DHT segments): DC symbols at 4 bits (8-bit: 12
    symbols) or 5 bits (12-bit: 16 symbols — 16 four-bit codes would
    use the forbidden all-ones code), AC symbols at 8 bits. Spec-valid:
    the all-ones code of each length stays unused (T.81 Annex C)."""
    n_dc = 12 if precision == 8 else 16
    dc_bits = 4 if precision == 8 else 5
    max_sz = 10 if precision == 8 else 14
    dc_code = {s: (s, dc_bits) for s in range(n_dc)}
    ac_order = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, max_sz + 1)
    ]
    ac_code = {sym: (i, 8) for i, sym in enumerate(ac_order)}
    dht_dc = bytes([0x00]) + bytes(
        [n_dc if n == dc_bits else 0 for n in range(1, 17)]
    ) + bytes(range(n_dc))
    dht_ac = bytes([0x10]) + bytes(
        [len(ac_order) if n == 8 else 0 for n in range(1, 17)]
    ) + bytes(ac_order)
    return dc_code, ac_code, _seg(0xC4, dht_dc) + _seg(0xC4, dht_ac)


def _huff_lossless_table():
    """The lossless fixture encoders' Huffman table: categories 0..16
    at 5 bits, as (code, DHT segment)."""
    dht = bytes([0x00]) + bytes(
        [17 if n == 5 else 0 for n in range(1, 17)]
    ) + bytes(range(17))
    return {s: (s, 5) for s in range(17)}, _seg(0xC4, dht)


def _put_ll_diff(wtr, code, diff: int) -> None:
    """One lossless difference, taken modulo 2^16 to its signed
    representative: the category code, then the magnitude bits
    (category 16, ±32768, has none)."""
    diff &= 0xFFFF
    if diff >= 0x8000:
        diff -= 0x10000
    if diff == -32768:
        wtr.put(*code[16])
        return
    s = abs(diff).bit_length()
    wtr.put(*code[s])
    if s:
        wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)


def _build_jpeg_huff(counts, symbols):
    """Canonical JPEG Huffman table (T.81 Annex C) → flat 16-bit-prefix
    lookup: lut_sym[v] = the symbol whose code prefixes the 16-bit peek
    v (-1 if no code does), lut_len[v] = that code's bit length. One
    array index decodes a whole symbol — no bit-by-bit tree walk."""
    import numpy as np

    lut_sym = np.full(65536, -1, np.int32)
    lut_len = np.zeros(65536, np.uint16)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            sym = symbols[k]
            k += 1
            lo = code << (16 - length)
            lut_sym[lo : lo + (1 << (16 - length))] = sym
            lut_len[lo : lo + (1 << (16 - length))] = length
            code += 1
        if code > (1 << length):
            raise ValueError("JPEG DHT code counts overflow")
        code <<= 1
    return lut_sym, lut_len


class _JpegBits:
    """MSB-first bit reader over destuffed entropy bytes. Peeks pad
    with zeros past the end (codes are prefix-free, so padding never
    changes which code the true prefix selects); consuming past the
    end raises — a truncated stream must not decode silently."""

    __slots__ = ("d", "pos", "nbits")

    def __init__(self, data: bytes):
        self.d = data + b"\x00\x00\x00\x00"
        self.pos = 0
        self.nbits = len(data) * 8

    def peek16(self) -> int:
        byte, sh = self.pos >> 3, self.pos & 7
        v = int.from_bytes(self.d[byte : byte + 3], "big")
        return (v >> (8 - sh)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.pos += k
        if self.pos > self.nbits:
            raise ValueError("truncated JPEG entropy stream")

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        byte, sh = self.pos >> 3, self.pos & 7
        v = int.from_bytes(self.d[byte : byte + 4], "big")
        out = (v >> (32 - sh - k)) & ((1 << k) - 1)
        self.pos += k
        if self.pos > self.nbits:
            raise ValueError("truncated JPEG entropy stream")
        return out


def _jpeg_huff_decode(bits: _JpegBits, tbl) -> int:
    v = bits.peek16()
    sym = tbl[0][v]
    if sym < 0:
        raise ValueError("invalid JPEG huffman code")
    bits.skip(int(tbl[1][v]))
    return int(sym)


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.12: map the s received magnitude bits to a signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_decode_block(bits, dc_tbl, ac_tbl, pred, cid, dc_max=11):
    """One 8×8 block: DC diff + RLE'd AC coefficients, quantized, in
    zigzag order (int64[64]). ``dc_max`` = 11 at 8-bit precision, 15
    at 12-bit (T.81 Table F.1)."""
    import numpy as np

    zz = np.zeros(64, np.int64)
    s = _jpeg_huff_decode(bits, dc_tbl)
    if s > dc_max:
        raise ValueError("JPEG DC category out of range")
    pred[cid] += _jpeg_extend(bits.read(s), s)
    zz[0] = pred[cid]
    k = 1
    while k < 64:
        rs = _jpeg_huff_decode(bits, ac_tbl)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC coefficient index overrun")
        zz[k] = _jpeg_extend(bits.read(s), s)
        k += 1
    return zz


def _jpeg_entropy_intervals(data: bytes):
    """Destuff (FF 00 → FF) and split the scan's entropy bytes at
    restart markers (FF D0–D7) → list of per-interval byte strings."""
    segs, cur, i, n = [], bytearray(), 0, len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # a real marker terminates the scan
        cur.append(b)
        i += 1
    segs.append(bytes(cur))
    return segs


def _decode_jpeg(payload: bytes):
    """Entry point: every malformed-input failure mode (truncated
    segment, short table, bad offsets) surfaces as ValueError so the
    ingest kernel's undecodable-degrade contract holds."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    try:
        return _decode_jpeg_parse(payload)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"malformed JPEG: {exc}") from None


# SOF0–3, 5–7, 9–11 and 13–15 (T.81 Table B.1)
_JPEG_SOFS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _decode_jpeg_parse(payload: bytes):
    """JPEG (ITU-T T.81, public spec) → (H, W, 3) uint8 RGB, for every
    SOF process.

    One segment loop reads the tables (DQT, DHT, DAC, DRI, APP14) and
    the frames. A frame's scans decode into per-component coefficient
    grids — sequential (`_jpeg_decode_scan`, `_jpeg_decode_scan_arith`)
    or progressive (`_jpeg_progressive_scan*`), Huffman or arithmetic
    coded (Annexes F, G and D) — or into sample planes (lossless DPCM,
    Annex H, `_jpeg_decode_scan_lossless`). A finished frame is
    reconstructed once: IDCT, then each component rounded and clamped
    to P-bit integer samples. A plain stream has one frame. A
    hierarchical stream (DHP, Annex J) has several: a non-differential
    frame sets the reference planes, and a differential frame (SOF5–7,
    SOF13–15) adds its samples to them, first upsampled as the
    preceding EXP marker asks (`jpeg_hier`). The final planes, at the
    frame's or the DHP's size, go through the one colour render
    (`_jpeg_render`). Sampling factors must be whole ratios, and
    lossless and hierarchical frames 1×1. A differential SOF outside
    a DHP stream refuses as malformed, by name."""
    import struct

    import numpy as np

    from .jpeg_hier import _add_to_ref, _upsample_ref

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, object] = {}
    huff_dc: dict[int, object] = {}
    huff_ac: dict[int, object] = {}
    dc_cond: dict[int, tuple] = {}  # DAC: table id → (L, U)
    ac_cond: dict[int, int] = {}  # DAC: table id → Kx
    ri = 0
    adobe: int | None = None  # APP14 transform: 0 CMYK/RGB, 1 YCbCr, 2 YCCK
    dhp = None  # a hierarchical stream's DHP: (sof, comps)
    exp = (0, 0)  # EXP (Eh, Ev) for the next differential frame
    # the open frame: (SOF marker, sof, comps, grids, quant); grids maps
    # cid → coefficient grid (DCT) or sample plane (lossless), quant
    # maps cid → the DQT table in force at its first scan
    frame = None
    last = None  # the last frame opened
    refs: dict[int, object] = {}  # cid → reconstructed integer plane

    def close_frame():
        nonlocal frame
        if frame is None:
            return
        marker, (h, w, _nc, prec), comps, grids, quant = frame
        frame = None
        if not grids:
            raise ValueError("JPEG frame has no SOS scan")
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        maxv = (1 << prec) - 1
        for c in comps:
            cid = c["id"]
            if cid not in grids:
                continue
            if marker & 3 == 3:  # lossless: grids hold samples
                plane = grids[cid]
            else:
                plane = _jpeg_idct(
                    grids[cid] * quant[cid],
                    -(-h * c["v"] // vmax),
                    -(-w * c["h"] // hmax),
                    0.0 if marker & 4 else float(1 << (prec - 1)),
                )
            if marker & 4:
                refs[cid] = _add_to_ref(refs[cid], plane, marker & 3 == 3, maxv)
            else:
                refs[cid] = np.clip(plane, 0, maxv)

    while pos + 1 < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT — may carry several tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(seg, np.uint8, 64, p).astype(np.int64)
                    p += 64
                else:
                    qt[tq] = np.frombuffer(seg, ">u2", 64, p).astype(np.int64)
                    p += 128
        elif marker == 0xC4:  # DHT — may carry several tables
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                p += 1
                counts = list(seg[p : p + 16])
                p += 16
                n = sum(counts)
                syms = list(seg[p : p + n])
                p += n
                (huff_dc if tc == 0 else huff_ac)[th] = _build_jpeg_huff(
                    counts, syms
                )
        elif marker == 0xEE:  # APP14 — Adobe color-transform flag
            if seg.startswith(b"Adobe") and len(seg) >= 12:
                adobe = seg[11]
        elif marker == 0xCC:  # DAC — arithmetic conditioning (may carry several)
            p = 0
            while p + 1 < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 15
                cs_val = seg[p + 1]
                p += 2
                if tc == 0:
                    dc_cond[tb] = (cs_val & 15, cs_val >> 4)  # (L, U)
                else:
                    ac_cond[tb] = cs_val  # Kx
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDF and dhp is not None:  # EXP
            close_frame()
            exp = (seg[0] >> 4, seg[0] & 15)
        elif marker == 0xDE or marker in _JPEG_SOFS:
            # SOF marker bits: 2 = differential; 1–0 = sequential (0,
            # 1), progressive (2) or lossless (3); 3 = arithmetic
            if marker != 0xDE and marker & 4 and dhp is None:
                raise ValueError(
                    f"JPEG differential SOF marker 0x{marker:02X} outside a "
                    "hierarchical (DHP) stream — malformed"
                )
            close_frame()
            prec, nc = seg[0], seg[5]
            if marker == 0xDE or marker & 3 == 3:
                if not 2 <= prec <= 16:
                    raise ValueError(
                        f"JPEG lossless/hierarchical precision {prec} "
                        "invalid (2-16)"
                    )
            elif prec not in (8, 12):
                raise ValueError(
                    f"JPEG {prec}-bit precision unsupported (8 or 12)"
                )
            if nc not in (1, 3, 4):
                raise ValueError(f"JPEG with {nc} components unsupported")
            h, w = struct.unpack_from(">HH", seg, 1)
            sof = (int(h), int(w), nc, prec)
            comps = [
                {
                    "id": seg[6 + 3 * i],
                    "h": seg[7 + 3 * i] >> 4,
                    "v": seg[7 + 3 * i] & 15,
                    "tq": seg[8 + 3 * i],
                }
                for i in range(nc)
            ]
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            for c in comps:
                if c["h"] < 1 or c["v"] < 1 or hmax % c["h"] or vmax % c["v"]:
                    raise ValueError("JPEG fractional sampling ratio unsupported")
            if hmax * vmax > 1 and (
                marker & 3 == 3 or marker == 0xDE or dhp is not None
            ):
                raise ValueError(
                    "JPEG lossless or hierarchical frame with subsampled "
                    "components unsupported"
                )
            if marker == 0xDE:
                if dhp is not None or last is not None:
                    raise ValueError("JPEG DHP must come once, before every frame")
                dhp = (sof, comps)
                continue
            if dhp is not None:
                declared = {c["id"] for c in dhp[1]}
                unknown = [c["id"] for c in comps if c["id"] not in declared]
                if unknown:
                    raise ValueError(
                        f"JPEG frame components {unknown} not declared in DHP"
                    )
                if marker & 4:
                    for c in comps:
                        if c["id"] not in refs:
                            raise ValueError(
                                "JPEG differential frame with no reference"
                            )
                        refs[c["id"]] = _upsample_ref(refs[c["id"]], *exp, h, w)
                exp = (0, 0)
            frame = last = (marker, sof, comps, {}, {})
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            fm, sof, comps, grids, quant = frame
            ns = seg[0]
            scan = [
                (seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15)
                for i in range(ns)
            ]
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            by_id = {c["id"]: c for c in comps}
            for cid, _td, _ta in scan:
                if cid not in by_id:
                    raise ValueError("JPEG scan references unknown component")
                if fm & 3 != 3 and cid not in quant:
                    if by_id[cid]["tq"] not in qt:
                        raise ValueError(
                            "JPEG scan references a missing DQT table"
                        )
                    quant[cid] = qt[by_id[cid]["tq"]]
            end = _jpeg_entropy_end(payload, pos)
            data = payload[pos:end]
            pos = end
            diff = bool(fm & 4)
            if fm & 3 == 2:
                band = (ss, se, ahal >> 4, ahal & 15)
                if fm & 8:
                    _jpeg_progressive_scan_arith(
                        data, grids, sof, comps, scan, band, dc_cond,
                        ac_cond, ri, diff,
                    )
                else:
                    _jpeg_progressive_scan(
                        data, grids, sof, comps, scan, band, huff_dc,
                        huff_ac, ri, diff,
                    )
                continue
            if ns != sof[2]:
                raise ValueError("JPEG multi-scan sequential/lossless unsupported")
            if fm & 3 == 3:
                if diff != (ss == 0) or ss > 7:
                    raise ValueError(
                        f"JPEG lossless predictor {ss} invalid "
                        f"({'0' if diff else '1-7'})"
                    )
                grids.update(_jpeg_decode_scan_lossless(
                    data, sof, scan, dc_cond if fm & 8 else huff_dc, ss,
                    ahal & 15, ri, fm & 8,
                ))
            elif fm & 8:
                _jpeg_decode_scan_arith(
                    data, grids, sof, comps, scan, dc_cond, ac_cond, ri, diff
                )
            else:
                _jpeg_decode_scan(
                    data, grids, sof, comps, scan, huff_dc, huff_ac, ri, diff
                )
            if dhp is None:
                break  # a plain sequential frame ends with its one scan
        # APPn / COM / others: skipped
    close_frame()
    if dhp is None and last is None:
        raise ValueError("JPEG has no SOS scan")
    (H, W, nc, prec), comps = dhp or last[1:3]
    missing = [c["id"] for c in comps if c["id"] not in refs]
    if missing:
        raise ValueError(f"JPEG never coded components {missing}")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        p = refs[c["id"]]
        if dhp is not None and p.shape != (H, W):
            raise ValueError(
                "JPEG hierarchy ended below the DHP resolution "
                f"({p.shape} vs {(H, W)})"
            )
        p = np.repeat(p, vmax // c["v"], axis=0)
        planes.append(np.repeat(p, hmax // c["h"], axis=1)[:H, :W])
    # three components are YCbCr, except in a plain lossless stream
    # (`encode_jpeg_lossless` codes RGB); four are YCCK under APP14
    # transform 2, else CMYK
    if nc == 4:
        ycc = adobe == 2
    else:
        ycc = dhp is not None or last[0] & 3 != 3
    return _jpeg_render(planes, prec, ycc)


def _jpeg_render(planes, prec: int, ycc: bool):
    """Integer P-bit component planes at full size → (H, W, 3) uint8:
    one plane is gray; three are JFIF YCbCr when ``ycc``, else RGB;
    four are Adobe CMYK, with YCbCr in the first three when ``ycc``.
    CMYK samples are stored in the Adobe-INVERTED convention (maxv =
    no ink), the one libjpeg and every mainstream consumer assume; no
    external CMYK codec exists offline to differential against, so
    our encoder and this render pin it. P ≠ 8 scales to the uint8
    feature domain by round(v·255/(2^P−1))."""
    import numpy as np

    level = float(1 << (prec - 1))
    maxv = float((1 << prec) - 1)
    p = [a.astype(np.float64) for a in planes]
    if len(p) > 1 and ycc:
        y, cb, cr = p[0], p[1] - level, p[2] - level
        p[:3] = [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ]
    if len(p) == 4:
        p = [a * p[3] / maxv for a in p[:3]]
    out = np.clip(np.round(np.stack(p * 3 if len(p) == 1 else p, axis=2)), 0, maxv)
    if prec != 8:
        out = np.round(out * (255.0 / maxv))
    return out.astype(np.uint8)


def _jpeg_entropy_end(payload: bytes, pos: int) -> int:
    """First index ≥ pos holding a REAL marker (not a stuffed FF 00,
    not a fill FF FF, not a restart RSTn) — the end of a scan's
    entropy-coded span."""
    i, n = pos, len(payload)
    while i + 1 < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        nxt = payload[i + 1]
        if nxt == 0x00 or nxt == 0xFF or 0xD0 <= nxt <= 0xD7:
            i += 2 if nxt != 0xFF else 1
            continue
        return i
    return n


def _jpeg_progressive_scan(
    data, grids, sof, comps, scan, band, huff_dc, huff_ac, ri,
    differential=False,
):
    """One progressive scan (T.81 Annex G) folded into the per-component
    raw-coefficient grids: DC first/refinement scans (interleaved MCU
    order, or block-raster when single-component), AC first/refinement
    scans (always single-component, spectral band Ss..Se, EOBRUN runs,
    successive-approximation bit plane Al). ``differential``
    (hierarchical SOF6 frames, §J.1): DC values are coded without
    prediction; AC machinery is unchanged."""
    import numpy as np

    H, W, _nc, _prec = sof
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx = -(-W // (8 * hmax))
    my = -(-H // (8 * vmax))
    ss, se, ah, al = band
    for cid, td, ta in scan:
        c = by_id[cid]
        if ss == 0 and ah == 0 and td not in huff_dc:
            raise ValueError("JPEG scan references a missing DC DHT table")
        if ss > 0 and ta not in huff_ac:
            raise ValueError("JPEG scan references a missing AC DHT table")
        if cid not in grids:
            grids[cid] = np.zeros((my * c["v"], mx * c["h"], 64), np.int64)

    segs = _jpeg_entropy_intervals(data)
    seg_i = 0
    bits = _JpegBits(segs[0])
    preds = {cid: 0 for cid, _t, _a in scan}
    eobrun = 0

    def next_segment():
        nonlocal bits, preds, eobrun, seg_i
        seg_i += 1
        if seg_i >= len(segs):
            raise ValueError("JPEG missing expected restart marker")
        bits = _JpegBits(segs[seg_i])
        preds = {cid: 0 for cid, _t, _a in scan}
        eobrun = 0

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("JPEG DC scan with nonzero Se")
        interleaved = len(scan) > 1

        def dc_block(zzb, cid, td):
            if ah == 0:
                s = _jpeg_huff_decode(bits, huff_dc[td])
                if s > (11 if _prec == 8 else 15):
                    raise ValueError("JPEG DC category out of range")
                v = _jpeg_extend(bits.read(s), s)
                if differential:
                    zzb[0] = v << al
                else:
                    preds[cid] += v
                    zzb[0] = preds[cid] << al
            else:  # refinement: one raw bit per block
                if bits.read(1):
                    zzb[0] |= 1 << al

        unit = 0
        if interleaved:
            for myi in range(my):
                for mxi in range(mx):
                    if ri and unit and unit % ri == 0:
                        next_segment()
                    for cid, td, _ta in scan:
                        c = by_id[cid]
                        g = grids[cid]
                        for byi in range(c["v"]):
                            for bxi in range(c["h"]):
                                dc_block(
                                    g[myi * c["v"] + byi, mxi * c["h"] + bxi],
                                    cid, td,
                                )
                    unit += 1
        else:
            cid, td, _ta = scan[0]
            c = by_id[cid]
            bh = -(-(-(-H * c["v"] // vmax)) // 8)
            bw = -(-(-(-W * c["h"] // hmax)) // 8)
            g = grids[cid]
            for byi in range(bh):
                for bxi in range(bw):
                    if ri and unit and unit % ri == 0:
                        next_segment()
                    dc_block(g[byi, bxi], cid, td)
                    unit += 1
        return

    # AC scan: single component, block-raster order
    if len(scan) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    cid, _td, ta = scan[0]
    if ta not in huff_ac:
        raise ValueError("JPEG scan references a missing DHT table")
    act = huff_ac[ta]
    c = by_id[cid]
    bh = -(-(-(-H * c["v"] // vmax)) // 8)
    bw = -(-(-(-W * c["h"] // hmax)) // 8)
    g = grids[cid]
    p1, m1 = 1 << al, -1 << al
    unit = 0
    for byi in range(bh):
        for bxi in range(bw):
            if ri and unit and unit % ri == 0:
                next_segment()
            unit += 1
            zzb = g[byi, bxi]
            if ah == 0:  # first pass for this band
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_huff_decode(bits, act)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1 + (bits.read(r) if r else 0)
                        break
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC band index overrun")
                    zzb[k] = _jpeg_extend(bits.read(s), s) << al
                    k += 1
            else:  # refinement pass (T.81 G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _jpeg_huff_decode(bits, act)
                        r, s = rs >> 4, rs & 15
                        val = 0
                        if s == 0:
                            if r != 15:
                                # REFINEMENT EOB runs include the CURRENT
                                # block: the tail below still reads this
                                # block's remaining correction bits, then
                                # decrements (T.81 G.1.2.3 / the libjpeg
                                # decode_mcu_AC_refine accounting) — the
                                # first-pass (1<<r)-1 form would skip them
                                # and desync the stream
                                eobrun = (1 << r) + (
                                    bits.read(r) if r else 0
                                )
                                break
                            # r == 15: advance past 16 zero-history slots
                        else:
                            if s != 1:
                                raise ValueError(
                                    "JPEG AC refinement size must be 1"
                                )
                            val = p1 if bits.read(1) else m1
                        while k <= se:
                            if zzb[k] != 0:
                                if bits.read(1) and not (int(zzb[k]) & p1):
                                    zzb[k] += p1 if zzb[k] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            zzb[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if zzb[k] != 0:
                            if bits.read(1) and not (int(zzb[k]) & p1):
                                zzb[k] += p1 if zzb[k] >= 0 else m1
                        k += 1
                    eobrun -= 1


def _jpeg_decode_scan(data, grids, sof, comps, scan, huff_dc, huff_ac, ri,
                      differential=False):
    """One interleaved sequential Huffman scan (T.81 Annex F) → the
    quantized coefficient grid of every scan component, in MCU order
    with restart intervals. ``differential`` (hierarchical SOF5
    frames, §J.1): DC values are coded without prediction."""
    import numpy as np

    H, W, _nc, prec = sof
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx = -(-W // (8 * hmax))
    my = -(-H // (8 * vmax))
    for cid, td, ta in scan:
        if td not in huff_dc or ta not in huff_ac:
            raise ValueError("JPEG scan references a missing DHT table")
        c = by_id[cid]
        grids[cid] = np.zeros((my * c["v"], mx * c["h"], 64), np.int64)

    segs = _jpeg_entropy_intervals(data)
    bits = _JpegBits(segs[0])
    seg_i = 0
    preds = {cid: 0 for cid, _td, _ta in scan}
    mcu = 0
    for myi in range(my):
        for mxi in range(mx):
            if ri and mcu and mcu % ri == 0:
                seg_i += 1
                if seg_i >= len(segs):
                    raise ValueError("JPEG missing expected restart marker")
                bits = _JpegBits(segs[seg_i])
                preds = {cid: 0 for cid, _td, _ta in scan}
            for cid, td, ta in scan:
                c = by_id[cid]
                for byi in range(c["v"]):
                    for bxi in range(c["h"]):
                        if differential:
                            preds[cid] = 0
                        grids[cid][myi * c["v"] + byi, mxi * c["h"] + bxi] = (
                            _jpeg_decode_block(
                                bits, huff_dc[td], huff_ac[ta], preds, cid,
                                11 if prec == 8 else 15,
                            )
                        )
            mcu += 1


def _jpeg_progressive_scan_arith(
    data, grids, sof, comps, scan, band, dc_cond, ac_cond, ri,
    differential=False,
):
    """One PROGRESSIVE arithmetic scan (SOF10/SOF14 — T.81 Annex G with
    the Annex D/F coder): DC first scans run the sequential DC model
    in the point-transformed domain, DC refinements are one fixed-bin
    decision per block, AC first scans run the banded AC model with
    values scaled by 2^Al, AC refinements follow §G.2 (correction
    decisions for previously-significant positions, fixed-bin signs
    for newly-significant ones). Statistics + coder re-init at every
    restart, per spec."""
    import numpy as np

    from . import jpeg_arith as ja

    H, W, _nc, _prec = sof
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx = -(-W // (8 * hmax))
    my = -(-H // (8 * vmax))
    ss, se, ah, al = band
    for cid, _td, _ta in scan:
        c = by_id[cid]
        if cid not in grids:
            grids[cid] = np.zeros((my * c["v"], mx * c["h"], 64), np.int64)

    scan_comps = [
        {"id": cid, "td": td, "ta": ta} for cid, td, ta in scan
    ]
    segs = _jpeg_entropy_intervals(data)
    cs = ja._CondState(scan_comps, dc_cond, ac_cond)
    cs.reset(scan_comps)
    dec = ja.ArithDecoder(segs[0], destuffed=True)
    seg_i = 0

    def next_segment():
        nonlocal dec, seg_i
        seg_i += 1
        if seg_i >= len(segs):
            raise ValueError("JPEG missing expected restart marker")
        dec = ja.ArithDecoder(segs[seg_i], destuffed=True)
        cs.reset(scan_comps)

    unit = 0
    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("JPEG DC scan with nonzero Se")
        interleaved = len(scan) > 1

        def dc_block(zzb, cid, td):
            if ah == 0:
                zzb[0] = ja._decode_dc(dec, cs, cid, td, differential) << al
            elif ja._decode_dc_refine(dec, cs):
                zzb[0] |= 1 << al

        if interleaved:
            for myi in range(my):
                for mxi in range(mx):
                    if ri and unit and unit % ri == 0:
                        next_segment()
                    for cid, td, _ta in scan:
                        c = by_id[cid]
                        g = grids[cid]
                        for byi in range(c["v"]):
                            for bxi in range(c["h"]):
                                dc_block(
                                    g[myi * c["v"] + byi, mxi * c["h"] + bxi],
                                    cid, td,
                                )
                    unit += 1
        else:
            cid, td, _ta = scan[0]
            c = by_id[cid]
            bh = -(-(-(-H * c["v"] // vmax)) // 8)
            bw = -(-(-(-W * c["h"] // hmax)) // 8)
            g = grids[cid]
            for byi in range(bh):
                for bxi in range(bw):
                    if ri and unit and unit % ri == 0:
                        next_segment()
                    dc_block(g[byi, bxi], cid, td)
                    unit += 1
        return

    if len(scan) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    cid, _td, ta = scan[0]
    c = by_id[cid]
    bh = -(-(-(-H * c["v"] // vmax)) // 8)
    bw = -(-(-(-W * c["h"] // hmax)) // 8)
    g = grids[cid]
    for byi in range(bh):
        for bxi in range(bw):
            if ri and unit and unit % ri == 0:
                next_segment()
            unit += 1
            zzb = g[byi, bxi]
            if ah == 0:
                ja._decode_ac(dec, cs, ta, zzb, ss, se, al)
            else:
                ja._decode_ac_refine(dec, cs, ta, zzb, ss, se, al)


def encode_jpeg_progressive_arith(arr, quant: int = 1,
                                  restart_interval: int = 0) -> bytes:
    """PROGRESSIVE arithmetic JPEG encoder (SOF10) — fixture-side
    mirror of `_jpeg_progressive_scan_arith`. Scan script: interleaved
    DC first at Al=1, DC refinement to Al=0, then per component AC
    first 1..63 at Al=1 and AC refinement to Al=0 — every §G.2
    arithmetic scan kind is exercised. 4:4:4 / grayscale, flat quant."""
    import struct

    import numpy as np

    from . import jpeg_arith as ja

    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    comp_blocks = [_fdct_zz(p, quant, 128.0) for p in _jpeg_source_planes(arr)]
    nby, nbx = comp_blocks[0].shape[:2]
    nc = len(comp_blocks)
    parts = []  # (sos_body, entropy)

    def run_scan(scan_ids, band):
        ss, se, ah, al = band
        scan_comps = [{"id": i + 1, "td": 0, "ta": 0} for i in scan_ids]
        cs = ja._CondState(scan_comps, {0: (0, 1)}, {0: 5})
        cs.reset(scan_comps)
        enc = ja.ArithEncoder()
        chunks: list[bytes] = []
        rst = 0
        unit = 0
        for byi in range(nby):
            for bxi in range(nbx):
                if restart_interval and unit and unit % restart_interval == 0:
                    chunks.append(enc.flush())
                    chunks.append(bytes([0xFF, 0xD0 + (rst & 7)]))
                    rst += 1
                    enc = ja.ArithEncoder()
                    cs.reset(scan_comps)
                if ss == 0:
                    for i in scan_ids:
                        dc = int(comp_blocks[i][byi, bxi][0])
                        if ah == 0:
                            ja._encode_dc(enc, cs, i + 1, 0, dc >> al)
                        else:
                            ja._encode_dc_refine(enc, cs, (dc >> al) & 1)
                else:
                    (i,) = scan_ids
                    zzb = comp_blocks[i][byi, bxi]
                    if ah == 0:
                        ja._encode_ac(enc, cs, 0, zzb, ss, se, al)
                    else:
                        ja._encode_ac_refine(enc, cs, 0, zzb, ss, se, al)
                unit += 1
        chunks.append(enc.flush())
        parts.append((_sos_body(scan_ids, ss, se, (ah << 4) | al),
                      b"".join(chunks)))

    all_ids = list(range(nc))
    run_scan(all_ids, (0, 0, 0, 1))  # DC first, Al=1
    run_scan(all_ids, (0, 0, 1, 0))  # DC refinement → Al=0
    for i in all_ids:
        run_scan([i], (1, 63, 0, 1))  # AC first, Al=1
    for i in all_ids:
        run_scan([i], (1, 63, 1, 0))  # AC refinement → Al=0

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, _JFIF)
    out += _seg(0xDB, bytes([0x00]) + bytes([quant]) * 64)
    out += _seg(0xCA, _sof_body(8, h, w, nc))
    out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    for sos_body, entropy in parts:
        out += _seg(0xDA, sos_body)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_decode_scan_arith(data, grids, sof, comps, scan, dc_cond, ac_cond,
                            ri, differential=False):
    """Sequential ARITHMETIC scan (SOF9/SOF13): same MCU walk as
    `_jpeg_decode_scan` with the entropy layer swapped for the T.81
    Annex D/F QM decoder (`operators/jpeg_arith.py`). Restart markers
    re-init the coder AND zero every statistics bin + predictor, per
    §F.2.4."""
    import numpy as np

    from . import jpeg_arith as ja

    H, W, _nc, _prec = sof
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx = -(-W // (8 * hmax))
    my = -(-H // (8 * vmax))
    for cid, _td, _ta in scan:
        c = by_id[cid]
        grids[cid] = np.zeros((my * c["v"], mx * c["h"], 64), np.int64)
    scan_comps = [{"id": cid, "td": td, "ta": ta} for cid, td, ta in scan]

    segs = _jpeg_entropy_intervals(data)
    cs = ja._CondState(scan_comps, dc_cond, ac_cond)
    cs.reset(scan_comps)
    dec = ja.ArithDecoder(segs[0], destuffed=True)
    seg_i = 0
    mcu = 0
    for myi in range(my):
        for mxi in range(mx):
            if ri and mcu and mcu % ri == 0:
                seg_i += 1
                if seg_i >= len(segs):
                    raise ValueError("JPEG missing expected restart marker")
                dec = ja.ArithDecoder(segs[seg_i], destuffed=True)
                cs.reset(scan_comps)
            for cid, td, ta in scan:
                c = by_id[cid]
                for byi in range(c["v"]):
                    for bxi in range(c["h"]):
                        zz = grids[cid][myi * c["v"] + byi, mxi * c["h"] + bxi]
                        zz[0] = ja._decode_dc(dec, cs, cid, td, differential)
                        ja._decode_ac(dec, cs, ta, zz)
            mcu += 1


def encode_jpeg_arith(arr, quant: int = 1, restart_interval: int = 0) -> bytes:
    """Sequential ARITHMETIC JPEG encoder (SOF9) — the fixture-side
    mirror of `_jpeg_decode_scan_arith`, sharing `encode_jpeg`'s
    forward path (JFIF YCbCr, flat quantization, 4:4:4 / grayscale).
    Emits DAC with the default conditioning (DC L=0 U=1, AC Kx=5)
    spelled explicitly. Exists for tests: no external codec in this
    container reads OR writes arithmetic JPEGs."""
    import struct

    import numpy as np

    from . import jpeg_arith as ja

    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    comp_blocks = [_fdct_zz(p, quant, 128.0) for p in _jpeg_source_planes(arr)]
    nby, nbx = comp_blocks[0].shape[:2]
    nc = len(comp_blocks)
    scan_comps = [{"id": i + 1, "td": 0, "ta": 0} for i in range(nc)]
    cs = ja._CondState(scan_comps, {0: (0, 1)}, {0: 5})
    cs.reset(scan_comps)
    enc = ja.ArithEncoder()
    rst = 0
    mcu = 0
    entropy_parts = []
    for byi in range(nby):
        for bxi in range(nbx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                entropy_parts.append(enc.flush())
                entropy_parts.append(bytes([0xFF, 0xD0 + (rst & 7)]))
                rst += 1
                enc = ja.ArithEncoder()
                cs.reset(scan_comps)
            for ci, blocks in enumerate(comp_blocks):
                zzb = blocks[byi, bxi]
                ja._encode_dc(enc, cs, ci + 1, 0, int(zzb[0]))
                ja._encode_ac(enc, cs, 0, zzb)
            mcu += 1
    entropy_parts.append(enc.flush())

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, _JFIF)
    out += _seg(0xDB, bytes([0x00]) + bytes([quant]) * 64)
    out += _seg(0xC9, _sof_body(8, h, w, nc))
    # DAC: DC table 0 → Cs = (U<<4)|L = 0x10; AC table 0 → Kx = 5
    out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, _sos_body(range(nc), 0, 63))
    out += b"".join(entropy_parts)
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_ll_predict(p, y, x, y0, pred_sel, default):
    """T.81 H.1.2.1 prediction of sample (y, x) of plane ``p`` by
    predictor ``pred_sel`` (a = left, b = above, c = above-left). Row
    ``y0``, the first since the last restart, predicts from the left
    and its first sample predicts ``default``; the first column
    predicts from above. Predictor 0 (differential frames) predicts 0."""
    if pred_sel == 0:
        return 0
    if y == y0 and x == 0:
        return default
    if x == 0:
        return int(p[y - 1, 0])
    a = int(p[y, x - 1])
    if y == y0:
        return a
    b = int(p[y - 1, x])
    c = int(p[y - 1, x - 1])
    return (
        a if pred_sel == 1 else
        b if pred_sel == 2 else
        c if pred_sel == 3 else
        a + b - c if pred_sel == 4 else
        a + ((b - c) >> 1) if pred_sel == 5 else
        b + ((a - c) >> 1) if pred_sel == 6 else
        (a + b) >> 1
    )


def _jpeg_decode_scan_lossless(data, sof, scan, tables, pred_sel, pt, ri,
                               arith):
    """One LOSSLESS scan (T.81 Annex H) → cid → int64 sample plane,
    scaled by the point transform 2^Pt: per-sample DPCM
    (`_jpeg_ll_predict`) modulo 2^16, prediction starting afresh at
    every restart. Differences are Huffman-coded categories (DC-table
    style; category 16 ⇒ 32768 with no extra bits) from the DHT DC
    ``tables`` or, with ``arith`` (SOF11/SOF15), Annex H statistical
    model decisions (`jpeg_arith._decode_ll`) conditioned on the left
    and above differences under the DAC (L, U) ``tables``; there a
    restart also resets the coder, the statistics and the difference
    histories."""
    import numpy as np

    from . import jpeg_arith as ja

    H, W, _nc, prec = sof
    if not arith and any(td not in tables for _cid, td, _ta in scan):
        raise ValueError("JPEG lossless scan references a missing DHT")
    default = 1 << (prec - 1 - pt)
    planes = {cid: np.zeros((H, W), np.int64) for cid, _td, _ta in scan}
    stats = {td: ja.new_stats(ja.LL_STAT_BINS) for _cid, td, _ta in scan}
    above = {cid: np.zeros(W, np.int64) for cid in planes}
    segs = _jpeg_entropy_intervals(data)

    def interval(i):
        if i >= len(segs):
            raise ValueError("JPEG missing expected restart marker")
        if not arith:
            return _JpegBits(segs[i])
        for st in stats.values():
            for b in st:
                b[0] = b[1] = 0
        for a in above.values():
            a[:] = 0
        return ja.ArithDecoder(segs[i], destuffed=True)

    seg_i = y0 = mcu = 0
    src = interval(0)
    for y in range(H):
        left = dict.fromkeys(planes, 0)  # Da = 0 at a row start
        for x in range(W):
            if ri and mcu and mcu % ri == 0:
                seg_i += 1
                src = interval(seg_i)
                left = dict.fromkeys(planes, 0)
                y0 = y
            for cid, td, _ta in scan:
                if arith:
                    db = int(above[cid][x]) if y > y0 else 0
                    v = ja._decode_ll(
                        src, stats[td], left[cid], db, *tables.get(td, (0, 1))
                    )
                    left[cid] = above[cid][x] = v
                else:
                    s = _jpeg_huff_decode(src, tables[td])
                    if s > 16:
                        raise ValueError("JPEG lossless category out of range")
                    v = 32768 if s == 16 else _jpeg_extend(src.read(s), s)
                p = planes[cid]
                p[y, x] = (
                    _jpeg_ll_predict(p, y, x, y0, pred_sel, default) + v
                ) & 0xFFFF
            mcu += 1
    return {cid: p << pt for cid, p in planes.items()}


def encode_jpeg_lossless(arr, predictor: int = 4, precision: int = 8,
                         restart_interval: int = 0) -> bytes:
    """Lossless JPEG encoder (SOF3) — fixture mirror of
    `_jpeg_decode_scan_lossless`. (H, W) or (H, W, 3), uint8 at
    precision 8 or uint16 at 12/16. Output decodes back EXACTLY (it is
    lossless) modulo the uint8 feature-domain scaling."""
    import struct

    import numpy as np

    if precision not in (8, 12, 16):
        raise ValueError("encode_jpeg_lossless: precision must be 8/12/16")
    if predictor not in range(1, 8):
        # T.81 H.1.2.1: Ss 0 is reserved for differential frames
        raise ValueError(
            f"encode_jpeg_lossless: predictor must be 1-7, got {predictor}"
        )
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    nc = 1 if gray else arr.shape[2]
    planes = [
        (arr if gray else arr[:, :, i]).astype(np.int64) for i in range(nc)
    ]
    default = 1 << (precision - 1)

    code, dht = _huff_lossless_table()
    wtr = _JpegBitWriter()
    entropy_parts = []
    rst = 0
    mcu = 0
    start_row = 0
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.pad_to_byte()
                entropy_parts.append(bytes(wtr.out))
                entropy_parts.append(bytes([0xFF, 0xD0 + (rst & 7)]))
                rst += 1
                wtr = _JpegBitWriter()
                start_row = y
            for p in planes:
                pred = _jpeg_ll_predict(p, y, x, start_row, predictor, default)
                _put_ll_diff(wtr, code, int(p[y, x]) - pred)
            mcu += 1
    wtr.pad_to_byte()
    entropy_parts.append(bytes(wtr.out))

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1]) * 64)  # unused by lossless
    out += _seg(0xC3, _sof_body(precision, h, w, nc))
    out += dht
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, _sos_body(range(nc), predictor, 0))  # Ss = predictor
    out += b"".join(entropy_parts)
    out += b"\xff\xd9"
    return bytes(out)


class _JpegBitWriter:
    """MSB-first bit writer with T.81 byte stuffing (FF → FF 00)."""

    __slots__ = ("out", "acc", "nb")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nb = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nb += length
        while self.nb >= 8:
            byte = (self.acc >> (self.nb - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nb -= 8
        self.acc &= (1 << self.nb) - 1

    def pad_to_byte(self) -> None:
        if self.nb:
            self.put((1 << (8 - self.nb)) - 1, 8 - self.nb)  # pad with 1s


def encode_jpeg(arr, quant: int = 1, restart_interval: int = 0,
                precision: int = 8) -> bytes:
    """Minimal baseline-sequential JPEG encoder (ITU-T T.81) for an
    (H, W, 3) uint8 RGB array (4:4:4, JFIF YCbCr) or an (H, W) uint8
    grayscale array (single component, NO color transform — a constant
    gray plane round-trips bit-exactly through DCT+flat quantization,
    which the media_decode_report oracle exploits). Uses a flat
    quantization table (all ``quant``; 1 → near-lossless) and
    single-length canonical Huffman tables (`_huff_seq_tables`).
    Optional restart markers every ``restart_interval`` MCUs exercise
    the DRI/RST decode path. A test/fixture encoder (the Java ImageIO
    differential reads its output), not a rate-optimized one.
    ``precision=12`` takes a uint16 array with values 0..4095,
    level-shifts by 2048, and emits SOF1 extended-sequential with 5-bit
    DC codes (categories to 15) and AC sizes to 14 per T.81 Table F.1.
    An (H, W, 4) array is Adobe-inverted CMYK (APP14 transform 0)."""
    import struct

    import numpy as np

    if precision not in (8, 12):
        raise ValueError("encode_jpeg: precision must be 8 or 12")
    level = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    arr = np.asarray(arr, dtype=np.uint8 if precision == 8 else np.uint16)
    if precision == 12 and arr.max(initial=0) > maxv:
        raise ValueError("encode_jpeg: 12-bit samples must be 0..4095")
    cmyk = arr.ndim == 3 and arr.shape[2] == 4
    h, w = arr.shape[:2]
    if cmyk:
        planes = [arr[:, :, i].astype(np.float64) for i in range(4)]
    else:
        planes = _jpeg_source_planes(arr, level, maxv)
    comp_blocks = [_fdct_zz(p, quant, level) for p in planes]
    nby, nbx = comp_blocks[0].shape[:2]
    dc_code, ac_code, dht = _huff_seq_tables(precision)

    def emit_block(wtr, zz_block, pred, dc_c, ac_c):
        diff = int(zz_block[0]) - pred
        s = abs(diff).bit_length()
        wtr.put(*dc_c[s])
        if s:
            wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        nz = np.nonzero(zz_block[1:])[0]
        last = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zz_block[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                wtr.put(*ac_c[0xF0])
                run -= 16
            s = abs(v).bit_length()
            wtr.put(*ac_c[(run << 4) | s])
            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            wtr.put(*ac_c[0x00])  # EOB
        return int(zz_block[0])

    wtr = _JpegBitWriter()
    preds = [0] * len(planes)
    rst = 0
    mcu = 0
    entropy_parts = []
    for byi in range(nby):
        for bxi in range(nbx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.pad_to_byte()
                entropy_parts.append(bytes(wtr.out))
                entropy_parts.append(bytes([0xFF, 0xD0 + (rst & 7)]))
                rst += 1
                wtr = _JpegBitWriter()
                preds = [0] * len(planes)
            for ci, blocks in enumerate(comp_blocks):
                preds[ci] = emit_block(
                    wtr, blocks[byi, bxi], preds[ci], dc_code, ac_code
                )
            mcu += 1
    wtr.pad_to_byte()
    entropy_parts.append(bytes(wtr.out))

    nc = len(planes)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, _JFIF)
    if cmyk:  # APP14: Adobe, version 100, flags 0/0, transform 0
        out += _seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 0]))
    out += _seg(0xDB, bytes([0x00]) + bytes([quant]) * 64)
    out += _seg(0xC0 if precision == 8 else 0xC1, _sof_body(precision, h, w, nc))
    out += dht
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, _sos_body(range(nc), 0, 63))
    out += b"".join(entropy_parts)
    out += b"\xff\xd9"
    return bytes(out)


def encode_gif(arr) -> bytes:
    """Minimal GIF89a encoder for an (H, W, 3) uint8 RGB array with
    ≤256 distinct colors (exact palette; raises above that — this is a
    test/fixture encoder, not a quantizer). Pixels are LZW-coded the
    trivially-valid way: a CLEAR before every pixel code keeps the
    dictionary empty and the code width fixed."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    colors, inverse = np.unique(
        arr.reshape(-1, 3), axis=0, return_inverse=True
    )
    if len(colors) > 256:
        raise ValueError(f"encode_gif: {len(colors)} colors > 256")
    # color table sizes are 2^(n+1), n in 0..7; LZW min code ≥ 2 and
    # 2^min_code must cover the table
    size_exp = max(1, (max(len(colors), 2) - 1).bit_length())
    n = size_exp - 1
    tbl_size = 1 << size_exp
    min_code = max(2, size_exp)
    table = np.zeros((tbl_size, 3), np.uint8)
    table[: len(colors)] = colors
    clear = 1 << min_code
    eoi = clear + 1
    code_size = min_code + 1
    # CLEAR + pixel per symbol: dictionary never grows, width fixed
    acc = nbits = 0
    data = bytearray()
    for sym in inverse:
        for code in (clear, int(sym)):
            acc |= code << nbits
            nbits += code_size
            while nbits >= 8:
                data.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
    acc |= eoi << nbits
    nbits += code_size
    while nbits > 0:
        data.append(acc & 0xFF)
        acc >>= 8
        nbits -= 8
    subblocks = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        subblocks.append(len(chunk))
        subblocks += chunk
    subblocks.append(0)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (n & 7), 0, 0)
    out += table.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(min_code)
    out += subblocks
    out.append(0x3B)
    return bytes(out)


def encode_png(arr) -> bytes:
    """Minimal PNG encoder for an (H, W, 3) uint8 RGB array: filter-0
    scanlines, one zlib IDAT — enough to produce spec-valid payloads
    for tests/fixtures (the Java ImageIO differential reads them)."""
    import struct
    import zlib

    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def image_thumbnail(arr, grid: int = 4):
    """Nearest-neighbor downsample to a grid×grid GRAYSCALE thumbnail,
    flattened to grid² floats in [0,1] — the cheap content embedding
    near-dup image screens bucket on."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(grid) * h // grid).clip(0, h - 1)
    xs = (np.arange(grid) * w // grid).clip(0, w - 1)
    gray = arr[ys][:, xs].astype(np.float64).mean(axis=2) / 255.0
    return [float(v) for v in gray.ravel()]


def decode_image_pixels(payload: bytes):
    """Magic-byte dispatch of a raw image payload to the matching numpy
    decoder → H×W×3 uint8 RGB array (r10 — split out of `_decode_one`
    so the perceptual-hash operator in ``operators/imagehash.py`` can
    hash the SAME decoded pixels the feature kernel reads). Raises
    ValueError / NotImplementedError on non-image or unsupported
    payloads; callers choose degrade-vs-strict."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .vp8l import decode_webp

        return decode_webp(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(payload)
    raise ValueError("not a recognized image payload")


def _decode_one(payload: bytes, thumb_grid: int) -> dict:
    """Magic-byte sniff → decoder → unified feature dict."""
    out: dict = {
        "kind": None, "width": None, "height": None,
        "mean_r": None, "mean_g": None, "mean_b": None, "thumb": None,
        "sample_rate": None, "n_channels": None, "duration_ms": None,
        "rms": None, "zero_crossing_rate": None, "decode_error": None,
    }
    try:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            out.update(_decode_wav(payload))
        elif (
            payload[:2] == b"BM"
            or payload[:2] == b"P6"
            or payload[:8] == b"\x89PNG\r\n\x1a\n"
            or payload[:4] in (b"II*\x00", b"MM\x00*")
            or payload[:6] in (b"GIF87a", b"GIF89a")
            or payload[:2] == b"\xff\xd8"
            or (payload[:4] == b"RIFF" and payload[8:12] == b"WEBP")
        ):
            arr = decode_image_pixels(payload)
            means = arr.astype("float64").reshape(-1, 3).mean(axis=0)
            out.update(
                kind="image",
                width=int(arr.shape[1]),
                height=int(arr.shape[0]),
                mean_r=round(float(means[0]), 6),
                mean_g=round(float(means[1]), 6),
                mean_b=round(float(means[2]), 6),
                thumb=image_thumbnail(arr, thumb_grid),
            )
        elif payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            from .videohash import decode_video_frames

            frames, usec, w, h = decode_video_frames(payload)
            out.update(
                kind="video",
                width=w,
                height=h,
                duration_ms=(len(frames) * usec) // 1000,
            )
        else:
            raise NotImplementedError(
                "compressed/unknown format — MP3/MP4 decode requires "
                "ffmpeg, not available in this container"
            )
    except (ValueError, NotImplementedError, IndexError) as exc:
        out["kind"] = "undecodable"
        out["decode_error"] = str(exc)
    except Exception as exc:  # struct.error on truncated chunks, etc. —
        # one corrupt payload must not fail a 100 TB ingest task
        out["kind"] = "undecodable"
        out["decode_error"] = f"{type(exc).__name__}: {exc}"
    return out


def decode_media_features(
    df: DataFrame,
    payload_col: str = "payload",
    thumb_grid: int = 4,
    on_undecodable: str = "keep",
) -> DataFrame:
    """REAL media decode over the binary column — numpy-only decoders
    for WAV PCM / BMP / PPM payloads, producing per-modality features:
    images → (width, height, mean RGB, grid² grayscale thumbnail),
    audio → (sample rate, channels, duration, RMS, zero-crossing rate).

    Payloads needing an external codec (MP3/MP4/...) come back with
    kind='undecodable' and the reason in ``decode_error`` —
    ``on_undecodable='error'`` raises instead (strict-ingest mode).
    Runs as mapInPandas: Arrow batches in, one numpy decode per payload
    (decoding is inherently per-item; the batch amortizes dispatch).
    The payload column is consumed inside the kernel and NOT carried
    into the output, so downstream plans stay narrow.
    """
    import pandas as pd

    keep = [f for f in df.schema.fields if f.name != payload_col]
    keep_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in keep)
    schema = f"{keep_ddl}, {_FEATURE_FIELDS}" if keep_ddl else _FEATURE_FIELDS
    keep_names = [f.name for f in keep]

    def kernel(batches):
        for pdf in batches:
            feats = [
                _decode_one(bytes(b) if b is not None else b"", thumb_grid)
                for b in pdf[payload_col]
            ]
            fdf = pd.DataFrame(feats)
            if on_undecodable == "error":
                bad = fdf[fdf["kind"] == "undecodable"]
                if len(bad):
                    raise NotImplementedError(
                        f"{len(bad)} undecodable payload(s); first error: "
                        f"{bad['decode_error'].iloc[0]}"
                    )
            out = pd.concat(
                [pdf[keep_names].reset_index(drop=True), fdf], axis=1
            )
            yield out

    return df.mapInPandas(kernel, schema)
