"""Temporal-fingerprint video near-duplicate detection — per-sampled-
frame 60-bit dHashes over DECODED AVI frames, slot-banded Hamming
candidates (the video sibling of ``operators/imagehash.py`` and
``operators/audiohash.py`` — completes the modality triple).

Why: re-encoded / re-containered / re-scaled copies of the same CLIP
are the video face of the scraped-corpus dup problem — exact-byte
dedup sees different containers, text dedup sees no text, and a
single-thumbnail image hash misses clips whose first frames differ.
The classic cheap screen (the keyframe-fingerprint idea from the
public video copy-detection literature) samples k frames at fixed
relative positions and hashes each; two clips are near-dup candidates
when ANY aligned slot collides in a signature band, and the verify is
the SUMMED per-slot Hamming distance.

Container support (this container has no ffmpeg — dated proof in
TODO.md): uncompressed AVI (RIFF 'AVI ', BI_RGB 24/32-bit DIB frames,
bottom-up or top-down) decodes for REAL from the RIFF spec — the
video analogue of the WAV PCM parser. Compressed AVI streams and
MP4/MOV/WebM refuse loudly by name (``NotImplementedError``), the
same honest env-refusal contract as MP3.

Integer-exact construction (this repo's oracle discipline):

* frame slots are floor boundaries (``slot s → frame s·n_frames//k``)
  — deterministic for any frame count, invariant to frame-exact
  re-containering;
* each sampled frame hashes with the SAME integer-exact dHash the
  image dedup uses (``imagehash.dhash_from_pixels``: integer ITU
  gray, exact box sums, cross-multiplied comparisons) — so a k×
  pixel-duplication upscale of every frame leaves the whole temporal
  fingerprint EXACTLY unchanged (pinned in tests);
* candidates: each (slot, 15-bit band) pair is its own bucket key —
  per-slot pigeonhole recall (a pair whose slot-s frames differ by
  < bands bits collides in slot s); verify joins the full per-slot
  hash tables and sums bit_count-XOR across slots. All pure integer
  Column algebra, SQL-replayable end to end.

Scale shape: one mapInPandas decode+hash pass per corpus (payloads
never leave the kernel; output is id + k longs as rows), then
(slot·bands + band, value, id) triple shuffles — no all-pairs term,
and the verify join touches k·|candidates| 8-byte rows.

Validation honesty (the VP8L protocol): the encoder and decoder are
mirror implementations from the public RIFF/AVI layout — no
externally-produced uncompressed AVI exists in this container to
differential against (searched 2026-08-16: zero ``*.avi`` on the
filesystem, no ffmpeg). Mitigations: DIB frame bodies are the SAME
layout the BMP decoder reads (and ``frame_sample``'s BMP round-trip
pins that cross-decoder agreement), headers follow the spec field
offsets verbatim (strh dwScale/dwRate at +20/+24, BITMAPINFOHEADER in
strf), and a 3000-mutation fuzz plus a LIST-nest bomb pin totality.
The two header-interpretation choices worth external re-verification:
avih dwMicroSecPerFrame preferred over strh scale/rate when both
present, and '##dc' chunks accepted as DIB when biCompression=0.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "decode_video_frames",
    "encode_avi",
    "video_frame_hashes",
    "video_neardup_candidates",
]


def _dib_to_rgb(body: bytes, width: int, height: int, bits: int):
    """One BI_RGB DIB frame body → H×W×3 uint8 RGB. ``height`` < 0 is
    the spec's top-down layout; rows are 4-byte aligned; 24-bit rows
    are BGR, 32-bit BGRX (X dropped)."""
    import numpy as np

    topdown = height < 0
    h, w = abs(int(height)), int(width)
    if w <= 0 or h == 0:
        raise ValueError(f"degenerate AVI frame dimensions {w}x{height}")
    bpp = bits // 8
    stride = (w * bpp + 3) & ~3
    if len(body) < stride * h:
        raise ValueError(
            f"truncated AVI frame: {len(body)} bytes < {stride * h} "
            f"for {w}x{h}@{bits}bpp"
        )
    a = np.frombuffer(body, dtype=np.uint8, count=stride * h).reshape(
        h, stride
    )
    a = a[:, : w * bpp].reshape(h, w, bpp)
    if not topdown:
        a = a[::-1]
    return np.ascontiguousarray(a[..., 2::-1][..., :3])


def _iter_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) over a RIFF chunk run;
    chunks are word-aligned per the RIFF spec."""
    while pos + 8 <= end:
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        yield cid, pos + 8, size
        pos += 8 + size + (size & 1)


def decode_video_frames(payload: bytes):
    """Uncompressed-AVI parser → ``(frames, usec_per_frame, width,
    height)`` with ``frames`` a list of H×W×3 uint8 RGB arrays in
    stream order. RIFF 'AVI ' → LIST hdrl (avih main header, the
    first 'vids' strh/strf pair) → LIST movi ('##db'/'##dc' DIB
    chunks of that stream). Raises ValueError on malformed
    containers; NotImplementedError names compressed streams and
    foreign containers (MP4/MOV/WebM need ffmpeg — not here)."""
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        raise NotImplementedError(
            "MP4/MOV decode requires ffmpeg, not available in this container"
        )
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        raise NotImplementedError(
            "Matroska/WebM decode requires ffmpeg, not available in this "
            "container"
        )
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    usec_per_frame = 0
    vids_stream: int | None = None
    width = height = bits = None
    compression = None
    scale = rate = 0
    frames_raw: list[bytes] = []
    stream_no = 0
    # a corrupt size field can point any header past the buffer, and a
    # crafted LIST nest can recurse without bound — both must surface
    # as a clean ValueError (the on_undecodable='keep' contract: one
    # corrupt payload degrades, it never kills an ingest task)
    _MAX_DEPTH = 32

    def walk(pos: int, end: int, depth: int = 0) -> None:
        nonlocal usec_per_frame, vids_stream, width, height, bits
        nonlocal compression, scale, rate, stream_no
        if depth > _MAX_DEPTH:
            raise ValueError("AVI LIST nesting exceeds sane depth")
        for cid, body, size in _iter_chunks(payload, pos, end):
            if cid == b"LIST":
                ltype = payload[body : body + 4]
                if ltype == b"strl":
                    stream_no += 1
                walk(body + 4, body + size, depth + 1)
                if ltype == b"movi":
                    _collect_movi(body + 4, body + size, depth + 1)
            elif cid == b"avih":
                (usec_per_frame,) = struct.unpack_from("<I", payload, body)
            elif cid == b"strh" and vids_stream is None:
                if payload[body : body + 4] == b"vids":
                    vids_stream = stream_no - 1
                    scale, rate = struct.unpack_from(
                        "<II", payload, body + 20
                    )
            elif (
                cid == b"strf"
                and vids_stream == stream_no - 1
                and width is None
            ):
                (_, width, height, _, bits, compression) = struct.unpack_from(
                    "<IiiHHI", payload, body
                )

    def _collect_movi(pos: int, end: int, depth: int = 0) -> None:
        if depth > _MAX_DEPTH:
            raise ValueError("AVI LIST nesting exceeds sane depth")
        for cid, body, size in _iter_chunks(payload, pos, end):
            if cid == b"LIST":  # 'rec ' interleave groups
                _collect_movi(body + 4, body + size, depth + 1)
                continue
            if vids_stream is None or not cid[:2].isdigit():
                continue
            if int(cid[:2]) != vids_stream:
                continue
            if cid[2:4] in (b"db", b"dc"):
                frames_raw.append(payload[body : body + size])

    try:
        walk(12, len(payload))
    except struct.error as exc:  # header points past the buffer
        raise ValueError(f"malformed AVI header: {exc}") from exc

    if vids_stream is None or width is None:
        raise ValueError("AVI has no video ('vids') stream")
    if compression != 0:  # BI_RGB only; name the codec we refuse
        fourcc = struct.pack("<I", compression)
        name = (
            fourcc.decode("ascii", "replace")
            if any(32 <= c < 127 for c in fourcc)
            else f"0x{compression:08x}"
        )
        raise NotImplementedError(
            f"compressed AVI video stream (fourcc {name!r}) needs ffmpeg, "
            "not available in this container"
        )
    if bits not in (24, 32):
        raise ValueError(f"unsupported AVI DIB bit depth {bits}")
    if usec_per_frame <= 0 and rate:
        usec_per_frame = (1_000_000 * scale) // rate
    frames = [_dib_to_rgb(b, width, height, bits) for b in frames_raw]
    if not frames:
        raise ValueError("AVI movi list holds no video frames")
    return frames, int(usec_per_frame), int(width), abs(int(height))


def encode_avi(frames, usec_per_frame: int = 40_000) -> bytes:
    """Mirror encoder: H×W×3 uint8 RGB frames → an uncompressed 24-bit
    AVI (bottom-up BGR DIB '00db' chunks). Exists so the synth query
    and the tests exercise the REAL container path — the same
    mirror-encoder validation protocol as WAV/BMP."""
    import numpy as np

    h, w = int(frames[0].shape[0]), int(frames[0].shape[1])
    stride = (w * 3 + 3) & ~3
    dibs = []
    for fr in frames:
        if fr.shape[:2] != (h, w):
            raise ValueError("all AVI frames must share one size")
        bgr = np.ascontiguousarray(fr[::-1, :, ::-1]).astype(np.uint8)
        if stride != w * 3:
            padded = np.zeros((h, stride), dtype=np.uint8)
            padded[:, : w * 3] = bgr.reshape(h, w * 3)
            dibs.append(padded.tobytes())
        else:
            dibs.append(bgr.tobytes())

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    n = len(frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec_per_frame, stride * h * n, 0, 0x10, n, 0, 1, stride * h,
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, usec_per_frame, 1_000_000,
            0, n, stride * h, 0, 0,
        ) + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", d) for d in dibs))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def video_frame_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    n_slots: int = 4,
    h_cells: int = 6,
    w_cells: int = 11,
    on_undecodable: str = "error",
) -> DataFrame:
    """Decode every AVI payload, sample ``n_slots`` frames at floor
    boundaries (slot s → frame ``s·n_frames//n_slots``), and dHash
    each — mapInPandas 1→``n_slots`` explode; output
    (``id_col``, slot int, fhash bigint, n_frames int). Payloads never
    leave the kernel. ``on_undecodable='keep'`` degrades failures to
    one NULL-fhash row; ``'error'`` (default) raises naming the first
    failure."""
    import pandas as pd

    from .imagehash import dhash_from_pixels

    schema = f"`{id_col}` bigint, slot int, fhash bigint, n_frames int"

    def kernel(batches):
        for pdf in batches:
            ids: list = []
            slots: list = []
            sigs: list = []
            counts: list = []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                # Per-doc staging: a failure AFTER some slots hashed
                # (decode ok, later slot hash crashed) must not leave
                # partial slot rows + a NULL row for the same doc —
                # downstream sums Hamming over however many slots
                # exist, so partial docs would bias total_hamming low
                # and admit spurious pairs (ADVICE r10). Output lists
                # only extend once the WHOLE doc succeeds.
                try:
                    frames, _, _, _ = decode_video_frames(
                        bytes(b) if b is not None else b""
                    )
                    nf = len(frames)
                    doc_slots: list = []
                    doc_sigs: list = []
                    for s in range(n_slots):
                        doc_slots.append(s)
                        doc_sigs.append(
                            dhash_from_pixels(
                                frames[s * nf // n_slots], h_cells, w_cells
                            )
                        )
                    ids.extend([did] * n_slots)
                    slots.extend(doc_slots)
                    sigs.extend(doc_sigs)
                    counts.extend([nf] * n_slots)
                except Exception:
                    # named refusals AND any residual parse crash
                    # degrade in keep mode (one corrupt payload must
                    # not fail a 100 TB ingest task); error mode
                    # surfaces everything
                    if on_undecodable == "error":
                        raise
                    ids.append(did)
                    slots.append(None)
                    sigs.append(None)
                    counts.append(None)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="object"),
                    "slot": pd.Series(slots, dtype="object"),
                    "fhash": pd.Series(sigs, dtype="object"),
                    "n_frames": pd.Series(counts, dtype="object"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def video_neardup_candidates(
    hashes: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    band_bits: int = 15,
    max_total_hamming: int = 10,
) -> DataFrame:
    """Slot-banded Hamming candidates over a per-slot fhash frame
    (the ``video_frame_hashes`` output) → (id_a, id_b, total_hamming)
    with total_hamming = Σ_slots bit_count(fhash_a ⊕ fhash_b) ≤
    ``max_total_hamming``. Bucket key = (slot·bands + band, value):
    per-slot pigeonhole recall — a pair whose slot-s frames differ by
    fewer than ``bands`` bits always collides in slot s. NULL-fhash
    rows (undecodable payloads under ``on_undecodable='keep'``) drop
    before banding. The caller's hash frame is pinned here (three
    consumers: two band sides + the slot-aligned verify join)."""
    mask = (1 << band_bits) - 1
    clean = hashes.filter(F.col("fhash").isNotNull()).select(
        id_col, "slot", "fhash"
    )
    clean = clean.localCheckpoint(eager=True)
    banded = clean.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("slot") * bands + F.lit(t)).alias("_band"),
                        F.shiftright("fhash", t * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("_val"),
                    )
                    for t in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_b._band", "_b._val")
    other = banded.select(F.col(id_col).alias("id_b"), "_band", "_val")
    pairs = (
        banded.withColumnRenamed(id_col, "id_a")
        .join(other, ["_band", "_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = clean.select(
        F.col(id_col).alias("id_a"), "slot", F.col("fhash").alias("_fa")
    )
    hb = clean.select(
        F.col(id_col).alias("_idb"),
        F.col("slot").alias("_slot_b"),
        F.col("fhash").alias("_fb"),
    )
    return (
        pairs.join(ha, "id_a")
        .join(
            hb,
            (F.col("id_b") == F.col("_idb"))
            & (F.col("slot") == F.col("_slot_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))))
            .cast("long")
            .alias("total_hamming")
        )
        .filter(F.col("total_hamming") <= max_total_hamming)
    )
