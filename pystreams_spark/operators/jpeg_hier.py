"""Hierarchical JPEG (ITU-T T.81 Annex J): the reference arithmetic
the decoder applies between frames, and the fixture encoders.

A hierarchical stream is DHP (the frame-collection header, SOF
syntax) followed by frames: the first non-differential, at a reduced
resolution, the later ones DIFFERENTIAL — each codes the difference
between the source at its resolution and a REFERENCE built from the
frames before it, first doubled as the EXP marker's Eh/Ev flags ask
through the §J.1.1.2 filter (`_upsample_ref`). A differential frame's
decoded samples are ADDED to the reference (`_add_to_ref`): DCT frames
add the un-level-shifted IDCT output and clamp to [0, 2^P−1];
lossless frames add modulo 2^16, so a final lossless differential
frame reproduces the source EXACTLY however lossy the pyramid below
it was. `multimodal._decode_jpeg_parse` parses these streams and
decodes every frame with the single-frame scan walks; differential
frames code DC coefficients and lossless samples without prediction
(§J.1, F.1.4.1, H.1) and apply no level shift.

Validation: no codec in this offline container reads or writes
hierarchical or arithmetic-lossless JPEG (Java ImageIO: none of
them), so interop cannot be differentially tested here. What is
tested: mirror-encoder fixtures round-trip (the lossless-final
pyramid is pixel-EXACT by construction, which checks the upsampler,
the reference arithmetic, and both entropy layers end-to-end), the
constant-plane closed form (bit-exact through every path, used by the
media_decode_report oracle), cross-entropy equivalence (the same
pyramid through Huffman and arithmetic differential frames must
decode identically), and hypothesis totality fuzz (corrupt bytes must
raise ValueError, never IndexError or a hang). Pinned for
re-verification if an external codec ever lands: the Annex H bin
layout choices (see jpeg_arith.py) and the §J.1.1.2 trailing-edge
convention (replicate vs mirror — affects only the last row/column of
upsampled references).
"""

from __future__ import annotations

import numpy as np

from .multimodal import (
    _JFIF,
    _JpegBitWriter,
    _fdct_zz,
    _huff_lossless_table,
    _huff_seq_tables,
    _jpeg_idct,
    _jpeg_ll_predict,
    _jpeg_source_planes,
    _put_ll_diff,
    _seg,
    _sof_body,
    _sos_body,
)


def _upsample_ref(plane, eh: int, ev: int, fh: int, fw: int):
    """§J.1.1.2 reference upsampling: double horizontally (Eh) and/or
    vertically (Ev) with the rounded-average interpolation filter,
    then crop to the next frame's (fh, fw)."""
    p = plane
    if eh:
        n = p.shape[1]
        out = np.empty((p.shape[0], 2 * n), p.dtype)
        out[:, 0::2] = p
        if n > 1:
            out[:, 1 : 2 * n - 1 : 2] = (p[:, :-1] + p[:, 1:] + 1) >> 1
        out[:, 2 * n - 1] = p[:, -1]
        p = out
    if ev:
        n = p.shape[0]
        out = np.empty((2 * n, p.shape[1]), p.dtype)
        out[0::2] = p
        if n > 1:
            out[1 : 2 * n - 1 : 2] = (p[:-1] + p[1:] + 1) >> 1
        out[2 * n - 1] = p[-1]
        p = out
    if p.shape[0] < fh or p.shape[1] < fw:
        raise ValueError(
            "JPEG hierarchical: reference smaller than the frame it must "
            f"seed ({p.shape} vs ({fh}, {fw})) — missing EXP?"
        )
    return p[:fh, :fw]


def _add_to_ref(ref, diff, lossless: bool, maxv: int):
    """A differential frame's decoded samples added to its reference:
    modulo 2^16 in a lossless frame, else clamped to [0, maxv]."""
    if lossless:
        return (ref + diff) & 0xFFFF
    return np.clip(ref + diff, 0, maxv)


# ---------------------------------------------------------------------------
# fixture encoders
# ---------------------------------------------------------------------------


def _emit_dct_frame_huff(blocks_per_comp, differential, progressive):
    """Entropy bytes for a (differential) DCT frame, Huffman. Returns
    (scan list of (sos_body, entropy_bytes), dht_segments)."""
    dc_code, ac_code, dht = _huff_seq_tables()
    nc = len(blocks_per_comp)
    nby, nbx = blocks_per_comp[0].shape[:2]

    def put_dc(wtr, v):
        s = abs(v).bit_length()
        wtr.put(*dc_code[s])
        if s:
            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)

    def put_ac(wtr, zzb, lo, hi):
        run = 0
        nz = np.nonzero(zzb[lo : hi + 1])[0]
        last = (int(nz[-1]) + lo) if len(nz) else lo - 1
        for k in range(lo, last + 1):
            v = int(zzb[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                wtr.put(*ac_code[0xF0])
                run -= 16
            s = abs(v).bit_length()
            wtr.put(*ac_code[(run << 4) | s])
            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < hi:
            wtr.put(*ac_code[0x00])

    scans = []
    if not progressive:
        wtr = _JpegBitWriter()
        preds = [0] * nc
        for byi in range(nby):
            for bxi in range(nbx):
                for ci, blocks in enumerate(blocks_per_comp):
                    zzb = blocks[byi, bxi]
                    dc = int(zzb[0])
                    put_dc(wtr, dc if differential else dc - preds[ci])
                    if not differential:
                        preds[ci] = dc
                    put_ac(wtr, zzb, 1, 63)
        wtr.pad_to_byte()
        scans.append((_sos_body(range(nc), 0, 63), bytes(wtr.out)))
        return scans, dht
    # progressive: one interleaved DC scan + one AC scan per component
    wtr = _JpegBitWriter()
    preds = [0] * nc
    for byi in range(nby):
        for bxi in range(nbx):
            for ci, blocks in enumerate(blocks_per_comp):
                dc = int(blocks[byi, bxi, 0])
                put_dc(wtr, dc if differential else dc - preds[ci])
                if not differential:
                    preds[ci] = dc
    wtr.pad_to_byte()
    scans.append((_sos_body(range(nc), 0, 0), bytes(wtr.out)))
    for ci, blocks in enumerate(blocks_per_comp):
        wtr = _JpegBitWriter()
        for byi in range(nby):
            for bxi in range(nbx):
                put_ac(wtr, blocks[byi, bxi], 1, 63)
        wtr.pad_to_byte()
        scans.append((_sos_body([ci], 1, 63), bytes(wtr.out)))
    return scans, dht


def _emit_dct_frame_arith(blocks_per_comp, differential, progressive):
    """Entropy bytes for a (differential) DCT frame, arithmetic
    (default conditioning: DC L=0 U=1, AC Kx=5). Returns
    (scans, dac_segment)."""
    from . import jpeg_arith as ja

    nc = len(blocks_per_comp)
    nby, nbx = blocks_per_comp[0].shape[:2]
    dac = _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    scans = []
    scan_comps = [{"id": i + 1, "td": 0, "ta": 0} for i in range(nc)]
    if not progressive:
        cs = ja._CondState(scan_comps, {0: (0, 1)}, {0: 5})
        cs.reset(scan_comps)
        enc = ja.ArithEncoder()
        for byi in range(nby):
            for bxi in range(nbx):
                for ci, blocks in enumerate(blocks_per_comp):
                    zzb = blocks[byi, bxi]
                    ja._encode_dc(
                        enc, cs, ci + 1, 0, int(zzb[0]), differential
                    )
                    ja._encode_ac(enc, cs, 0, zzb)
        scans.append((_sos_body(range(nc), 0, 63), enc.flush()))
        return scans, dac
    # progressive: DC scan then per-component AC scans, each its own
    # coder + statistics (scans are independent entropy intervals)
    cs = ja._CondState(scan_comps, {0: (0, 1)}, {0: 5})
    cs.reset(scan_comps)
    enc = ja.ArithEncoder()
    for byi in range(nby):
        for bxi in range(nbx):
            for ci, blocks in enumerate(blocks_per_comp):
                ja._encode_dc(
                    enc, cs, ci + 1, 0, int(blocks[byi, bxi, 0]),
                    differential,
                )
    scans.append((_sos_body(range(nc), 0, 0), enc.flush()))
    for ci, blocks in enumerate(blocks_per_comp):
        cs = ja._CondState(scan_comps, {0: (0, 1)}, {0: 5})
        cs.reset(scan_comps)
        enc = ja.ArithEncoder()
        for byi in range(nby):
            for bxi in range(nbx):
                ja._encode_ac(enc, cs, 0, blocks[byi, bxi], 1, 63, 0)
        scans.append((_sos_body([ci], 1, 63), enc.flush()))
    return scans, dac


def _emit_lossless_frame_huff(planes, differential):
    """Entropy bytes for a (differential) lossless frame, Huffman
    (`_huff_lossless_table`), predictor 1 when non-differential."""
    code, dht = _huff_lossless_table()
    h, w = planes[0].shape
    wtr = _JpegBitWriter()
    for y in range(h):
        for x in range(w):
            for p in planes:
                pred = _jpeg_ll_predict(p, y, x, 0, 0 if differential else 1, 128)
                _put_ll_diff(wtr, code, int(p[y, x]) - pred)
    wtr.pad_to_byte()
    sos = _sos_body(range(len(planes)), 0 if differential else 1, 0)
    return [(sos, bytes(wtr.out))], dht


def _emit_lossless_frame_arith(planes, differential):
    """Entropy bytes for a (differential) lossless frame, arithmetic
    (Annex H model, default L=0 U=1 conditioning), predictor 1 when
    non-differential."""
    from . import jpeg_arith as ja

    dac = _seg(0xCC, bytes([0x00, 0x10]))
    h, w = planes[0].shape
    stats = ja.new_stats(ja.LL_STAT_BINS)
    enc = ja.ArithEncoder()
    above = [np.zeros(w, np.int64) for _ in planes]
    left = [0] * len(planes)
    for y in range(h):
        for ci in range(len(planes)):
            left[ci] = 0
        for x in range(w):
            for ci, p in enumerate(planes):
                pred = _jpeg_ll_predict(p, y, x, 0, 0 if differential else 1, 128)
                diff = (int(p[y, x]) - pred) & 0xFFFF
                if diff >= 0x8000:
                    diff -= 0x10000
                db = int(above[ci][x]) if y > 0 else 0
                ja._encode_ll(enc, stats, left[ci], db, 0, 1, diff)
                left[ci] = diff
                above[ci][x] = diff
    sos = _sos_body(range(len(planes)), 0 if differential else 1, 0)
    return [(sos, enc.flush())], dac


def encode_jpeg_lossless_arith(arr, predictor: int = 1) -> bytes:
    """Standalone SOF11 (arithmetic lossless, non-differential, 8-bit)
    fixture encoder — Annex H model with the row/default prediction
    rules of predictor 1 (the `_emit_lossless_frame_arith` layout).
    Only predictor 1 is emitted (the fixture side codes pred=left with
    the spec's row-start/first-sample rules)."""
    if predictor != 1:
        raise ValueError("encode_jpeg_lossless_arith: only predictor 1")
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    planes = (
        [arr.astype(np.int64)]
        if gray
        else [arr[:, :, i].astype(np.int64) for i in range(arr.shape[2])]
    )
    h, w = arr.shape[:2]
    scans, dac = _emit_lossless_frame_arith(planes, differential=False)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xCB, _sof_body(8, h, w, len(planes)))
    out += dac
    sos, entropy = scans[0]
    out += _seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_hierarchical(
    arr,
    quant: int = 1,
    entropy: str = "huffman",
    diff_mode: str = "seq",
    levels: int = 2,
) -> bytes:
    """Hierarchical fixture encoder (Annex J): a `levels`-deep pyramid
    whose first frame is non-differential sequential DCT (SOF0 or
    SOF9) at 1/2^(levels−1) resolution, followed by one differential
    frame per level after EXP(1,1) expansion. ``diff_mode``: 'seq' →
    SOF5/SOF13, 'prog' → SOF6/SOF14 (DC scan + per-component AC
    scans), 'lossless' → SOF7/SOF15 (the final frame reproduces the
    source EXACTLY — used by the exactness tests). The encoder tracks
    the decoder's reconstruction bit-for-bit (same IDCT/rounding/
    clamp/upsample arithmetic), so every differential frame codes the
    true residual."""
    if entropy not in ("huffman", "arith"):
        raise ValueError("encode_jpeg_hierarchical: entropy huffman|arith")
    if diff_mode not in ("seq", "prog", "lossless"):
        raise ValueError(
            "encode_jpeg_hierarchical: diff_mode seq|prog|lossless"
        )
    if levels < 2:
        raise ValueError("encode_jpeg_hierarchical: levels must be >= 2")
    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    src_planes = [p.astype(np.int64) for p in _jpeg_source_planes(arr)]
    nc = len(src_planes)

    # source pyramid: 2× box-downsample per level (encoder's choice —
    # T.81 does not standardize the downsampling filter)
    pyramid = [src_planes]
    for _ in range(levels - 1):
        prev = pyramid[0]
        ds = []
        for p in prev:
            ph, pw = p.shape
            ph2, pw2 = -(-ph // 2), -(-pw // 2)
            pad = np.pad(p, ((0, ph2 * 2 - ph), (0, pw2 * 2 - pw)),
                         mode="edge")
            ds.append(
                (pad[0::2, 0::2] + pad[0::2, 1::2] + pad[1::2, 0::2]
                 + pad[1::2, 1::2] + 2) >> 2
            )
        pyramid.insert(0, ds)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, _JFIF)
    out += _seg(0xDE, _sof_body(8, h, w, nc))  # DHP at full resolution
    out += _seg(0xDB, bytes([0x00]) + bytes([quant]) * 64)

    arith = entropy == "arith"
    recon = None  # decoder-mirrored reference planes
    for li, planes in enumerate(pyramid):
        fh, fw = planes[0].shape
        differential = li > 0
        if differential:
            out += _seg(0xDF, bytes([0x11]))  # EXP: Eh=1, Ev=1
            recon = [
                _upsample_ref(p, 1, 1, fh, fw) for p in recon
            ]
        if not differential:
            blocks = [
                _fdct_zz(p.astype(np.float64), quant, 128.0) for p in planes
            ]
            scans, tables = (
                _emit_dct_frame_arith(blocks, False, False)
                if arith
                else _emit_dct_frame_huff(blocks, False, False)
            )
            sof_marker = 0xC9 if arith else 0xC0
            # decoder-mirror reconstruction
            recon = [
                np.clip(_jpeg_idct(b * quant, fh, fw, 128.0), 0, 255)
                for b in blocks
            ]
        elif diff_mode == "lossless":
            diffs = [
                ((s - r) & 0xFFFF).astype(np.int64)
                for s, r in zip(planes, recon)
            ]
            # map to mod-2^16 signed representatives for coding
            sd = [np.where(d >= 0x8000, d - 0x10000, d) for d in diffs]
            scans, tables = (
                _emit_lossless_frame_arith(sd, True)
                if arith
                else _emit_lossless_frame_huff(sd, True)
            )
            sof_marker = 0xCF if arith else 0xC7
            recon = [
                _add_to_ref(r, d, True, 255) for r, d in zip(recon, diffs)
            ]
        else:
            prog = diff_mode == "prog"
            diffs = [
                (s - r).astype(np.float64) for s, r in zip(planes, recon)
            ]
            blocks = [_fdct_zz(d, quant, 0.0) for d in diffs]
            scans, tables = (
                _emit_dct_frame_arith(blocks, True, prog)
                if arith
                else _emit_dct_frame_huff(blocks, True, prog)
            )
            sof_marker = (
                (0xCE if prog else 0xCD) if arith else (0xC6 if prog else 0xC5)
            )
            recon = [
                _add_to_ref(r, _jpeg_idct(b * quant, fh, fw, 0.0), False, 255)
                for r, b in zip(recon, blocks)
            ]
        out += _seg(sof_marker, _sof_body(8, fh, fw, nc))
        out += tables
        for sos, entropy_bytes in scans:
            out += _seg(0xDA, sos)
            out += entropy_bytes
    out += b"\xff\xd9"
    return bytes(out)
