"""WebP LOSSLESS (VP8L) codec — r9. Pure-Python implementation of the
public "WebP Lossless Bitstream Specification" (Google, licensed under
CC-BY; the format of the `VP8L` chunk inside a RIFF/WEBP container):

- LSB-first bit reader over the chunk payload;
- canonical prefix codes, both the SIMPLE form (1-2 symbols) and the
  NORMAL form (deflate-style code-length codes over the 19-symbol
  alphabet in the spec's kCodeLengthCodeOrder, 16/17/18 repeat codes,
  the optional max_symbol early-stop field);
- entropy-coded images: optional color cache (1-11 bits, the
  0x1E35A7BD multiplicative hash), optional META prefix-code image
  (block-granular code-group selection), five prefix codes per group
  (green+length+cache / red / blue / alpha / distance);
- LZ77 backward references: length/distance prefix values with extra
  bits, and the 120-entry close-neighborhood distance map;
- all four transforms, applied inverse in reverse stream order:
  PREDICTOR (14 modes, block-granular, the contiguous-buffer edge
  rules), COLOR (ColorTransformElement deltas, signed 3.5 fixed-point
  multiplies), SUBTRACT-GREEN, and COLOR-INDEXING (palette with
  cumulative-delta entries and sub-byte index bundling for palettes
  <= 16 entries).

A mirror ENCODER exists for fixtures and exercises every decode path
it claims: literals under canonical prefix codes, LZ77 references
(alone and COMBINED with a color cache — copies insert every pixel),
color cache hits, META prefix-code groups (two-group block split),
subtract-green, fixed-mode predictor blocks, and palette images
(with bundling). Validation honesty, same protocol as
`jpeg_arith.py` / `jpeg_hier.py`: NO codec in this offline container
reads or writes WebP (Java ImageIO has no WebP plugin), so bitstream
interop cannot be differentially tested here. Pinned for
re-verification when an external codec lands: (a) the 120-entry
distance map is GENERATED here by the sort rule the spec's table
satisfies (all (dx, dy), dy >= 0, excluding dy=0 & dx <= 0, ordered by
dx^2+dy^2 then dy descending then dx descending — verified against
the spec table's documented first rows); (b) the predictor transform's
top-right pixel at the last column wraps to the contiguous-buffer
offset rule (buffer[pos - width + 1], i.e. the first pixel of the
current row); both are one-line changes if a reference file ever
disagrees. The encoder can avoid (a) entirely — neighborhood codes
are optional — but emits them on purpose so the decode path is
exercised.

Vendored-fixture search (ADVICE r9, re-checked 2026-08-15/r10): every
``*.webp`` on this machine (CPython test-suite ``python.webp`` copies,
12 found) is a VP8X container holding LOSSY ``VP8 ``+``ALPH`` chunks —
no externally-encoded VP8L bitstream exists offline to vendor, and
``javax.imageio.ImageIO.getReaderFormatNames()`` lists no webp reader.
The decode side therefore still has no externally-produced lossless
bitstream; the two pinned assumptions above remain the re-verification
contract.
"""

from __future__ import annotations

_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
_CACHE_MUL = 0x1E35A7BD


def _np():
    import numpy as np

    return np


def _distance_map() -> list:
    """The spec's 120-entry close-neighborhood (dx, dy) table,
    generated by its ordering rule (see module docstring, pinned)."""
    cand = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            d2 = dx * dx + dy * dy
            cand.append((d2, -dy, -dx, dx, dy))
    cand.sort()
    return [(dx, dy) for _d2, _ndy, _ndx, dx, dy in cand[:120]]


_DIST_MAP = _distance_map()
_DIST_CODE = {pair: i + 1 for i, pair in enumerate(_DIST_MAP)}


class _Bits:
    """LSB-first bit reader (VP8L convention)."""

    __slots__ = ("d", "pos", "n")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.n = len(data) * 8

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        p = self.pos
        if p + k > self.n:
            raise ValueError("vp8l: truncated bitstream")
        lo = p >> 3
        hi = (p + k - 1) >> 3
        v = int.from_bytes(self.d[lo : hi + 1], "little") >> (p - 8 * lo)
        self.pos = p + k
        return v & ((1 << k) - 1)


class _BitWriter:
    """LSB-first bit writer (encoder side)."""

    __slots__ = ("acc", "n")

    def __init__(self):
        self.acc = 0
        self.n = 0

    def write(self, v: int, k: int) -> None:
        if k == 0:
            return
        if not 0 <= v < (1 << k):
            raise ValueError("vp8l encode: field out of range")
        self.acc |= v << self.n
        self.n += k

    def bytes(self) -> bytes:
        return self.acc.to_bytes((self.n + 7) >> 3 or 1, "little")


class _Prefix:
    """Canonical prefix code (deflate numbering, bits consumed
    MSB-of-code-first as the spec's tree walk does)."""

    __slots__ = ("map", "single")

    def __init__(self, lengths: dict[int, int]):
        nz = {s: l for s, l in lengths.items() if l > 0}
        if not nz:
            raise ValueError("vp8l: empty prefix code")
        if len(nz) == 1:
            self.single = next(iter(nz))
            self.map = {}
            return
        self.single = None
        # kraft check
        maxlen = max(nz.values())
        k = sum(1 << (maxlen - l) for l in nz.values())
        if k != (1 << maxlen):
            raise ValueError("vp8l: prefix code lengths violate kraft")
        code = 0
        self.map = {}
        for l in range(1, maxlen + 1):
            for s in sorted(s for s, ln in nz.items() if ln == l):
                self.map[(code, l)] = s
                code += 1
            code <<= 1

    @classmethod
    def single_symbol(cls, sym: int) -> "_Prefix":
        p = object.__new__(cls)
        p.single = sym
        p.map = {}
        return p

    def decode(self, bits: _Bits) -> int:
        if self.single is not None:
            return self.single
        acc, n = 0, 0
        while True:
            acc = (acc << 1) | bits.read(1)
            n += 1
            if n > 15:
                raise ValueError("vp8l: invalid prefix code")
            s = self.map.get((acc, n))
            if s is not None:
                return s

    def codes(self) -> dict[int, tuple[int, int]]:
        """symbol → (code value, length) for the encoder."""
        if self.single is not None:
            return {self.single: (0, 0)}
        return {s: (c, l) for (c, l), s in self.map.items()}


def _read_prefix_code(bits: _Bits, alphabet: int) -> _Prefix:
    if bits.read(1):  # simple
        num = bits.read(1) + 1
        first8 = bits.read(1)
        s0 = bits.read(8 if first8 else 1)
        if num == 1:
            return _Prefix.single_symbol(s0)
        s1 = bits.read(8)
        return _Prefix({s0: 1, s1: 1})
    # normal: code-length code
    ncl = 4 + bits.read(4)
    cl_lengths = {}
    for i in range(ncl):
        l = bits.read(3)
        if l:
            cl_lengths[_CL_ORDER[i]] = l
    cl = _Prefix(cl_lengths)
    if bits.read(1):  # use max_symbol
        length_nbits = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths: dict[int, int] = {}
    sym = 0
    prev = 8
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl.decode(bits)
        if s < 16:
            if s:
                lengths[sym] = s
                prev = s
            sym += 1
        elif s == 16:
            rep = 3 + bits.read(2)
            for _ in range(rep):
                if sym < alphabet:
                    lengths[sym] = prev
                sym += 1
        elif s == 17:
            sym += 3 + bits.read(3)
        else:
            sym += 11 + bits.read(7)
    if sym > alphabet:
        raise ValueError("vp8l: code lengths overflow alphabet")
    return _Prefix(lengths)


def _lz77_value(code: int, bits: _Bits) -> int:
    """Length/distance prefix value (spec: 4 direct + extra-bit
    ranges)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + bits.read(extra) + 1


def _lz77_code(value: int) -> tuple[int, int, int]:
    """Inverse of _lz77_value: value → (code, extra_value, extra_bits)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    rem = v - (2 << extra)
    if rem < (1 << extra):
        return 2 * extra + 2, rem, extra
    return 2 * extra + 3, rem - (1 << extra), extra


def _group_codes(bits: _Bits, cache_size: int) -> list:
    return [
        _read_prefix_code(bits, 256 + 24 + cache_size),
        _read_prefix_code(bits, 256),
        _read_prefix_code(bits, 256),
        _read_prefix_code(bits, 256),
        _read_prefix_code(bits, 40),
    ]


def _decode_entropy_image(bits: _Bits, w: int, h: int, allow_meta: bool):
    """One entropy-coded ARGB image → list of (a, r, g, b) tuples in
    raster order."""
    cache_bits = bits.read(4) if bits.read(1) else 0
    if cache_bits > 11:
        raise ValueError("vp8l: color cache too wide")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and bits.read(1):
        meta_bits = bits.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_px = _decode_entropy_image(bits, mw, mh, False)
        meta = [((r << 8) | g) for (_a, r, g, _b) in meta_px]
        n_groups = max(meta) + 1
    groups = [_group_codes(bits, cache_size) for _ in range(n_groups)]

    out: list = []
    npix = w * h
    while len(out) < npix:
        pos = len(out)
        if meta is not None:
            x, y = pos % w, pos // w
            mw = (w + (1 << meta_bits) - 1) >> meta_bits
            g5 = groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        else:
            g5 = groups[0]
        s = g5[0].decode(bits)
        if s < 256:
            r = g5[1].decode(bits)
            b = g5[2].decode(bits)
            a = g5[3].decode(bits)
            px = (a, r, s, b)
            out.append(px)
            if cache_size:
                v = (a << 24) | (r << 16) | (s << 8) | b
                cache[((_CACHE_MUL * v) & 0xFFFFFFFF) >> (32 - cache_bits)] = v
        elif s < 280:
            length = _lz77_value(s - 256, bits)
            dcode = g5[4].decode(bits)
            dval = _lz77_value(dcode, bits)
            if dval > 120:
                dist = dval - 120
            else:
                dx, dy = _DIST_MAP[dval - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > len(out):
                raise ValueError("vp8l: reference before image start")
            if len(out) + length > npix:
                raise ValueError("vp8l: reference overruns image")
            for _ in range(length):
                px = out[len(out) - dist]
                out.append(px)
                if cache_size:
                    a, r, g, b = px
                    v = (a << 24) | (r << 16) | (g << 8) | b
                    cache[
                        ((_CACHE_MUL * v) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = v
        else:
            if not cache_size:
                raise ValueError("vp8l: cache symbol without color cache")
            idx = s - 280
            if idx >= cache_size:
                raise ValueError("vp8l: cache index out of range")
            v = cache[idx]
            out.append(((v >> 24) & 255, (v >> 16) & 255, (v >> 8) & 255, v & 255))
    return out


def _cdelta(t: int, c: int) -> int:
    """ColorTransformElement delta: signed 3.5 fixed-point product."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_predictor(px, w: int, h: int, size_bits: int, modes) -> None:
    """In-place inverse predictor transform over (a,r,g,b) tuples."""
    mw = (w + (1 << size_bits) - 1) >> size_bits

    def add(p, q):
        return tuple((p[i] + q[i]) & 255 for i in range(4))

    def avg2(p, q):
        return tuple((p[i] + q[i]) >> 1 for i in range(4))

    def clamp_add_sub_full(l, t, tl):
        return tuple(min(255, max(0, l[i] + t[i] - tl[i])) for i in range(4))

    def clamp_add_sub_half(l, t, tl):
        out = []
        for i in range(4):
            ave = (l[i] + t[i]) >> 1
            out.append(min(255, max(0, ave + ((ave - tl[i]) >> 1))))
        return tuple(out)

    def select(l, t, tl):
        p_l = abs(t[0] - tl[0]) + abs(t[1] - tl[1]) + abs(t[2] - tl[2]) + abs(
            t[3] - tl[3]
        )
        p_t = abs(l[0] - tl[0]) + abs(l[1] - tl[1]) + abs(l[2] - tl[2]) + abs(
            l[3] - tl[3]
        )
        return l if p_l <= p_t else t

    black = (255, 0, 0, 0)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = black
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                mode = modes[(y >> size_bits) * mw + (x >> size_bits)]
                L = px[i - 1]
                T = px[i - w]
                TL = px[i - w - 1]
                TR = px[i - w + 1]  # x=w-1 wraps per the buffer rule
                if mode == 0:
                    pred = black
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = avg2(avg2(L, TR), T)
                elif mode == 6:
                    pred = avg2(L, TL)
                elif mode == 7:
                    pred = avg2(L, T)
                elif mode == 8:
                    pred = avg2(TL, T)
                elif mode == 9:
                    pred = avg2(T, TR)
                elif mode == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif mode == 11:
                    pred = select(L, T, TL)
                elif mode == 12:
                    pred = clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = clamp_add_sub_half(L, T, TL)
                else:
                    raise ValueError(f"vp8l: predictor mode {mode} invalid")
            px[i] = add(px[i], pred)


def decode_vp8l_payload(data: bytes):
    """VP8L chunk payload → (H, W, 3) uint8 RGB (alpha composited away
    against white would be a policy choice; the feature domain keeps
    RGB, matching every other image decoder here)."""
    np = _np()

    bits = _Bits(data)
    if bits.read(8) != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    w = bits.read(14) + 1
    h = bits.read(14) + 1
    bits.read(1)  # alpha hint
    if bits.read(3) != 0:
        raise ValueError("vp8l: unsupported version")

    transforms = []  # (type, data...) in stream order
    seen = set()
    dec_w = w  # width the entropy image is coded at (color-indexing packs)
    while bits.read(1):
        ttype = bits.read(2)
        if ttype in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / color
            size_bits = bits.read(3) + 2
            bw = (dec_w + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_entropy_image(bits, bw, bh, False)
            transforms.append((ttype, size_bits, sub))
        elif ttype == 2:  # subtract green
            transforms.append((2,))
        else:  # color indexing
            n = bits.read(8) + 1
            pal_px = _decode_entropy_image(bits, n, 1, False)
            # palette entries are cumulative deltas
            pal = []
            prev = (0, 0, 0, 0)
            for p in pal_px:
                cur = tuple((prev[i] + p[i]) & 255 for i in range(4))
                pal.append(cur)
                prev = cur
            if n <= 2:
                wbits = 3
            elif n <= 4:
                wbits = 2
            elif n <= 16:
                wbits = 1
            else:
                wbits = 0
            transforms.append((3, n, pal, wbits))
            if wbits:
                dec_w = (w + (1 << wbits) - 1) >> wbits

    px = _decode_entropy_image(bits, dec_w, h, True)

    for t in reversed(transforms):
        if t[0] == 3:
            _n, pal, wbits = t[1], t[2], t[3]
            if wbits:
                per = 1 << wbits
                ibits = 8 >> wbits
                mask = (1 << ibits) - 1
                unpacked = []
                for y in range(h):
                    row = px[y * dec_w : (y + 1) * dec_w]
                    idxs = []
                    for p in row:
                        g = p[2]
                        for k in range(per):
                            idxs.append((g >> (k * ibits)) & mask)
                    unpacked.extend(idxs[:w])
                src = unpacked
            else:
                src = [p[2] for p in px]
            out = []
            for i in src:
                if i >= len(pal):
                    raise ValueError("vp8l: palette index out of range")
                out.append(pal[i])
            px = out
            dec_w = w
        elif t[0] == 2:
            px = [
                (a, (r + g) & 255, g, (b + g) & 255) for (a, r, g, b) in px
            ]
        elif t[0] == 1:  # color transform
            size_bits, sub = t[1], t[2]
            mw = (dec_w + (1 << size_bits) - 1) >> size_bits
            out = []
            for i, (a, r, g, b) in enumerate(px):
                x, y = i % dec_w, i // dec_w
                _a2, cr2b, cg2b, cg2r = sub[
                    (y >> size_bits) * mw + (x >> size_bits)
                ]
                # element channels: green_to_red in BLUE, green_to_blue
                # in GREEN, red_to_blue in RED of the subimage pixel
                r2 = (r + _cdelta(cg2r, g)) & 255
                b2 = (b + _cdelta(cg2b, g) + _cdelta(cr2b, r2)) & 255
                out.append((a, r2, g, b2))
            px = out
        else:  # predictor
            size_bits, sub = t[1], t[2]
            modes = [p[2] for p in sub]
            _inv_predictor(px, dec_w, h, size_bits, modes)

    arr = np.array(px, dtype=np.uint8).reshape(h, w, 4)
    return arr[:, :, 1:4]  # RGB (drop alpha, feature-domain convention)


def decode_webp(payload: bytes):
    """RIFF/WEBP container → decoded RGB array. Lossless (VP8L) only;
    lossy VP8 and extended VP8X refuse by name."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WEBP payload")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("webp: truncated chunk")
        if tag == b"VP8L":
            return decode_vp8l_payload(body)
        if tag == b"VP8 ":
            raise ValueError(
                "webp: lossy VP8 unsupported (DCT video-intra codec); "
                "lossless VP8L decodes"
            )
        if tag == b"VP8X":
            raise ValueError(
                "webp: extended VP8X container unsupported (animation/"
                "metadata features); plain lossless VP8L decodes"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no image chunk found")


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------


def _canonical_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Huffman code lengths capped at ``max_len``, repaired to exact
    Kraft equality."""
    import heapq

    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    nid = len(heap)
    lengths = {s: 0 for s in syms}
    while len(heap) > 1:
        fa, _, ga = heapq.heappop(heap)
        fb, _, gb = heapq.heappop(heap)
        for s in ga + gb:
            lengths[s] += 1
        heapq.heappush(heap, (fa + fb, nid, ga + gb))
        nid += 1
    for s in lengths:
        if lengths[s] > max_len:
            lengths[s] = max_len
    target = 1 << max_len
    ksum = sum(1 << (max_len - l) for l in lengths.values())
    order = sorted(syms, key=lambda s: (lengths[s], -freqs[s]))
    guard = 0
    while ksum != target:
        guard += 1
        if guard > 20000:
            raise ValueError("vp8l encode: kraft repair did not converge")
        if ksum > target:
            for s in reversed(order):
                if lengths[s] < max_len:
                    ksum -= 1 << (max_len - lengths[s] - 1)
                    lengths[s] += 1
                    break
        else:
            for s in reversed(order):
                if lengths[s] > 1 and (
                    ksum + (1 << (max_len - lengths[s])) <= target
                ):
                    ksum += 1 << (max_len - lengths[s])
                    lengths[s] -= 1
                    break
        order.sort(key=lambda s: (lengths[s], -freqs[s]))
    return lengths


def _write_prefix_code(wtr: _BitWriter, lengths: dict[int, int],
                       alphabet: int) -> _Prefix:
    """Emit one prefix code (simple when <= 2 symbols, else the
    code-length-coded normal form); returns the decoder-equivalent
    table for the encoder's own use."""
    nz = sorted(s for s, l in lengths.items() if l > 0)
    if len(nz) <= 2 and all(s < 256 for s in nz):
        wtr.write(1, 1)  # simple
        wtr.write(len(nz) - 1, 1)
        wtr.write(1, 1)  # first symbol in 8 bits
        wtr.write(nz[0], 8)
        if len(nz) == 2:
            wtr.write(nz[1], 8)
            return _Prefix({nz[0]: 1, nz[1]: 1})
        return _Prefix.single_symbol(nz[0])
    wtr.write(0, 1)  # normal
    # symbol length sequence with 17/18 zero runs (no 16-repeats: the
    # plain form keeps the emitter simple and is spec-valid)
    # without the max_symbol field the decoder reads length entries
    # for the WHOLE alphabet — trailing zeros must be emitted as runs
    seq: list[tuple[int, int, int]] = []  # (cl symbol, extra, extra bits)
    sym = 0
    last = alphabet - 1
    while sym <= last:
        l = lengths.get(sym, 0)
        if l:
            seq.append((l, 0, 0))
            sym += 1
            continue
        run = 0
        while sym + run <= last and lengths.get(sym + run, 0) == 0:
            run += 1
        sym += run
        while run > 0:
            if run < 3:
                for _ in range(run):
                    seq.append((0, 0, 0))
                run = 0
            elif run <= 10:
                seq.append((17, run - 3, 3))
                run = 0
            else:
                take = min(run, 138)
                seq.append((18, take - 11, 7))
                run -= take
    cl_freq: dict[int, int] = {}
    for s, _e, _eb in seq:
        cl_freq[s] = cl_freq.get(s, 0) + 1
    if len(cl_freq) == 1:
        # a lone CL symbol still needs a 1-bit code: pad with an unused
        # symbol of equal length
        pad = 0 if 0 not in cl_freq else 1
        cl_lengths = {next(iter(cl_freq)): 1, pad: 1}
    else:
        cl_lengths = _canonical_lengths(cl_freq, max_len=7)
    # header: lengths for kCLOrder prefix covering all used symbols
    used_positions = [
        i for i, s in enumerate(_CL_ORDER) if cl_lengths.get(s, 0) > 0
    ]
    ncl = max(4, max(used_positions) + 1)
    wtr.write(ncl - 4, 4)
    for i in range(ncl):
        wtr.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    wtr.write(0, 1)  # no max_symbol field
    cl_code = _Prefix(cl_lengths).codes()
    for s, extra, ebits in seq:
        c, l = cl_code[s]
        # prefix code bits are written MSB-first (tree-walk order)
        for bi in range(l - 1, -1, -1):
            wtr.write((c >> bi) & 1, 1)
        if ebits:
            wtr.write(extra, ebits)
    return _Prefix(lengths)


def _emit_symbol(wtr: _BitWriter, code_tbl: dict, sym: int) -> None:
    c, l = code_tbl[sym]
    for bi in range(l - 1, -1, -1):
        wtr.write((c >> bi) & 1, 1)


def encode_webp_lossless(
    arr,
    use_lz77: bool = True,
    cache_bits: int = 0,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    palette: bool = False,
    meta_split: bool = False,
) -> bytes:
    """VP8L fixture encoder. (H, W, 3) uint8 RGB (alpha = 255). One
    prefix-code group, optional color cache, greedy pixel-LZ77 (both
    plain and neighborhood distance codes), and optionally ONE of:
    subtract-green, a fixed-mode predictor transform, or palette
    (color-indexing) coding — each exercising its decoder inverse."""
    np = _np()

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_webp_lossless: (H, W, 3) uint8 expected")
    h, w = a.shape[:2]
    px = [
        (255, int(a[y, x, 0]), int(a[y, x, 1]), int(a[y, x, 2]))
        for y in range(h)
        for x in range(w)
    ]

    wtr = _BitWriter()
    wtr.write(0x2F, 8)
    wtr.write(w - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(0, 1)  # no alpha
    wtr.write(0, 3)  # version

    dec_w = w
    if palette:
        uniq = sorted(set(px))
        if len(uniq) > 256:
            raise ValueError("encode_webp_lossless: palette needs <= 256")
        n = len(uniq)
        index = {p: i for i, p in enumerate(uniq)}
        wtr.write(1, 1)
        wtr.write(3, 2)  # color indexing
        wtr.write(n - 1, 8)
        # palette subimage: cumulative deltas, literals only
        deltas = []
        prev = (0, 0, 0, 0)
        for p in uniq:
            deltas.append(tuple((p[i] - prev[i]) & 255 for i in range(4)))
            prev = p
        _encode_entropy_image(wtr, deltas, n, 1, False, 0)
        if n <= 2:
            wbits = 3
        elif n <= 4:
            wbits = 2
        elif n <= 16:
            wbits = 1
        else:
            wbits = 0
        idxs = [index[p] for p in px]
        if wbits:
            per = 1 << wbits
            ibits = 8 >> wbits
            dec_w = (w + per - 1) >> wbits
            packed = []
            for y in range(h):
                row = idxs[y * w : (y + 1) * w]
                for c0 in range(0, w, per):
                    g = 0
                    for k, v in enumerate(row[c0 : c0 + per]):
                        g |= v << (k * ibits)
                    packed.append((255, 0, g, 0))
            px = packed
        else:
            px = [(255, 0, i, 0) for i in idxs]
    elif predictor_mode is not None:
        size_bits = 4
        bw = (w + 15) >> 4
        bh = (h + 15) >> 4
        wtr.write(1, 1)
        wtr.write(0, 2)  # predictor
        wtr.write(size_bits - 2, 3)
        modes = [(255, 0, predictor_mode, 0)] * (bw * bh)
        _encode_entropy_image(wtr, modes, bw, bh, False, 0)
        # residuals = pixel - predicted(reconstruction); with a FIXED
        # mode, reconstruction == source, so prediction runs on source
        res = list(px)
        black = (255, 0, 0, 0)
        for y in range(h - 1, -1, -1):
            for x in range(w - 1, -1, -1):
                i = y * w + x
                if x == 0 and y == 0:
                    pred = black
                elif y == 0:
                    pred = px[i - 1]
                elif x == 0:
                    pred = px[i - w]
                else:
                    pred = {
                        1: px[i - 1],
                        2: px[i - w],
                    }.get(predictor_mode)
                    if pred is None:
                        raise ValueError(
                            "encode_webp_lossless: fixture predictor "
                            "modes are 1 (left) and 2 (top)"
                        )
                res[i] = tuple((px[i][k] - pred[k]) & 255 for k in range(4))
        px = res
    elif subtract_green:
        wtr.write(1, 1)
        wtr.write(2, 2)
        px = [(a4, (r - g) & 255, g, (b - g) & 255) for (a4, r, g, b) in px]
    wtr.write(0, 1)  # end of transforms

    _encode_entropy_image(
        wtr, px, dec_w, h, use_lz77=use_lz77, cache_bits=cache_bits,
        is_main=True, meta_split=meta_split,
    )

    payload = wtr.bytes()
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
    return riff


def _encode_entropy_image(wtr: _BitWriter, px: list, w: int, h: int,
                          use_lz77: bool = False, cache_bits: int = 0,
                          is_main: bool = False, meta_split: bool = False):
    if cache_bits:
        wtr.write(1, 1)
        wtr.write(cache_bits, 4)
    else:
        wtr.write(0, 1)
    meta_bits = 0
    meta = None
    n_groups = 1
    if is_main:  # only the main ARGB image carries the meta-code bit
        if meta_split and w >= 2:
            # two code groups, split at the horizontal midpoint in
            # 4-pixel blocks — exercises the decoder's meta path
            wtr.write(1, 1)
            meta_bits = 2
            wtr.write(meta_bits - 2, 3)
            mw = (w + 3) >> 2
            mh = (h + 3) >> 2
            half = max(1, mw // 2)
            meta = [
                (0 if (i % mw) < half else 1) for i in range(mw * mh)
            ]
            n_groups = max(meta) + 1
            _encode_entropy_image(
                wtr, [(255, 0, g, 0) for g in meta], mw, mh
            )
        else:
            wtr.write(0, 1)  # no meta prefix codes

    def group_of(pos: int) -> int:
        if meta is None:
            return 0
        x, y = pos % w, pos // w
        mw = (w + 3) >> 2
        return meta[(y >> meta_bits) * mw + (x >> meta_bits)]

    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size

    # tokenize: (kind, payload) with kind in lit/copy/cached
    tokens: list = []
    if use_lz77 and len(px) > 8:
        table: dict = {}
        i = 0
        n = len(px)
        while i < n:
            key = tuple(px[i : i + 3]) if i + 3 <= n else None
            j = table.get(key) if key else None
            if key:
                table[key] = i
            if j is not None and i - j <= (1 << 18):
                ml = 0
                while i + ml < n and ml < 4096 and px[j + ml] == px[i + ml]:
                    ml += 1
                if ml >= 3:
                    tokens.append(("copy", ml, i - j))
                    i += ml
                    continue
            tokens.append(("px", px[i]))
            i += 1
    else:
        tokens = [("px", p) for p in px]

    # second pass: cache resolution against a decoder-mirrored
    # reconstruction — the decoder inserts EVERY emitted pixel
    # (literal, cache hit, and each pixel a copy writes) into the
    # cache, so the encoder replays the same stream of insertions
    final: list = []
    recon: list = []

    def _insert(p):
        a4, r, g, b = p
        v = (a4 << 24) | (r << 16) | (g << 8) | b
        if cache_size:
            cache[((_CACHE_MUL * v) & 0xFFFFFFFF) >> (32 - cache_bits)] = v
        return v

    for t in tokens:
        if t[0] == "px":
            a4, r, g, b = t[1]
            v = (a4 << 24) | (r << 16) | (g << 8) | b
            if cache_size:
                slot = ((_CACHE_MUL * v) & 0xFFFFFFFF) >> (32 - cache_bits)
                if cache[slot] == v:
                    final.append(("cached", slot))
                    recon.append(t[1])
                    _insert(t[1])
                    continue
            _insert(t[1])
            final.append(("lit", t[1]))
            recon.append(t[1])
        else:
            _k, ml, dist = t
            final.append(t)
            for _ in range(ml):
                p = recon[len(recon) - dist]
                recon.append(p)
                _insert(p)

    # positions: each token's group is decided at its START pixel
    # (the decoder selects the 5-code group once per outer iteration)
    positions = []
    pos = 0
    for t in final:
        positions.append(pos)
        pos += t[1] if t[0] == "copy" else 1

    # per-group histograms
    hists = [
        [dict(), dict(), dict(), dict(), dict()] for _ in range(n_groups)
    ]
    for t, p0 in zip(final, positions):
        fg, fr, fb, fa, fd = hists[group_of(p0)]
        if t[0] == "lit":
            a4, r, g, b = t[1]
            fg[g] = fg.get(g, 0) + 1
            fr[r] = fr.get(r, 0) + 1
            fb[b] = fb.get(b, 0) + 1
            fa[a4] = fa.get(a4, 0) + 1
        elif t[0] == "cached":
            sy = 280 + t[1]
            fg[sy] = fg.get(sy, 0) + 1
        else:
            _k, ml, dist = t
            lcode, _e, _eb = _lz77_code(ml)
            fg[256 + lcode] = fg.get(256 + lcode, 0) + 1
            dval = _dist_to_value(dist, w)
            dcode, _e2, _eb2 = _lz77_code(dval)
            fd[dcode] = fd.get(dcode, 0) + 1

    group_tbls = []
    for fg, fr, fb, fa, fd in hists:
        for f in (fg, fr, fb, fa):
            if not f:
                f[0] = 1
        if not fd:
            fd[0] = 1
        tbls = []
        for freqs, alphabet in (
            (fg, 256 + 24 + cache_size),
            (fr, 256),
            (fb, 256),
            (fa, 256),
            (fd, 40),
        ):
            lengths = _canonical_lengths(freqs)
            tbls.append(_write_prefix_code(wtr, lengths, alphabet).codes())
        group_tbls.append(tbls)

    for t, p0 in zip(final, positions):
        cg, cr, cb, ca, cd = group_tbls[group_of(p0)]
        if t[0] == "lit":
            a4, r, g, b = t[1]
            _emit_symbol(wtr, cg, g)
            _emit_symbol(wtr, cr, r)
            _emit_symbol(wtr, cb, b)
            _emit_symbol(wtr, ca, a4)
        elif t[0] == "cached":
            _emit_symbol(wtr, cg, 280 + t[1])
        else:
            _k, ml, dist = t
            lcode, ex, exb = _lz77_code(ml)
            _emit_symbol(wtr, cg, 256 + lcode)
            wtr.write(ex, exb)
            dval = _dist_to_value(dist, w)
            dcode, ex2, exb2 = _lz77_code(dval)
            _emit_symbol(wtr, cd, dcode)
            wtr.write(ex2, exb2)


def _dist_to_value(dist: int, w: int | None) -> int:
    """Distance → coded value: neighborhood code when the (dx, dy)
    form exists for this width, else dist + 120."""
    if w:
        dy, dx = divmod(dist, w)
        if dx > w // 2:
            dx -= w
            dy += 1
        code = _DIST_CODE.get((dx, dy)) if dy >= 0 else None
        if code is not None and (dy * w + dx) == dist:
            return code
    return dist + 120
