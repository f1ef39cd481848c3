"""Vectorized Arrow kernels for the rows-only text-dedup hot path.

Why kernels and not Column algebra: the shingle pipeline (split →
sequence → transform(slice+concat_ws) → array_distinct) is built from
higher-order functions, which Spark interprets per element — no
WholeStageCodegen. Measured at sf0.1 (5k docs, ~300 chars): ~3.3 s per
pass for the Column version vs ~0.2 s for one Arrow-batched kernel, and
several rows-only queries need the pass (banded MinHash, SimHash, the
end-to-end near-dup pipeline, inverted-index Jaccard). Each kernel does
tokenize → shingle → hash in ONE narrow pass over the text column —
no shuffle, one JVM↔Python Arrow round-trip.

Determinism: shingle hashing is `pandas.util.hash_array` (SipHash with
pandas' fixed default key) over the exact ``" ".join(tokens[i:i+n])``
shingle strings — the same shingle set the Column-algebra
``functions.text.shingles`` builds, so exact-Jaccard results computed
from these hashes match the string-set semantics the SQL oracle states
(64-bit collisions are the only gap, negligible at any realistic doc
size). MinHash permutations / SimHash bit votes use the splitmix64
mixer seeded explicitly.

The Column-algebra versions in ``functions.text`` remain the
oracle-parity surface; these kernels are the scale path for the
rows-only operators built on them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

_U64 = np.uint64
_MASK = _U64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constant mixer)."""
    x = (x + _U64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> _U64(31))



def _doc_shingles(texts, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized shingle-string construction over one Arrow batch.

    Returns (flat object ndarray of shingle strings across all docs,
    int64 ndarray of shingles-per-doc)."""
    tok_lists = [("" if t is None else t).split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    n_sh = np.maximum(lens - (n - 1), 1)

    total_tokens = int(lens.sum())
    flat_tokens = np.empty(total_tokens, dtype=object)
    pos = 0
    for toks in tok_lists:
        flat_tokens[pos : pos + len(toks)] = toks
        pos += len(toks)
    tok_offsets = np.concatenate(([0], np.cumsum(lens)))

    # long docs (L >= n): all windows fully vectorized over the flat array
    out = np.empty(int(n_sh.sum()), dtype=object)
    sh_offsets = np.concatenate(([0], np.cumsum(n_sh)))
    long_mask = lens >= n
    if long_mask.any():
        # window start positions in the flat token array, per long doc
        starts = np.concatenate(
            [
                np.arange(tok_offsets[i], tok_offsets[i] + n_sh[i])
                for i in np.where(long_mask)[0]
            ]
        )
        parts = flat_tokens[starts]
        for j in range(1, n):
            parts = parts + " "  # object-array elementwise concat
            parts = parts + flat_tokens[starts + j]
        out_pos = np.concatenate(
            [
                np.arange(sh_offsets[i], sh_offsets[i] + n_sh[i])
                for i in np.where(long_mask)[0]
            ]
        )
        out[out_pos] = parts
    for i in np.where(~long_mask)[0]:
        out[sh_offsets[i]] = " ".join(tok_lists[i])
    return out, n_sh


def _hashed_shingle_sets(texts, n: int) -> tuple[np.ndarray, np.ndarray]:
    """texts → (flat uint64 hashes of the DISTINCT shingles of each doc,
    per-doc distinct counts). One pd.util.hash_array call per batch."""
    import pandas as pd

    flat, n_sh = _doc_shingles(texts, n)
    hashes = pd.util.hash_array(flat) if len(flat) else np.empty(0, dtype=_U64)
    doc_idx = np.repeat(np.arange(len(n_sh)), n_sh)
    # distinct per doc: sort by (doc, hash), keep first of each run
    order = np.lexsort((hashes, doc_idx))
    d, h = doc_idx[order], hashes[order]
    keep = np.ones(len(h), dtype=bool)
    if len(h) > 1:
        keep[1:] = (d[1:] != d[:-1]) | (h[1:] != h[:-1])
    d, h = d[keep], h[keep]
    counts = np.bincount(d, minlength=len(n_sh)).astype(np.int64)
    return h, counts


def hashed_shingles_udf(n: int = 3):
    """pandas UDF: text → array<long> of the doc's distinct hashed word
    n-gram shingles (sorted). The scale-path replacement for
    ``transform(shingles(text, n), xxhash64)``."""
    import pandas as pd

    def kernel(texts):
        h, counts = _hashed_shingle_sets(texts.to_numpy(dtype=object), n)
        signed = h.astype(np.int64)
        offsets = np.concatenate(([0], np.cumsum(counts)))
        return pd.Series(
            [signed[offsets[i] : offsets[i + 1]].tolist() for i in range(len(counts))]
        )

    return F.pandas_udf(kernel, "array<long>")


def shingle_strings_udf(n: int = 3):
    """pandas UDF: text → array<string> of the doc's distinct word
    n-gram shingles (first-occurrence order) — the string-valued
    shingle set without the interpreted-HOF pass, for consumers that
    need the gram text itself (decontamination, contamination profiles)."""
    import pandas as pd

    def kernel(texts):
        flat, n_sh = _doc_shingles(texts.to_numpy(dtype=object), n)
        offsets = np.concatenate(([0], np.cumsum(n_sh)))
        return pd.Series(
            [
                list(dict.fromkeys(flat[offsets[i] : offsets[i + 1]]))
                for i in range(len(n_sh))
            ]
        )

    return F.pandas_udf(kernel, "array<string>")


def _band_sigs_from_hashes(
    h: np.ndarray, counts: np.ndarray, salts: np.ndarray, bands: int, rows_per_band: int
) -> np.ndarray:
    """(flat uint64 shingle hashes, per-doc counts) → (n_docs, bands)
    int64 band signatures. Docs with zero shingles get all-zero rows
    (callers filter empties beforehand; '' still hashes to one value)."""
    k = bands * rows_per_band
    out = np.zeros((len(counts), bands), dtype=np.int64)
    nz = counts > 0
    if not nz.any():
        return out
    offsets = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
    n_nz = int(nz.sum())
    # One contiguous 1-D mix+reduceat per permutation salt. The obvious
    # (total, k) 2-D form costs ~10× more: reduceat along axis=0 of a
    # C-order matrix strides k words per step (cache-hostile) and the
    # (total, k) temporary blows the cache for large corpora; k passes
    # over a contiguous len(h) vector stream at memory bandwidth
    # (measured at sf0.1, 260k shingles × 16 salts: 6.4 s → <0.5 s).
    mins = np.empty((k, n_nz), dtype=_U64)
    for j in range(k):
        mins[j] = np.minimum.reduceat(_mix(h ^ salts[j]), offsets)
    sigs = (
        _mix(mins ^ salts[:, None])
        .reshape(bands, rows_per_band, n_nz)
        .sum(axis=1, dtype=_U64)
        .T.astype(np.int64)
    )
    out[nz] = sigs
    return out


def char_ngrams_udf(n: int = 3):
    """pandas UDF: text → array<string> of the doc's DISTINCT character
    n-grams (insertion order, like array_distinct over the window
    transform). The scale path for ``functions.text.char_ngrams`` —
    the Column version interprets one substring HOF call per position
    (~10 s at sf0.1); here the windows are sliced batch-side."""
    import pandas as pd

    def kernel(texts):
        out = []
        for t in texts:
            if t is None or len(t) < n:
                out.append(["" if not t else t])
                continue
            out.append(list(dict.fromkeys(t[i : i + n] for i in range(len(t) - n + 1))))
        return pd.Series(out)

    return F.pandas_udf(kernel, "array<string>")


def winnowing_fingerprints_udf(k: int = 5, w: int = 8):
    """pandas UDF: text → array<long> winnowing fingerprints (sorted
    distinct) — the rolling-hash document fingerprint scheme (Schleimer
    et al., the MOSS algorithm, public knowledge):

    1. polynomial ROLLING hash over every char k-gram (O(1) per step:
       h' = (h − c₀·B^{k−1})·B + c_new, vectorized here as a cumulative
       formulation),
    2. slide a window of ``w`` consecutive k-gram hashes and keep each
       window's minimum.

    Guarantee: any shared substring of length ≥ w+k−1 between two docs
    contributes at least one SHARED fingerprint — the local property
    that makes winnowing robust to insertions/reordering, unlike a
    whole-document hash. One narrow kernel pass, no shuffle."""
    import pandas as pd

    def kernel(texts):
        out = []
        for t in texts:
            fps = _winnowing_doc_fps("" if t is None else t, k, w)
            out.append(fps.astype(np.int64).tolist())
        return pd.Series(out)

    return F.pandas_udf(kernel, "array<long>")


_ROLL_B = _U64(1000003)
_ROLL_B_INV = _U64(pow(1000003, -1, 1 << 64))  # odd B is invertible mod 2^64


def _winnowing_doc_fps(s: str, k: int, w: int) -> np.ndarray:
    """One document's winnowing fingerprint set (sorted uint64)."""
    b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(_U64)
    if len(b) < k:
        seed = b.sum(dtype=_U64) + _U64(len(b)) if len(b) else _U64(0)
        return np.unique(_mix(np.array([seed], dtype=_U64)))
    # All k-gram rolling hashes at once, exact mod-2^64 arithmetic
    # (wraparound IS the modulus). With weights c_j·B^(n-1-j):
    #   prefix[i]             = Σ_{j<i} c_j·B^(n-1-j)
    #   prefix[i+k]-prefix[i] = h_i · B^(n-k-i),  h_i = Σ c_{i+j}·B^(k-1-j)
    # so each difference is the gram hash position-scaled by B^(n-k-i);
    # multiplying by inv_B^(n-k-i) recovers the position-independent h_i.
    n = len(b)
    n_grams = n - k + 1
    desc_pow = np.empty(n, dtype=_U64)
    desc_pow[0] = _U64(1)
    np.multiply.accumulate(np.full(n - 1, _ROLL_B, dtype=_U64), out=desc_pow[1:])
    weights = b * desc_pow[::-1]  # c_j · B^(n-1-j)
    prefix = np.concatenate(([_U64(0)], np.cumsum(weights, dtype=_U64)))
    diffs = (prefix[k:] - prefix[:n_grams]).astype(_U64)
    inv_pow = np.empty(n_grams, dtype=_U64)
    inv_pow[0] = _U64(1)
    np.multiply.accumulate(
        np.full(n_grams - 1, _ROLL_B_INV, dtype=_U64), out=inv_pow[1:]
    )
    grams = _mix(diffs * inv_pow[::-1])  # unscale by inv_B^(n-k-i)
    # winnow: keep each w-window's minimum
    if n_grams <= w:
        sel = grams.min(keepdims=True)
    else:
        from numpy.lib.stride_tricks import sliding_window_view

        sel = sliding_window_view(grams, w).min(axis=1)
    return np.unique(sel)


def simhash_from_text_udf(n: int = 2):
    """pandas UDF: text → 64-bit SimHash, fused tokenize→shingle→hash→
    bit-vote in one kernel. Votes are over the doc's DISTINCT shingle
    hashes (same set semantics as the shingles() Column)."""
    import pandas as pd

    bit_idx = np.arange(64, dtype=_U64)

    def kernel(texts):
        h, counts = _hashed_shingle_sets(texts.to_numpy(dtype=object), n)
        out = np.zeros(len(counts), dtype=np.int64)
        nz = counts > 0
        if nz.any():
            bits = ((h[:, None] >> bit_idx) & _U64(1)).astype(np.int64) * 2 - 1
            offsets = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
            votes = np.add.reduceat(bits, offsets, axis=0)  # (n_nonzero, 64)
            sigs = ((votes > 0).astype(_U64) << bit_idx).sum(axis=1, dtype=_U64)
            out[nz] = sigs.astype(np.int64)
        return pd.Series(out)

    return F.pandas_udf(kernel, "long")


def portable_winnow_fps_udf(k: int = 5, w: int = 8, base: int = 257):
    """pandas UDF: text → array<long> of DISTINCT winnowing-selected
    gram hashes, with an ENGINE-PORTABLE gram hash: the base-257
    polynomial over the k char codes, NO modulus. With k=5 the maximum
    value is < 2^41, so the arithmetic is exact in int64 — and exactly
    expressible in any SQL engine as five ascii()/substr() terms, which
    is what upgrades the winnowing query from rows-only to full
    oracle hash-match. The polynomial is injective on k-grams (base >
    every char code), so minima selection is a deterministic total
    order; distribution quality only shifts WHERE the samples land, the
    shared-substring guarantee is hash-independent.

    Same vectorized one-pass shape as ``winnowing_fingerprints_udf``
    (sliding_window_view minima, no shuffle); ASCII fixture assumption:
    codes are utf-8 bytes here and codepoints in the SQL oracle —
    identical for ASCII corpora (documented caveat for non-ASCII)."""
    import pandas as pd

    if base ** k >= 2 ** 63:
        raise ValueError(
            f"portable_winnow_fps_udf: base**k = {base}**{k} overflows int64 — "
            "the exact-arithmetic / SQL-portability guarantee only holds for "
            f"k <= {int(np.floor(63 / np.log2(base)))} at base={base}"
        )
    powers = (base ** np.arange(k - 1, -1, -1, dtype=np.int64)).astype(np.int64)

    def kernel(texts):
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for t in texts:
            s = "" if t is None else t
            b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.int64)
            if len(b) < k:
                out.append([])
                continue
            grams = sliding_window_view(b, k) @ powers
            if len(grams) <= w:
                sel = grams.min(keepdims=True)
            else:
                sel = sliding_window_view(grams, w).min(axis=1)
            out.append(np.unique(sel).tolist())
        return pd.Series(out)

    return F.pandas_udf(kernel, "array<long>")


def kmv_cardinality_udf(n: int = 3, k: int = 24, hex_digits: int = 12):
    """pandas UDF: text → struct(exact_distinct, kmv_est, rel_err) —
    the whole KMV distinct-shingle estimate in one vectorized pass.

    Hashing is md5 (first ``hex_digits`` hex chars → [0,1) fraction),
    so the sketch is bit-identical to a SQL replication (engine-
    portable — the DuckDB oracle checks the ESTIMATE, not just the
    exact count). The interpreted-HOF Column form (transform + md5 +
    conv per element) measured ~5x slower at sf0.1 — same lesson as
    the winnowing kernel: per-element Column lambdas don't codegen.
    """
    import hashlib

    import pandas as pd

    scale = float(16 ** hex_digits)

    def kernel(texts):
        flat, n_sh = _doc_shingles(texts.to_numpy(dtype=object), n)
        offsets = np.concatenate(([0], np.cumsum(n_sh)))
        ex_out = np.empty(len(n_sh), dtype=np.int64)
        est_out = np.empty(len(n_sh), dtype=np.float64)
        rel_out = np.empty(len(n_sh), dtype=np.float64)
        for i in range(len(n_sh)):
            sh = dict.fromkeys(flat[offsets[i] : offsets[i + 1]])
            hs = sorted(
                {
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_digits], 16)
                    / scale
                    for s in sh
                }
            )
            exact = len(sh)
            est = float(len(hs)) if len(hs) < k else (k - 1) / hs[k - 1]
            ex_out[i] = exact
            est_out[i] = round(est, 4)
            rel_out[i] = round(abs(est - exact) / exact, 4)
        return pd.DataFrame(
            {"exact_distinct": ex_out, "kmv_est": est_out, "rel_err": rel_out}
        )

    return F.pandas_udf(
        kernel, "exact_distinct bigint, kmv_est double, rel_err double"
    )
