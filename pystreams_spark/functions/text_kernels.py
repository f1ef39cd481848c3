"""Vectorized Arrow kernels for the text-dedup hot path.

Why kernels and not Column algebra: the shingle pipeline (split →
sequence → transform(slice+concat_ws) → array_distinct) is built from
higher-order functions, which Spark interprets per element — no
WholeStageCodegen. Measured at sf0.1 (5k docs, ~300 chars): ~3.3 s per
pass for the Column version vs ~0.2 s for one Arrow-batched kernel.
Each kernel does tokenize → shingle → hash in ONE narrow pass over the
text column — no shuffle, one JVM↔Python Arrow round-trip.

One gram hash, over the exact ``" ".join(tokens[i:i+n])`` shingle
strings the Column-algebra ``functions.text.shingles`` builds:
``_md5_gram_values``, the first 60 bits of md5(gram), the value the
DuckDB oracles spell ``('0x' || substr(md5(gram), 1, 15))::BIGINT``.
Every gram-set reader takes it: the SimHash kernel votes its 60 bits,
the MinHash kernel takes universal-hash minima over it with
md5-derived constants (``minhash_det_constants``), the KMV sketch
reads its k-th minimum, and the exact set-overlap joins, first-seen
novelty (``ngram_novelty_scores``, ``NoveltyIngest``) and
decontamination (``contaminated_docs``, the contamination profile)
use it as the gram key, so every signature, band key, sketch and gram
join is replayable in SQL.
"""

from __future__ import annotations

import hashlib

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


def _md5_60(s: str) -> int:
    """The first 60 bits of md5 over ``s``'s UTF-8 bytes — SQL's
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# The md5 gram value of the empty gram '', the one gram of a NULL,
# empty or whitespace-only text: readers that must not match such
# texts against each other drop it.
EMPTY_GRAM = _md5_60("")


def _md5_gram_values(texts, n: int) -> tuple[np.ndarray, np.ndarray]:
    """texts → (flat int64 DISTINCT gram values of each doc, sorted
    within the doc, and per-doc distinct counts). A gram's value is the
    first 60 bits of md5 over its UTF-8 bytes — SQL's
    ``('0x' || substr(md5(g), 1, 15))::BIGINT``. Every doc has ≥ 1
    gram: a NULL, empty or shorter-than-``n`` text yields its whole
    token string as its one gram, as ``shingles`` does."""
    flat, n_sh = _doc_shingles(texts, n)
    md5 = hashlib.md5
    # the first 8 digest bytes, big-endian, shifted down to 60 bits
    raw = b"".join(md5(g.encode("utf-8")).digest()[:8] for g in flat)
    vals = (np.frombuffer(raw, dtype=">u8") >> np.uint64(4)).astype(np.int64)
    doc_idx = np.repeat(np.arange(len(n_sh)), n_sh)
    # distinct per doc: sort by (doc, value), keep first of each run
    order = np.lexsort((vals, doc_idx))
    d, h = doc_idx[order], vals[order]
    keep = np.ones(len(h), dtype=bool)
    if len(h) > 1:
        keep[1:] = (d[1:] != d[:-1]) | (h[1:] != h[:-1])
    counts = np.bincount(d[keep], minlength=len(n_sh)).astype(np.int64)
    return h[keep], counts


def _per_doc_lists(v: np.ndarray, counts: np.ndarray) -> list[list[int]]:
    """(flat values, per-doc counts) → one Python list per doc, the
    ``array<long>`` cells of a kernel's output column."""
    offsets = np.concatenate(([0], np.cumsum(counts)))
    return [v[offsets[i] : offsets[i + 1]].tolist() for i in range(len(counts))]


_MINHASH_P = 2147483647  # 2^31 − 1 (Mersenne prime): universal-hash modulus


def minhash_det_constants(k: int, p: int = _MINHASH_P) -> list[tuple[int, int]]:
    """k md5-derived (a, b) universal-hash constants of the MinHash
    permutations: a ∈ [1, p−1], b ∈ [0, p−1], both from the first 60
    bits of md5 over a fixed salt. Pure hashlib — the constants are
    literals in both the kernel and the DuckDB oracle, so
    engine-portability is by construction."""
    out = []
    for j in range(k):
        a, b = _md5_60(f"minhash-a:{j}"), _md5_60(f"minhash-b:{j}")
        out.append((a % (p - 1) + 1, b % p))
    return out


def _minhash_band_keys(
    v: np.ndarray, counts: np.ndarray, bands: int, rows_per_band: int
) -> np.ndarray:
    """(flat int64 gram values, per-doc counts) → (n_docs, bands) int64
    band keys. Permutation j is h_j = min over the doc's values of
    (a_j·(v mod p) + b_j) mod p, p = 2³¹−1, with
    ``minhash_det_constants``; a band key is h for ``rows_per_band`` = 1
    and h·p + h′ for 2. Every product is < 2⁶², so the int64 arithmetic
    is exact and equals the SQL oracle's. Docs with zero values get
    all-zero rows (``_md5_gram_values`` never yields one)."""
    if rows_per_band not in (1, 2):
        raise ValueError(
            f"rows_per_band must be 1 or 2, got {rows_per_band}: the band "
            "key packs r 31-bit minima into one 62-bit bigint"
        )
    p = _MINHASH_P
    k = bands * rows_per_band
    consts = np.array(minhash_det_constants(k), dtype=np.int64).reshape(k, 2)
    out = np.zeros((len(counts), bands), dtype=np.int64)
    nz = counts > 0
    if not nz.any():
        return out
    offsets = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
    x = v % p
    # one contiguous 1-D pass per permutation: a (total, k) 2-D reduceat
    # strides k words per step and costs ~10× more at sf0.1
    mins = np.empty((k, int(nz.sum())), dtype=np.int64)
    for j in range(k):
        a, b = consts[j]
        mins[j] = np.minimum.reduceat((a * x + b) % p, offsets)
    keys = mins if rows_per_band == 1 else mins[0::2] * p + mins[1::2]
    out[nz] = keys.T
    return out


def _simhash_votes(v: np.ndarray, counts: np.ndarray, n_bits: int) -> np.ndarray:
    """(flat int64 gram values, per-doc counts ≥ 1) → int64 SimHash per
    doc: bit b is 1 iff Σ over the doc's values of (2·((v≫b)∧1) − 1)
    is > 0, i.e. iff more than half the values have bit b set (ties
    → 0). One 1-D count pass per bit."""
    out = np.zeros(len(counts), dtype=np.int64)
    if not len(counts):
        return out
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
    for b in range(n_bits):
        ones = np.add.reduceat((v >> b) & 1, offsets)
        out |= (2 * ones > counts).astype(np.int64) << b
    return out


def simhash_md5_udf(n: int = 3, n_bits: int = 60):
    """pandas UDF: text → ``n_bits``-bit SimHash (≤ 60) voted over the
    doc's DISTINCT md5 gram values (``_md5_gram_values``), fused
    tokenize→shingle→hash→vote in one kernel pass."""
    import pandas as pd

    if not 0 < n_bits <= 60:
        raise ValueError(f"simhash_md5_udf: n_bits must be in [1, 60], got {n_bits}")

    def kernel(texts):
        v, counts = _md5_gram_values(texts.to_numpy(dtype=object), n)
        return pd.Series(_simhash_votes(v, counts, n_bits))

    return F.pandas_udf(kernel, "long")


def hashed_shingles_udf(n: int = 3):
    """pandas UDF: text → array<long> of the doc's distinct md5 gram
    values (``_md5_gram_values``, sorted) — the gram sets of the exact
    set-overlap joins, equal to the ``_sh`` of the MinHash kernel."""
    import pandas as pd

    def kernel(texts):
        return pd.Series(_per_doc_lists(*_md5_gram_values(texts.to_numpy(dtype=object), n)))

    return F.pandas_udf(kernel, "array<long>")


def char_ngrams_udf(n: int = 3):
    """pandas UDF: text → array<string> of the doc's DISTINCT character
    n-grams (insertion order, like array_distinct over the window
    transform). The windows are sliced batch-side: a Column form
    interprets one substring HOF call per position (~10 s at sf0.1)."""
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


def winnow_fps(s: str, k: int = 5, w: int = 8, base: int = 257) -> np.ndarray:
    """One document's DISTINCT winnowing fingerprints (Schleimer et
    al., the MOSS algorithm), sorted int64: hash every char k-gram,
    slide a window of ``w`` consecutive gram hashes and keep each
    window's minimum. Fewer than ``k`` bytes → none.

    The gram hash is ENGINE-PORTABLE: the base-``base`` polynomial over
    the k char codes, NO modulus. With k=5 at base 257 the maximum
    value is < 2^41, so the arithmetic is exact in int64 — and exactly
    expressible in any SQL engine as five ascii()/substr() terms, which
    is what gives the winnowing query a full oracle hash-match. The
    polynomial is injective on k-grams (base > every char code), so
    minima selection is a deterministic total order.

    Guarantee: any shared substring of length ≥ w+k−1 between two docs
    contributes at least one SHARED fingerprint — the local property
    that makes winnowing robust to insertions/reordering, unlike a
    whole-document hash. ASCII assumption: codes are utf-8 bytes here
    and codepoints in the SQL oracle — identical for ASCII corpora."""
    from numpy.lib.stride_tricks import sliding_window_view

    b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if len(b) < k:
        return np.empty(0, dtype=np.int64)
    powers = base ** np.arange(k - 1, -1, -1, dtype=np.int64)
    grams = sliding_window_view(b, k) @ powers
    if len(grams) <= w:
        sel = grams.min(keepdims=True)
    else:
        sel = sliding_window_view(grams, w).min(axis=1)
    return np.unique(sel)


def portable_winnow_fps_udf(k: int = 5, w: int = 8, base: int = 257):
    """pandas UDF: text → array<long> of ``winnow_fps`` (NULL is the
    empty text). One narrow Arrow pass, no shuffle. Refuses a
    ``base**k`` that overflows int64: past it the gram hash is no
    longer exact, nor replayable in SQL."""
    import pandas as pd

    if base ** k >= 2 ** 63:
        raise ValueError(
            f"portable_winnow_fps_udf: base**k = {base}**{k} overflows int64 — "
            "the exact-arithmetic / SQL-portability guarantee only holds for "
            f"k <= {int(np.floor(63 / np.log2(base)))} at base={base}"
        )

    def kernel(texts):
        return pd.Series(
            [winnow_fps("" if t is None else t, k, w, base).tolist() for t in texts]
        )

    return F.pandas_udf(kernel, "array<long>")


def kmv_cardinality_udf(n: int = 3, k: int = 24):
    """pandas UDF: text → struct(exact_distinct, kmv_est, rel_err) —
    the whole KMV distinct-shingle estimate in one vectorized pass.

    The sketch reads the md5 gram values (``_md5_gram_values``: a
    doc's distinct values, sorted), each as the [0, 1) fraction
    DOUBLE(v) / 2⁶⁰, so the k-th minimum is an index lookup and the
    estimate (k − 1) / h_k is bit-identical to its SQL replay (the
    DuckDB oracle checks the ESTIMATE, not just the exact count)."""
    import pandas as pd

    def kernel(texts):
        v, counts = _md5_gram_values(texts.to_numpy(dtype=object), n)
        exact = counts.astype(np.float64)
        est = exact.copy()
        big = counts >= k
        kth = v[(np.cumsum(counts) - counts)[big] + k - 1]
        est[big] = (k - 1) / (kth.astype(np.float64) / 2.0**60)
        return pd.DataFrame({
            "exact_distinct": counts,
            "kmv_est": [round(float(e), 4) for e in est],
            "rel_err": [round(float(e), 4) for e in np.abs(est - exact) / exact],
        })

    return F.pandas_udf(
        kernel, "exact_distinct bigint, kmv_est double, rel_err double"
    )
