"""Count-min sketch (Cormode & Muthukrishnan 2005, public knowledge):
fixed-size frequency estimation for the 100 TB posture — a (depth x
width) counter matrix answers "how often did key x occur?" with
guaranteed NO undercount and overcount <= e/width * N with probability
>= 1 - e^-depth, regardless of key cardinality.

Spark-first shape (same skeleton as ``bloom.build_bloom``): one narrow
pass over a pre-hashed int64 column, each partition accumulates a LOCAL
matrix per Arrow batch (one emitted row per partition), partial matrices
then SUM-reduce executor-side via treeAggregate — the sketch is a linear
operator, so partial sums compose exactly and the driver receives one
depth*width*8-byte buffer at any corpus scale. Probing broadcasts the
matrix once per executor and estimates a whole column vectorized.

The complement to ``skew.heavy_hitters`` (freqItems finds WHICH keys are
hot; the CMS estimates HOW hot any key is without holding per-key state)
— together the pre-shuffle skew toolkit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_kernels import _MASK, _U64, _mix
from .bloom import _H1_SALT, _H2_SALT


def _cms_positions(hs: list[np.ndarray], depth: int, width: int) -> np.ndarray:
    """Engine-hash position family: one int64 hash column → (depth, n)
    column indices, one row per hash function via Kirsch–Mitzenmacher
    double hashing (pairwise-independent enough for the CMS bound, one
    mix instead of ``depth`` rehashes)."""
    h = hs[0].astype(_U64)
    h1 = _mix(h ^ _H1_SALT)
    h2 = _mix(h ^ _H2_SALT) | _U64(1)  # odd stride → full period
    i = np.arange(depth, dtype=_U64)[:, None]
    return (((h1[None, :] + i * h2[None, :]) & _MASK) % _U64(width)).astype(np.int64)


def _cms_positions_portable(hs: list[np.ndarray], depth: int, width: int) -> np.ndarray:
    """Portable (oracle-replayable) position family: the
    Kirsch–Mitzenmacher pair (h1, h2) arrives as two md5-derived 60-bit
    int64 COLUMNS and positions are plain (h1 + d·h2) mod width bigint
    arithmetic — exactly replayable as SQL (h1 < 2^60, d·h2 < 2^62 → no
    overflow on either engine). The engine-hash family stays the
    production path (one xxhash64 instead of two md5s per row); this one
    is its correctness anchor."""
    h1, h2 = hs
    i = np.arange(depth, dtype=np.int64)[:, None]
    return (h1[None, :] + i * h2[None, :]) % np.int64(width)


def build_count_min(
    df: DataFrame,
    hash_cols: str | list[str],
    width: int = 2048,
    depth: int = 5,
    positions=_cms_positions,
) -> bytes:
    """One narrow pass over ``df[hash_cols]`` (int64) → serialized
    (depth x width) int64 counter matrix, cells chosen by ``positions``
    (``_cms_positions`` over one engine-hash column, or
    ``_cms_positions_portable`` over an (h1, h2) pair). Every occurrence
    counts once; duplicates are NOT collapsed (this sketches the
    frequency distribution, not the key set)."""
    import pandas as pd

    cols = [hash_cols] if isinstance(hash_cols, str) else list(hash_cols)
    w, d = int(width), int(depth)

    def to_matrices(batches):
        mat = np.zeros(d * w, dtype=np.int64)
        touched = False
        for pdf in batches:
            hs = [pdf.iloc[:, j].to_numpy(dtype=np.int64) for j in range(len(cols))]
            if len(hs[0]):
                touched = True
                pos = positions(hs, d, w)  # (d, n)
                row_off = (np.arange(d, dtype=np.int64) * w)[:, None]
                np.add.at(mat, (pos + row_off).reshape(-1), 1)
        if touched:
            yield pd.DataFrame({"mat": [mat.tobytes()]})

    parts = df.select(*cols).mapInPandas(to_matrices, "mat binary")

    def _add(a: bytes, b) -> bytes:
        bb = b.mat if hasattr(b, "mat") else b
        return (
            np.frombuffer(a, dtype=np.int64) + np.frombuffer(bb, dtype=np.int64)
        ).tobytes()

    zero = bytes(d * w * 8)
    return parts.rdd.treeAggregate(zero, _add, _add, depth=2)


def cms_total(cms: bytes, depth: int = 5) -> int:
    """N (total increments): every row of the matrix sums to it."""
    mat = np.frombuffer(cms, dtype=np.int64).reshape(depth, -1)
    return int(mat[0].sum())


def cms_estimate_udf(spark, cms: bytes, depth: int = 5, positions=_cms_positions):
    """Vectorized point-query: the int64 hash column(s) ``positions``
    takes → estimated count (min over the depth rows). The matrix ships
    once per executor via a Spark broadcast. Guarantees: estimate >=
    true count, always."""
    import pandas as pd

    mat0 = np.frombuffer(cms, dtype=np.int64).reshape(depth, -1)
    width = mat0.shape[1]
    bc = spark.sparkContext.broadcast(cms)

    def kernel(*cols):
        mat = np.frombuffer(bc.value, dtype=np.int64).reshape(depth, width)
        hs = [c.to_numpy(dtype=np.int64) for c in cols]
        if not len(hs[0]):
            return pd.Series([], dtype=np.int64)
        pos = positions(hs, depth, width)
        ests = mat[np.arange(depth)[:, None], pos].min(axis=0)
        return pd.Series(ests)

    return F.pandas_udf(kernel, "long")
