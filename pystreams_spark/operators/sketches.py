"""Count-min sketch (Cormode & Muthukrishnan 2005, public knowledge):
fixed-size frequency estimation for the 100 TB posture — a (depth x
width) counter matrix answers "how often did key x occur?" with
guaranteed NO undercount and overcount <= e/width * N with probability
>= 1 - e^-depth, regardless of key cardinality.

Spark-first shape (same skeleton as ``bloom.build_bloom``): one narrow
pass over a pre-hashed int64 (h1, h2) pair, each partition accumulates a LOCAL
matrix per Arrow batch (one emitted row per partition), partial matrices
then SUM-reduce executor-side via treeAggregate — the sketch is a linear
operator, so partial sums compose exactly and the driver receives one
depth*width*8-byte buffer at any corpus scale. Probing broadcasts the
matrix once per executor and estimates a whole column vectorized.
Cells are the md5 double-hashing family SQL replays exactly, so every
count-min query is oracle-checked.

The complement to ``skew.heavy_hitters`` (freqItems finds WHICH keys are
hot; the CMS estimates HOW hot any key is without holding per-key state)
— together the pre-shuffle skew toolkit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cms_cells(h1: np.ndarray, h2: np.ndarray, depth: int, width: int) -> np.ndarray:
    """(depth, n) cell columns of the Kirsch–Mitzenmacher pair (h1, h2):
    row d is (h1 + d·h2) mod width, plain bigint arithmetic. With the
    md5-derived 60-bit pair (``queries._cms_md5_pair``) no step
    overflows (h1 < 2^60, d·h2 < 2^62), so SQL replays every cell."""
    i = np.arange(depth, dtype=np.int64)[:, None]
    return (h1[None, :] + i * h2[None, :]) % np.int64(width)


def build_count_min(
    df: DataFrame,
    hash_cols: tuple[str, str],
    width: int = 2048,
    depth: int = 5,
) -> bytes:
    """One narrow pass over ``df``'s int64 hash-pair columns
    ``hash_cols`` → serialized (depth x width) int64 counter matrix,
    cells chosen by ``_cms_cells``. Every occurrence counts once;
    duplicates are NOT collapsed (this sketches the frequency
    distribution, not the key set)."""
    import pandas as pd

    cols = list(hash_cols)
    w, d = int(width), int(depth)

    def to_matrices(batches):
        mat = np.zeros(d * w, dtype=np.int64)
        touched = False
        for pdf in batches:
            h1, h2 = (pdf.iloc[:, j].to_numpy(dtype=np.int64) for j in (0, 1))
            if len(h1):
                touched = True
                pos = _cms_cells(h1, h2, d, w)
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


def cms_estimate_udf(spark, cms: bytes, depth: int = 5):
    """Vectorized point-query: the int64 hash pair (h1, h2) → estimated
    count (min over the depth rows of its ``_cms_cells``). The matrix ships
    once per executor via a Spark broadcast. Guarantees: estimate >=
    true count, always."""
    import pandas as pd

    mat0 = np.frombuffer(cms, dtype=np.int64).reshape(depth, -1)
    width = mat0.shape[1]
    bc = spark.sparkContext.broadcast(cms)

    def kernel(h1, h2):
        mat = np.frombuffer(bc.value, dtype=np.int64).reshape(depth, width)
        h1, h2 = h1.to_numpy(dtype=np.int64), h2.to_numpy(dtype=np.int64)
        if not len(h1):
            return pd.Series([], dtype=np.int64)
        pos = _cms_cells(h1, h2, depth, width)
        ests = mat[np.arange(depth)[:, None], pos].min(axis=0)
        return pd.Series(ests)

    return F.pandas_udf(kernel, "long")
