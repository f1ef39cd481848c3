"""Bloom-filter incremental dedup (SURVEY.md §2.K): dedup a NEW batch
of documents against an EXISTING corpus without shuffling either side.

The production shape for continuous ingest at 100 TB: the corpus is
summarized once into a fixed-size bloom bitmap (one narrow pass;
per-partition bitmaps OR-reduce executor-side via treeAggregate, so
the driver receives one num_bits/8-byte bitmap regardless of corpus
size or partition count, e.g. 2 MB for 16M bits), the new batch
probes the broadcast bitmap in a vectorized kernel, and only the
bloom-POSITIVE slice (true dups + the fp rate) participates in exact
verification. Bloom false positives cannot corrupt the result — they
only cost verify work; false negatives are impossible, so the output
is EXACTLY the plain anti-join's, at a fraction of its shuffle.

Spark's own BloomFilterAggregate is runtime-filter-internal (not a SQL
routine in 4.1), so the bitmap is built with the same public-knowledge
double-hashing construction it uses (Kirsch & Mitzenmacher 2006:
pos_i = h1 + i·h2, both derived from one 64-bit hash via splitmix64).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_kernels import _MASK, _U64, _mix

_H1_SALT = _U64(0xA076_1D64_78BD_642F)
_H2_SALT = _U64(0xE703_7ED1_A0B4_28DB)


def _bloom_positions(h: np.ndarray, k: int, num_bits: int) -> np.ndarray:
    """(n,) uint64 hashes → (k, n) bit positions via double hashing."""
    h1 = _mix(h ^ _H1_SALT)
    h2 = _mix(h ^ _H2_SALT) | _U64(1)  # odd → full-period stride
    i = np.arange(k, dtype=_U64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) & _MASK) % _U64(num_bits)


def build_bloom(
    df: DataFrame, hash_col: str, num_bits: int = 1 << 24, k: int = 5
) -> bytes:
    """One narrow pass over ``df[hash_col]`` (int64) → bloom bitmap.

    Each partition ORs all its Arrow batches into one local bitmap
    (the kernel emits ONE row per partition); partition bitmaps then
    OR-reduce executor-side (treeAggregate), so the driver receives a
    single num_bits/8-byte bitmap at any scale."""
    import pandas as pd

    # Positions are taken mod num_bits but the bitmap holds num_bits//8
    # bytes, so a non-multiple-of-8 size would index past the buffer
    # (or silently shrink the filter). Round UP to the next byte — a
    # strictly larger filter, so the no-false-negative guarantee holds
    # for any requested size. The probe side derives its modulus from
    # len(bitmap)*8 and therefore agrees automatically.
    nb = (int(num_bits) + 7) // 8 * 8

    def to_bitmaps(batches):
        bitmap = np.zeros(nb // 8, dtype=np.uint8)
        touched = False
        for pdf in batches:
            h = pdf.iloc[:, 0].to_numpy(dtype=np.int64).astype(_U64)
            if len(h):
                touched = True
                pos = _bloom_positions(h, k, nb).reshape(-1)
                np.bitwise_or.at(bitmap, pos >> _U64(3), np.uint8(1) << (pos & _U64(7)).astype(np.uint8))
        if touched:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    parts = df.select(F.col(hash_col)).mapInPandas(to_bitmaps, "bitmap binary")

    # OR-reduce executor-side (treeAggregate, depth 2): the driver
    # receives ONE bitmap, not one per partition — at 10k-partition
    # corpus scale the difference between 2 MB and 20 GB of driver
    # traffic. seq/comb ops run on executors; bytes in, bytes out.
    def _or(a: bytes, b) -> bytes:
        bb = b.bitmap if hasattr(b, "bitmap") else b
        return (
            np.frombuffer(a, dtype=np.uint8) | np.frombuffer(bb, dtype=np.uint8)
        ).tobytes()

    zero = bytes(nb // 8)
    return parts.rdd.treeAggregate(zero, _or, _or, depth=2)


def bloom_might_contain_udf(spark, bloom: bytes, k: int):
    """Vectorized probe: int64 hash column → boolean. The bitmap ships
    once per executor via a Spark broadcast, not per task."""
    import pandas as pd

    num_bits = len(bloom) * 8
    bc = spark.sparkContext.broadcast(bloom)

    def kernel(hashes):
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        h = hashes.to_numpy(dtype=np.int64).astype(_U64)
        if not len(h):
            return pd.Series([], dtype=bool)
        pos = _bloom_positions(h, k, num_bits)
        bits = (bitmap[(pos >> _U64(3)).astype(np.int64)] >> (pos & _U64(7)).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=0).astype(bool))

    return F.pandas_udf(kernel, "boolean")


def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 24,
    k: int = 5,
) -> DataFrame:
    """Rows of ``new_df`` whose ``text_col`` does NOT appear in
    ``corpus_df`` — exactly the plain anti-join result, computed the
    incremental-ingest way:

    1. corpus → bloom bitmap (narrow pass, driver OR, broadcast).
    2. new batch probes the bloom; the positive slice's distinct hashes
       (dups + fp — small in the steady state) broadcast back into a
       map-side semi-join that extracts the corpus texts actually
       matching — the corpus is scanned, never shuffled.
    3. new ANTI-JOIN matched-texts (adaptive broadcast) on the full
       text, so hash collisions and bloom fp cannot drop a unique doc.

    No false negatives (every corpus text's hash is in the bloom), so
    skipping bloom-negative rows in verification is exact.
    """
    from ..io import ensure_parallelism, materialize

    spark = new_df.sparkSession
    h = F.xxhash64(F.col(text_col))
    # NULL text hashes to NULL: exclude it on both sides BEFORE the
    # int64 kernels (NaN would crash the Arrow conversion). The final
    # anti-join equality never matches NULL anyway, so NULL-text rows
    # are kept — identical to the plain anti-join this replaces.
    bloom = build_bloom(
        ensure_parallelism(corpus_df)
        .select(h.alias("_h"))
        .filter(F.col("_h").isNotNull()),
        "_h", num_bits, k,
    )
    probe = bloom_might_contain_udf(spark, bloom, k)
    # lazy pin: unpinned, the optimizer infers the probe filter onto
    # the corpus side of the semi-join below and runs the kernel over
    # every corpus row, all of which pass (no false negatives)
    pos_keys = materialize(
        new_df.select(h.alias("_h"))
        .filter(F.col("_h").isNotNull())
        .filter(probe(F.col("_h")))
        .distinct(),
        eager=False,
    )
    matched_texts = (
        corpus_df.select(F.col(text_col), h.alias("_h"))
        .join(pos_keys, "_h", "left_semi")
        .select(text_col)
        .distinct()
    )
    return new_df.join(matched_texts, text_col, "left_anti")
