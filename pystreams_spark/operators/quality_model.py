"""Model-based quality scoring for training-data curation: a
fastText-style hashed linear classifier (Joulin et al. 2016, "Bag of
Tricks for Efficient Text Classification") expressed as pure Spark
Column algebra plus one broadcast join.

Production pipelines (CCNet, RefinedWeb, DCLM) filter web text with a
cheap linear model over hashed bag-of-words features: every token is
hashed into one of ``n_buckets`` feature slots, the document's score is
the mean of the slots' learned weights pushed through a sigmoid, and
docs below a threshold are dropped. The *training* of such a model is
out of scope here (it is offline, tiny, and framework-agnostic); what
the engine must provide is the **distributed scoring pass**, and its
scale shape is fixed:

- the model is a (bucket → weight) table of ``n_buckets`` rows — KBs to
  MBs, which AQE broadcasts onto the token stream from its measured
  size (an oversized model runs as a hash join rather than blowing the
  broadcast cap),
- the corpus is scanned ONCE: explode tokens → hash to bucket (one
  md5 per token, JVM-side codegen) → join weights → per-doc mean,
- nothing else grows with corpus size.

The feature hash is md5-derived (``conv(substr(md5(w),1,15),16,10) %
n_buckets``) rather than ``xxhash64`` so the bucket assignment — and
therefore every score — is reproducible bit-for-bit in any SQL engine
(same trick as ``fingerprint_md5``), which is what makes the scoring
pass oracle-checkable end to end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def hashed_feature_bucket(word: Column | str, n_buckets: int) -> Column:
    """Engine-portable feature hash: md5 of the token, first 15 hex
    chars as a non-negative BIGINT, mod ``n_buckets``. DuckDB spells the
    identical value ``('0x' || substr(md5(w),1,15))::BIGINT % n``."""
    w = F.col(word) if isinstance(word, str) else word
    h = F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    return (h % F.lit(n_buckets)).alias("bucket")


def demo_weights(spark: SparkSession, n_buckets: int) -> DataFrame:
    """Deterministic stand-in weight vector for tests/oracles: exact
    integer arithmetic (``((j*37 + 11) % 101 - 50) / 100``) so any
    engine reproduces it bit-for-bit. A real pipeline would load trained
    weights from a table; the scoring plan is identical."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (((F.col("id") * 37 + 11) % 101 - 50) / 100.0).alias("weight"),
    )


def score_linear_model(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    bias: float = 0.0,
) -> DataFrame:
    """Score each document with a hashed bag-of-words linear model:
    ``score = sigmoid(mean_over_tokens(weight[bucket(token)]) + bias)``.
    Returns (id, carry_cols…, score). Documents with zero tokens produce
    no row (they have no features to score — filter them upstream with
    a length rule if they must be kept).

    ``weights`` must be a (bucket BIGINT, weight DOUBLE) frame covering
    every bucket in [0, n_buckets); ``demo_weights`` builds a
    deterministic one. One corpus scan; AQE broadcasts the model while
    it is small and runs a hash join above its threshold."""
    from ..functions.text import tokens

    occ = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode(tokens(text_col)).alias("word"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        hashed_feature_bucket("word", n_buckets),
    )
    s = F.avg("weight") + F.lit(float(bias))
    return (
        occ.join(weights, "bucket")
        .groupBy(F.col(id_col), *[F.col(c) for c in carry_cols])
        .agg((F.lit(1.0) / (F.lit(1.0) + F.exp(-s))).alias("score"))
    )
