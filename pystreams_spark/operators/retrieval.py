"""Lexical retrieval scoring: BM25 (Robertson/Spärck Jones; the Lucene
variant) as pure Spark Column algebra — the keyword-search counterpart
to the embedding ANN operators in `similarity.py`, and the scoring
backbone of retrieval-augmented data pipelines (mining training docs
for a topic, building RAG eval sets, hard-negative mining).

Scale shape: the query is a FIXED term list (broadcast literally into
the plan); the corpus is scanned once to produce per-doc lengths and
the term-filtered postings, document frequencies are a |terms|-row
aggregate, and the global (N, avgdl) statistics are a 1-row broadcast.
Nothing scales with corpus size except the single scan, and the
term-filter prunes the exploded token stream before any shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing at least one query term:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (the Lucene form —
    always positive, saturating). Returns (id, n_terms_hit, score).
    Documents matching no term produce no row (their score is 0).

    ``dl`` is whitespace token count; N and avgdl are corpus-wide.
    One corpus scan; df and the global stats are tiny broadcasts.
    """
    if not terms:
        raise ValueError("bm25_scores: terms must be non-empty")
    from ..functions.text import tokens

    base = docs.select(F.col(id_col), tokens(text_col).alias("_w"))
    # per-doc length + the term-filtered postings come off ONE scan:
    # cut the lineage so stats/postings don't re-tokenize the corpus
    base = base.select(
        F.col(id_col), F.size("_w").cast("long").alias("dl"), "_w"
    ).localCheckpoint(eager=True)

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    term_arr = F.array(*[F.lit(t) for t in terms])
    # tf feeds BOTH the df aggregate and the scoring join: cut the
    # lineage (it is tiny — matched (doc, term) rows only) so the
    # postings explode + aggregation runs once, not twice
    tf = (
        base.select(
            F.col(id_col),
            "dl",
            F.explode(
                F.filter(F.col("_w"), lambda w: F.array_contains(term_arr, w))
            ).alias("term"),
        )
        .groupBy(F.col(id_col), "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_t), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    return (
        scored.groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum(contrib).alias("score"),
        )
    )


def distinctive_terms(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    alpha: float = 0.01,
    top_k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Distinctive vocabulary per group by log-odds-ratio z-score with a
    uniform Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin'
    Words") — what words characterize THIS group against the rest of
    the corpus. The corpus-comparison tool that beats raw TF-IDF for
    group contrast: the prior shrinks rare-word noise and the variance
    term downweights small counts, so the top terms are reliably
    over-represented, not just locally frequent.

    δ = ln(y_gw + α) − ln(n_g + αV − y_gw − α)
      − [ln(y_rw + α) − ln(n_r + αV − y_rw − α)]   (r = rest of corpus)
    z = δ / sqrt(1/(y_gw + α) + 1/(y_rw + α))

    Output: top ``top_k`` terms per group by z (desc, word tie-break),
    with counts and the rounded z. Scale shape: ONE corpus scan to the
    (group, word) count table (shuffle keys = distinct group×word, not
    tokens); the word marginals, group totals, vocabulary size, and
    grand total all DERIVE from that table; rest-counts are subtraction,
    never a second scan. Per-group top-k is a local k-cut after one
    group-key shuffle of the vocabulary-sized scored frame."""
    from ..functions.text import tokens
    from ..io import ensure_parallelism

    cgw = (
        ensure_parallelism(docs)
        .select(F.col(group_col).alias("_g"), F.explode(tokens(text_col)).alias("w"))
        .groupBy("_g", "w")
        .agg(F.count(F.lit(1)).alias("_ygw"))
        .localCheckpoint(eager=True)
    )
    cw = cgw.groupBy("w").agg(F.sum("_ygw").alias("_yw"))
    ng = cgw.groupBy("_g").agg(F.sum("_ygw").alias("_ng"))
    glob = cgw.agg(
        F.sum("_ygw").alias("_n"), F.count_distinct(F.col("w")).alias("_v")
    )
    j = (
        cgw.join(cw, "w")
        .join(ng, "_g")
        .crossJoin(F.broadcast(glob))
    )
    a = F.lit(float(alpha))
    ygw = F.col("_ygw").cast("double")
    yrw = (F.col("_yw") - F.col("_ygw")).cast("double")
    n_g = F.col("_ng").cast("double")
    n_r = (F.col("_n") - F.col("_ng")).cast("double")
    av = a * F.col("_v").cast("double")
    delta = (
        F.log(ygw + a)
        - F.log(n_g + av - ygw - a)
        - F.log(yrw + a)
        + F.log(n_r + av - yrw - a)
    )
    z = delta / F.sqrt(1.0 / (ygw + a) + 1.0 / (yrw + a))
    # degenerate corpora have no defined contrast: with a single group
    # there is no rest population (n_r = 0 → ln 0), and with a
    # single-word vocabulary a group's whole mass is the word itself
    # (n_g + αV − y_gw − α = α(V−1) = 0). NULL the score instead of
    # emitting ±inf/NaN — a NULL ranks last and reads as "no contrast
    # measurable", which is the truth
    z = F.when((n_r > 0.0) & (F.col("_v") >= 2), z)
    scored = j.select(
        F.col("_g").alias(group_col),
        F.col("w").alias("term"),
        F.col("_ygw").cast("long").alias("count_in_group"),
        (F.col("_yw") - F.col("_ygw")).cast("long").alias("count_in_rest"),
        F.round(z, round_to).alias("log_odds_z"),
    )
    win = Window.partitionBy(group_col).orderBy(
        F.desc("log_odds_z"), F.asc("term")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= int(top_k))
        .drop("_rn")
    )
