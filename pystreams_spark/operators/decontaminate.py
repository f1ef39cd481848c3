"""Benchmark decontamination (SURVEY.md §2.K): flag training documents
that share word n-gram shingles with an evaluation/benchmark set.

The standard contamination check for LLM training corpora (the GPT-3
appendix / Dolma / FineWeb recipe, re-expressed Spark-first): any train
document sharing ≥ ``min_overlap`` distinct n-grams with any eval
document is flagged for removal or auditing.

Scale shape (100 TB corpus, MB-scale benchmark suite):
- The eval side is shingled separately — it is tiny by construction, so
  its (gram, eval_id) table (distinct per doc, 8-byte gram values)
  broadcasts everywhere.
- The train side streams through ONE narrow shingle kernel pass, then a
  broadcast hash join — no shuffle of train text or grams, no
  materialization of the train gram table. The only shuffle is the
  final per-doc aggregate, keyed by doc_id (high-cardinality, skew-free).
- Two kernel evaluations total, over DISJOINT inputs (eval rows, train
  rows) — deliberately NOT a shared-lineage branch, so nothing needs a
  checkpoint and nothing is computed twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def contaminated_docs(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "doc_id",
) -> DataFrame:
    """Train docs sharing ≥ ``min_overlap`` distinct word ``n``-gram
    shingles with the eval set.

    Returns (id_col, n_matched_grams, n_eval_docs_hit), one row per
    contaminated train doc. Grams are the md5 gram values of the
    distinct word n-grams of ``functions.text.shingles`` (a doc with
    < n words contributes its single short shingle), so the result is
    oracle-checkable in ANSI SQL on the string grams. The empty gram of
    a NULL or blank text (``EMPTY_GRAM``) matches nothing.
    """
    from ..functions.text_kernels import EMPTY_GRAM, hashed_shingles_udf
    from ..io import ensure_parallelism

    kernel = hashed_shingles_udf(n)
    ev = eval_set.select(
        F.col(eval_id_col).alias("_eval_id"),
        F.explode(kernel(F.col(text_col))).alias("_gram"),
    ).filter(F.col("_gram") != EMPTY_GRAM)
    tr = (
        ensure_parallelism(train)
        .select(F.col(id_col), F.explode(kernel(F.col(text_col))).alias("_gram"))
        .filter(F.col("_gram") != EMPTY_GRAM)
    )
    return (
        tr.join(F.broadcast(ev), "_gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("_gram").alias("n_matched_grams"),
            F.countDistinct("_eval_id").alias("n_eval_docs_hit"),
        )
        .filter(F.col("n_matched_grams") >= min_overlap)
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "doc_id",
) -> DataFrame:
    """Remove contaminated docs from ``train`` (left-anti against the
    flagged set). The flagged table is doc_id + two longs — broadcast by
    AQE at any realistic contamination rate."""
    flagged = contaminated_docs(
        train, eval_set, n, min_overlap, text_col, id_col, eval_id_col
    ).select(id_col)
    return train.join(flagged, id_col, "left_anti")


def shuffle_key(id_col: str, seed: int):
    """Deterministic per-row shuffle sort key: md5 hex of
    ``"<id>:<seed>"`` — engine-portable (DuckDB/Trino/Spark all produce
    the identical digest), so the resulting order is oracle-checkable."""
    return F.md5(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
    )


def seeded_global_shuffle(
    df: DataFrame, seed: int = 42, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global random permutation — the final step of every
    training-data pipeline (examples must arrive in hash-random order,
    reproducibly, across any number of output shards).

    Sort key = md5(id, seed) (see ``shuffle_key``; the order is
    reproducible in ANY engine, which is what makes the r4
    oracle check possible), tie-broken by id: fully distributed
    (range-partitioned sort, no driver involvement), stable across runs
    and cluster sizes, and re-seedable per epoch. At 100 TB this is one
    range-exchange — the same cost as any global sort — and writing the
    result partitioned preserves the order per shard."""
    return df.orderBy(
        shuffle_key(id_col, seed).asc(), F.col(id_col).asc()
    )
