"""Corpus snapshot diff — classify every document across two corpus
versions (SURVEY.md §2.K, r10): the "what changed between crawl N and
N+1" audit a continuously-refreshed training corpus needs before any
retraining decision. A plain id diff misreads the two commonest crawl
events: re-hosted content (same bytes under a new id) shows up as a
remove + an unrelated add, and re-crawled content (same id, edited
page) shows up as nothing at all.

Classification, per id in A ∪ B:

- ``unchanged`` — id in both, identical content hash;
- ``modified``  — id in both, content hash differs;
- ``moved_away`` / ``moved_in`` — id only in A / only in B, but the
  EXACT content hash matches across the removed×added sets: the same
  document re-hosted under a new id (``match_id`` carries the
  counterpart). Matching is deterministic 1:1 — within one content
  hash both sides rank by id and equal ranks pair up, so duplicated
  content can never fan out;
- ``removed`` / ``added`` — id only in A / only in B, no content
  match.

Content key = first 60 bits of md5(text) (the repo's standard
engine-portable hash; collision odds 2⁻⁶⁰ per pair). Near-dup "moved
AND edited" chains are deliberately out of scope here — compose the
removed/added slices with the MinHash pair kernels for that (the
operators already exist); this operator is the exact layer.

Scale shape: one FULL OUTER id-keyed join (the only corpus-sized
shuffle — 8-byte keys + one 8-byte hash, text never shuffles), then
the moved matching joins two REMOVED/ADDED-sized slices on the hash
with per-hash windows over those slices only. At 100 TB both joins
are key-only; no text column crosses an exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["snapshot_diff"]


def _content_key(text_col: str):
    # NULL text coalesces to '' before hashing (ADVICE r10): md5(NULL)
    # is NULL, which would eject a both-sides id from the unchanged/
    # modified branch into added+removed, and two NULL-text docs could
    # never exact-match. NULL and '' are deliberately one equivalence
    # class — both mean "no content".
    return F.conv(
        F.substring(F.md5(F.coalesce(text_col, F.lit(""))), 1, 15), 16, 10
    ).cast("long")


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diff snapshot ``a`` → ``b``: one row per id in A ∪ B with
    ``status`` ∈ {unchanged, modified, moved_away, moved_in, removed,
    added} and ``match_id`` (the re-host counterpart for the moved
    pair, NULL otherwise)."""
    from pyspark.sql import Window

    ha = a.select(
        F.col(id_col), _content_key(text_col).alias("_ha")
    )
    hb = b.select(
        F.col(id_col), _content_key(text_col).alias("_hb")
    )
    # the only corpus-sized shuffle: 16-byte rows on the id key
    both = ha.join(hb, id_col, "full_outer")

    removed = both.filter(F.col("_hb").isNull()).select(
        F.col(id_col).alias("_rid"), F.col("_ha").alias("_h")
    )
    added = both.filter(F.col("_ha").isNull()).select(
        F.col(id_col).alias("_aid"), F.col("_hb").alias("_h")
    )
    wr = Window.partitionBy("_h").orderBy("_rid")
    wa = Window.partitionBy("_h").orderBy("_aid")
    moved = (
        removed.withColumn("_rn", F.row_number().over(wr))
        .join(
            added.withColumn("_rn", F.row_number().over(wa)),
            ["_h", "_rn"],
        )
        .select("_rid", "_aid")
    )
    m_away = moved.select(
        F.col("_rid").alias(id_col), F.col("_aid").alias("_mid")
    )
    m_in = moved.select(
        F.col("_aid").alias(id_col), F.col("_rid").alias("_mid")
    )
    out = (
        both.join(m_away.unionByName(m_in), id_col, "left")
        .select(
            id_col,
            F.when(
                F.col("_ha").isNotNull() & F.col("_hb").isNotNull(),
                F.when(F.col("_ha") == F.col("_hb"), "unchanged").otherwise(
                    "modified"
                ),
            )
            .when(
                F.col("_hb").isNull(),
                F.when(F.col("_mid").isNotNull(), "moved_away").otherwise(
                    "removed"
                ),
            )
            .otherwise(
                F.when(F.col("_mid").isNotNull(), "moved_in").otherwise(
                    "added"
                )
            )
            .alias("status"),
            F.col("_mid").cast("long").alias("match_id"),
        )
    )
    return out
