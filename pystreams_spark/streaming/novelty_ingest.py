"""Continuous n-gram NOVELTY scoring of a document stream: each
arriving document is scored against every gram seen before it — the
streaming face of `operators/dedup.ngram_novelty_scores` for the
"corpus grows forever" shape (the ingest-time marginal-content signal
a crawl pipeline reads to down-weight or drop mostly-seen feeds
BEFORE paying to store them).

Per micro-batch (driven by ``foreachBatch``; the store plumbing is
`epoch_store`'s):

1. params check and store listing: the gram width is bound to the
   store (FileSystem calls, no Spark job), and the committed epochs ``< e``
   are listed BEFORE anything is written,
2. gram once: ``dedup._novelty_posts`` (the doc's distinct md5 gram
   values from the text kernel — the posts of
   ``ngram_novelty_scores``), pinned: the first-seen aggregate and the
   score join both read it,
3. intra-batch first-seen: per-gram MIN(doc id) inside the batch,
4. state write first: a gram is NOVEL iff its batch-first doc owns it
   AND the gram is absent from the accumulated GRAM STORE (parquet,
   partitioned by epoch, 8 bytes per distinct gram — no text); exactly
   those grams are written to ``grams/epoch=<n>``, and that write is
   the novel set's pin,
5. per-doc novelty = novel grams / distinct grams, the novel grams'
   owners taken from the read-back epoch joined to the batch-first
   frame, emitted to ``out/epoch=<n>``; under replay the store read
   prunes to ``epoch < e``, so a recomputed batch (after a crash
   anywhere, even between its two writes) sees its original view and
   rewrites identical state and output — exactly-once.

Semantics vs the batch operator (stated, not hidden): batch novelty
attributes each gram to the MINIMUM doc id; the online rule attributes
it to the first ARRIVAL. When documents arrive in id order (backfills,
monotonic ingest ids) the two are equal — pinned by the equivalence
test; out-of-order arrival keeps the arrival-order contract, the only
one an online scorer can honor.

Scale posture: state is one 8-byte column, partition-pruned by epoch;
the per-batch join is a gram-keyed left-anti against the store — at
corpus scale bucket the store by gram hash so the anti-join prunes,
and compact old epochs periodically (``io.compact_parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _novelty_posts
from .epoch_store import (
    assert_markers_enabled,
    check_params,
    committed_epoch_dirs,
    read_committed,
    write_epoch,
)

__all__ = ["NoveltyIngest"]


class NoveltyIngest:
    """Stateful novelty scorer over ``state_dir``. Use
    ``process_batch`` directly or attach to a stream:

        q = (stream.writeStream.foreachBatch(ing.foreach_batch())
             .option("checkpointLocation", ckpt).start())

    Scored rows land in ``{state_dir}/out/epoch=<n>/``.
    """

    def __init__(
        self,
        state_dir: str,
        n: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.state_dir = state_dir.rstrip("/")
        self.n = n
        self.text_col = text_col
        self.id_col = id_col
        self._params_checked = False

    def _params(self) -> dict:
        return {
            "n": self.n,
            "text_col": self.text_col,
            "id_col": self.id_col,
            "gram": "md5",
        }

    def _check_params(self, spark: SparkSession) -> None:
        """Same guard as NeardupIngest: a changed gram width or gram
        value (stores bound without ``"gram": "md5"`` hold xxhash64
        grams) against an existing store would silently mis-score every
        later doc; a session that writes no ``_SUCCESS`` markers is
        refused too."""
        assert_markers_enabled(spark, "NoveltyIngest")
        if not self._params_checked:
            check_params(
                spark, self.state_dir, self._params(), "NoveltyIngest",
                "gram classes would not match",
            )
            self._params_checked = True

    def scores(self, spark: SparkSession) -> DataFrame:
        """All scored rows of the committed epoch outputs so far."""
        return read_committed(spark, f"{self.state_dir}/out", "NoveltyIngest")

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        id_col, epoch_id = self.id_col, int(epoch_id)
        self._check_params(spark)

        # the committed epochs < e, listed before any write
        root = f"{self.state_dir}/grams"
        dirs = committed_epoch_dirs(spark, root, epoch_id, "NoveltyIngest")

        # one gram pass, pinned: posts feed first-seen and the scores
        posts = _novelty_posts(
            batch, self.n, self.text_col, id_col
        ).localCheckpoint(eager=True)
        batch_first = posts.groupBy("g").agg(F.min(id_col).alias("_novel_owner"))

        fresh = batch_first.select("g")
        if dirs:
            # the gram store, read with its known schema (no inference job)
            store = spark.read.schema("g long").parquet(*dirs)
            fresh = fresh.join(store, "g", "left_anti")
        # grams first seen THIS epoch: the state write is their pin, and
        # their owners come back from the batch-first frame
        fresh = write_epoch(fresh, root, epoch_id).join(batch_first, "g")

        scored = (
            posts.join(fresh, "g", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    (F.col("_novel_owner") == F.col(id_col)).cast("long")
                ).alias("novel_grams"),
            )
            .fillna({"novel_grams": 0})
            .withColumn(
                "novelty",
                F.round(F.col("novel_grams") / F.col("n_grams"), 6),
            )
        )
        # idempotent output write: the store read above never sees its
        # own epoch, so a replayed batch recomputes the SAME fresh set
        # and the same scores
        write_epoch(scored, f"{self.state_dir}/out", epoch_id)

    def foreach_batch(self):
        return self.process_batch
