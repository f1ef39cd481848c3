"""Continuous near-duplicate ingest: MinHash dedup of a document
STREAM against everything ingested before it — the streaming face of
`operators/dedup.neardup_dedup` for the "corpus grows forever" shape
(crawl ingestion, data-feed landing zones).

Per micro-batch (driven by ``foreachBatch``; the store plumbing is
`epoch_store`'s):

1. params check and store listing: the signature parameters are bound
   to the store (FileSystem calls, no Spark job), and the committed epochs
   ``< e`` are listed BEFORE anything is written,
2. tokenize once, state write first: one kernel pass yields each doc's
   md5 gram values and banded MinHash keys (the batch path's kernel,
   ``dedup._minhash_udf``), written straight to the SIGNATURE STORE as
   ``sigs/epoch=e``
   — ALL batch docs, dropped ones included, so duplicate CHAINS work
   across batches exactly as in batch CC (c dropped because it matches
   b, even though b itself was dropped for matching a). That write is
   the batch's only pin: every step below reads it back,
3. intra-batch dedup: banded self-join → exact-Jaccard verify →
   connected components → min-id survivor per cluster,
4. cross-batch dedup: (band, sig) equi-join of the batch signatures
   against the committed epochs listed in step 1, exact-Jaccard verify
   against the stored shingle sets, drop any batch doc verified-similar
   to ANY earlier doc,
5. exactly-once under replay: the store and the output are written to
   ``epoch=<id>`` partition directories with idempotent overwrite, and
   the store read for epoch e is bounded to ``epoch < e`` — a replayed
   batch (after a crash anywhere, even between its two writes)
   recomputes against exactly its original view of the state.

Semantics vs the batch operator (stated, not hidden): the online rule
is "drop iff a verified-similar doc was seen earlier". For duplicate
CLIQUES (true near-copies) this equals batch `neardup_dedup`. For
non-transitive chains whose bridge doc arrives LAST (a≁b, but both ~c,
c latest), batch CC retroactively collapses {a,b,c} to min(a) while the
online rule has already — correctly, at its decision time — kept both
a and b and only drops c. No online algorithm can drop b before c
exists; this is the standard streaming-dedup contract.

Scale posture: the store holds (id, gram values, band keys) — ~8 B
per gram, no text. The per-batch cross join touches the store via a
(band, sig) equi-join; at corpus scale lay the store out bucketed by
(band, sig) so the join prunes to colliding buckets, and compact old
epochs periodically (``io.compact_parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _banded_candidate_pairs,
    _minhash_signatures,
    _verify_pairs,
    cc_keep_min,
)
from .epoch_store import (
    assert_markers_enabled,
    check_params,
    committed_epoch_dirs,
    read_committed,
    write_epoch,
)

__all__ = ["NeardupIngest"]


class NeardupIngest:
    """Stateful near-dup ingest over ``state_dir``. Use
    ``process_batch`` directly or attach to a stream:

        q = (stream.writeStream.foreachBatch(ingest.foreach_batch())
             .option("checkpointLocation", ckpt).start())

    Survivor rows land in ``{state_dir}/out/epoch=<n>/``.
    """

    def __init__(
        self,
        state_dir: str,
        threshold: float = 0.35,
        n: int = 3,
        bands: int = 8,
        rows_per_band: int = 2,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.state_dir = state_dir.rstrip("/")
        self.threshold = threshold
        self.n = n
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.text_col = text_col
        self.id_col = id_col
        self._params_checked = False

    # -- state ---------------------------------------------------------------

    def _params(self) -> dict:
        return {
            "threshold": self.threshold, "n": self.n, "bands": self.bands,
            "rows_per_band": self.rows_per_band, "text_col": self.text_col,
            "id_col": self.id_col,
        }

    def _check_params(self, spark: SparkSession) -> None:
        """Refuse a session that writes no ``_SUCCESS`` markers (every
        batch; conf-only) and a store bound to other parameters: a
        changed banding or gram width would make new signatures silently
        never match the stored ones (so would a store written before the
        signatures became md5-derived: its ``_params`` carry a
        ``seed``). The store's binding is immutable, so it is checked
        once per instance."""
        assert_markers_enabled(spark, "NeardupIngest")
        if not self._params_checked:
            check_params(
                spark, self.state_dir, self._params(), "NeardupIngest",
                "signatures would silently never match",
            )
            self._params_checked = True

    def survivors(self, spark: SparkSession) -> DataFrame:
        """All survivor rows of the committed epoch outputs so far."""
        return read_committed(spark, f"{self.state_dir}/out", "NeardupIngest")

    # -- per-batch logic -----------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        id_col, epoch_id = self.id_col, int(epoch_id)
        self._check_params(spark)

        # 1. the committed epochs < e, listed before any write: a
        # refusal of a marker-less old epoch leaves no side effect
        root = f"{self.state_dir}/sigs"
        dirs = committed_epoch_dirs(spark, root, epoch_id, "NeardupIngest")

        # 2. tokenize once; the state write is the pin every lineage
        # below reads
        sigs = write_epoch(
            _minhash_signatures(
                batch, self.n, self.bands, self.rows_per_band,
                text_col=self.text_col, id_col=id_col,
            ),
            root,
            epoch_id,
        )

        # 3. intra-batch: candidates → verify → CC → min-id survivors
        intra_pairs = _verify_pairs(
            sigs, sigs, _banded_candidate_pairs(sigs, id_col=id_col),
            self.threshold, id_col,
        )
        clusters = cc_keep_min(intra_pairs, batch.select(id_col), id_col=id_col)
        dropped = clusters.filter(
            F.col(id_col) != F.col("cluster_id")
        ).select(id_col)

        # 4. cross-batch: batch sigs vs the committed store, read with
        # the batch state's schema (no inference job)
        if dirs:
            store = spark.read.schema(sigs.schema).parquet(*dirs)
            new_b = sigs.select(
                F.col(id_col).alias("id_b"),
                F.posexplode("_bands").alias("band", "sig"),
            )
            old_b = store.select(
                F.col(id_col).alias("id_a"),
                F.posexplode("_bands").alias("band", "sig"),
            )
            cands = (
                old_b.join(new_b, ["band", "sig"])
                .select("id_a", "id_b")
                .distinct()
            )
            cross_pairs = _verify_pairs(
                store, sigs, cands, self.threshold, id_col,
            )
            # no distinct: the anti-join below ignores repeats
            dropped = dropped.unionByName(
                cross_pairs.select(F.col("id_b").alias(id_col))
            )

        # 5. idempotent output write: same epoch → same path, same
        # deterministic content; the store read above never sees its
        # own epoch, so replay is exactly-once
        write_epoch(
            batch.join(dropped, id_col, "left_anti"),
            f"{self.state_dir}/out",
            epoch_id,
        )

    def foreach_batch(self):
        return self.process_batch
