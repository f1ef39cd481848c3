"""Continuous near-duplicate ingest: MinHash dedup of a document
STREAM against everything ingested before it — the streaming face of
`operators/dedup.neardup_dedup` for the "corpus grows forever" shape
(crawl ingestion, data-feed landing zones).

Per micro-batch (driven by ``foreachBatch``):

1. tokenize ONCE: one kernel pass yields each doc's hashed shingle set
   and banded MinHash signatures (same kernels as the batch path),
2. intra-batch dedup: banded self-join → exact-Jaccard verify →
   connected components → min-id survivor per cluster,
3. cross-batch dedup: (band, sig) equi-join of the batch signatures
   against the accumulated SIGNATURE STORE (parquet, partitioned by
   epoch), exact-Jaccard verify against the stored shingle sets, drop
   any batch doc verified-similar to ANY earlier doc,
4. state update: ALL batch docs' signatures (dropped ones included) are
   appended to the store — duplicate CHAINS then work across batches
   exactly as in batch CC (c dropped because it matches b, even though
   b itself was dropped for matching a),
5. exactly-once under replay: the store and the output are written to
   ``epoch=<id>`` partition directories with idempotent overwrite, and
   the store read for epoch e prunes to ``epoch < e`` — a replayed
   batch recomputes against exactly its original view of the state.

Semantics vs the batch operator (stated, not hidden): the online rule
is "drop iff a verified-similar doc was seen earlier". For duplicate
CLIQUES (true near-copies) this equals batch `neardup_dedup`. For
non-transitive chains whose bridge doc arrives LAST (a≁b, but both ~c,
c latest), batch CC retroactively collapses {a,b,c} to min(a) while the
online rule has already — correctly, at its decision time — kept both
a and b and only drops c. No online algorithm can drop b before c
exists; this is the standard streaming-dedup contract.

Scale posture: the store holds (id, shingle hashes, band sigs) — ~8 B
per shingle, no text. The per-batch cross join touches the store via a
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
    _verify_pairs_jaccard,
    cc_keep_min,
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
        seed: int = 42,
    ):
        self.state_dir = state_dir.rstrip("/")
        self.threshold = threshold
        self.n = n
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.text_col = text_col
        self.id_col = id_col
        self.seed = seed

    # -- state ---------------------------------------------------------------

    def _params(self) -> dict:
        return {
            "threshold": self.threshold, "n": self.n, "bands": self.bands,
            "rows_per_band": self.rows_per_band, "text_col": self.text_col,
            "id_col": self.id_col, "seed": self.seed,
        }

    def _check_params(self, spark: SparkSession) -> None:
        """Persist the signature parameters next to the store on first
        use and REFUSE to run with different ones later: a changed seed
        or banding would make new signatures silently never match the
        stored ones — duplicates would leak through with no error.
        Also refuses a session configured not to write ``_SUCCESS``
        markers (the commit filter would read every epoch as
        uncommitted — ADVICE r10).

        r12: the stored-params read is memoized per instance — the
        file is immutable after first write and only this class writes
        it, so re-reading it EVERY micro-batch was one wasted read job
        + driver collect per batch. The (free, conf-only) marker check
        still runs each batch."""
        import json

        from pyspark.errors import AnalysisException

        from .epoch_store import assert_markers_enabled

        assert_markers_enabled(spark, "NeardupIngest")
        if getattr(self, "_params_checked", False):
            return

        path = f"{self.state_dir}/_params"
        try:
            stored = json.loads(
                spark.read.text(path).agg(
                    F.concat_ws("", F.collect_list("value"))
                ).first()[0]
            )
        except AnalysisException:
            spark.createDataFrame(
                [(json.dumps(self._params(), sort_keys=True),)], "value string"
            ).coalesce(1).write.mode("overwrite").text(path)
            self._params_checked = True
            return
        if stored != self._params():
            raise ValueError(
                f"NeardupIngest: state at {self.state_dir} was built with "
                f"{stored}, current instance uses {self._params()} — "
                "signatures would silently never match. Use the original "
                "parameters or a fresh state_dir."
            )
        self._params_checked = True

    def _store(self, spark: SparkSession, before_epoch: int) -> DataFrame | None:
        """Signature store as of (strictly before) ``before_epoch`` —
        the hardened shared commit filter (`epoch_store`, ADVICE r10):
        committed epochs are read, torn (empty marker-less) epochs are
        skipped, and a marker-less OLD epoch holding part files raises
        instead of silently dropping its signatures from dedup. The
        epoch bound applies on the directory NAME, so no partition
        column is materialized."""
        from .epoch_store import read_epoch_store

        return read_epoch_store(
            spark, f"{self.state_dir}/sigs", before_epoch, "NeardupIngest"
        )

    def survivors(self, spark: SparkSession) -> DataFrame:
        """All survivor rows emitted so far (union of epoch outputs)."""
        return spark.read.parquet(f"{self.state_dir}/out")

    # -- per-batch logic -----------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        id_col, epoch_id = self.id_col, int(epoch_id)
        self._check_params(spark)

        # 1. tokenize once: shingles + band signatures, pinned so the
        # self-join/verify/store lineages share ONE kernel pass
        sh, sigs = _minhash_signatures(
            batch, self.n, self.bands, self.rows_per_band, self.seed,
            text_col=self.text_col, id_col=id_col,
        )

        # 2. intra-batch: candidates → verify → CC → min-id survivors
        intra_pairs = _verify_pairs_jaccard(
            sh, sh, _banded_candidate_pairs(sigs, id_col=id_col),
            self.threshold, id_col=id_col,
        )
        clusters = cc_keep_min(intra_pairs, batch.select(id_col), id_col=id_col)
        intra_dropped = clusters.filter(
            F.col(id_col) != F.col("cluster_id")
        ).select(id_col)

        # 3. cross-batch: batch sigs vs signature store
        store = self._store(spark, epoch_id)
        if store is not None:
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
            cross_pairs = _verify_pairs_jaccard(
                store.select(id_col, "_sh"), sh, cands,
                self.threshold, id_col=id_col,
            )
            cross_dropped = cross_pairs.select(
                F.col("id_b").alias(id_col)
            ).distinct()
            dropped = intra_dropped.unionByName(cross_dropped).distinct()
        else:
            dropped = intra_dropped

        survivors = batch.join(dropped, id_col, "left_anti")

        # 4./5. idempotent epoch writes: same epoch → same paths, same
        # deterministic content; the store read above never sees its
        # own epoch, so replay is exactly-once
        sh.join(sigs, id_col, "left").write.mode(
            "overwrite"
        ).parquet(f"{self.state_dir}/sigs/epoch={epoch_id}")
        survivors.write.mode("overwrite").parquet(
            f"{self.state_dir}/out/epoch={epoch_id}"
        )

    def foreach_batch(self):
        return self.process_batch
