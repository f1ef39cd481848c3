"""Continuous perceptual-hash image ingest: dHash dedup of an image
STREAM against everything ingested before it — the streaming face of
the r10 `operators/imagehash` batch pipeline, for the "media corpus
grows forever" shape (crawl landing zones where the same photo keeps
re-arriving re-encoded and resized).

Per micro-batch (driven by ``foreachBatch``; the store plumbing is
`epoch_store`'s):

1. params check and store listing: the hash/banding parameters are
   bound to the store (FileSystem calls, no Spark job), and the committed
   epochs ``< e`` are listed BEFORE anything is written,
2. decode+hash ONCE, state write first: one Arrow kernel pass attaches
   each payload's 60-bit integer-exact dHash (`imagehash.image_dhash`,
   the same kernel the batch query runs — payloads never leave it),
   written straight to the SIGNATURE STORE as ``sigs/epoch=e`` — ALL
   batch signatures, dropped ones included, so duplicate CHAINS work
   across batches exactly as in batch CC. That write is the batch's
   only pin: every step below reads it back,
3. intra-batch dedup: banded-Hamming self-pairs → connected
   components → min-id survivor per cluster,
4. cross-batch dedup: 4×15-bit band keys of the batch signatures
   equi-join the committed epochs listed in step 1, bit_count-XOR
   verify ≤ ``max_hamming``, drop any batch image verified-similar to
   ANY earlier image,
5. exactly-once under replay AND dirty crashes: epoch-dir idempotent
   overwrite writes; the store read enumerates only ``epoch=N`` dirs
   with a ``_SUCCESS`` marker and ``N <`` the current epoch (the
   ADVICE-r9 commit-filter pattern from ``novelty_ingest``), so a
   torn write can neither corrupt a later listing nor leak into its
   own replay's view of the state.

Online-vs-batch semantics: identical to ``NeardupIngest`` — "drop iff
a verified-similar image was seen earlier" equals batch CC on
duplicate cliques (the perceptual-dup case: every re-encode of one
photo hashes within a few bits of every other); for non-transitive
chains whose bridge arrives last, the online rule keeps both earlier
endpoints — the standard streaming-dedup contract, stated not hidden.

Scale posture: the store holds (id, one int64) — 16 B per image ever
seen, no pixels; the cross join touches it via (band, value) keys.
At corpus scale lay the store out bucketed by band value and compact
old epochs periodically (``io.compact_parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .epoch_store import (
    assert_markers_enabled,
    check_params,
    committed_epoch_dirs,
    read_committed,
    write_epoch,
)

__all__ = ["ImagedupIngest"]


class ImagedupIngest:
    """Stateful perceptual-hash image dedup over ``state_dir``. Use
    ``process_batch`` directly or attach to a stream:

        q = (stream.writeStream.foreachBatch(ingest.foreach_batch())
             .option("checkpointLocation", ckpt).start())

    Survivor rows land in ``{state_dir}/out/epoch=<n>/``.
    """

    def __init__(
        self,
        state_dir: str,
        max_hamming: int = 8,
        bands: int = 4,
        band_bits: int = 15,
        h_cells: int = 6,
        w_cells: int = 11,
        payload_col: str = "payload",
        id_col: str = "doc_id",
    ):
        self.state_dir = state_dir.rstrip("/")
        self.max_hamming = max_hamming
        self.bands = bands
        self.band_bits = band_bits
        self.h_cells = h_cells
        self.w_cells = w_cells
        self.payload_col = payload_col
        self.id_col = id_col
        self._params_checked = False

    # -- state ---------------------------------------------------------------

    def _params(self) -> dict:
        return {
            "max_hamming": self.max_hamming, "bands": self.bands,
            "band_bits": self.band_bits, "h_cells": self.h_cells,
            "w_cells": self.w_cells, "payload_col": self.payload_col,
            "id_col": self.id_col,
        }

    def _check_params(self, spark: SparkSession) -> None:
        """The ``NeardupIngest`` contract: refuse a store bound to other
        hash/banding parameters — a changed grid or banding makes new
        signatures silently never match stored ones — and a session
        that writes no ``_SUCCESS`` markers."""
        assert_markers_enabled(spark, "ImagedupIngest")
        if not self._params_checked:
            check_params(
                spark, self.state_dir, self._params(), "ImagedupIngest",
                "a changed hash grid or banding makes signatures silently "
                "never match",
            )
            self._params_checked = True

    def survivors(self, spark: SparkSession) -> DataFrame:
        """All survivor rows of the committed epoch outputs so far."""
        return read_committed(spark, f"{self.state_dir}/out", "ImagedupIngest")

    # -- per-batch logic -------------------------------------------------------

    def _bands_of(self, sig: DataFrame, side: str) -> DataFrame:
        mask = (1 << self.band_bits) - 1
        return sig.select(
            F.col(self.id_col).alias(side),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("band"),
                            F.shiftright("dhash", t * self.band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("val"),
                        )
                        for t in range(self.bands)
                    ]
                )
            ).alias("_b"),
        ).select(side, "_b.band", "_b.val")

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from ..operators.dedup import banded_hamming_pairs, cc_keep_min
        from ..operators.imagehash import image_dhash

        spark = batch.sparkSession
        id_col, epoch_id = self.id_col, int(epoch_id)
        self._check_params(spark)

        # 1. the committed epochs < e, listed before any write
        root = f"{self.state_dir}/sigs"
        dirs = committed_epoch_dirs(spark, root, epoch_id, "ImagedupIngest")

        # 2. decode+hash once; the state write is the pin the self-join,
        # cross-join and output lineages read
        sig = write_epoch(
            image_dhash(
                batch.select(id_col, self.payload_col),
                payload_col=self.payload_col,
                id_col=id_col,
                h_cells=self.h_cells,
                w_cells=self.w_cells,
                on_undecodable="error",
            ).select(id_col, "dhash"),
            root,
            epoch_id,
        )

        # 3. intra-batch: banded pairs → CC → min-id survivors
        intra = banded_hamming_pairs(
            sig, id_col=id_col, sig_col="dhash",
            bands=self.bands, band_bits=self.band_bits,
            max_hamming=self.max_hamming,
        ).select("id_a", "id_b")
        clusters = cc_keep_min(intra, batch.select(id_col), id_col=id_col)
        dropped = clusters.filter(
            F.col(id_col) != F.col("cluster_id")
        ).select(id_col)

        # 4. cross-batch: batch signatures vs the committed store, read
        # with the batch state's schema (no inference job)
        if dirs:
            store = spark.read.schema(sig.schema).parquet(*dirs)
            cands = (
                self._bands_of(store, "id_a")
                .join(self._bands_of(sig, "id_b"), ["band", "val"])
                .select("id_a", "id_b")
                .distinct()
            )
            sa = store.select(
                F.col(id_col).alias("id_a"), F.col("dhash").alias("_sa")
            )
            sb = sig.select(
                F.col(id_col).alias("id_b"), F.col("dhash").alias("_sb")
            )
            cross_dropped = (
                cands.join(sa, "id_a")
                .join(sb, "id_b")
                .filter(
                    F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                    <= self.max_hamming
                )
                .select(F.col("id_b").alias(id_col))
            )
            # no distinct: the anti-join below ignores repeats
            dropped = dropped.unionByName(cross_dropped)

        # 5. idempotent output write; the store read above never sees
        # its own (or any uncommitted) epoch → exactly-once
        write_epoch(
            batch.join(dropped, id_col, "left_anti"),
            f"{self.state_dir}/out",
            epoch_id,
        )

    def foreach_batch(self):
        return self.process_batch
