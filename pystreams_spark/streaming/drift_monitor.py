"""Streaming drift monitor: score every micro-batch's numeric columns
against a FROZEN reference profile (PSI, as in `operators/drift`) and
append the scores to an epoch-partitioned monitor table — the
"alert when the feed shifts" loop of a production ingest.

Design:

- the reference is profiled ONCE at construction: per column, the bin
  edges (fixed-width over reference min/max) and Laplace-smoothed bin
  proportions — a few dozen floats, held driver-side and shipped in
  the per-batch aggregate expressions (no state reads per batch);
- each micro-batch computes ALL columns' bin counts in ONE
  partial-agg'd scan (``n_bins × n_columns`` conditional sums) — the
  1-row result is the only thing collected;
- scores land in ``{state_dir}/scores/epoch=<id>`` with idempotent
  overwrite, so replayed batches are exactly-once like
  `streaming/neardup_ingest`.

Use with ``stream.writeStream.foreachBatch(monitor.foreach_batch())``;
``history(spark)`` reads the committed epochs' (epoch, column, n_rows, psi)
table for alerting/plotting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .epoch_store import read_committed

__all__ = ["DriftMonitor"]


class DriftMonitor:
    def __init__(
        self,
        state_dir: str,
        ref: DataFrame,
        columns: Sequence[str],
        n_bins: int = 10,
    ):
        self.state_dir = state_dir.rstrip("/")
        self.columns = list(columns)
        self.n_bins = int(n_bins)
        # freeze the reference profile: one aggregate over the ref
        aggs = []
        for c in columns:
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            ]
        row = ref.agg(*aggs).first()
        bad = [c for c in columns if row[f"_lo_{c}"] is None]
        if bad:
            raise ValueError(
                "DriftMonitor: reference has no non-NULL values for "
                f"column(s) {bad} — an empty or all-NULL reference "
                "cannot define bin edges"
            )
        self.edges: dict[str, tuple[float, float]] = {
            c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in columns
        }
        ref_counts = ref.agg(*self._bin_aggs(ref)).first()
        self.ref_p: dict[str, list[float]] = {}
        for c in columns:
            counts = [ref_counts[f"_b_{c}_{i}"] or 0 for i in range(n_bins)]
            tot = sum(counts)
            self.ref_p[c] = [
                (n + 0.5) / (tot + 0.5 * n_bins) for n in counts
            ]

    def _bin_aggs(self, df: DataFrame):
        """n_bins × n_columns conditional-count aggregates — the whole
        per-batch profile in ONE scan."""
        aggs = []
        for c in self.columns:
            lo, hi = self.edges[c]
            width = (hi - lo) / self.n_bins
            col = F.col(c).cast("double")
            if width > 0:
                raw = F.floor((col - F.lit(lo)) / F.lit(width))
            else:
                raw = F.lit(0)
            b = F.least(
                F.greatest(raw, F.lit(0)), F.lit(self.n_bins - 1)
            )
            for i in range(self.n_bins):
                aggs.append(
                    F.sum(
                        (col.isNotNull() & (b == i)).cast("long")
                    ).alias(f"_b_{c}_{i}")
                )
        return aggs

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        import math

        spark = batch.sparkSession
        row = batch.agg(*self._bin_aggs(batch)).first()
        out = []
        for c in self.columns:
            counts = [row[f"_b_{c}_{i}"] or 0 for i in range(self.n_bins)]
            tot = sum(counts)
            psi = 0.0
            for i, n in enumerate(counts):
                p_cur = (n + 0.5) / (tot + 0.5 * self.n_bins)
                p_ref = self.ref_p[c][i]
                psi += (p_cur - p_ref) * math.log(p_cur / p_ref)
            out.append((c, int(tot), round(psi, 6)))
        spark.createDataFrame(
            out, "column string, n_rows long, psi double"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{self.state_dir}/scores/epoch={int(epoch_id)}"
        )

    def foreach_batch(self):
        return self.process_batch

    def history(self, spark: SparkSession) -> DataFrame:
        """The committed epochs' scores (column, n_rows, psi, epoch)."""
        return read_committed(spark, f"{self.state_dir}/scores", "DriftMonitor")
