"""Streaming Pareto-frontier maintainer: fold every micro-batch into
the CURRENT skyline (operators/topk.pareto_frontier) without ever
rescanning history — the streaming face of the batch skyline analytic
(e.g. `part_price_size_skyline`).

Soundness comes from the skyline's fold property:
``skyline(A ∪ B) = skyline(skyline(A) ∪ B)`` — a row dominated by any
row is dominated by some FRONTIER row (transitivity), so folding each
batch against the kept frontier loses nothing. The state is therefore
the frontier itself — KBs for correlated data — and per-epoch cost is
``pareto_frontier(frontier ∪ batch)``, never corpus-sized.

Design, mirroring `streaming/stats_maintainer`:

- epoch N's folded frontier lands in ``{state_dir}/state/epoch=N``
  with idempotent overwrite (a COMPLETED epoch — `_SUCCESS` present —
  is never rewritten, so replays are exactly-once on replayable
  sources, same contract as StatsMaintainer);
- each epoch folds against the LATEST COMMITTED epoch before it, so a
  failed first attempt can never feed a partial frontier forward;
- ``current(spark)`` returns the latest committed frontier.

Use with ``stream.writeStream.foreachBatch(m.foreach_batch())``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.topk import pareto_frontier
from .epoch_store import committed_epoch_dirs, epoch_committed

__all__ = ["SkylineMaintainer"]


class SkylineMaintainer:
    def __init__(self, state_dir: str, dims: Sequence[tuple[str, str]]):
        if not dims:
            raise ValueError("SkylineMaintainer needs at least one (col, dir) dim")
        self.state_dir = state_dir.rstrip("/")
        self.dims = [(c, d) for c, d in dims]

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        root = f"{self.state_dir}/state"
        if epoch_committed(spark, root, epoch_id):
            return  # completed epoch: replay is a no-op (exactly-once)
        prev = committed_epoch_dirs(spark, root, int(epoch_id), "SkylineMaintainer")
        merged = batch
        if prev:
            merged = (
                spark.read.parquet(prev[-1]).select(batch.columns).unionByName(batch)
            )
        frontier = pareto_frontier(merged, self.dims)
        frontier.coalesce(1).write.mode("overwrite").parquet(
            f"{root}/epoch={int(epoch_id)}"
        )

    def foreach_batch(self):
        return self.process_batch

    def current(self, spark: SparkSession) -> DataFrame:
        """The latest committed frontier. Raises before the first epoch
        commits (nothing to publish yet)."""
        dirs = committed_epoch_dirs(
            spark, f"{self.state_dir}/state", None, "SkylineMaintainer"
        )
        if not dirs:
            raise ValueError(
                f"SkylineMaintainer: no committed state under "
                f"{self.state_dir}/state yet — current() is only "
                "meaningful after the first micro-batch commits"
            )
        return spark.read.parquet(dirs[-1])
