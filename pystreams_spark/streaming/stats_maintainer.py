"""Streaming incremental-stats maintainer: fold every micro-batch into
the mergeable (n, sum, sum_sq, min, max) state of
`operators/incremental` and publish aggregate stats WITHOUT ever
rescanning history — the streaming face of the metrics-pipeline monoid
(and the lambda-architecture killer: one code path serves batch
backfills and the live stream, because the state merge is the same
function).

Design, mirroring `streaming/neardup_ingest` / `drift_monitor`:

- each micro-batch collapses to its per-group state with ONE
  partial-agg scan (`stats_state`) — KBs per batch at any rate;
- the state lands in ``{state_dir}/state/epoch=<id>`` with idempotent
  overwrite per epoch, so Structured Streaming's replay-on-recovery
  semantics yield exactly-once states without a custom log;
- ``current(spark)`` publishes: read the COMMITTED epoch states (tiny
  frames; an epoch counts only once its `_SUCCESS` marker exists, so a
  mid-write first attempt is never read partially or double-counted),
  `merge_stats`, `finalize_stats` — cost scales with the number of
  epochs, not the data, and a compaction pass can fold old epochs into
  one without changing any result (associativity).

Exactly-once requires a REPLAYABLE source (file stream, Kafka): the
_SUCCESS skip in `process_batch` assumes a replayed epoch_id carries
identical content, which Structured Streaming guarantees only when the
source can replay the same offsets. A non-replayable source (e.g.
`socket`) degrades to at-least-once-per-epoch with the replayed rows
LOST (the skip discards them) — don't use one here.

Use with ``stream.writeStream.foreachBatch(m.foreach_batch())``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental import finalize_stats, merge_stats, stats_state
from .epoch_store import epoch_committed, read_committed

__all__ = ["StatsMaintainer"]


class StatsMaintainer:
    _RESERVED = ("epoch", "n", "sum", "sum_sq", "min", "max")

    def __init__(
        self,
        state_dir: str,
        group_cols: Sequence[str],
        value_col: str,
    ):
        self.state_dir = state_dir.rstrip("/")
        self.group_cols = list(group_cols)
        self.value_col = value_col
        clash = [c for c in self.group_cols if c in self._RESERVED]
        if clash:
            raise ValueError(
                f"StatsMaintainer: group column(s) {clash} collide with "
                f"the state-field / partition names {self._RESERVED} — "
                "alias them before maintaining stats (the same reserved-"
                "name rule merge_stats enforces)"
            )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        # idempotent per-epoch commit: a COMPLETED epoch partition
        # (_SUCCESS present) is never rewritten — a replayed epoch
        # carries identical content, so skipping equals rewriting and
        # removes the delete-then-rewrite window a concurrent
        # ``current()`` could otherwise read through (an incomplete
        # partition, no _SUCCESS, is rewritten)
        root = f"{self.state_dir}/state"
        if epoch_committed(batch.sparkSession, root, epoch_id):
            return
        state = stats_state(batch, self.group_cols, self.value_col)
        state.coalesce(1).write.mode("overwrite").parquet(
            f"{root}/epoch={int(epoch_id)}"
        )

    def foreach_batch(self):
        return self.process_batch

    def current(self, spark: SparkSession, round_to: int = 6) -> DataFrame:
        """The published stats: merge every COMMITTED epoch's state and
        finalize. Reads only state frames (KBs/epoch) — history is never
        rescanned. Raises a clear ValueError before the first epoch has
        committed (there is no state to publish yet — poll after the
        stream's first trigger).

        Commit filter: only ``epoch=N`` partitions containing a
        ``_SUCCESS`` marker are read (``epoch_store.read_committed``). A
        blanket ``read.parquet(state/)`` could list a FIRST-ATTEMPT
        epoch directory mid-write (part files visible, _SUCCESS not yet
        committed) and transiently double-count or read partial state;
        enumerating committed epochs closes that window (ADVICE r5)."""
        all_states = read_committed(
            spark, f"{self.state_dir}/state", "StatsMaintainer"
        ).drop("epoch")
        return finalize_stats(
            merge_stats(all_states, group_cols=self.group_cols),
            round_to=round_to,
        )
