"""Top-k operators (SURVEY.md §2.F).

Global top-k: ``df.orderBy(...).limit(k)`` — Catalyst plans
TakeOrderedAndProject: each partition keeps a k-heap, the driver merges
N_partitions × k rows. No full sort, no full shuffle — this is the only
top-k shape that survives 100 TB.

Per-group top-k: row_number over (partition by group order by rank cols)
then filter ≤ k. One shuffle on the group key; each group sorts locally.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Largest-k rows by ``order`` (pass desc() columns for 'largest').

    Include a unique tie-break column in ``order`` for deterministic
    results."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "_rn",
) -> DataFrame:
    """k best rows per group; the rank column is dropped from the output."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def pareto_frontier(
    df: DataFrame,
    dims: Sequence[tuple[str, str]],
) -> DataFrame:
    """Skyline / Pareto frontier (Börzsönyi et al. 2001): rows not
    DOMINATED on the given dimensions — b dominates a when b is at
    least as good on every dim and strictly better on one. ``dims`` is
    [(col, 'min'|'max'), ...]. The multi-criteria answer top-k can't
    give ("cheapest AND largest" has no single ranking); ties on every
    dim keep both rows.

    Scale shape — the standard two-phase distributed skyline:
    1. LOCAL prune: an Arrow kernel drops rows dominated within their
       own batch (sound: local domination implies global). Frontiers
       are tiny for correlated data, so this is the 100 TB → KB cut.
    2. EXACT finish: the surviving candidate set self-joins on the
       dominance predicate (a non-equi anti-join, which Spark plans as
       a broadcast nested-loop join — candidates are frontier-sized)
       and dominated stragglers fall to a left_anti. No global sort,
       no corpus shuffle; the corpus is read exactly once."""
    import numpy as np

    if not dims:
        raise ValueError("pareto_frontier needs at least one (col, dir) dim")
    for c, d in dims:
        if d not in ("min", "max"):
            raise ValueError(f"direction for {c!r} must be 'min' or 'max', got {d!r}")
    cols = [c for c, _ in dims]
    clash = [c for c in df.columns if c.startswith("_o_")]
    if clash:
        raise ValueError(
            f"pareto_frontier reserves the '_o_' column prefix for its "
            f"dominance join; rename {clash} first"
        )
    dirs = [d for _, d in dims]

    def local_prune(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # per-dim arrays in their NATIVE dtype: int64 comparisons
            # stay exact (casting everything to float64 collapses
            # values beyond 2^53 and could wrongly drop a true
            # frontier row). Floats are only used for the SCAN ORDER,
            # where precision affects prune efficiency, never
            # soundness: pruning via an already-dominated frontier
            # member is still sound by transitivity.
            vals = [pdf[c].to_numpy() for c in cols]
            keys = []
            for (c, d) in reversed(dims):
                k = pdf[c].to_numpy().astype(float)
                keys.append(k if d == "min" else -k)
            order = np.lexsort(keys)
            keep = np.ones(len(pdf), dtype=bool)
            frontier_idx: list[int] = []
            fi = np.empty(0, dtype=int)
            for idx in order:
                dominated = False
                if len(fi):
                    at_least = np.ones(len(fi), dtype=bool)
                    strict = np.zeros(len(fi), dtype=bool)
                    for d, v in zip(dirs, vals):
                        fv = v[fi]
                        if d == "min":
                            at_least &= fv <= v[idx]
                            strict |= fv < v[idx]
                        else:
                            at_least &= fv >= v[idx]
                            strict |= fv > v[idx]
                    dominated = bool((at_least & strict).any())
                keep[idx] = not dominated
                if not dominated:
                    frontier_idx.append(idx)
                    fi = np.array(frontier_idx)
            yield pdf[keep]

    cand = df.mapInPandas(local_prune, df.schema).localCheckpoint(eager=True)

    other = cand.select(*[F.col(c).alias(f"_o_{c}") for c in cols]).distinct()
    at_least_as_good = F.lit(True)
    strictly_better = F.lit(False)
    for (c, d) in dims:
        o = F.col(f"_o_{c}")
        if d == "min":
            at_least_as_good = at_least_as_good & (o <= F.col(c))
            strictly_better = strictly_better | (o < F.col(c))
        else:
            at_least_as_good = at_least_as_good & (o >= F.col(c))
            strictly_better = strictly_better | (o > F.col(c))
    return cand.join(other, at_least_as_good & strictly_better, "left_anti")
