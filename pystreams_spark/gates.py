"""Execution-time invariant gates for approximate / engine-seeded
queries (SURVEY §5.2 rows-only tier): a rows-only correctness verdict
only certifies "ran, produced rows" — these gates move the quality
contract INTO the plan, so a violated invariant fails the job loudly
instead of drifting silently under a weaker check. Pattern shared with
`operators/similarity.annotate_recall_vs_exact`'s recall floor:
``filter(coalesce(assert_true(cond, msg), lit(True)))`` evaluates the
condition on EVERY row (the filter is not prunable — assert_true
returns NULL on success, so coalesce passes all rows) and raises
SparkRuntimeException with ``msg`` on the first violating row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def gate_rows(df: DataFrame, cond: Column, msg: Column | str) -> DataFrame:
    """Per-row hard gate: raise ``msg`` if ``cond`` is false on any row;
    otherwise pass the frame through unchanged. A Column ``msg`` is
    evaluated on the violating row and raised as it is (``F.lit``
    passes a Column through unchanged), so it can name the values the
    gate measured.

    ZERO-ROW CAVEAT (shared with ``gate_global``): the condition runs
    on the frame's OWN rows, so an EMPTY frame passes vacuously — which
    is the correct reading for per-row invariants, but means emptiness
    itself is never checked. When "no rows" is a failure mode (e.g. a
    candidate generator whose blocking can go fully disjoint), gate a
    separate always-1-row summary frame with :func:`gate_summary`
    instead — the r12 blocked-bitext fix
    (``operators/similarity.margin_bitext_mine_blocked``)."""
    chk = F.assert_true(cond, F.lit(msg))
    return df.filter(F.coalesce(chk, F.lit(True)))


def gate_global(df: DataFrame, agg_cond: Column, msg: str) -> DataFrame:
    """Whole-result hard gate: ``agg_cond`` is an expression over
    aggregate window functions (e.g.
    ``F.sum(x).over(Window.partitionBy()) == 50``) — meant for result
    sets that are already small (reports, candidate lists), where one
    extra single-partition window over k rows is free. Zero-row caveat:
    see :func:`gate_rows`; an empty result passes vacuously."""
    marked = df.withColumn("_gate", agg_cond)
    chk = F.assert_true(F.col("_gate"), F.lit(msg))
    return marked.filter(F.coalesce(chk, F.lit(True))).drop("_gate")


def gate_summary(
    df: DataFrame, summary: DataFrame, cond: Column, msg: Column | str
) -> DataFrame:
    """Hard gate that executes even when ``df`` is EMPTY: evaluate
    ``cond`` over ``summary`` (a frame that always has rows — typically
    a global aggregate, which yields exactly one row even over empty
    input) and splice the check into ``df``'s plan as a union branch.

    The assert runs in a projection over the summary rows; on success
    ``assert_true`` returns NULL, so the IS-NOT-NULL filter drops every
    summary row — a data-dependent predicate the optimizer cannot fold
    away, which is what makes the branch unprunable. The branch's
    columns are casts of that assert result, not NULL literals: a
    downstream join or filter infers IS NOT NULL on its keys and pushes
    it into the union, where a literal NULL column would fold the
    branch away unevaluated. ``df``-side rows pass through untouched. This closes the vacuous-pass hole of
    ``gate_rows``/``gate_global``: a gate written as a filter over
    ``df``'s own rows never evaluates when the frame is empty — exactly
    the case (zero candidates) where a quality contract matters most
    (ADVICE r11, fixed first in the blocked bitext miner)."""
    if isinstance(msg, str):
        msg = F.lit(msg)
    branch = (
        summary.select(F.assert_true(cond, msg).alias("_z"))
        .filter(F.col("_z").isNotNull())
        .select(
            *[
                F.col("_z").cast(f.dataType).alias(f.name)
                for f in df.schema.fields
            ]
        )
    )
    return df.unionByName(branch)


def binomial_bound(n_trials: Column, p: float, sigmas: float = 6.0) -> Column:
    """± bound for a Binomial(n, p) count at ``sigmas`` standard
    deviations — the tolerance a seeded-sampling gate should allow
    (6σ ⇒ false-alarm probability ~1e-9 per group)."""
    import math

    return F.lit(sigmas) * F.sqrt(n_trials * F.lit(p * (1.0 - p))) + F.lit(1.0)
