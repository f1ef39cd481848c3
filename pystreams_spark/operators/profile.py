"""Generic table profiling: per-column statistics in ONE scan — the
`ANALYZE` / Deequ-profile / TFDV-statistics step a training pipeline
runs before trusting a new data drop.

Scale shape: with the default ``exact_distinct=False`` every metric
for every column compiles into a single ``agg`` over one pass — the
cardinalities are HLL sketches (`approx_count_distinct`), keeping the
profile cheap at any width. The exact form exists for oracle-grade
comparisons on bounded tables and runs as TWO aggregates (r12): the
exact COUNT(DISTINCT)s in their own pass (Catalyst's
RewriteDistinctAggregates Expand multiplies rows by cols+1, and in a
mixed aggregate every other metric's input expression rides along on
each copy — measured 2× the two passes' sum), everything else in one
no-Expand pass, crossJoined back to one row. The wide 1-row result is
unpivoted to long (column, metric, ...) via a struct-array explode —
no second pass, no driver loop.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from ..functions.exact import avg_round_half_up, stddev_pop_exact

__all__ = ["profile", "robust_outlier_report"]

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    exact_distinct: bool = False,
    round_to: int = 6,
    exact_stddev_digits: Mapping[str, int] | None = None,
) -> DataFrame:
    """(column, metric, value_num, value_str) — one row per metric.

    All columns: ``n_nulls``, ``n_distinct`` (nulls excluded, like SQL
    COUNT(DISTINCT)). Numeric: ``min``/``max``/``mean``/``stddev``
    (value_num, rounded). String: ``min_len``/``max_len``/``avg_len``/
    ``n_empty``. Timestamp/date: ``min``/``max`` formatted to
    ``yyyy-MM-dd HH:mm:ss`` in value_str (engine-portable).

    ``exact_stddev_digits`` (opt-in, per the r12 ADVICE rule — no
    magic defaults): columns named in the map compute ``stddev`` under
    the exact second-moment contract (functions/exact.py) with the
    value quantized at that many decimal digits — reproducible across
    engines, partitionings, and scale. Unmapped numeric columns keep
    the built-in streaming-float ``stddev_pop`` (generic doubles have
    no grid to quantize to; their residual is algorithmic ulps).
    """
    cols = list(columns) if columns is not None else df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in cols if c not in schema]
    if unknown:
        raise ValueError(f"profile: unknown columns {unknown}")

    from ..io import ensure_parallelism

    # COUNT(DISTINCT) over many columns plans through one Expand that
    # multiplies every scanned row by (n_distinct_groups + 1), so the
    # partial aggregate does (cols+1)× the table's row work INSIDE the
    # scan stage. A single-row-group input pins all of it to one task
    # (measured r12: orders_profile 9.8 s on a 1-task scan at sf0.1);
    # a round-robin repartition of the pruned columns spreads it
    # across the cluster and is a no-op whenever the source is already
    # wide (any real multi-file table). Every metric here is an exact
    # integer/decimal contract or min/max/count — partition-order
    # independent by construction.
    df = ensure_parallelism(df.select(*[F.col(c) for c in cols]))

    aggs: list = []
    dist_aggs: list = []
    entries: list[tuple[str, str, str | None, str | None]] = []
    # (column, metric, num_alias, str_alias)
    i = 0

    def add(col: str, metric: str, expr, is_str: bool = False, dist: bool = False):
        nonlocal i
        alias = f"_p{i}"
        i += 1
        (dist_aggs if dist else aggs).append(expr.alias(alias))
        entries.append((col, metric, None if is_str else alias, alias if is_str else None))

    for c in cols:
        t = schema[c]
        col = F.col(c)
        add(c, "n_nulls", F.sum(col.isNull().cast("long")).cast("double"))
        distinct = (
            F.countDistinct(col) if exact_distinct else F.approx_count_distinct(col)
        )
        # exact COUNT(DISTINCT) goes into its OWN aggregate (see the
        # split below); the HLL sketch is an ordinary buffer and stays
        # in the shared single-pass aggregate
        add(c, "n_distinct", distinct.cast("double"), dist=exact_distinct)
        if isinstance(t, NumericType):
            add(c, "min", F.round(F.min(col).cast("double"), round_to))
            add(c, "max", F.round(F.max(col).cast("double"), round_to))
            # integer-scaled half-up contract (r12 drain of the
            # ROUND(AVG(raw)) class): float summation order can never
            # decide the rounded digit.
            add(c, "mean", avg_round_half_up(f"cast(`{c}` as double)", round_to))
            if exact_stddev_digits is not None and c in exact_stddev_digits:
                add(
                    c,
                    "stddev",
                    stddev_pop_exact(
                        f"cast(`{c}` as double)",
                        exact_stddev_digits[c],
                        round_to,
                    ),
                )
            else:
                add(c, "stddev", F.round(F.stddev_pop(col), round_to))
        elif isinstance(t, StringType):
            add(c, "min_len", F.min(F.length(col)).cast("double"))
            add(c, "max_len", F.max(F.length(col)).cast("double"))
            add(c, "avg_len", avg_round_half_up(f"length(`{c}`)", round_to))
            add(c, "n_empty", F.sum((col == "").cast("long")).cast("double"))
        elif isinstance(t, (TimestampType, TimestampNTZType, DateType)):
            add(c, "min", F.date_format(F.min(col), _TS_FMT), is_str=True)
            add(c, "max", F.date_format(F.max(col), _TS_FMT), is_str=True)

    # r12 opt (guide §2.3/§2.4): MIXING exact COUNT(DISTINCT) columns
    # with the other metrics in one aggregate makes Catalyst's
    # RewriteDistinctAggregates plan an Expand that multiplies every
    # scanned row by (n_distinct_columns + 1) — and every heavy
    # non-distinct input expression (the DECIMAL(38,0) moment
    # contract's quantize+widen per value) rides along on each copy.
    # Measured on orders at sf0.1 (rebuilt-plan min-of-4): combined
    # 5.9 s vs 1.3 s (distinct-only) + 1.7 s (everything else) run as
    # TWO aggregates. So: exact distincts get their own aggregate
    # (Expand over just the profiled columns, no other buffers), the
    # rest stays a single no-Expand pass, and the two 1-row frames
    # crossJoin back together before the unpivot — same 36 metrics,
    # same values, the scan is read twice but the (cols+1)× expansion
    # of the metric expressions is gone. HLL mode keeps one aggregate.
    if dist_aggs:
        wide = df.agg(*aggs).crossJoin(df.agg(*dist_aggs))
    else:
        wide = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(col).alias("column"),
                F.lit(metric).alias("metric"),
                (F.col(num) if num else F.lit(None).cast("double")).alias("value_num"),
                (F.col(s) if s else F.lit(None).cast("string")).alias("value_str"),
            )
            for col, metric, num, s in entries
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("p"))
        .select("p.column", "p.metric", "p.value_num", "p.value_str")
    )


def nfc_normalization_report(
    df, text_col: str = "text", group_cols: tuple = ("lang",)
):
    """Unicode-normalization audit: per group, how many documents are
    not NFC-normal and how many characters NFC composition saves — the
    first cleaning decision of a multilingual corpus (decomposed
    accents double key sizes and split dedup groups). One struct
    kernel emits all per-doc signals (a string-returning NFC UDF
    referenced from several expressions would be re-inlined by
    CollapseProject and normalize each document repeatedly); one tiny
    grouped aggregate follows. Engine-portable: Python unicodedata and
    DuckDB nfc_normalize implement the same Unicode standard, so the
    audit is SQL-oracle-checkable."""
    from pyspark.sql import functions as F

    def _kernel(texts):
        import unicodedata

        import pandas as pd

        lens, nlens, changed = [], [], []
        for t in texts:
            t = t or ""
            n = unicodedata.normalize("NFC", t)
            lens.append(len(t))
            nlens.append(len(n))
            changed.append(n != t)
        return pd.DataFrame({"len": lens, "nlen": nlens, "changed": changed})

    sig = F.pandas_udf(_kernel, "len int, nlen int, changed boolean")
    groups = list(group_cols)
    base = df.select(*groups, sig(F.col(text_col)).alias("_s")).select(
        *groups, "_s.len", "_s.nlen", "_s.changed"
    )
    return (
        base.groupBy(*groups)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("changed").cast("long")).alias("n_not_nfc"),
            F.sum((F.col("len") != F.col("nlen")).cast("long")).alias(
                "n_len_changed"
            ),
            F.sum(F.col("len") - F.col("nlen")).cast("long").alias(
                "chars_saved"
            ),
        )
    )


def robust_outlier_report(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    z_threshold: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Per-group robust outlier screen via the modified z-score
    |x − median| / (1.4826·MAD) (Iglewicz & Hoaglin 1993) — the
    anomaly check that survives what mean/stddev screens don't: the
    outliers themselves inflate a stddev until nothing is 3σ out,
    while median and MAD are 50%-breakdown robust.

    Output per group: n, median, mad, n_outliers, outlier_frac,
    max_abs_z. Degenerate groups (MAD = 0 — over half the values
    identical) yield NULL z-scores and zero outliers rather than an
    ANSI divide crash: a constant column has no robust scale, and
    flagging every off-mode row would be noise, not signal.

    Scale shape: three grouped passes over the input — exact medians
    and MADs are order statistics, so each stage needs the previous
    stage's result (pass 1 medians; pass 2 MAD of |x − median|; pass 3
    z-thresholded counts). Each per-group stats frame is tiny and
    broadcast back; no corpus-sized shuffle beyond the three groupBys.
    Both engines round the median and MAD to ``round_to`` BEFORE the z
    division so the threshold compare is never a cross-engine
    knife-edge."""
    gc = list(group_cols)
    med = df.groupBy(*gc).agg(
        F.round(F.percentile(F.col(value_col), F.lit(0.5)), round_to).alias(
            "median"
        )
    )
    joined = df.join(med, gc)
    dev = F.abs(F.col(value_col) - F.col("median"))
    with_mad = joined.groupBy(*gc).agg(
        F.round(F.percentile(dev, F.lit(0.5)), round_to).alias("mad")
    )
    scored = joined.join(with_mad.select(*gc, "mad"), gc).withColumn(
        "_z",
        F.round(
            F.try_divide(dev, F.lit(1.4826) * F.col("mad")), round_to
        ),
    )
    out = scored.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("median").alias("median"),
        F.max("mad").alias("mad"),
        F.sum(
            F.when(F.col("_z") > F.lit(float(z_threshold)), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        # integer-scaled half-up contract (r12): the flag is exact {0,1}
        avg_round_half_up(
            f"CASE WHEN _z > {float(z_threshold)!r} THEN 1.0 ELSE 0.0 END",
            round_to,
        ).alias("outlier_frac"),
        F.round(F.max("_z"), round_to).alias("max_abs_z"),
    )
    return out.orderBy(*gc)
