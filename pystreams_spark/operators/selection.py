"""Corpus-selection operators for training-data pipelines: global
ordered cumulative sums (the primitive behind token-budget cutoffs and
coverage curves), budget-bounded corpus selection, and language-mixture
resampling weights.

The core problem is that "take documents in priority order until the
token budget is hit" needs a GLOBAL running total, and a naive
`Window.orderBy(...)` without partition keys plans as a single-task
sort — the classic scale cliff. `ordered_cumsum` keeps the same
semantics with a two-pass shape that stays parallel at any size:

1. range-partition + sort locally on the priority key (one shuffle, the
   same layout a distributed ORDER BY uses),
2. per-partition totals → driver (|partitions| rows, KBs at any scale)
   → running offsets,
3. per-partition window cumsum (parallel — partitioned by the physical
   partition id) plus the broadcast offset.

This is the standard distributed prefix-sum recipe (the same two-pass
offsets as RDD ``zipWithIndex``), expressed in Column algebra — no
Python kernel, everything stays in codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ordered_cumsum(
    df: DataFrame,
    order: Sequence[Column],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = running SUM(``value_col``) over the global
    order given by ``order`` (Column expressions, may carry ``.desc()``).

    Scale shape: ONE range shuffle + local sort (identical cost to a
    distributed ORDER BY on the same keys), a driver-side offsets pass
    of |partitions| rows, and a NARROW per-partition cumsum kernel
    (vectorized, order-preserving) that adds the broadcast offsets.
    A Window.partitionBy(pid) would be semantically identical but
    plans an extra full Exchange — Catalyst cannot prove the
    checkpointed frame is already pid-clustered, so it re-shuffles on
    hash(pid) (observed in the r4 plan audit); the kernel keeps the
    second pass pipelined. The sorted frame is localCheckpoint'ed so
    the offsets job and the downstream consumer share one
    materialization (and one range sampling) instead of recomputing
    the sort.
    """
    import numpy as np

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        # lazy: the offsets collect below materializes the pin in its
        # own job — one driver barrier instead of two (r12)
        .localCheckpoint(eager=False)
    )
    totals = {
        r["_pid"]: r["_s"]
        for r in ranged.groupBy("_pid").agg(F.sum(value_col).alias("_s")).collect()
    }
    acc = 0
    offsets: dict[int, float] = {}
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0

    integral = ranged.schema[value_col].dataType.simpleString() in (
        "tinyint", "smallint", "int", "bigint",
    )
    out_type = "bigint" if integral else "double"
    dtype = np.int64 if integral else np.float64
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` {out_type}"]
    )
    bc = spark.sparkContext.broadcast(offsets)

    def kernel(batches):
        run = dtype(0)
        off = None
        for pdf in batches:
            if not len(pdf):
                continue
            if off is None:
                off = dtype(bc.value.get(int(pdf["_pid"].iloc[0]), 0))
            vals = pdf[value_col].to_numpy(dtype=dtype)
            pdf = pdf.drop(columns=["_pid"])
            pdf[out_col] = vals.cumsum(dtype=dtype) + off + run
            run += vals.sum(dtype=dtype)
            yield pdf

    return ranged.mapInPandas(kernel, schema)


def select_token_budget(
    df: DataFrame,
    order: Sequence[Column],
    token_col: str,
    budget: int,
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Keep rows in priority order while the running token total BEFORE
    the row is under ``budget`` (so the document that crosses the
    boundary is included — a budget is a target, not a hard ceiling,
    and dropping it would under-fill every epoch). The mixture-building
    step of a data pipeline: "best documents first until N tokens"."""
    cum = ordered_cumsum(df, order, token_col, out_col=cum_col)
    return cum.filter(F.col(cum_col) - F.col(token_col) < budget)


def weighted_sample_key(
    weight: Column, id_col: Column, seed: int = 42, round_to: int = 9
) -> Column:
    """Efraimidis–Spirakis A-Res priority for weighted sampling WITHOUT
    replacement: key = ln(u) / w with u uniform in (0,1) — taking the
    top-k keys draws each row with probability proportional to its
    weight, in one pass, mergeable across partitions (the property that
    makes weighted reservoir sampling distributable at all).

    u is md5-derived (13 hex chars = 52 bits, exactly representable in
    a double, +0.5 so u is never 0), so the draw is a pure function of
    (id, seed): reproducible across runs, engines, and cluster sizes —
    the same portability trick as ``shuffle_key``. The key is rounded
    (default 9 decimals) so both engines order on the identical double;
    callers must tie-break on the id."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", id_col, F.lit(f"ws{seed}"))), 1, 13
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4503599627370496.0)
    # w ≤ 0 would invert the order (ln u < 0); NULL it out instead so
    # zero/negative-weight rows are never drawn (and never ANSI-crash)
    w = F.when(weight > 0, weight.cast("double"))
    return F.round(F.log(u) / w, round_to)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    key_col: str = "sample_key",
) -> DataFrame:
    """k-row weighted sample without replacement (Efraimidis–Spirakis
    2006): rows are drawn with probability ∝ ``weight_col``, determined
    entirely by (id, seed) — the quality-weighted corpus draw a
    curation pipeline uses to favor high-scoring documents while
    keeping the tail reachable, reproducibly.

    Scale shape: one narrow key projection + global top-k, which
    Catalyst plans as TakeOrderedAndProject (per-partition k-heaps, the
    driver merges |partitions|×k rows — no full sort at any corpus
    size). Zero-/negative-weight rows get a NULL key and are excluded
    before the heap."""
    key = weighted_sample_key(F.col(weight_col), F.col(id_col), seed)
    keyed = df.withColumn(key_col, key).filter(F.col(key_col).isNotNull())
    return keyed.orderBy(F.col(key_col).desc(), F.col(id_col).asc()).limit(k)


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: Sequence[str],
    id_col: str = "doc_id",
    seed: int = 42,
    key_col: str = "sample_key",
) -> DataFrame:
    """Stratified weighted sample: up to k rows PER GROUP, drawn with
    probability ∝ ``weight_col`` within each group (independent A-Res
    draws per stratum — the 'k best-weighted docs per language, but
    random enough to keep the tail reachable' selection).

    Same md5-keyed priority as ``weighted_sample``, ranked per group
    via row_number — one shuffle on the group key, local k-cut per
    group, no global sort. Groups smaller than k return whole."""
    key = weighted_sample_key(F.col(weight_col), F.col(id_col), seed)
    keyed = df.withColumn(key_col, key).filter(F.col(key_col).isNotNull())
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(key_col).desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    token_col: str,
    target_shares: dict[str, float] | None = None,
    alpha: float | None = None,
) -> DataFrame:
    """Per-group resampling weights that reshape the corpus token
    mixture to a target distribution (uniform across groups unless
    ``target_shares`` gives explicit fractions): weight(g) =
    target_share(g) / actual_share(g). A weight > 1 means the group is
    under-represented (upsample / repeat epochs); < 1 means downsample.

    ``alpha`` picks the temperature-scaled target instead (the XLM-R /
    mT5 multilingual sampling rule): target_share(g) ∝ actual_share(g)^α
    with 0 ≤ α ≤ 1 — α=1 keeps the natural mixture (all weights 1),
    α=0 is the uniform target, and the standard α≈0.3 boosts
    low-resource groups without letting them dominate. Mutually
    exclusive with ``target_shares``.

    One grouped aggregate + a 1-row broadcast of the global totals —
    nothing here grows with corpus size except the single token scan.
    """
    if alpha is not None and target_shares is not None:
        raise ValueError(
            "mixture_weights: pass either target_shares or alpha, not both"
        )
    if alpha is not None and not (0.0 <= alpha <= 1.0):
        raise ValueError(f"mixture_weights: alpha must be in [0, 1], got {alpha}")
    # the grouped frame is KB-sized but its lineage is the full corpus
    # scan; it feeds 2-3 consumers (totals, the α-power total, the
    # output join) — cut the lineage so the corpus is scanned ONCE
    # lazy pin (r12): every consumer (totals agg, α-power total, the
    # output join, or the target_shares collect) sits behind the same
    # final action or an earlier collect, and whichever runs first
    # materializes the pin — no standalone checkpoint job
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).alias("group_tokens"),
    ).localCheckpoint(eager=False)
    tot = per.agg(
        F.sum("group_tokens").alias("_total_tokens"),
        F.count(F.lit(1)).alias("_n_groups"),
    )
    out = per.crossJoin(F.broadcast(tot))
    if alpha is not None:
        # Σ share^α over the tiny per-group frame; target ∝ share^α.
        # try_divide + the POW of a NULL share keep zero-token groups
        # NULL rather than ANSI-crashing, mirroring the plain path.
        share = F.try_divide(F.col("group_tokens"), F.col("_total_tokens"))
        pow_tot = (
            out.select(F.pow(share, F.lit(float(alpha))).alias("_p"))
            .agg(F.sum("_p").alias("_pow_total"))
        )
        out = out.crossJoin(F.broadcast(pow_tot))
        target = F.try_divide(F.pow(share, F.lit(float(alpha))), F.col("_pow_total"))
    elif target_shares is None:
        target = 1.0 / F.col("_n_groups")
    else:
        # an incomplete share dict would silently emit NULL weights for
        # the missing groups — a typo'd mixture must fail, not under-
        # specify the resampling plan (groups are few: cheap collect)
        observed = {r[0] for r in per.select(group_col).collect()}
        missing = sorted(g for g in observed if g not in target_shares)
        if missing:
            raise ValueError(
                f"mixture_weights: target_shares missing groups {missing} "
                f"present in the corpus; give every group a share "
                f"(0.0 to drop it explicitly)"
            )
        mapping = F.create_map(
            *[x for k, v in target_shares.items() for x in (F.lit(k), F.lit(v))]
        )
        target = mapping[F.col(group_col)]
    # try_divide: a zero-token group (or an empty corpus) yields NULL
    # shares/weights instead of an ANSI DIVIDE_BY_ZERO crash
    actual = F.try_divide(F.col("group_tokens"), F.col("_total_tokens"))
    return out.select(
        group_col,
        "n_docs",
        F.col("group_tokens").cast("long").alias("group_tokens"),
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(F.try_divide(target, actual), 6).alias("weight"),
    )


def waterfill_allocation(
    caps: DataFrame,
    budget: DataFrame,
    group_col: str = "lang",
    cap_col: str = "available_tokens",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted WATERFILLING of a token budget across sources under
    availability caps — the allocation step `mixture_weights` stops
    short of: a target mixture says "30% of the budget from de", but a
    source can only supply what it HAS, and naive proportional
    allocation either overdraws small sources or silently wastes
    budget. Waterfilling is the standard fix (the Pile/ROOTS-style
    mixture construction): sources whose supply runs out at the common
    water level λ are CAPPED at their availability, and their unmet
    demand redistributes over the remaining sources in weight
    proportion — allocation_s = min(cap_s, λ·w_s) with λ solving
    Σ allocation = budget.

    INTEGER-EXACT by construction (this repo's oracle discipline, and
    the winsorize/novelty knife-edge lesson): the capped prefix is
    found by CROSS-MULTIPLIED integer comparisons — candidate prefix
    at row i (sources sorted by cap/weight ascending) is valid iff
    ``(B − C_{i−1})·w_i ≤ c_i·W_i`` and the predecessor fails the
    mirrored test — and uncapped allocations are
    ``((B − C)·w) div W`` (floor), so no float ever decides a
    boundary. Doubles appear only in the SORT key (cap/weight), where
    both engines compute the identical IEEE quotient. If the budget
    exceeds total availability every source caps (the shortfall is
    visible as Σ allocated < budget).

    Scale shape: ``caps`` is the SOURCE-COUNT-sized frame (the corpus
    work — one partial-agg'd token groupBy — happens before this);
    the windows here order dozens of rows, never data. ``budget`` is
    a 1-row frame with column ``budget`` (derive it from the same
    scan to stay engine-exact).

    Output: (group, available_tokens, weight, allocated_tokens,
    capped) — floor allocations, Σ ≤ budget with remainder < n_groups
    (documented; distribute it by any explicit policy downstream).
    """
    from pyspark.sql import Window

    from ..gates import gate_rows

    # Contract (ADVICE r10): a NULL or non-positive weight is a caller
    # bug, not a degenerate allocation — under nulls-first ordering a
    # NULL-weight source would sort ahead of every real ratio, be
    # granted its full cap as 'capped', and silently shrink everyone
    # else's budget. Raise in-plan instead; callers that want the
    # inner-join semantics filter unknown sources out BEFORE calling.
    caps = gate_rows(
        caps,
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0),
        f"waterfill_allocation: NULL or non-positive {weight_col} — "
        "filter unknown sources out before allocating",
    )

    ratio = F.col(cap_col).cast("double") / F.col(weight_col)
    wo = Window.orderBy(ratio, group_col)
    ord_df = (
        caps.crossJoin(F.broadcast(budget))
        .withColumn("_i", F.row_number().over(wo))
        .withColumn(
            "_cprev",
            F.coalesce(
                F.sum(cap_col).over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "_wsuf",
            F.sum(weight_col).over(
                wo.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            ),
        )
        .withColumn("_lagc", F.lag(cap_col).over(wo))
        .withColumn("_lagw", F.lag(weight_col).over(wo))
    )
    valid = (
        (F.col("budget") - F.col("_cprev")) * F.col(weight_col)
        <= F.col(cap_col) * F.col("_wsuf")
    ) & (
        (F.col("_i") == 1)
        | (
            (F.col("budget") - F.col("_cprev")) * F.col("_lagw")
            >= F.col("_lagc") * F.col("_wsuf")
        )
    )
    # min-of-struct orders by the first field, so this picks the
    # smallest valid prefix; an EMPTY valid set (budget ≥ Σ caps)
    # still aggregates to one NULL row, which the select below reads
    # as "every source capped" — a bare limit(1) would instead vanish
    # in the cross join and silently return zero rows
    pivot = (
        ord_df.filter(valid)
        .agg(
            F.min(
                F.struct(
                    F.col("_i").alias("_k"),
                    (F.col("budget") - F.col("_cprev")).alias("_num"),
                    F.col("_wsuf").alias("_den"),
                )
            ).alias("_p")
        )
        .select(
            F.col("_p._k").alias("_k"),
            F.col("_p._num").alias("_num"),
            F.col("_p._den").alias("_den"),
        )
    )
    return (
        ord_df.crossJoin(F.broadcast(pivot))
        .select(
            group_col,
            F.col(cap_col).cast("long").alias(cap_col),
            F.col(weight_col).cast("long").alias(weight_col),
            F.when(
                F.col("_k").isNull() | (F.col("_i") < F.col("_k")),
                F.col(cap_col),
            )
            .otherwise(
                F.least(
                    F.col(cap_col),
                    F.expr(f"(_num * {weight_col}) div _den"),
                )
            )
            .cast("long")
            .alias("allocated_tokens"),
            (F.col("_k").isNull() | (F.col("_i") < F.col("_k"))).alias(
                "capped"
            ),
        )
        .orderBy(group_col)
    )


def bigram_surprisal_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean bigram surprisal −ln p(w₂|w₁) under a
    corpus-self-fit add-α bigram model — one step up the CCNet/KenLM
    quality-filter ladder from ``unigram_surprisal_scores`` (a bigram LM
    catches word-salad documents whose unigram frequencies look normal).
    Returns (id, carry_cols…, bigram_surprisal); documents with fewer
    than 2 tokens produce no row.

    Model: p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V) with V = the
    context vocabulary size (distinct w₁ observed) — the documented
    smoothing denominator, computable from the bigram count table alone.

    Scale shape: ONE corpus scan builds the (doc, w₁, bigram) occurrence
    stream; the bigram count table comes off it with a grouped count,
    the context count table is DERIVED from the bigram table (a
    vocabulary-sized regroup, never a second corpus pass), and both join
    back by the strategy AQE picks from their measured sizes (broadcast
    while small, a hash-partitioned shuffle join at web-scale
    vocabularies), exactly like the unigram path. No UDF — ln/avg are
    codegen'd.
    """
    from ..functions.text import adjacent_token_pairs, tokens
    from ..io import ensure_parallelism, materialize

    # tokenize ONCE behind a projected attribute — inlining tokens()
    # into the pair-building HOF re-splits per element (O(tokens²)/doc,
    # the 5d161bd regression; see adjacent_token_pairs docstring).
    # ensure_parallelism: the documents source is often one parquet
    # file → this narrow heavy scan would otherwise run on ONE task.
    occ = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            tokens(text_col).alias("_toks"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.explode(adjacent_token_pairs(F.col("_toks"))).alias("o"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.col("o.w1").alias("w1"),
            F.concat_ws(" ", "o.w1", "o.w2").alias("bg"),
        )
    )
    # materialize the bigram table ONCE; the context table and vocab
    # size derive from it (vocabulary-sized regroups, never a second
    # corpus pass). Lazy pin: its input shuffle runs at construction,
    # the count stage with the first action.
    # Carry w1 through the groupBy (F.first is exact here: w1 is the
    # text before the separator space and whitespace tokens cannot
    # contain whitespace, so w1 is functionally determined by bg) — the
    # context regroup then never re-splits bg, keeping the repeated-
    # expensive-expr lint clean with NO extra pin (+0.5 s measured) and
    # no wider shuffle key (still hash(bg)).
    mat12 = materialize(
        occ.groupBy("bg").agg(
            F.count(F.lit(1)).alias("c12"), F.first("w1").alias("w1")
        ),
        eager=False,
    )
    c12 = mat12.drop("w1")
    c1 = mat12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("v"))
    a = F.lit(float(alpha))
    p = (F.col("c12") + a) / (F.col("c1") + a * F.col("v"))
    return (
        occ.join(c12, "bg")
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy(F.col(id_col), *[F.col(c) for c in carry_cols])
        .agg(F.avg(-F.log(p)).alias("bigram_surprisal"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    n_buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every ``raw``
    document by how target-like its hashed unigram features are,
    log w(doc) = Σ_tokens ln( p_target(bucket) / p_raw(bucket) ),
    with add-α smoothed bucket distributions fit on each corpus. A
    pipeline resamples raw docs ∝ exp(log_weight) (or keeps the top
    slice) to shift the pretraining mixture toward the target domain.
    Returns (id, carry_cols…, n_tokens, log_weight).

    Scale shape: the feature space is FIXED (``n_buckets``) no matter
    the corpus size — both distributions collapse to ``n_buckets``-row
    count tables (one grouped count per corpus), their smoothed
    log-ratio is a broadcast table built on ``spark.range(n_buckets)``
    (buckets with zero counts get the smoothing mass, never NULL), and
    scoring is one more raw-corpus scan joined against that broadcast.
    The md5 bucket hash is engine-portable, so the whole pass is
    oracle-checkable."""
    from .quality_model import hashed_feature_bucket

    spark = raw.sparkSession

    def _bucketed(df: DataFrame, *extra: Column) -> DataFrame:
        from ..functions.text import tokens

        return df.select(
            *extra, F.explode(tokens(text_col)).alias("word")
        ).select(*[c for c in extra], hashed_feature_bucket("word", n_buckets))

    def _counts(df: DataFrame, cnt_name: str) -> DataFrame:
        return _bucketed(df).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(cnt_name)
        )

    a = float(alpha)
    tc = _counts(target, "tc")
    rc = _counts(raw, "rc")
    # totals are 1-row frames; the ratio table is n_buckets rows
    t_tot = tc.agg(F.sum("tc").alias("tn"))
    r_tot = rc.agg(F.sum("rc").alias("rn"))
    ratio = (
        spark.range(n_buckets)
        .select(F.col("id").alias("bucket"))
        .join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + a)
                    / (F.col("tn") + a * n_buckets)
                )
                - F.log(
                    (F.coalesce(F.col("rc"), F.lit(0)) + a)
                    / (F.col("rn") + a * n_buckets)
                )
            ).alias("log_ratio"),
        )
    )
    occ = _bucketed(raw, F.col(id_col), *[F.col(c) for c in carry_cols])
    return (
        occ.join(F.broadcast(ratio), "bucket")
        .groupBy(F.col(id_col), *[F.col(c) for c in carry_cols])
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("log_ratio").alias("log_weight"),
        )
    )


def unigram_surprisal_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-document mean unigram surprisal −ln p(w) under a
    corpus-self-fit unigram model (the cheap stand-in for the KenLM
    perplexity filters of CCNet/Gopher). Returns
    (id, carry_cols…, surprisal).

    Scale switch: the vocab (word, count) frame is pinned (its total
    and the join both read it, and the token split runs once for it),
    and AQE broadcasts it onto the token stream from its measured size
    only while it is small; above its threshold — a web-scale corpus's
    unigram vocabulary easily exceeds any broadcast budget — the SAME
    plan runs a hash-partitioned shuffle join on the word key. No UDF
    anywhere — ln/avg are codegen'd.
    """
    from ..functions.text import tokens
    from ..io import materialize

    toks = docs.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.explode(tokens(text_col)).alias("word"),
    )
    vocab = materialize(
        toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")), eager=False
    )
    tot = vocab.agg(F.sum("cnt").alias("n"))
    return (
        toks.join(vocab, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col(id_col), *[F.col(c) for c in carry_cols])
        .agg(
            F.avg(-F.log(F.col("cnt").cast("double") / F.col("n"))).alias(
                "surprisal"
            )
        )
    )
