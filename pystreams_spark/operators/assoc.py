"""Market-basket co-occurrence mining (frequent pairs, confidence,
lift) — the 2-itemset core of association-rule mining (Agrawal &
Srikant's Apriori, 1994), SURVEY.md §2.K analytics surface.

The scale hazard is the pair self-join: a basket with m items emits
m·(m-1)/2 pairs, so one degenerate mega-basket (a crawler session with
10⁵ items) alone emits 5·10⁹ rows. Two structural guards keep the join
bill bounded at any corpus size:

1. **Apriori prefilter** — a pair can only reach ``min_support`` if
   BOTH items do, so items below support are dropped from baskets
   before any pairing. The frequent-item set is support-few by
   definition and broadcasts (the same shape as the hot-shingle guard
   in dedup — prune with a broadcast semi-join, never shuffle the
   facts for the filter).
2. **``max_basket_size`` cap** — baskets still above the cap after
   prefiltering are excluded (and should be: a basket containing
   everything says nothing about association). Refusing loudly via a
   reported count beats a silent 10⁹-row join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Frequent item pairs with support, confidence (max of the two
    directions), and lift, from a (basket, item) long table.

    Output: (item_a, item_b, pair_count, count_a, count_b, confidence,
    lift) for item_a < item_b, both items individually frequent and the
    pair itself ≥ ``min_support``. lift > 1 = positive association.

    Plan: distinct (basket, item) → per-item basket counts → broadcast
    semi-join keeps frequent items only → optional basket-size gate →
    pair self-join per basket → pair counts → broadcast item counts
    back for the ratios. The only corpus-sized shuffles are the two
    distinct/count groupBys and the pair aggregation; everything joined
    INTO the facts is support-few and broadcast."""
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    # the distinct (basket, item) frame feeds FIVE consumers (the
    # n_baskets action, item counts, the kept prune, and both sides of
    # the pair self-join) — materialize it once or every consumer
    # re-runs the scan+distinct (measured 4.9 s → ~2 s at sf0.1)
    b = (
        df.select(F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it"))
        .distinct()
        # lazy: the n_baskets count below materializes the pin
        .localCheckpoint(eager=False)
    )
    # n_baskets: the denominator of lift's expected co-occurrence
    n_baskets = b.select("_bk").distinct().count()
    # `frequent` feeds three consumers (the kept prune and both count
    # ratio joins): an aggregate of the pinned `b`, so each consumer
    # re-reads the pin, and AQE picks each join's strategy from the
    # finished aggregate's size
    frequent = (
        b.groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_ic"))
        .filter(F.col("_ic") >= min_support)
    )
    kept = b.join(frequent.select("_it"), "_it", "left_semi")
    if max_basket_size is not None:
        # anti-join against the OVER-cap baskets: mega-baskets are few
        # by the guard's own premise, so AQE broadcasts the exclusion
        # set — the complement (≈ every basket id) never materializes
        big = (
            kept.groupBy("_bk")
            .agg(F.count(F.lit(1)).alias("_bs"))
            .filter(F.col("_bs") > int(max_basket_size))
            .select("_bk")
        )
        kept = kept.join(big, "_bk", "left_anti")
    # the self-join reads `kept` twice and (with the cap) its lineage
    # holds a second aggregation over itself — cut it once
    kept = kept.localCheckpoint(eager=True)
    lhs = kept.select("_bk", F.col("_it").alias("item_a"))
    rhs = kept.select("_bk", F.col("_it").alias("item_b"))
    pairs = (
        lhs.join(rhs, "_bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_support)
    )
    ca = frequent.select(
        F.col("_it").alias("item_a"), F.col("_ic").alias("count_a")
    )
    cb = frequent.select(
        F.col("_it").alias("item_b"), F.col("_ic").alias("count_b")
    )
    out = pairs.join(ca, "item_a").join(cb, "item_b")
    conf = F.greatest(
        F.col("pair_count").cast("double") / F.col("count_a"),
        F.col("pair_count").cast("double") / F.col("count_b"),
    )
    lift = (F.col("pair_count").cast("double") * F.lit(float(n_baskets))) / (
        F.col("count_a").cast("double") * F.col("count_b")
    )
    return out.select(
        "item_a",
        "item_b",
        F.col("pair_count").cast("long").alias("pair_count"),
        F.col("count_a").cast("long").alias("count_a"),
        F.col("count_b").cast("long").alias("count_b"),
        F.round(conf, round_to).alias("confidence"),
        F.round(lift, round_to).alias("lift"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks 1990): adjacent word pairs whose co-occurrence beats the
    independence assumption — PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with
    all probabilities from the bigram stream. The vocabulary-building
    step that finds multi-word expressions ("new york", "machine
    learning") worth single tokens.

    ``min_count`` is the standard noise floor — a hapax pair has
    spuriously maximal PMI — and also the cost guard: the scored frame
    is the FILTERED bigram table, and the marginals stay
    vocabulary-sized. Scale shape: ONE corpus scan to the bigram
    stream, one grouped count (shuffle keys = distinct bigrams, not
    corpus rows), marginals derived from the count table (never a
    second corpus pass), joins back broadcast by AQE while small, and top-k
    (when requested) plans as TakeOrdered."""
    from ..functions.text import adjacent_token_pairs, tokens
    from ..io import ensure_parallelism

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    # tokenize ONCE behind a projected attribute (see
    # adjacent_token_pairs docstring — inline tokens() in the HOF is
    # O(tokens²)/doc)
    occ = (
        ensure_parallelism(df)
        .select(tokens(text_col).alias("_toks"))
        .select(F.explode(adjacent_token_pairs(F.col("_toks"))).alias("o"))
        .select("o.w1", "o.w2")
    )
    # the bigram count table feeds the marginals AND the scored output —
    # materialize once (vocabulary-sized)
    c12 = (
        occ.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .localCheckpoint(eager=True)
    )
    c1 = c12.groupBy("w1").agg(F.sum("pair_count").alias("_c1"))
    c2 = c12.groupBy("w2").agg(F.sum("pair_count").alias("_c2"))
    n = c12.agg(F.sum("pair_count").alias("_n"))
    scored = (
        c12.filter(F.col("pair_count") >= int(min_count))
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
    )
    pmi = F.log(
        F.col("pair_count").cast("double")
        * F.col("_n").cast("double")
        / (F.col("_c1").cast("double") * F.col("_c2").cast("double"))
    )
    out = scored.select(
        "w1",
        "w2",
        F.col("pair_count").cast("long").alias("pair_count"),
        F.round(pmi, round_to).alias("pmi"),
    )
    if top_k is not None:
        return out.orderBy(F.desc("pmi"), "w1", "w2").limit(int(top_k))
    return out
