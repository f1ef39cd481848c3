"""Deduplication operators for training-data pipelines (SURVEY.md §2.K).

Tiers, cheapest first:
- exact: byte-identical text → hash-groupBy, keep min id. One shuffle on
  a 64/128-bit key, never on the text itself.
- ngram-jaccard: exact pairwise Jaccard over word shingles — the
  oracle-checkable ground truth for near-dup; brute force, so gate to
  small inputs or pre-blocked candidate pairs.
- minhash: banded MinHash (``minhash_neardup_pairs``: b bands of r
  Arrow-kernel minhash rows, exact-Jaccard verify) — the 100 TB path.
  Cost scales with band-bucket collisions, not n².
- simhash: 64-bit simhash + ``banded_hamming_pairs``; cheap
  single-pass near-dup key.
- embedding: cosine-threshold pairs (see operators.similarity).

Cluster resolution (connected components over the duplicate-pair graph)
is ``cc_keep_min``: single-task union-find for small dup graphs,
alternating large-star/small-star contraction (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond") for big ones — fully
distributed, with per-round frames that SHRINK as edges collapse into
component-min stars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles
from ..functions.text_kernels import hashed_shingles_udf, simhash_from_text_udf
from ..io import broadcast_if_small, ensure_parallelism, materialize


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per distinct text. The groupBy key is the
    raw column here for oracle parity; ``exact_dedup_hashed`` shuffles a
    fixed-width hash instead (what you want at 100 TB)."""
    w = Window.partitionBy(text_col).orderBy(F.asc(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exact_dedup_hashed(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup whose wide shuffle moves xxhash64(text)+length — 16
    bytes/row — instead of full documents, while staying EXACT under
    hash collisions:

    1. one narrow pass keys every row (id, hash, len);
    2. the tiny key frame finds (hash, len) groups with >1 row — true
       duplicates plus any collisions; everything else (the bulk of a
       typical corpus) is a survivor with NO text movement at all;
    3. ONLY rows in multi-member groups — the duplicate candidates —
       re-shuffle with their text for the exact per-text min-id pick.

    So document bytes move for the duplicate-candidate slice only; the
    r4 runtime-metrics probe measures this (shuffle bytes ≪ corpus text
    bytes), where the previous form — window over (hash, len, text) —
    silently dragged every document through the exchange. The dup-key
    frame rides ``broadcast_if_small`` (falls back to a key-only
    shuffle join when dup cardinality is huge)."""
    keyed = df.withColumn("_h", F.xxhash64(text_col)).withColumn(
        "_len", F.length(text_col)
    )
    keys = keyed.select(id_col, "_h", "_len")
    dup_keys = broadcast_if_small(
        keys.groupBy("_h", "_len")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_h", "_len")
    )
    singles = keyed.join(dup_keys, ["_h", "_len"], "left_anti")
    cand = keyed.join(dup_keys, ["_h", "_len"], "left_semi")
    w = Window.partitionBy("_h", "_len", text_col).orderBy(F.asc(id_col))
    winners = (
        cand.repartition(F.col("_h"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return singles.unionByName(winners).drop("_h", "_len")


def duplicate_clusters_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-dup cluster report keyed by md5 (md5 is identical across
    engines → oracle-checkable, unlike xxhash64)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Exact word-n-gram Jaccard over all pairs (id_a < id_b).

    Brute force (O(n²) pairs) — the correctness baseline that MinHash
    approximates. Sizes computed on distinct shingle sets; the division
    is small-int/small-int → bit-identical across engines."""
    sh = df.select(F.col(id_col), shingles(text_col, n).alias("_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size(F.array_union("_sa", "_sb")).cast("double")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / union, round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_table(
    df: DataFrame, n: int, text_col: str, id_col: str, blocks: list
) -> DataFrame:
    """(id, blocks…, _sh: array<long>, _sz) — the checkpointed shingle
    table both inverted-index variants candidate-generate and verify
    against. Checkpointing means every downstream branch reads the
    materialized blocks instead of re-running the tokenize→hash kernel
    (2.3x measured at sf0.1, and at scale it halves the Python-worker
    load)."""
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            *blocks,
            hashed_shingles_udf(n)(F.col(text_col)).alias("_sh"),
        )
        .withColumn("_sz", F.size("_sh"))
        .localCheckpoint(eager=True)
    )


def _pair_score(metric: str, inter, sza, szb):
    """(column, name) for a set-overlap metric from intersection size
    and the two set sizes — the single point where the Jaccard and
    containment variants actually differ."""
    if metric == "jaccard":
        return inter / (sza + szb - inter), "jaccard"
    if metric == "containment":
        return inter / F.least(sza, szb), "containment"
    raise ValueError(f"unknown set-overlap metric {metric!r}")


def _verify_pairs_fullset(
    sh: DataFrame,
    cand: DataFrame,
    id_col: str,
    threshold: float,
    round_to: int,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact overlap score for each candidate (id_a, id_b) from the
    FULL shingle arrays — candidate generation may have seen only a
    subset of the postings (prefix / df-capped), the verify never does.
    The candidate frame rides ``broadcast_if_small``, so the
    corpus-sized shingle table is probed in place instead of shuffling
    by id."""
    sa = sh.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("_sa"),
        F.col("_sz").alias("_sza"),
    )
    sb = sh.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("_sb"),
        F.col("_sz").alias("_szb"),
    )
    j = broadcast_if_small(cand).join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    score, out_col = _pair_score(
        metric, inter, F.col("_sza").cast("double"), F.col("_szb").cast("double")
    )
    return (
        j.withColumn(out_col, F.round(score, round_to))
        # threshold the ROUNDED value, like ngram_jaccard_pairs — raw
        # would disagree with the brute-force baseline (and the DuckDB
        # oracle) exactly at rounding-boundary pairs
        .filter(F.col(out_col) >= threshold)
        .select("id_a", "id_b", out_col)
    )


def _verify_jaccard_pairs(
    sh: DataFrame,
    cand: DataFrame,
    id_col: str,
    threshold: float,
    round_to: int,
) -> DataFrame:
    return _verify_pairs_fullset(sh, cand, id_col, threshold, round_to, "jaccard")


def _shared_shingle_candidates(
    posts: DataFrame, blocks: list, id_col: str
) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing ≥1 posting key within a
    block — the candidate self-join every inverted-index variant
    (capped Jaccard, containment, prefix) builds from its own posting
    frame."""
    a = posts.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"_ba_{c}") for c in blocks],
        "_h",
    )
    b = posts.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"_bb_{c}") for c in blocks],
        "_h",
    )
    return (
        a.join(b, on="_h")
        .filter(_pair_cond(blocks))
        .select("id_a", "id_b")
        .distinct()
    )


def _shared_shingle_counts(
    posts: DataFrame, blocks: list, id_col: str
) -> DataFrame:
    """(id_a, id_b, _sza, _szb, _c) — shared-shingle counts per pair,
    for the uncapped paths that score straight from counts + set sizes
    (no verify join needed: every posting participated)."""
    a = posts.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"_ba_{c}") for c in blocks],
        F.col("_sz").alias("_sza"),
        "_h",
    )
    b = posts.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"_bb_{c}") for c in blocks],
        F.col("_sz").alias("_szb"),
        "_h",
    )
    return (
        a.join(b, on="_h")
        .filter(_pair_cond(blocks))
        .groupBy("id_a", "id_b", "_sza", "_szb")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def _score_shared_counts(
    shared: DataFrame, threshold: float, round_to: int, metric: str
) -> DataFrame:
    score, out_col = _pair_score(
        metric,
        F.col("_c").cast("double"),
        F.col("_sza").cast("double"),
        F.col("_szb").cast("double"),
    )
    return (
        shared.withColumn(out_col, F.round(score, round_to))
        # threshold the ROUNDED value — see _verify_pairs_fullset
        .filter(F.col(out_col) >= threshold)
        .select("id_a", "id_b", out_col)
    )


def _pair_cond(blocks: list):
    cond = F.col("id_a") < F.col("id_b")
    for c in blocks:
        cond = cond & (F.col(f"_ba_{c}") == F.col(f"_bb_{c}"))
    return cond


def _hot_shingle_keys(
    sh: DataFrame, posts: DataFrame, blocks: list, max_df: int | float
) -> DataFrame:
    """(blocks…, _h) of shingles whose per-block document frequency
    exceeds ``max_df`` (absolute count, or fraction of the block's doc
    count). The df aggregation is the only posting-sized job — a
    partial-agg'd groupBy whose shuffle carries distinct (block,
    shingle) keys; its hot survivors are boilerplate-few."""
    dfreq = posts.groupBy(*blocks, "_h").agg(F.count(F.lit(1)).alias("_df"))
    if isinstance(max_df, float):
        if not 0.0 < max_df <= 1.0:
            raise ValueError(
                f"max_df as a fraction must be in (0, 1], got {max_df}"
            )
        per_block = sh.groupBy(*blocks).agg(F.count(F.lit(1)).alias("_nb"))
        if blocks:
            dfreq = dfreq.join(broadcast_if_small(per_block), blocks)
        else:
            dfreq = dfreq.crossJoin(F.broadcast(per_block))
        return dfreq.filter(
            F.col("_df") > F.ceil(F.lit(max_df) * F.col("_nb"))
        ).select(*blocks, "_h")
    return dfreq.filter(F.col("_df") > int(max_df)).select(*blocks, "_h")


def ngram_jaccard_pairs_inverted(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple = (),
    round_to: int = 6,
    max_df: int | float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted index — same output as
    ``ngram_jaccard_pairs`` (for threshold > 0), radically cheaper.

    Plan: shingle+hash in one Arrow kernel (distinct strings → distinct
    64-bit keys) → explode postings → self-equi-join on (blocks…, shingle) → count
    shared shingles per pair → Jaccard from counts and set sizes. Pairs
    sharing zero shingles never materialize, so cost is Σ df(shingle)²
    instead of |docs|² — the standard IR trick that survives 100 TB.
    Measured at sf0.1: 272 s (brute force) → seconds (inverted).

    ``max_df`` is the hot-shingle guard for boilerplate-heavy corpora,
    where one shingle shared by 1M docs would alone emit 10¹² join
    rows: shingles with document frequency above the cap (an absolute
    count, or a fraction of the block's doc count) are EXCLUDED from
    candidate generation, and every surviving candidate is then scored
    on its FULL shingle sets — so each reported pair's Jaccard is still
    exact. What the cap sacrifices is pairs whose every shared shingle
    is hot: a pair similar only through boilerplate can be missed. For
    guaranteed-exact output above the threshold at bounded cost, use
    ``ngram_jaccard_pairs_prefix`` instead. For candidate-cost
    triage before picking a cap, see ``shingle_df_profile``.
    """
    blocks = list(block_cols)
    sh = _shingle_table(df, n, text_col, id_col, blocks)
    posts = sh.select(id_col, *blocks, "_sz", F.explode("_sh").alias("_h"))

    if max_df is not None:
        # hot shingles are FEW by definition (df above the cap), so the
        # exclusion is a broadcast ANTI-join against the hot-key set —
        # the posting table itself never shuffles for the guard
        hot_keys = _hot_shingle_keys(sh, posts, blocks, max_df)
        posts = posts.join(
            broadcast_if_small(hot_keys), [*blocks, "_h"], "left_anti"
        )
        cand = _shared_shingle_candidates(posts, blocks, id_col)
        return _verify_pairs_fullset(
            sh, cand, id_col, threshold, round_to, "jaccard"
        )

    shared = _shared_shingle_counts(posts, blocks, id_col)
    return _score_shared_counts(shared, threshold, round_to, "jaccard")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple = (),
    round_to: int = 6,
    hot_df: int | float = 0.05,
    order_by: str = "df",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri et
    al. 2006 / Bayardo et al. 2007 "AllPairs" — public set-similarity-
    join literature): same output as ``ngram_jaccard_pairs`` for any
    threshold τ > 0, with the hot-shingle df² blowup structurally
    removed rather than capped.

    Why it stays exact: under a GLOBAL total order on shingles, two
    sets with |A∩B| ≥ α must share an element among each set's first
    |X| − α + 1 elements; J(A,B) ≥ τ implies |A∩B| ≥ ⌈τ·|X|⌉ for both
    endpoints, so indexing only each doc's first
    |X| − ⌈τ·|X|⌉ + 1 shingles finds every qualifying pair — for ANY
    total order. The order used here is (is_hot, hash): shingles whose
    per-block df exceeds ``hot_df`` sort LAST, so a boilerplate shingle
    enters a doc's prefix only when the doc is itself nearly all
    boilerplate — the join cost becomes Σ df_prefix², dominated by
    rare shingles. Candidates are then scored on their full sets
    (``_verify_jaccard_pairs``), so a false candidate costs one array
    intersect, never a wrong answer.

    Using hot-membership instead of full df-rank for the order is the
    key cost saving: the hot set is boilerplate-few and broadcasts, so
    the prefix is built by array ops on the checkpointed shingle table
    — no posting-table join, no per-doc regroup. Total cost: one df
    aggregation (partial-agg'd, distinct (block, shingle) keys), the
    prefix self-join, and the broadcast verify probe. Prefer this over
    ``ngram_jaccard_pairs_inverted`` whenever τ ≳ 0.3 or the corpus
    carries boilerplate; at very low τ the prefix approaches the whole
    set and the plain inverted index (optionally df-capped) costs the
    same with fewer stages.

    ``order_by`` picks the global prefix order (r8):

    - ``"hot"``: the (is_hot, hash) binary order above —
      zero extra shuffles, built by broadcast array ops. Right when
      high-df shingles are boilerplate-FEW (its design target). When
      sharing is PERVASIVE (a large fraction of all shingles carries
      corpus-growing df — e.g. templated corpora), the hot set itself
      becomes corpus-sized and the per-row broadcast-array scan
      dominates wall time while barely pruning (measured r8, SCALE.md:
      10× shared-content run, 179 s wall, shuffle exponent 1.32 —
      worse than unguarded).
    - ``"df"`` (default since r8): the canonical AllPairs/PPJoin ascending-df order —
      every shingle ranked by its exact (block-scoped) document
      frequency, so prefixes hold each doc's RAREST shingles and
      Σ df_prefix² is minimized over all orders of this family. Costs
      two extra LINEAR posting-table shuffles (df join + per-doc
      regroup) and removes the quadratic candidate term — the right
      trade exactly when content repeats at scale (measured r8:
      shuffle exponent back to ≈1, SCALE.md). Output is identical
      either way (any total order is exact). Measured r8 it also wins
      the UNIQUE-content regime (69 vs 83 MB shuffle, equal wall at
      10×), hence the default.
    """
    if not threshold > 0.0:
        raise ValueError(
            "ngram_jaccard_pairs_prefix requires threshold > 0 "
            "(prefix filtering has no pruning power at τ = 0)"
        )
    if order_by not in ("hot", "df"):
        raise ValueError(f"order_by must be 'hot' or 'df', got {order_by!r}")
    blocks = list(block_cols)
    sh = _shingle_table(df, n, text_col, id_col, blocks)
    posts = sh.select(id_col, *blocks, F.explode("_sh").alias("_h"))
    if order_by == "df":
        # per-posting df via a partition-only window (r13, guide §2.4
        # — the same rewrite as r12's first-seen novelty): the
        # groupBy(_h).count + join-back form paid TWO exchanges of the
        # posting table (one for the aggregate, one for the join's
        # probe side) plus the join itself; one window over (_h)
        # attaches the identical integer count in a single exchange.
        # (_df, h) stays a global function of the shingle, so the
        # order is consistent corpus-wide and the prefix theorem
        # applies unchanged.
        ordered_tbl = (
            posts.withColumn(
                "_df",
                F.count(F.lit(1)).over(Window.partitionBy(*blocks, "_h")),
            )
            .groupBy(id_col, *blocks)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_df", "_h"))
                ).alias("_ordst")
            )
        )
        sz = F.size("_ordst")
        plen = (sz - F.ceil(F.lit(float(threshold)) * sz) + 1).cast("int")
        pre = ordered_tbl.select(
            id_col,
            *blocks,
            F.explode(
                F.slice(
                    F.transform("_ordst", lambda x: x["_h"]), F.lit(1), plen
                )
            ).alias("_h"),
        )
        cand = _shared_shingle_candidates(pre, blocks, id_col)
        return _verify_pairs_fullset(
            sh, cand, id_col, threshold, round_to, "jaccard"
        )
    hot = _hot_shingle_keys(sh, posts, blocks, hot_df).groupBy(*blocks).agg(
        F.collect_list("_h").alias("_hot")
    )
    if blocks:
        shx = sh.join(F.broadcast(hot), blocks, "left")
    else:
        # global agg: always exactly one row, even with zero hot keys
        shx = sh.crossJoin(F.broadcast(hot))
    empty = F.array().cast("array<bigint>")
    hot_arr = F.coalesce(F.col("_hot"), empty)
    # global (is_hot, hash) order: sorted cold shingles, then sorted hot
    ordered = F.concat(
        F.array_sort(F.array_except("_sh", hot_arr)),
        F.array_sort(F.array_intersect("_sh", hot_arr)),
    )
    # prefix length |X| − ⌈τ·|X|⌉ + 1
    plen = (
        F.col("_sz") - F.ceil(F.lit(float(threshold)) * F.col("_sz")) + 1
    ).cast("int")
    pre = shx.select(
        id_col,
        *blocks,
        F.explode(F.slice(ordered, F.lit(1), plen)).alias("_h"),
    )
    cand = _shared_shingle_candidates(pre, blocks, id_col)
    return _verify_pairs_fullset(sh, cand, id_col, threshold, round_to, "jaccard")


def ngram_novelty_scores(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document n-gram NOVELTY (r8): the fraction of a document's
    distinct word n-grams that no LOWER-id document contains — the
    memorization-risk / marginal-content profile a curation pass reads
    before a near-dup threshold is even chosen (a doc with novelty
    0.1 is 90 % re-used text even if no single pair crosses a Jaccard
    cut; training on it mostly re-weights existing content). Returns
    (id, n_grams, novel_grams, novelty ∈ [0,1]).

    Scale shape: explode distinct grams (corpus-sized, LINEAR), one
    partial-agg'd groupBy gram → min(id) (distinct-gram keys), one
    gram-keyed join back (co-partitioned with the agg — AQE reuses the
    exchange), one per-doc agg. No pairwise term anywhere — novelty is
    a first-seen property, so cost is Σ|grams|, not Σ df².

    Gram construction is STRING n-grams (space-joined token windows;
    short docs yield their full token string as one gram) — chosen
    over hashed shingles so the DuckDB oracle can replay the exact
    equivalence classes. ``hash_grams=True`` is the PRODUCTION path
    for that recipe (r8 verdict #2): ``xxhash64`` collapses each gram
    to 8 bytes BEFORE the explode, so the groupBy/join shuffle moves
    fixed-width longs instead of corpus-length strings — the r8 curve
    measured a 1.12 shuffle-BYTE exponent in string mode purely
    because grams lengthen with the fixture corpus; hashing removes
    that term (semantics unchanged up to 64-bit collisions, ~N²/2⁶⁵
    expected across distinct grams — zero at any real corpus size
    worth naming). The registered oracle query stays string mode;
    ``test_ngram_novelty_hashed_matches_string`` pins the two modes
    equal on real data."""
    from ..functions.text import tokens

    base = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    # bind _toks as a column BEFORE the lambda: an interpreted HOF
    # re-evaluates free expressions per element (W_REPEATED_EXPR)
    grams = base.select(
        id_col,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("_toks") - (n - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
            )
        ).alias("_grams"),
    )
    if hash_grams:
        # hash INSIDE the array (still one row per doc), then explode:
        # the exploded frame — the input to both shuffles — is born
        # 8-byte-wide and no string gram ever crosses an exchange
        grams = grams.select(
            id_col,
            F.transform("_grams", lambda g: F.xxhash64(g)).alias("_grams"),
        )
    posts = grams.select(id_col, F.explode("_grams").alias("_g"))
    # first-seen via a partition-only window min (r12): ONE shuffle of
    # the exploded gram table instead of groupBy(min) + a gram-keyed
    # join back over the same rows — the min over an unordered gram
    # partition is exactly the old join's _first, so results are
    # bit-identical while the plan drops the aggregate + sort-merge.
    from pyspark.sql import Window

    first_w = F.min(id_col).over(Window.partitionBy("_g")).alias("_first")
    return (
        posts.select(id_col, first_w)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("_first") == F.col(id_col)).cast("long")
            ).alias("novel_grams"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("novel_grams") / F.col("n_grams"), 6),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple = (),
    round_to: int = 6,
    max_df: int | float | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs via the shared inverted index:
    C(A,B) = |A∩B| / min(|A|,|B|) (Broder's asymmetric containment,
    folded over the smaller set so one score covers both directions).

    The near-dup measure Jaccard structurally misses: a short document
    quoted whole inside a long one has J ≈ |A|/|B| → 0 but C = 1. Real
    curation pipelines run BOTH — Jaccard for same-length near-dups,
    containment for quote/subset inclusion (the 'this doc is a chunk of
    that doc' case that plagues scraped corpora).

    Plan shape is identical to ``ngram_jaccard_pairs_inverted``: one
    Arrow shingle kernel into the checkpointed shingle table, explode
    to postings, self-equi-join on (blocks…, shingle), count shared
    shingles per pair, score from counts + set sizes. Cost Σ df² — and
    because high-containment pairs must share most of the SMALL side's
    set, candidate generation never needs more pruning than Jaccard
    does. ``max_df`` applies the same hot-shingle guard (candidates
    whose every shared shingle is boilerplate can be missed; surviving
    pairs are re-scored on FULL sets so reported scores stay exact).

    Prefix filtering is deliberately NOT offered here: its pruning
    bound derives each doc's prefix length from its OWN set size, which
    is only valid when the intersection bound scales with both sides
    (Jaccard); containment's bound scales with min(|A|,|B|), unknown at
    index time, so the prefix trick would silently drop qualifying
    pairs."""
    blocks = list(block_cols)
    sh = _shingle_table(df, n, text_col, id_col, blocks)
    posts = sh.select(id_col, *blocks, "_sz", F.explode("_sh").alias("_h"))

    if max_df is not None:
        hot_keys = _hot_shingle_keys(sh, posts, blocks, max_df)
        posts = posts.join(
            broadcast_if_small(hot_keys), [*blocks, "_h"], "left_anti"
        )
        cand = _shared_shingle_candidates(posts, blocks, id_col)
        return _verify_pairs_fullset(
            sh, cand, id_col, threshold, round_to, "containment"
        )

    shared = _shared_shingle_counts(posts, blocks, id_col)
    return _score_shared_counts(shared, threshold, round_to, "containment")


def shingle_df_profile(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
) -> DataFrame:
    """Document-frequency histogram of shingles in log₂ buckets, with
    each bucket's Σ df² — the inverted-index join-row bill. Run this
    before picking ``max_df``: the top buckets' pair_cost column IS the
    boilerplate blowup the cap removes."""
    posts = (
        ensure_parallelism(df)
        .select(hashed_shingles_udf(n)(F.col(text_col)).alias("_sh"))
        .select(F.explode("_sh").alias("_h"))
    )
    dfreq = posts.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    bucket = F.least(
        F.floor(F.log2(F.col("_df").cast("double"))).cast("int"),
        F.lit(n_buckets - 1),
    )
    return (
        dfreq.groupBy(bucket.alias("df_bucket_log2"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.max("_df").alias("max_df"),
            F.sum(F.col("_df") * F.col("_df")).alias("pair_cost"),
        )
        .orderBy("df_bucket_log2")
    )


def cross_source_shingle_overlap(
    df: DataFrame,
    n: int = 5,
    source_col: str = "source",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Content-overlap matrix between sources: for each source pair
    (a < b), how many distinct word-``n``-grams they share, and what
    fraction of each side's distinct grams that is — the 'which feeds
    resell each other's content' audit a curation team runs before
    paying twice for the same crawl. Exact-dup matrices miss this
    (providers re-chunk and lightly edit); shingle overlap doesn't.

    Scale shape: ONE distinct (source, gram) aggregation (key-only
    shuffle — text never moves), per-source totals partial-agg'd off
    it, then a self-equi-join on the gram key. Per-gram cost is
    |sources carrying it|² — and source counts are FEW by definition
    (tens, not millions), so the join bill is ≤ |sources|²/2 rows per
    distinct gram, with no df guard needed. The distinct frame is
    materialized once for its three consumers. Grams are built by the
    Arrow shingle kernel (the overlap COUNTS only need gram identity,
    and the whole Jaccard oracle family already relies on the kernel's
    injectivity), so the distinct shuffles 8-byte keys, never gram
    strings — measured 4.3 s → 2.4 s at sf0.1."""
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(source_col).alias("_src"),
            hashed_shingles_udf(n)(F.col(text_col)).alias("_g"),
        )
        .select("_src", F.explode("_g").alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = sh.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col("_src").alias("source_a"), "g")
    b = sh.select(F.col("_src").alias("source_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = broadcast_if_small(
        tot.select(F.col("_src").alias("source_a"), F.col("_n").alias("n_grams_a"))
    )
    tb = broadcast_if_small(
        tot.select(F.col("_src").alias("source_b"), F.col("_n").alias("n_grams_b"))
    )
    return (
        shared.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_grams_a").cast("long").alias("n_grams_a"),
            F.col("n_grams_b").cast("long").alias("n_grams_b"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_grams_a"), round_to
            ).alias("frac_of_a"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_grams_b"), round_to
            ).alias("frac_of_b"),
        )
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs = docs sharing any of ``bands`` equal-width
    bands of their 64-bit simhash (4 × 16 bits by default: a shared band
    bounds the Hamming distance by the other 48 bits). Banding and the
    XOR/bit_count verify are ``banded_hamming_pairs``; each pair carries
    its signature ``hamming`` distance (int) as a self-check column —
    quality drift shows up as changed values in rows-only checks."""
    sig = ensure_parallelism(df).select(
        F.col(id_col), simhash_from_text_udf(n)(F.col(text_col)).alias("_sig")
    ).localCheckpoint(eager=True)
    band_bits = 64 // bands
    return banded_hamming_pairs(
        sig,
        id_col=id_col,
        bands=bands,
        band_bits=band_bits,
        max_hamming=64 - band_bits,
    ).withColumn("hamming", F.col("hamming").cast("int"))


def _cc_union_find_one_task(edges: DataFrame) -> DataFrame:
    """Connected components of a SMALL edge list in one executor task:
    coalesce(1) + union-find with path compression, roots relabeled to
    the component min. Runs executor-side (no driver collect); the edge
    list must already fit one task (callers gate on an edge count)."""

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                s, d = int(s), int(d)
                parent.setdefault(s, s)
                parent.setdefault(d, d)
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[max(rs, rd)] = min(rs, rd)
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {"node": nodes, "label": [find(x) for x in nodes]}
            )

    return edges.coalesce(1).mapInPandas(uf, "node long, label long")


def _cc_alternating_stars(
    edges: DataFrame,
    max_rounds: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of a LARGE edge list via alternating
    large-star / small-star contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond", Algorithm 2).

    Why this over min-label propagation: propagation re-joins a
    constant-size label frame against the full edge list every round.
    Star contraction rewrites the EDGE SET itself — each round
    re-points nodes at their neighborhood minimum, so edges collapse
    toward component-min stars and the shuffled frames shrink as
    rounds proceed. Converges in O(log² n) rounds (a handful in
    practice); two shuffle rounds per iteration (one groupBy+join per
    star step). Returns (node, label) for every node in ``edges``.

    large-star(a): every neighbor b > a re-points at
    m = min(Γ(a) ∪ {a}). small-star(u): every smaller neighbor (and u
    itself) re-points at the minimum smaller neighbor. Both preserve
    connectivity (paper, Lemmas 1–2); the fixed point is a star per
    component centered at its minimum node.
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
    )
    e = materialize(e, checkpoint_dir)
    all_nodes = materialize(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    # convergence = unchanged edge set; one cheap aggregate per round
    # (count + order-independent XOR-of-hashes) instead of a set-compare
    # join. bit_xor cannot overflow (ANSI-safe), unlike sum(xxhash64),
    # and stays order-independent; NOT try_sum — that returns NULL on
    # overflow, so successive signatures would compare equal and the
    # loop would terminate before convergence.
    sig = tuple(e.agg(F.count("*"), F.bit_xor(F.xxhash64("u", "v"))).first())
    for _ in range(max_rounds):
        bi = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = bi.groupBy("u").agg(F.min("v").alias("_m"))
        large = (
            bi.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("_m"), F.col("u")).alias("v"),
            )
            .distinct()
        )
        large = materialize(large, checkpoint_dir)
        smin = large.groupBy("u").agg(F.min("v").alias("_m"))
        e = (
            large.join(smin, "u")
            .select(F.col("v").alias("n"), F.col("_m").alias("m"))
            .unionAll(smin.select(F.col("u").alias("n"), F.col("_m").alias("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        e = materialize(e, checkpoint_dir)
        new_sig = tuple(e.agg(F.count("*"), F.bit_xor(F.xxhash64("u", "v"))).first())
        if new_sig == sig:
            break
        sig = new_sig
    # fixed point: (non-root → component-min) star edges. min() guards
    # the (terminated-at-max_rounds, not-yet-star) case conservatively.
    parents = e.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("node"), "label"
    )
    return all_nodes.join(parents, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def cc_keep_min(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    small_graph_edges: int = 2_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over duplicate pairs → survivor set.

    Adaptive physical strategy, mirroring how production dedup handles
    the dup graph (always orders of magnitude smaller than the corpus):
    one count of the deduped edge list decides between (a) small graph →
    union-find in a single executor task (2 jobs total), or (b) big
    graph → alternating large-star/small-star contraction
    (``_cc_alternating_stars``), whose per-round frames shrink as the
    graph collapses. Both run fully executor-side.
    Returns (id, cluster_id); survivors are rows with id == cluster_id.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    # lazy: the branch-deciding count() below materializes the pin in
    # its own job — one driver barrier instead of two
    edges = materialize(edges, checkpoint_dir, eager=False)
    # propagate labels only over nodes that occur in edges — isolated
    # nodes are their own cluster and rejoin at the end. The per-round
    # frames then scale with |dup graph|, not |corpus| (dup graphs are
    # tiny relative to 100 TB corpora).
    edge_nodes = edges.select(F.col("src").alias("node")).distinct()
    if edges.count() <= small_graph_edges:
        labels = _cc_union_find_one_task(edges).localCheckpoint(eager=False)
    else:
        labels = _cc_alternating_stars(edges, checkpoint_dir=checkpoint_dir)
    edge_labels = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )
    isolated = all_ids.select(F.col(id_col)).join(
        edge_nodes.withColumnRenamed("node", id_col), id_col, "left_anti"
    )
    return edge_labels.unionByName(
        isolated.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    )


def _banded_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands_col: str = "_bands"
) -> DataFrame:
    """(id, array<long> band sigs) → distinct candidate pairs (id_a < id_b)
    sharing any (band, sig). The only shuffle is the equi-join on the
    (band, sig) key — at 100 TB this moves 12 bytes/posting, never text."""
    banded = sigs.select(id_col, F.posexplode(bands_col).alias("band", "sig"))
    other = banded.select(F.col(id_col).alias("id_b"), "band", "sig")
    return (
        banded.withColumnRenamed(id_col, "id_a")
        .join(other, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _minhash_bands_udf(bands: int, rows_per_band: int, seed: int):
    """Vectorized kernel: array<long> shingle hashes → array<long> of
    ``bands`` band signatures (each = hash of ``rows_per_band`` minhash
    values under distinct permutation salts).

    Why a kernel: k permutation-mins per row would be k interpreted HOF
    traversals in Column algebra — and worse, CollapseProject inlines
    the (expensive) shingle expression into every one of the k
    signature expressions, recomputing it k times (measured: 21 s at
    sf0.1 vs ~2 s here). splitmix64 is the
    permutation mixer — deterministic, seeded, vectorized.
    """
    import numpy as np
    import pandas as pd

    from ..functions.text_kernels import _band_sigs_from_hashes

    k = bands * rows_per_band
    rng = np.random.RandomState(seed)
    salts = rng.randint(0, 2**63 - 1, size=k, dtype=np.int64).astype(np.uint64)

    def kernel(hashes):
        lens = np.array([0 if h is None else len(h) for h in hashes], dtype=np.int64)
        if len(lens) == 0 or lens.sum() == 0:
            return pd.Series([None] * len(hashes))
        # flatten all rows into one array; per-row mins via reduceat —
        # no per-row Python loop (the loop version cost ~1 ms/row)
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hashes if h is not None and len(h)]
        ).astype(np.uint64)
        band_sigs = _band_sigs_from_hashes(flat, lens, salts, bands, rows_per_band)
        out = np.empty(len(hashes), dtype=object)
        nz = lens > 0
        for i in np.where(nz)[0]:
            out[i] = band_sigs[i].tolist()
        return pd.Series(out)

    return F.pandas_udf(kernel, "array<long>")


def simhash_deterministic_candidates(
    df: DataFrame,
    n: int = 3,
    bands: int = 4,
    band_bits: int = 15,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ORACLE-GRADE SimHash (r9 — the deterministic-anchor recipe once
    more): a 60-bit signature from per-gram md5 values with explicit
    bit voting, banded candidates, and bit_count-XOR Hamming verify —
    every stage plain integer Column algebra an SQL engine replays
    exactly (no engine hash, no Arrow kernel).

    Construction, identical in both engines: gram value v = first 60
    bits of md5(space-joined word n-gram); signature bit b = 1 iff
    Σ over the doc's DISTINCT grams of (2·((v≫b)∧1) − 1) > 0 (ties →
    0, fixed in both engines); candidates share any of ``bands``
    ``band_bits``-wide signature slices; pairs keep
    hamming = bit_count(sig_a ⊕ sig_b) ≤ ``max_hamming``.

    Scale shape: the voting is ``60·|grams|`` partial-aggregated adds
    behind ONE per-doc groupBy (no row explosion — the 60 sums are
    agg expressions, not rows), the band join shuffles (band, value,
    id) triples, and the verify joins two 8-byte signatures per
    candidate. The xxhash64+numpy `simhash_candidates` stays the
    production path (one kernel pass beats 60 agg expressions); this
    anchors the voting and banding semantics under a value hash."""
    from ..functions.text import tokens

    import functools
    import operator

    base = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    grams = base.select(
        id_col,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("_toks") - (n - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
            )
        ).alias("_grams"),
    )
    gv = grams.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.transform(
                    "_grams",
                    lambda g: F.conv(
                        F.substring(F.md5(g), 1, 15), 16, 10
                    ).cast("long"),
                )
            )
        ).alias("_v"),
    )
    nbits = bands * band_bits
    votes = gv.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright("_v", b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"_b{b}")
            for b in range(nbits)
        ]
    )
    sig_expr = functools.reduce(
        operator.add,
        [
            F.shiftleft((F.col(f"_b{b}") > 0).cast("long"), b)
            for b in range(nbits)
        ],
    )
    sig = votes.select(id_col, sig_expr.alias("_sig")).localCheckpoint(
        eager=True
    )
    return banded_hamming_pairs(
        sig,
        id_col=id_col,
        sig_col="_sig",
        bands=bands,
        band_bits=band_bits,
        max_hamming=max_hamming,
    )


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "_sig",
    bands: int = 4,
    band_bits: int = 15,
    max_hamming: int = 8,
) -> DataFrame:
    """Banded-Hamming candidate generation + verify over ANY integer
    bit-signature column (r10 — factored out of
    ``simhash_deterministic_candidates`` so the perceptual-hash image
    dedup in ``operators/imagehash.py`` rides the identical machinery):
    candidates share any of ``bands`` ``band_bits``-wide signature
    slices (a pair within Hamming distance d < bands survives by
    pigeonhole); pairs keep hamming = bit_count(sig_a ⊕ sig_b) ≤
    ``max_hamming``. Scale shape: the band join shuffles (band, value,
    id) triples — never all pairs — and the verify joins two 8-byte
    signatures per candidate. Pure integer Column algebra, SQL-
    replayable (both the simhash and image-neardup oracles unroll it).
    ``sig`` should be materialized by the caller if it is expensive to
    recompute (it is consumed three times: two band sides + verify)."""
    mask = (1 << band_bits) - 1
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("_band"),
                        F.shiftright(sig_col, t * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("_val"),
                    )
                    for t in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_b._band", "_b._val")
    other = banded.select(
        F.col(id_col).alias("id_b"), "_band", "_val"
    )
    pairs = (
        banded.withColumnRenamed(id_col, "id_a")
        .join(other, ["_band", "_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("_sa"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("_sb"))
    return (
        sa.join(broadcast_if_small(pairs), "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


_MINHASH_P = 2147483647  # 2^31 − 1 (Mersenne prime): universal-hash modulus


def minhash_det_constants(k: int, p: int = _MINHASH_P) -> list[tuple[int, int]]:
    """k md5-derived (a, b) universal-hash constants for the
    ORACLE-GRADE deterministic MinHash (r9, r8 verdict #6 — the ANN
    trio's recipe applied to banding): a ∈ [1, p−1], b ∈ [0, p−1],
    both from the first 60 bits of md5 over a fixed salt. Pure
    hashlib — the constants are LITERALS in both the Spark plan and
    the DuckDB oracle, so engine-portability is by construction."""
    import hashlib

    out = []
    for j in range(k):
        a = int(hashlib.md5(f"minhash-a:{j}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.md5(f"minhash-b:{j}".encode()).hexdigest()[:15], 16)
        out.append((a % (p - 1) + 1, b % p))
    return out


def minhash_deterministic_candidates(
    df: DataFrame,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Banded MinHash whose SIGNATURE/BAND construction is replayable
    as DuckDB CTEs (r9, r8 verdict #6) — so the candidate set itself
    gets a full value-hash verdict, not just the post-verify pairs
    (``minhash_banded_neardup``'s oracle is the naive all-pairs
    exact-Jaccard, a valid equality only while every fixture pair sits
    at J ≥ 0.9 where banding recall ≈ 1; THIS query's oracle replays
    the banding, so parity holds at any J).

    Construction, identical in both engines:
    - gram value v = first 60 bits of md5(space-joined word n-gram),
      one md5 per distinct gram per doc (the value is reused for the
      exact-Jaccard verify, so gram strings never touch a shuffle);
    - permutation j: h_j = (a_j·(v mod p) + b_j) mod p with p = 2³¹−1
      and md5-derived literal constants (``minhash_det_constants``) —
      the classic universal-hash MinHash, no engine RNG anywhere;
    - signature_j(doc) = min over the doc's grams of h_j;
    - band key (rows_per_band ≤ 2) packs the band's minima into one
      bigint: h·p + h′ < 2⁶² — an equi-join key, no string digests;
    - candidates = distinct (id_a < id_b) sharing ≥ 1 band key, with
      ``n_bands_shared`` kept as evidence, then exact Jaccard over the
      60-bit gram values (collision odds 2⁻⁶⁰ per pair, identical in
      both engines by construction).

    Scale shape: one md5 pass + k literal-arithmetic min-aggs (one
    shuffle of partial minima), a (band, key)-keyed self-join whose
    row bill is the band-collision count (the LSH design parameter),
    and a broadcast-candidate verify. The engine-seeded Arrow-kernel
    ``minhash_neardup_pairs`` remains the production path; this is the
    correctness anchor."""
    if rows_per_band not in (1, 2):
        raise ValueError(
            "minhash_deterministic_candidates: rows_per_band must be 1 or "
            "2 — the band key packs r 31-bit minima into one 62-bit bigint"
        )
    from ..functions.text import tokens

    p = _MINHASH_P
    k = bands * rows_per_band
    consts = minhash_det_constants(k)

    base = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    grams = base.select(
        id_col,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("_toks") - (n - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
            )
        ).alias("_grams"),
    )
    # one md5 per gram, inside the per-doc array; consumed twice
    # (signatures + verify) → pinned. Lazy (r12): the candidate list's
    # broadcast_if_small count below always runs at construction and
    # its lineage passes through gv, so that count materializes the
    # pin en route — same single evaluation, one fewer barrier job.
    gv = grams.select(
        id_col,
        F.array_distinct(
            F.transform(
                "_grams",
                lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                    "long"
                ),
            )
        ).alias("_vs"),
    ).localCheckpoint(eager=False)

    posts = gv.select(id_col, F.explode("_vs").alias("_v"))
    x = F.col("_v") % p
    sigs = posts.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * x + F.lit(b)) % p).alias(f"_h{j}")
            for j, (a, b) in enumerate(consts)
        ]
    )

    def band_key(t: int):
        c = F.col(f"_h{t * rows_per_band}")
        if rows_per_band == 2:
            c = c * F.lit(p) + F.col(f"_h{t * rows_per_band + 1}")
        return c

    bposts = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("_band"), band_key(t).alias("_key")
                    )
                    for t in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, F.col("_b._band").alias("_band"), F.col("_b._key").alias("_key"))
    xp = bposts.select(F.col(id_col).alias("id_a"), "_band", "_key")
    yp = bposts.select(F.col(id_col).alias("id_b"), "_band", "_key")
    cand = (
        xp.join(yp, ["_band", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands_shared"))
    )
    a = gv.select(F.col(id_col).alias("id_a"), F.col("_vs").alias("_sa"))
    b = gv.select(F.col(id_col).alias("id_b"), F.col("_vs").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = (
        F.size("_sa").cast("double") + F.size("_sb").cast("double") - inter
    )
    return (
        a.join(broadcast_if_small(cand), "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_bands_shared",
            F.round(inter / union, round_to).alias("jaccard"),
        )
    )


def _verify_pairs_jaccard(
    sh_a: DataFrame,
    sh_b: DataFrame,
    cands: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs over
    hashed-shingle frames (``id_col`` + ``_sh`` array<long>).

    array_intersect/union over fixed-width longs instead of shingle
    strings — same Jaccard (64-bit collisions are negligible next to
    MinHash's own error), and the joined sides shuffle 8 bytes per
    shingle instead of the n-gram text. The candidate list is broadcast
    (adaptive — see broadcast_if_small) into the first join so
    non-candidate rows never shuffle their arrays. Keeps pairs whose
    UNROUNDED Jaccard is ≥ ``threshold`` and reports it rounded to 6
    places as ``jaccard``."""
    a = sh_a.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh_b.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = (
        F.size("_sa").cast("double") + F.size("_sb").cast("double") - inter
    )
    jac = inter / union
    return (
        a.join(broadcast_if_small(cands), "id_a")
        .join(b, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _minhash_signatures(
    df: DataFrame,
    n: int,
    bands: int,
    rows_per_band: int,
    seed: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(hashed-shingle frame ``id_col`` + ``_sh``, band-signature frame
    ``id_col`` + ``_bands``), both materialized. One narrow kernel pass
    tokenizes the text; its pinned output feeds BOTH the band signatures
    and the exact-Jaccard verify, so the text is tokenized once. The
    (tiny) signature table is pinned too — both sides of the banded
    self-join and broadcast_if_small's count would otherwise each re-run
    the minhash kernel stage (the reproducible 30× r2 bench regression
    on the near-dup pipeline)."""
    sh = materialize(
        df.select(F.col(id_col), hashed_shingles_udf(n)(F.col(text_col)).alias("_sh")),
        checkpoint_dir,
    )
    sigs = materialize(
        sh.filter(F.size("_sh") > 0).select(
            F.col(id_col),
            _minhash_bands_udf(bands, rows_per_band, seed)(F.col("_sh")).alias("_bands"),
        ),
        checkpoint_dir,
    )
    return sh, sigs


def minhash_neardup_pairs(
    df: DataFrame,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.35,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Banded-MinHash near-dup pairs: (id_a < id_b, jaccard) for every
    candidate whose exact word-``n``-gram Jaccard is ≥ ``threshold``.

    A pair is a candidate iff some band's ``rows_per_band`` minhash
    values all agree → P = 1 − (1 − j^r)^b, sharply thresholded for
    r > 1 (at r = 1 every band is one minhash, so even j = 0.2 pairs
    collide often). Shingle hashing and permutation mins run in Arrow
    kernels; the only corpus-scale shuffle is the (band, sig, id)
    equi-join, and the verify is exact over 64-bit shingle hashes
    (``_verify_pairs_jaccard``), so precision is 1 and only recall is
    probabilistic. ``threshold=0`` returns every candidate pair.
    ``checkpoint_dir`` as in ``io.materialize``."""
    sh, sigs = _minhash_signatures(
        ensure_parallelism(df), n, bands, rows_per_band, seed,
        text_col=text_col, id_col=id_col, checkpoint_dir=checkpoint_dir,
    )
    cands = _banded_candidate_pairs(sigs, id_col=id_col)
    return _verify_pairs_jaccard(sh, sh, cands, threshold, id_col=id_col)


def neardup_dedup(
    df: DataFrame,
    threshold: float = 0.35,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate dedup: banded-MinHash candidates →
    exact-Jaccard verification of candidates only → connected components
    → keep the min-id survivor per cluster.

    The composition is the production shape: candidate generation is
    subquadratic (banding), the expensive exact measure runs only on
    candidate pairs, and cluster resolution keeps one doc per duplicate
    group regardless of chain shape (a~b~c collapses to min(a,b,c) even
    when a≁c directly). Returns the surviving rows of ``df``.

    ``checkpoint_dir``: reliable-checkpoint the shingle/signature
    materializations and the CC iteration frames instead of
    executor-pinned localCheckpoint (``io.materialize``) — the
    fault-tolerant posture for cluster runs.
    """
    verified = minhash_neardup_pairs(
        df, n=n, threshold=threshold, seed=seed, text_col=text_col,
        id_col=id_col, checkpoint_dir=checkpoint_dir,
    )
    clusters = cc_keep_min(
        verified, df.select(id_col), id_col=id_col, checkpoint_dir=checkpoint_dir
    )
    survivors = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(survivors, id_col, "left_semi")


def remove_repeated_spans(
    docs: DataFrame,
    n: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication ACROSS documents (the removal half
    of Lee et al. 2022): every n-token span that appears in more than
    one document keeps its occurrence(s) in the span's canonical
    document (min id) and is deleted from every other document. Output:
    one row per input doc with the rebuilt text and before/after token
    counts.

    Plan shape: span table = one narrow HOF pass per doc (no explode
    of token rows); duplicated spans = one groupBy on the span key
    carrying (span, min_id) only; the removal mask joins marked start
    positions back per doc (collect_list of ints — bounded by dup
    density, not doc length) and rebuilds the text in a final HOF
    filter. Two shuffles total: the span groupBy and the per-doc
    mark aggregation — both on high-cardinality keys. At corpus scale
    swap the span string for a 64-bit hash; kept as strings here so
    the whole operator is engine-portable (oracle-checkable).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col),
        F.filter(toks, lambda x: x != "").alias("_w"),
    )
    # (doc, start, span) for every n-token window; docs shorter than n
    # emit no spans (nothing to deduplicate at this granularity). The
    # size filter is REQUIRED, not cosmetic: Spark's sequence(1, 0) is
    # the DESCENDING [1, 0] (unlike DuckDB's empty series), and the 0
    # would feed slice() an invalid start.
    spans = base.filter(F.size("_w") >= n).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("_w", i, n)),
            )
        ).alias("_start0", "_span"),
    )
    dup = (
        spans.groupBy("_span")
        .agg(F.min(id_col).alias("_canon"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
    )
    marked = (
        spans.join(dup, "_span")
        .filter(F.col(id_col) != F.col("_canon"))
        .groupBy(id_col)
        .agg(F.collect_set("_start0").alias("_starts"))
    )
    joined = base.join(marked, id_col, "left").select(
        id_col,
        "_w",
        F.coalesce("_starts", F.array().cast("array<int>")).alias("_starts"),
    )
    # keep token at 0-based index j unless some marked start s (0-based)
    # covers it: s <= j < s + n
    kept = F.filter(
        F.transform(
            F.col("_w"),
            lambda x, j: F.when(
                F.exists(
                    F.col("_starts"),
                    lambda s: (s <= j) & (j < s + F.lit(n)),
                ),
                F.lit(None).cast("string"),
            ).otherwise(x),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        id_col,
        F.size("_w").cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )
