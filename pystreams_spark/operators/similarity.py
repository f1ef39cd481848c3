"""Similarity search over embedding columns (SURVEY.md §2.K).

Tiers:
- ``knn_exact``: brute-force cosine top-k — the oracle-checkable
  baseline. Queries are broadcast against the (large) corpus, so the
  corpus is scanned once with no shuffle of the big side; per-query
  top-k is a window over the joined result.
- ``knn_lsh``: random-projection (Euclidean) LSH — the 100 TB path.
  Hash once, bucket-join, refine within buckets; cost scales with
  bucket collisions instead of |corpus| × |queries|.
- ``cosine_lsh_pairs``: sign-random-projection LSH for embedding
  near-dup pairs, verified by exact cosine.
- ``knn_ivf``: coarse-quantizer variant (IVF): assign every vector to
  its nearest of k sampled centroids, probe only matching cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine
from ..io import broadcast_if_small, ensure_parallelism
from .topk import top_k_per_group


def _q_scaled(x, round_to: int):
    """Quantize a float ndarray to int64 units of ``10^-round_to`` with
    the SQL engines' half-AWAY rule — the deterministic-kernel form of
    ``CAST(ROUND(x * 10^r) AS BIGINT)``. ``np.round`` is half-to-EVEN,
    which silently disagrees with Spark's BigDecimal HALF_UP and
    DuckDB's std::round exactly when ``x·10^r`` lands on a binary half
    (reachable: squared distances / dots of dyadic-rational embeddings
    are dyadic). Ranking and thresholding on the returned INTEGER keeps
    every downstream compare exact on both engines (r12 close of the
    distance-rounding sibling of the ROUND(AVG(raw)) class). Exact for
    ``|x·10^r| < 2^52`` — distances/cosines here are ≤ O(1e3)."""
    from ..functions.exact import np_round_half_away_scaled

    return np_round_half_away_scaled(x, 10 ** int(round_to))


def knn_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    score_col: str = "score",
    round_to: int | None = 6,
    metric: str = "cosine",
) -> DataFrame:
    """Brute-force top-k per query — cosine (descending score) or
    ``metric="l2"`` euclidean (ascending distance, the ground truth for
    ``knn_lsh``).

    ``queries`` must be small (it is broadcast); ``corpus`` may be
    arbitrarily large — it is scanned once, never shuffled. Determinism:
    ties broken by corpus id on the rounded score.
    """
    from ..functions.vector import as_double, dot, l2_norm

    # Pre-cast to double and precompute norms ONCE per vector: the
    # interpreted HOF fold then runs once per pair instead of three
    # times, and the per-row norm work is O(n+m), not O(n·m).
    q = queries.select(
        F.col(query_id).alias("_qid"),
        as_double(query_vec).alias("_qvec"),
        l2_norm(query_vec).alias("_qnorm"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(corpus_id),
        as_double(corpus_vec).alias("_cvec"),
        l2_norm(corpus_vec).alias("_cnorm"),
    )
    if metric == "l2":
        # ||x-y||² = ||x||² - 2x·y + ||y||² — reuses the precomputed norms
        score = F.sqrt(
            F.greatest(
                F.col("_qnorm") * F.col("_qnorm")
                - 2.0 * dot(F.col("_qvec"), F.col("_cvec"))
                + F.col("_cnorm") * F.col("_cnorm"),
                F.lit(0.0),
            )
        )
        order = [F.asc(score_col), F.asc(corpus_id)]
    else:
        score = dot(F.col("_qvec"), F.col("_cvec")) / (
            F.col("_qnorm") * F.col("_cnorm")
        )
        order = [F.desc(score_col), F.asc(corpus_id)]
    if round_to is not None:
        score = F.round(score, round_to)
    joined = c.crossJoin(F.broadcast(q)).select(
        F.col("_qid").alias(query_id),
        F.col(corpus_id),
        score.alias(score_col),
    )
    return top_k_per_group(joined, [query_id], order, k=k)


def annotate_recall_vs_exact(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    min_avg_recall: float | None = None,
) -> DataFrame:
    """Self-check columns for approximate kNN: flag each approx row as
    in/out of the exact top-k and attach the per-query recall@k. A
    recall regression then changes visible row values in rows-only
    correctness checks instead of drifting silently. ``exact`` is tiny
    (n_queries × k) and broadcast — the check never reshuffles the
    approx side.

    ``min_avg_recall``: hard quality gate — the plan RAISES at
    execution time (``assert_true``) when the mean recall@k over all
    result rows falls below the floor, so a recall collapse fails the
    job instead of merely annotating it. The gate windows over the
    already-tiny annotated result (n_queries × k rows), never the
    corpus."""
    hits = exact.select(query_id, corpus_id).withColumn("_hit", F.lit(1))
    w = Window.partitionBy(query_id)
    out = (
        approx.join(F.broadcast(hits), [query_id, corpus_id], "left")
        .withColumn("in_exact_topk", F.col("_hit").isNotNull())
        .withColumn(
            "recall_at_k",
            F.round(
                F.sum(F.col("_hit").isNotNull().cast("int")).over(w) / F.lit(k), 4
            ),
        )
        .drop("_hit")
    )
    if min_avg_recall is not None:
        # window must land in a projection (not allowed in WHERE), then
        # the gate filters on the materialized column
        out = out.withColumn(
            "_avg_recall", F.avg("recall_at_k").over(Window.partitionBy())
        )
        chk = F.assert_true(
            F.col("_avg_recall") >= float(min_avg_recall),
            F.concat(
                F.lit("ANN recall floor violated: avg recall_at_k "),
                F.round(F.col("_avg_recall"), 4).cast("string"),
                F.lit(f" < {min_avg_recall}"),
            ),
        )
        # coalesce(assert_true(...), True): evaluates the gate on every
        # row (filter is not prunable), passes all rows on success
        out = out.filter(F.coalesce(chk, F.lit(True))).drop("_avg_recall")
    return out


def _probe_dim(df: DataFrame, vec_col: str, op_name: str) -> int:
    """Embedding dimension from the first row, with a clear error when
    the input is empty (``first()`` returns None → opaque TypeError
    otherwise) or the probed vector itself is NULL."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"{op_name}: cannot infer embedding dimension from '{vec_col}' — "
            "input DataFrame is empty"
            if row is None
            else f"{op_name}: first '{vec_col}' value is NULL"
        )
    return len(row[0])


def _ivf_scored_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    centers_mat,
    n_probe: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    metric: str = "dot",
) -> DataFrame:
    """Exact-cosine-scored IVF candidates with each candidate's PROBE
    RANK: (query_id, corpus_id, score, _probe_rank) where _probe_rank
    is the position of the candidate's cell in the query's
    affinity-ordered cell list (0 = home cell). Because a corpus vector
    lives in exactly one cell, candidate sets NEST in n_probe —
    ``filter(_probe_rank < p)`` reproduces the n_probe=p candidate set
    exactly — so ONE scored pass at the largest probe setting serves a
    whole recall curve (r12: ann_ivf_recall_curve ran 4 independent
    assignment+probe+score passes for nested candidate sets).

    ``metric`` picks the cell-affinity rule: ``dot`` (argmax x·c, ties →
    lowest cell id) or ``l2`` (argmin ||x-c||, same tie rule). The
    refine is always exact cosine over the probed candidates.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    bc_centers = spark.sparkContext.broadcast(np.ascontiguousarray(centers_mat))

    def _affinity(m, cm):
        # higher = closer, first max wins ties (lowest cell id)
        if metric == "l2":
            return m @ cm.T - 0.5 * (cm * cm).sum(axis=1)[None, :]
        return m @ cm.T

    def assign_cells(batches):
        cm = bc_centers.value
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            pdf = pdf.copy()
            pdf["_cell"] = _affinity(m, cm).argmax(axis=1).astype(np.int32)
            yield pdf

    assigned_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in corpus.schema.fields]
        + ["_cell int"]
    )
    assigned = ensure_parallelism(corpus).mapInPandas(assign_cells, assigned_schema)

    def probe_cells(batches):
        cm = bc_centers.value
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            top = np.argsort(-_affinity(m, cm), axis=1, kind="stable")[:, :n_probe]
            qids = pdf[query_id].to_numpy()
            yield pd.DataFrame(
                {
                    query_id: np.repeat(qids, top.shape[1]),
                    "_cell": top.reshape(-1).astype(np.int32),
                    "_probe_rank": np.tile(
                        np.arange(top.shape[1], dtype=np.int32), len(qids)
                    ),
                }
            )

    probes = (
        queries.select(query_id, vec_col)
        .mapInPandas(probe_cells, f"{query_id} long, _cell int, _probe_rank int")
        .join(queries.select(F.col(query_id), F.col(vec_col).alias("_qvec")), query_id)
    )
    return assigned.join(F.broadcast(probes), "_cell").select(
        query_id,
        corpus_id,
        F.round(cosine("_qvec", vec_col), 6).alias("score"),
        "_probe_rank",
    )


def _ivf_assign_probe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centers_mat,
    k: int,
    n_probe: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    metric: str = "dot",
) -> DataFrame:
    """Shared IVF machinery: given a driver-side (n_cells × dim) centroid
    matrix, assign corpus vectors to cells and probe per-query cells with
    vectorized numpy kernels (one narrow pass each, broadcast centroids),
    then equi-join on the cell id and refine with exact cosine + top-k.
    """
    cand = _ivf_scored_candidates(
        queries, corpus, centers_mat, n_probe, query_id, corpus_id, vec_col,
        metric=metric,
    ).drop("_probe_rank")
    return top_k_per_group(cand, [query_id], [F.desc("score"), F.asc(corpus_id)], k=k)


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate kNN via random-projection LSH (Euclidean):
    h_t(x) = floor(x·g_t / bucket_length) with seeded unit-gaussian
    projections g_t, one per hash table — the hash family of
    BucketedRandomProjectionLSH, on the engine's own kernels (the
    Spark ML approxSimilarityJoin explodes per-table hash rows through
    two full shuffles; measured ~5 s → ~1.5 s at sf0.1).

    Plan: corpus is hashed in ONE narrow numpy pass (a (dim × tables)
    matmul per Arrow batch) → candidate generation joins the corpus
    bucket table against the BROADCAST query bucket table on
    (table, bucket) — a pair is a candidate iff any table agrees —
    → exact L2 refine of candidates only against the broadcast query
    matrix → per-query top-k. At 100 TB: the corpus-side work is one
    map + one shuffle bounded by bucket collisions; queries (the small
    side) are always broadcast. Approximate → rows-only checked, recall
    annotated by the caller.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qpdf = queries.select(query_id, vec_col).toPandas()
    qids = qpdf[query_id].to_numpy(dtype=np.int64)
    qm = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    dim = qm.shape[1]
    rng = np.random.RandomState(seed)
    proj = rng.normal(size=(num_hash_tables, dim))
    proj /= np.linalg.norm(proj, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((proj, qids, qm))

    def corpus_buckets(batches):
        proj_m, _, _ = bc.value
        n_t = proj_m.shape[0]
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            buckets = np.floor((m @ proj_m.T) / bucket_length).astype(np.int64)
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    corpus_id: np.repeat(ids, n_t),
                    "_table": np.tile(np.arange(n_t, dtype=np.int32), len(ids)),
                    "_bucket": buckets.reshape(-1),
                }
            )

    cb = ensure_parallelism(corpus).mapInPandas(
        corpus_buckets, f"{corpus_id} long, _table int, _bucket long"
    )
    q_buckets = np.floor((qm @ proj.T) / bucket_length).astype(np.int64)
    n_t = proj.shape[0]
    qb = spark.createDataFrame(
        pd.DataFrame(
            {
                query_id: np.repeat(qids, n_t),
                "_table": np.tile(np.arange(n_t, dtype=np.int32), len(qids)),
                "_bucket": q_buckets.reshape(-1),
            }
        )
    )
    cand = (
        cb.join(F.broadcast(qb), ["_table", "_bucket"])
        .select(query_id, corpus_id)
        .distinct()
    )
    cand_vec = cand.join(corpus.select(corpus_id, vec_col), corpus_id)

    def refine(batches):
        _, qids_b, qm_b = bc.value
        qrow = {int(q): i for i, q in enumerate(qids_b)}
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qi = np.fromiter(
                (qrow[int(q)] for q in pdf[query_id]), dtype=np.int64, count=len(pdf)
            )
            d = np.sqrt(((m - qm_b[qi]) ** 2).sum(axis=1))
            yield pd.DataFrame(
                {
                    query_id: pdf[query_id].to_numpy(dtype=np.int64),
                    corpus_id: pdf[corpus_id].to_numpy(dtype=np.int64),
                    "dist": np.round(d, 6),
                }
            )

    out = cand_vec.mapInPandas(refine, f"{query_id} long, {corpus_id} long, dist double")
    return top_k_per_group(out, [query_id], [F.asc("dist"), F.asc(corpus_id)], k=k)


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: sample ``n_cells`` corpus vectors as centroids
    (deterministic hash-ordered sample), assign each corpus vector to
    its max-dot-product centroid, then for each query probe the
    ``n_probe`` best cells only.

    At 100 TB the corpus-side assignment is a single narrow map with a
    broadcast centroid matrix (n_cells × dim doubles — KBs); the probe
    join touches ~n_probe/n_cells of the data. Assignment and probe run
    as vectorized numpy kernels (BLAS matmul per Arrow batch) — the
    earlier crossJoin+window formulation shuffled |corpus| × n_cells
    rows through a row_number window for the same result (measured 3.4 s
    → ~1 s at sf0.1). Approximate → rows-only checked.
    """
    centers_mat = _ivf_sample_centers(corpus, n_cells, corpus_id, vec_col, seed)
    return _ivf_assign_probe_topk(
        queries, corpus, centers_mat, k, n_probe, query_id, corpus_id, vec_col,
        metric="dot",
    )


def _ivf_sample_centers(
    corpus: DataFrame, n_cells: int, corpus_id: str, vec_col: str, seed: int
):
    """Deterministic hash-ordered centroid sample as a driver-side
    (n_cells × dim) float64 matrix — ONE TakeOrdered job. Factored out
    (r12) so a caller building several IVF passes over the same corpus
    (e.g. a recall curve) samples once instead of per pass."""
    import numpy as np

    cents = (
        corpus.select(F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cvec"))
        .orderBy(F.xxhash64(F.col("_cid") + F.lit(seed)))
        .limit(n_cells)
        .select("_cvec")
        .toPandas()
    )
    return np.stack(cents["_cvec"].to_numpy()).astype(np.float64)


def cosine_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.85,
    bits_per_band: int = 10,
    bands: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: sign-random-projection
    (hyperplane) LSH candidates → exact-cosine verification.

    A vector's signature is ``bands × bits_per_band`` hyperplane signs
    (sign(x·g)); two vectors are candidates iff some band's bits all
    agree. P[bit agrees] = 1 − θ/π, so with the defaults (6 bands of 10
    bits) a cos ≥ 0.95 pair is caught with ~92% probability, a true
    duplicate (cos ≥ 0.99) with ~99.98%, while a random orthogonal pair
    collides only ~0.6% of the time — the subquadratic regime. (For the
    uniform-noise regime around cos 0.4 no hyperplane parameterization
    is subquadratic; that's what the exact blocked-matmul
    ``cosine_pairs_above`` is for.)

    Plan shape mirrors ``dedup.minhash_neardup_pairs``: one narrow kernel
    pass computes band signatures (a matmul + bit-pack per Arrow
    batch), the only corpus-scale shuffle is the (band, sig) equi-join,
    and verification joins vectors for candidate pairs only (candidate
    list broadcast). Verified scores are exact → precision 1.0 by
    construction; recall is probabilistic (unit-tested on planted
    duplicates). Approximate → rows-only checked.
    """
    import numpy as np
    import pandas as pd

    from .dedup import _banded_candidate_pairs

    n_bits = bands * bits_per_band
    # projection matrix is (n_bits × dim); built lazily per worker from
    # the seed once the batch reveals dim — deterministic everywhere,
    # and the operator works for any embedding width without a driver pass
    state = {"proj": None}

    def band_sigs(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if state["proj"] is None or state["proj"].shape[1] != m.shape[1]:
                r = np.random.RandomState(seed)
                state["proj"] = r.normal(size=(n_bits, m.shape[1]))
            bits = (m @ state["proj"].T) > 0  # (n, n_bits)
            weights = (1 << np.arange(bits_per_band, dtype=np.int64))[None, None, :]
            sigs = (
                bits.reshape(len(m), bands, bits_per_band).astype(np.int64) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "_bands": list(sigs),
                }
            )

    sigs = ensure_parallelism(df).mapInPandas(
        band_sigs, f"{id_col} long, _bands array<long>"
    )
    cands = _banded_candidate_pairs(sigs, id_col=id_col)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    joined = a.join(broadcast_if_small(cands), "id_a").join(b, "id_b")

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            s = np.round(
                (va * vb).sum(axis=1)
                / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)),
                6,
            )
            keep = s >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(dtype=np.int64)[keep],
                    "id_b": pdf["id_b"].to_numpy(dtype=np.int64)[keep],
                    "score": s[keep],
                }
            )

    return joined.mapInPandas(verify, "id_a long, id_b long, score double")


def nearest_centroid_classify(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid classifier over an embedding column, fully
    declarative (oracle-checkable — no RNG, no UDF):

    1. centroid per label: posexplode → partial-aggregated AVG per
       (label, position) → rebuild the ordered centroid array. At
       100 TB this is one shuffle keyed on (label, position) with
       map-side partial sums — never a driver collect.
    2. classify: the centroid table (|labels| rows) is BROADCAST; each
       vector scores against every centroid (cosine, Column algebra)
       and keeps the top-1 by (score desc, label asc).

    Returns (id, label, predicted, score) — one row per input vector.
    """
    pos = df.select(label_col, F.posexplode(vec_col).alias("_pos", "_val"))
    cents = (
        pos.groupBy(label_col, "_pos")
        .agg(F.avg("_val").alias("_c"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_c"))),
                lambda s: s["_c"],
            ).alias("_centroid")
        )
        .select(F.col(label_col).alias("predicted"), "_centroid")
    )
    scored = df.crossJoin(F.broadcast(cents)).select(
        id_col,
        label_col,
        "predicted",
        F.round(cosine(vec_col, "_centroid"), round_to).alias("score"),
    )
    return top_k_per_group(
        scored, [id_col], [F.desc("score"), F.asc("predicted")], k=1
    )


def cosine_pairs_above(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_rows: int = 10_000_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (id_a < id_b), exact.

    Executed as a blocked matrix product: the corpus matrix (n×d
    doubles) is broadcast to every task; each partition scores its row
    tile against the whole matrix with one numpy matmul and emits only
    the above-threshold pairs. Work is parallel across partitions and
    never materializes per-pair array rows — measured at sf0.1
    (2M pairs): 142 s (per-pair HOF fold) → ~2 s.

    The broadcast bounds corpus size to driver/executor memory (a 10M ×
    64-float corpus is ~2.5 GB — near the practical limit); beyond that,
    use the LSH variant or tile both sides. A hard ``max_rows`` gate
    (default 10M) refuses loudly instead of OOM-ing the driver when the
    operator is pointed at a corpus it was never meant for. Scores match
    the SQL dot/(|a||b|) formula; summation order differs from a
    sequential fold only at ~1e-15, far inside the rounding granularity.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = ensure_parallelism(df).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # lazy pin: count materializes it, collect reads the pin — one job
    base = base.localCheckpoint(eager=False)
    n = base.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs_above is the exact small-scale oracle: the corpus "
            f"({n} rows) exceeds max_rows={max_rows} and would be collected "
            f"to the driver. Use cosine_lsh_pairs (subquadratic, distributed) "
            f"for corpus-scale near-duplicate pairs, or raise max_rows "
            f"explicitly if the driver really has the memory."
        )
    pdf = base.toPandas()
    ids_all = pdf["_id"].to_numpy(dtype=np.int64)
    mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    # zero-norm vectors score 0 against everything (clamp like
    # semantic_dedup_pairs) — without it the NaN cosine would hit the
    # int64 quantizer as an invalid cast (review r12-ext)
    norms[norms == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((ids_all, mat, norms))

    from ..functions.exact import quantized_threshold

    def kernel(batches):
        ids_b, mat_b, norms_b = bc.value
        scale_f = float(10 ** round_to)
        thr_q = quantized_threshold(threshold, 10 ** round_to)
        for batch in batches:
            bids = batch["_id"].to_numpy(dtype=np.int64)
            bm = np.stack(batch["_v"].to_numpy()).astype(np.float64)
            bn = np.sqrt((bm * bm).sum(axis=1))
            bn[bn == 0.0] = 1.0
            # integer-quantized cosine (half-away — `_q_scaled`): exact
            # int threshold, quotient emission (r12 contract)
            q = _q_scaled((bm @ mat_b.T) / np.outer(bn, norms_b), round_to)
            rows_a, rows_b = np.nonzero((q >= thr_q) & (bids[:, None] < ids_b[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": bids[rows_a],
                    "id_b": ids_b[rows_b],
                    "score": q[rows_a, rows_b] / scale_f,
                }
            )

    return base.mapInPandas(kernel, "id_a long, id_b long, score double")


def knn_ivf_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float = 1.0,
) -> DataFrame:
    """IVF ANN with KMeans-trained cells (vs sampled centroids in
    ``knn_ivf``): centroids actually tile the data distribution, so
    cell populations are balanced and probe recall is higher for the
    same n_probe. Train is one pass over (a sample of) the corpus;
    assignment is a broadcast transform. Approximate → rows-only.

    The fit runs DRIVER-SIDE with numpy Lloyd iterations over a bounded
    sample (``fit_fraction``, capped at ``_FIT_CAP`` rows — at 100 TB
    pass ~1e5/|corpus|): a 16-cell fit over ≤100k×64 doubles is
    milliseconds of BLAS, vs ~10 distributed jobs (one per iteration)
    for Spark ML KMeans. Sampling-to-driver for coarse-quantizer
    training is the standard IVF recipe; only the bounded sample ever
    leaves the executors. Assignment stays distributed (one vectorized
    kernel pass with the broadcast centroid matrix).
    (Measured at sf0.1: 5.3 s ml-lib → 1.5 s cached ml-lib → ~0.7 s.)
    """
    centers_mat = _fit_centroids_driver(corpus, vec_col, n_cells, seed, fit_fraction)

    return _ivf_assign_probe_topk(
        queries, corpus, centers_mat, k, n_probe, query_id, corpus_id, vec_col,
        metric="l2",
    )


def fit_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 10,
    fit_cap: int = 200_000,
):
    """Product-quantization codebooks (Jégou et al. 2011, public
    knowledge): split the d-dim space into ``m`` subspaces and run
    per-subspace KMeans (``n_codes`` centroids each). A vector is then
    stored as m small codes — at m=8 that is 8 bytes instead of 256 for
    a 64-dim float32 embedding, the 32x shrink that makes a 100 TB
    embedding store RAM-resident for ANN serving.

    Same driver-fit posture as ``knn_ivf_kmeans``: codebook training
    uses a BOUNDED sample (``fit_cap`` rows — at corpus scale pass a
    sampling fraction upstream), numpy Lloyd iterations per subspace
    (seeded, milliseconds of BLAS); everything per-row afterwards is
    distributed. Returns np.ndarray (m, n_codes, d//m)."""
    import numpy as np

    sample = np.stack(
        ensure_parallelism(corpus)
        .select(F.col(vec_col).alias("_v"))
        .limit(fit_cap)
        .toPandas()["_v"]
        .to_numpy()
    ).astype(np.float64)
    d = sample.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub_d = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub_d))
    for j in range(m):
        sub = sample[:, j * sub_d : (j + 1) * sub_d]
        centers = sub[rng.choice(len(sub), size=n_codes, replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    centers[c] = members.mean(axis=0)
        books[j] = centers
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Distributed PQ encoding: one vectorized kernel pass with the
    broadcast codebooks; output is (id, array<tinyint> of m codes) —
    the compressed representation a 100 TB ingest would write instead
    of (alongside) raw floats."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    m, n_codes, sub_d = codebooks.shape
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(codebooks))

    def kernel(batches):
        books = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            if not len(ids):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(ids), m), dtype=np.int8)
            for j in range(m):
                sub = mat[:, j * sub_d : (j + 1) * sub_d]
                # (n, n_codes) squared distances to this subspace's centroids
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1).astype(np.int8)
            yield pd.DataFrame({id_col: ids, code_col: list(codes)})

    return ensure_parallelism(df).select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, {code_col} array<tinyint>"
    )


def knn_pq_adc(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 8,
    n_codes: int = 16,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate kNN by asymmetric distance computation over PQ codes:
    per query, precompute an (m, n_codes) lookup table of subspace
    squared distances; a corpus vector's approximate L2 is then m table
    gathers + a sum — no float vector is ever touched at query time.

    Scale shape: queries are bounded/broadcast (their LUTs are
    nq*m*n_codes doubles); the corpus is one encoded-codes scan, each
    partition emits only its LOCAL top-k per query, and the exact
    global top-k reduces (partitions × nq × k) candidate rows — the
    same partial-top-k pattern as TakeOrdered. Approximate → rows-only
    with recall self-check at the query layer."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    books = fit_pq_codebooks(
        corpus, m=m, n_codes=n_codes, vec_col=vec_col, seed=seed
    )
    encoded = pq_encode(corpus, books, id_col=corpus_id, vec_col=vec_col)
    sub_d = books.shape[2]

    qpdf = queries.select(query_id, vec_col).toPandas()
    qids = qpdf[query_id].to_numpy(dtype=np.int64)
    qmat = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    # LUT[q, j, c] = ||q_sub_j - codebook[j][c]||^2
    lut = np.empty((len(qids), m, n_codes))
    for j in range(m):
        qs = qmat[:, j * sub_d : (j + 1) * sub_d]
        lut[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
    bc = spark.sparkContext.broadcast((qids, lut))

    def kernel(batches):
        q_ids, q_lut = bc.value
        nq = len(q_ids)
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            if not len(ids):
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
            acc = np.zeros((nq, len(ids)))
            for j in range(m):
                acc += q_lut[:, j, codes[:, j]]
            dists = np.sqrt(acc)
            top = min(k, len(ids))
            part = np.argpartition(dists, top - 1, axis=1)[:, :top]
            out_q = np.repeat(q_ids, top)
            out_i = ids[part.reshape(-1)]
            out_d = np.take_along_axis(dists, part, axis=1).reshape(-1)
            yield pd.DataFrame(
                {query_id: out_q, corpus_id: out_i, "adc_dist": out_d}
            )

    local = encoded.mapInPandas(
        kernel, f"{query_id} long, {corpus_id} long, adc_dist double"
    ).withColumn("adc_dist", F.round("adc_dist", round_to))
    return top_k_per_group(
        local, [query_id], [F.asc("adc_dist"), F.asc(corpus_id)], k=k
    )


def knn_pq_refined(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int = 50,
    m: int = 8,
    n_codes: int = 16,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """PQ ANN with EXACT RE-RANKING (the standard two-stage serving
    shape, Jégou et al. §V): ADC over compressed codes produces a
    ``shortlist`` of candidates per query, then only those candidate
    vectors are fetched at full precision and re-ranked by exact L2.
    Recall@k becomes the ADC shortlist's recall@shortlist — far above
    raw ADC@k — while full-precision distance work drops from |corpus|
    to nq × shortlist.

    Scale shape: the shortlist (nq × shortlist id pairs — KBs) rides
    ``broadcast_if_small`` back onto the corpus scan, so candidate
    vectors are fetched by a broadcast semi-probe, never a corpus
    shuffle; the re-rank itself is nq × shortlist rows of Column
    algebra. Returns (query_id, corpus_id, dist) — exact L2 on the
    survivors."""
    from ..functions.vector import as_double, dot, l2_norm

    cand = knn_pq_adc(
        queries,
        corpus,
        k=shortlist,
        m=m,
        n_codes=n_codes,
        query_id=query_id,
        corpus_id=corpus_id,
        vec_col=vec_col,
        seed=seed,
        round_to=round_to,
    ).select(query_id, corpus_id)
    cvec = corpus.select(
        F.col(corpus_id),
        as_double(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    qvec = queries.select(
        F.col(query_id),
        as_double(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    fetched = cvec.join(broadcast_if_small(cand), corpus_id).join(
        F.broadcast(qvec), query_id
    )
    dist = F.sqrt(
        F.greatest(
            F.col("_qnorm") * F.col("_qnorm")
            - 2.0 * dot(F.col("_qvec"), F.col("_cvec"))
            + F.col("_cnorm") * F.col("_cnorm"),
            F.lit(0.0),
        )
    )
    reranked = fetched.select(
        query_id, corpus_id, F.round(dist, round_to).alias("dist")
    )
    return top_k_per_group(
        reranked, [query_id], [F.asc("dist"), F.asc(corpus_id)], k=k
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-scoped semantic deduplication
# ---------------------------------------------------------------------------


def _fit_centroids_driver(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int,
    seed: int,
    fit_fraction: float = 1.0,
    fit_cap: int = 200_000,
    iters: int = 10,
):
    """Driver-side numpy Lloyd fit over a bounded corpus sample — the
    standard coarse-quantizer recipe (same bound/rationale as
    ``knn_ivf_kmeans``: at 100 TB pass ``fit_fraction`` ≈ 1e5/|corpus|;
    only the capped sample ever leaves the executors)."""
    import numpy as np

    fit_df = ensure_parallelism(corpus).select(F.col(vec_col).alias("_v"))
    if fit_fraction < 1.0:
        fit_df = fit_df.sample(fraction=fit_fraction, seed=seed)
    sample = np.stack(fit_df.limit(fit_cap).toPandas()["_v"].to_numpy()).astype(
        np.float64
    )
    rng = np.random.RandomState(seed)
    # tiny corpora: can't seed more centers than sample rows — clamp
    # (every vector its own cell) instead of raising from rng.choice
    n_cells = min(n_cells, len(sample))
    centers = sample[rng.choice(len(sample), size=n_cells, replace=False)]
    for _ in range(iters):
        d2 = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        cells = d2.argmin(axis=1)
        for j in range(n_cells):
            members = sample[cells == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return centers


def assign_kmeans_cells(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    out_col: str = "cell",
    fit_fraction: float = 1.0,
) -> DataFrame:
    """Attach a KMeans cell id to every row: driver-bounded centroid
    fit + ONE vectorized broadcast-assignment kernel pass (no shuffle —
    assignment is a narrow map)."""
    import numpy as np
    import pandas as pd

    centers = _fit_centroids_driver(df, vec_col, n_cells, seed, fit_fraction)
    bc = df.sparkSession.sparkContext.broadcast(centers)
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out_col} int"

    def kernel(batches):
        c = bc.value
        c2 = (c * c).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # argmin over squared L2 via the expansion trick (no n×k×d temp)
            d2 = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ c.T) + c2[None, :]
            out = pdf.copy()
            out[out_col] = d2.argmin(axis=1).astype(np.int32)
            yield out

    return df.mapInPandas(kernel, schema)


def _kmeans_assign_batch(m, c, round_to: int = 6):
    """Oracle-exact cell assignment: argmin over the INTEGER-quantized
    distance ``CAST(ROUND(Σ(xᵢ−cᵢ)²·10^r) AS BIGINT)`` (half-away, the
    engines' rule — see `_q_scaled`); np.argmin's first-minimum = the
    lowest-cell tie-break the DuckDB replay's (dist, cell) ordering
    states."""
    import numpy as np

    d2 = np.empty((len(m), len(c)))
    for j in range(len(c)):
        d2[:, j] = ((m - c[j]) ** 2).sum(axis=1)
    return _q_scaled(d2, round_to).argmin(axis=1)


def _lloyd_seed_order(idv, n_cells: int):
    """Indices of the ``n_cells`` rows with the smallest
    ``(md5(CAST(id AS STRING)), id)`` sort key — the in-memory replica
    of the distributed seed TakeOrdered. ``hashlib.md5`` of the decimal
    id string equals Spark's ``F.md5(CAST(id AS STRING))`` (same UTF-8
    bytes, same lowercase hex), and Python's str comparison on ASCII
    hex is the same binary order Spark uses, so the selected rows and
    their rank (= cell index) are identical."""
    import hashlib

    return sorted(
        range(len(idv)),
        key=lambda i: (
            hashlib.md5(str(int(idv[i])).encode()).hexdigest(),
            int(idv[i]),
        ),
    )[: int(n_cells)]


def _lloyd_iterate(mat, centers, iters: int, round_to: int):
    """Run ``iters`` deterministic-Lloyd rounds over an in-memory
    matrix — the single-task body of the fit. Bit-identical to the
    distributed per-partition partials + driver reduce: the assignment
    is the same ``_kmeans_assign_batch`` and the centroid update is the
    same order-free int64 quantize-before-sum + (2Σ+N) div 2N half-up
    average, so partitioning cannot appear in the result by
    construction."""
    import numpy as np

    from ..functions.exact import np_round_half_away_scaled, np_trunc_div

    scale = 10 ** int(round_to)
    k = len(centers)
    q = np_round_half_away_scaled(mat, scale)
    for _ in range(iters):
        cells = _kmeans_assign_batch(mat, centers, round_to)
        counts = np.bincount(cells, minlength=k)
        sums = np.zeros((k, mat.shape[1]), dtype=np.int64)
        np.add.at(sums, cells, q)
        nz = counts > 0
        new_c = centers.copy()  # empty cells keep previous centroid
        n_col = counts[nz][:, None]
        new_c[nz] = (
            np_trunc_div(2 * sums[nz] + n_col, 2 * n_col).astype(np.float64)
            / scale
        )
        centers = new_c
    return centers


# Cutover bounds for the fused single-task fit: below these the whole
# seed + ``iters``-round Lloyd recurrence runs executor-side in ONE
# 1-task mapInPandas job instead of (1 seed TakeOrdered + iters
# partial-collect) driver barriers — the same adaptive pattern as BPE
# training's single-task merge loop. Each barrier is a full cluster
# round-trip at any scale; on a wide input the row count blows the
# bound and the distributed loop below is used unchanged.
_LLOYD_SINGLE_TASK_ROWS = 65_536
_LLOYD_SINGLE_TASK_CELLS = 2_000_000  # n_rows × n_cells assignment budget


def _lloyd_fit_single_task(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    slices,
    n_cells: int,
    iters: int,
    round_to: int,
):
    """One 1-task job running the full fit in-memory: seeds + all
    Lloyd rounds, for the plain fit (``slices=None`` → one (k × d)
    matrix) or the PQ fit (``slices`` → one book per slice, all seeded
    from the SAME md5-ordered rows). Returns the same ndarray(s) the
    distributed path returns, bit-for-bit."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        ids = []
        vecs = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids.append(pdf[id_col].to_numpy())
            vecs.append(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        if not ids:
            return
        idv = np.concatenate(ids)
        mat = np.vstack(vecs)
        order = _lloyd_seed_order(idv, n_cells)
        if slices is None:
            books = [_lloyd_iterate(mat, mat[order].copy(), iters, round_to)]
        else:
            books = []
            for s0, ln in slices:
                sub = np.ascontiguousarray(mat[:, s0 : s0 + ln])
                books.append(
                    _lloyd_iterate(sub, sub[order].copy(), iters, round_to)
                )
        frames = []
        for j, b in enumerate(books):
            frames.append(
                pd.DataFrame(
                    {
                        "sub": np.full(len(b), j, dtype=np.int32),
                        "cell": np.arange(len(b), dtype=np.int32),
                        "c": list(b),
                    }
                )
            )
        yield pd.concat(frames, ignore_index=True)

    rows = (
        df.select(id_col, vec_col)
        .coalesce(1)
        .mapInPandas(kernel, "sub int, cell int, c array<double>")
        .collect()
    )
    m = 1 if slices is None else len(slices)
    books = [
        np.stack(
            [
                np.asarray(r["c"], dtype=np.float64)
                for r in sorted(
                    (r for r in rows if r["sub"] == j), key=lambda r: r["cell"]
                )
            ]
        )
        for j in range(m)
    ]
    return books[0] if slices is None else books


def _lloyd_single_task_ok(df: DataFrame, id_col: str, n: int, n_cells) -> bool:
    """Cutover predicate: integral id (so the md5-of-decimal-string
    seed key is replicable in Python) and both the row count and the
    n × k assignment work fit the single-task budget."""
    from pyspark.sql import types as T

    if not isinstance(
        df.schema[id_col].dataType,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
    ):
        return False
    if not isinstance(n_cells, int):
        return False
    return (
        n <= _LLOYD_SINGLE_TASK_ROWS
        and n * max(n_cells, 1) <= _LLOYD_SINGLE_TASK_CELLS
    )


def kmeans_centers_deterministic(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    round_to: int = 6,
    precounted: int | None = None,
):
    """The FIT half of ``kmeans_cells_deterministic`` (r7 split so IVF
    can probe the same centroids the cells came from): md5-ordered
    seeds, ``iters`` fused Lloyd rounds, returns the final (k × d)
    centroid ndarray — exactly the c_iters matrix the unrolled DuckDB
    recurrence produces. Zero shuffles; k·|partitions| partial rows to
    the driver per round.

    r12: when the table fits the single-task budget (counted once —
    ``precounted`` lets callers reuse a count they already paid; on a
    lazily-pinned input the count doubles as the pin job), the whole
    recurrence runs executor-side in ONE job (`_lloyd_fit_single_task`,
    bit-identical by the integer contract) instead of 1 + ``iters``
    driver barriers."""
    import numpy as np
    import pandas as pd

    n = df.count() if precounted is None else int(precounted)
    if _lloyd_single_task_ok(df, id_col, n, n_cells):
        return _lloyd_fit_single_task(
            df, id_col, vec_col, None, n_cells, iters, round_to
        )

    spark = df.sparkSession
    seed_rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    centers = np.stack(
        [np.asarray(r[1], dtype=np.float64) for r in seed_rows]
    )
    k, d = centers.shape

    from ..functions.exact import np_round_half_away_scaled, np_trunc_div

    scale = 10 ** int(round_to)

    def partials(centers_arr):
        """One fused scan: per-partition (cell, n, INTEGER-scaled sum
        per dim). r12: partials accumulate in int64 units of
        10^-round_to — float partial sums made the updated centroid
        depend on partition/summation order, the exact cross-engine
        ROUND(AVG) half-case class the sf0.1 sweep proved real
        (resample, r11); with quantize-before-sum the centroid is a
        pure integer function of the assignment, identical on any
        partitioning and bit-equal to the DuckDB oracle's replay."""
        bc = spark.sparkContext.broadcast(centers_arr)
        schema = "cell int, n long, s array<long>"

        def kernel(batches):
            c = bc.value
            counts = np.zeros(len(c), dtype=np.int64)
            sums = np.zeros((len(c), c.shape[1]), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                cells = _kmeans_assign_batch(m, c, round_to)
                counts += np.bincount(cells, minlength=len(c))
                np.add.at(
                    sums, cells, np_round_half_away_scaled(m, scale)
                )
            nz = np.nonzero(counts)[0]
            if len(nz) == 0:
                # empty partition (or every row filtered upstream):
                # yielding here would emit an EMPTY python-list "s"
                # column, which pandas types float64 and Arrow then
                # cannot convert to the list type — the r11 facade test
                # hit exactly this on a 12-row frame with empty
                # partitions. Yield nothing instead.
                return
            yield pd.DataFrame(
                {"cell": nz.astype(np.int32), "n": counts[nz], "s": list(sums[nz])}
            )

        return df.mapInPandas(kernel, schema).collect()

    for _ in range(iters):
        agg_n = np.zeros(k, dtype=np.int64)
        agg_s = np.zeros((k, d), dtype=np.int64)
        for r in partials(centers):
            agg_n[r["cell"]] += r["n"]
            agg_s[r["cell"]] += np.asarray(r["s"], dtype=np.int64)
        new_centers = centers.copy()  # empty cells keep previous centroid
        nz = agg_n > 0
        # integer half-up average in scaled units — (2Σ + N) div (2N)
        # with div truncating toward zero, the functions/exact contract
        n_col = agg_n[nz][:, None]
        new_centers[nz] = (
            np_trunc_div(2 * agg_s[nz] + n_col, 2 * n_col).astype(
                np.float64
            )
            / scale
        )
        centers = new_centers
    return centers


def kmeans_centers_deterministic_sliced(
    df: DataFrame,
    slices: list[tuple[int, int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    round_to: int = 6,
    precounted: int | None = None,
):
    """Fit INDEPENDENT deterministic-Lloyd codebooks over ``slices``
    (0-based (start, length) views of ``vec_col``) in ONE set of
    passes — bit-identical to calling ``kmeans_centers_deterministic``
    once per ``F.slice`` projection, because (a) the md5-ordered seed
    rule depends only on ``id_col``, so every subspace seeds from the
    SAME rows, and (b) each subspace's assignment and integer-scaled
    partial sums never read another subspace's columns. Collapses the
    m × (1 seed TakeOrdered + iters partial-collect) jobs of a
    product-quantizer fit to 1 + iters jobs total — the per-merge
    barrier latency was scheduler overhead, not compute (guide §2.4).
    Returns a list of (n_cells × length) ndarrays, one per slice.

    r12: below the single-task budget the whole multi-book fit is ONE
    1-task job (see ``kmeans_centers_deterministic``)."""
    import numpy as np
    import pandas as pd

    n = df.count() if precounted is None else int(precounted)
    if _lloyd_single_task_ok(df, id_col, n, n_cells * len(slices)):
        return _lloyd_fit_single_task(
            df, id_col, vec_col, slices, n_cells, iters, round_to
        )

    spark = df.sparkSession
    seed_rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    full = np.stack([np.asarray(r[1], dtype=np.float64) for r in seed_rows])
    books = [
        np.ascontiguousarray(full[:, s : s + ln]) for s, ln in slices
    ]

    from ..functions.exact import np_round_half_away_scaled, np_trunc_div

    scale = 10 ** int(round_to)
    m = len(slices)

    def partials(books_arr):
        bc = spark.sparkContext.broadcast(books_arr)
        schema = "sub int, cell int, n long, s array<long>"

        def kernel(batches):
            bks = bc.value
            counts = [np.zeros(len(b), dtype=np.int64) for b in bks]
            sums = [
                np.zeros((len(b), b.shape[1]), dtype=np.int64) for b in bks
            ]
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                for j, (s0, ln) in enumerate(slices):
                    sub = mat[:, s0 : s0 + ln]
                    cells = _kmeans_assign_batch(sub, bks[j], round_to)
                    counts[j] += np.bincount(cells, minlength=len(bks[j]))
                    np.add.at(
                        sums[j], cells, np_round_half_away_scaled(sub, scale)
                    )
            frames = []
            for j in range(m):
                nz = np.nonzero(counts[j])[0]
                if len(nz) == 0:
                    continue
                frames.append(
                    pd.DataFrame(
                        {
                            "sub": np.full(len(nz), j, dtype=np.int32),
                            "cell": nz.astype(np.int32),
                            "n": counts[j][nz],
                            "s": list(sums[j][nz]),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

        return df.mapInPandas(kernel, schema).collect()

    for _ in range(iters):
        agg_n = [np.zeros(len(b), dtype=np.int64) for b in books]
        agg_s = [
            np.zeros((len(b), b.shape[1]), dtype=np.int64) for b in books
        ]
        for r in partials(books):
            j = r["sub"]
            agg_n[j][r["cell"]] += r["n"]
            agg_s[j][r["cell"]] += np.asarray(r["s"], dtype=np.int64)
        for j in range(m):
            nz = agg_n[j] > 0
            new_b = books[j].copy()  # empty cells keep previous centroid
            n_col = agg_n[j][nz][:, None]
            new_b[nz] = (
                np_trunc_div(2 * agg_s[j][nz] + n_col, 2 * n_col).astype(
                    np.float64
                )
                / scale
            )
            books[j] = new_b
    return books


def kmeans_cells_deterministic(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    round_to: int = 6,
    out_col: str = "cell",
) -> DataFrame:
    """Distributed Lloyd (KMeans) with ENGINE-PORTABLE determinism —
    the oracle-checkable coarse quantizer (upgrades the driver-sampled
    ``assign_kmeans_cells``, whose `limit(fit_cap)` sample order makes
    centroids layout-dependent):

    - seeds: the ``n_cells`` rows with the smallest
      ``md5(CAST(id AS STRING))`` (hex order, id tie-break) — the
      md5-portable seeding this repo uses wherever DuckDB must replay
      engine randomness; cell index = rank in that order;
    - each iteration assigns every point to
      argmin over ``ROUND(Σ(xᵢ−cᵢ)², round_to)`` (ties → lowest cell)
      and recomputes centroids as per-dimension ``ROUND(AVG, round_to)``
      (empty cells keep their previous centroid). Rounding both the
      distances and the centroids at every step absorbs float
      summation-order differences across engines/layouts, the same
      round-before-compare rule every float oracle in this repo uses.

    Scale shape: seeding is a TakeOrdered(k); every pass is a NARROW
    broadcast-centroid numpy kernel (no shuffle anywhere). Each Lloyd
    iteration FUSES assignment and the centroid update into one scan:
    the kernel emits per-partition (cell, count, Σvector) partials —
    k·|partitions| rows of d+2 numbers, the map-side-combine shape —
    and the driver reduces them to the new k×d centroids (exactly
    sum/count per dimension, so the result is identical to a
    groupBy(cell).avg, while skipping the posexplode shuffle the
    unfused form would pay). Nothing corpus-sized ever moves. Returns
    df + ``out_col`` int."""
    from ..io import ensure_parallelism

    # pinned once: the fit reads base 1 + iters times (seed + fused
    # Lloyd passes) and the assignment pass below reads it again — one
    # scan+shuffle shared by all 4 passes instead of 4 re-runs
    # (guide §2.4); blocks are embeddings-sized, executor-local.
    # Lazy pin (r12): the fit's cutover count is the first action and
    # materializes it — no standalone checkpoint job.
    base = ensure_parallelism(df).localCheckpoint(eager=False)
    centers = kmeans_centers_deterministic(
        base, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters,
        round_to=round_to,
    )

    import numpy as np
    import pandas as pd  # noqa: F401 (kernel closure below)

    bc = df.sparkSession.sparkContext.broadcast(centers)
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, {out_col} int"

    def assign_kernel(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = pdf.copy()
            out[out_col] = _kmeans_assign_batch(m, c, round_to).astype(np.int32)
            yield out

    return base.mapInPandas(assign_kernel, schema)


def knn_ivf_deterministic(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF ANN with ORACLE-GRADE determinism (r7): the coarse quantizer
    is `kmeans_cells_deterministic`'s engine-portable recurrence
    (md5-ordered seeds, ROUND-6 Lloyd), the probe ranks query→centroid
    CAST(ROUND(L2²·10⁶) AS BIGINT) with lowest-cell ties (half-away on
    both engines — r12), and the refine is exact
    ROUND(cosine, 6) with id ties — every stage is SQL-replayable, so
    the whole ANN search hash-checks against a DuckDB unroll instead of
    settling for a rows-only recall gate. Same physical shape as
    `knn_ivf_kmeans`: zero-shuffle fused Lloyd fit, one narrow
    assignment kernel over the corpus, a broadcast (query, cell) probe
    table, per-cell equi-join + exact top-k — per-query cost
    ~n_probe/n_cells of the corpus."""
    import numpy as np
    import pandas as pd

    from ..io import ensure_parallelism
    from .topk import top_k_per_group

    # pinned once for the fit's 1 + iters passes plus the assignment
    # pass (guide §2.4; see kmeans_cells_deterministic). Lazy: the
    # fit's cutover count materializes it (r12).
    base = ensure_parallelism(corpus).localCheckpoint(eager=False)
    centers = kmeans_centers_deterministic(
        base, id_col=corpus_id, vec_col=vec_col, n_cells=n_cells,
        iters=iters, round_to=round_to,
    )
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(centers)

    def assign_kernel(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = pdf[[corpus_id, vec_col]].copy()
            out["_cell"] = _kmeans_assign_batch(m, c, round_to).astype(np.int32)
            yield out

    vec_ddl = corpus.schema[vec_col].dataType.simpleString()
    assigned = base.mapInPandas(
        assign_kernel, f"`{corpus_id}` long, `{vec_col}` {vec_ddl}, _cell int"
    )

    def probe_kernel(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = np.empty((len(m), len(c)))
            for j in range(len(c)):
                d2[:, j] = ((m - c[j]) ** 2).sum(axis=1)
            d2 = _q_scaled(d2, round_to)
            # stable sort on the quantized distance = lowest-cell
            # tie-break, matching the assignment rule and the oracle's
            # ROW_NUMBER (dist, cell) ordering
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            qids = pdf[query_id].to_numpy()
            yield pd.DataFrame(
                {
                    query_id: np.repeat(qids, order.shape[1]),
                    "_cell": order.reshape(-1).astype(np.int32),
                }
            )

    probes = (
        queries.select(query_id, vec_col)
        .mapInPandas(probe_kernel, f"`{query_id}` long, _cell int")
        .join(
            queries.select(F.col(query_id), F.col(vec_col).alias("_qvec")),
            query_id,
        )
    )
    # integer-scaled single-arg round (r12): ROUND(x·10^r) of the SAME
    # double is engine-exact (BigDecimal HALF_UP ≡ std::round on ties),
    # unlike two-arg ROUND(x, r) whose internal scaling may differ in
    # ulp cases; the emitted score is the identical quotient on both
    # engines.
    s = float(10 ** round_to)
    cand = assigned.join(F.broadcast(probes), "_cell").select(
        query_id,
        corpus_id,
        (F.round(cosine("_qvec", vec_col) * s).cast("long") / F.lit(s)).alias(
            "score"
        ),
    )
    return top_k_per_group(
        cand, [query_id], [F.desc("score"), F.asc(corpus_id)], k=k
    )


def lsh_buckets_deterministic(
    df: DataFrame,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bucket",
    round_to: int = 6,
) -> DataFrame:
    """Sign-random-projection LSH (Charikar 2002) with ENGINE-PORTABLE
    hyperplanes (r7): plane p's component for dimension d is +1 when
    the first hex digit of ``md5(f"{p}:{d}")`` is even, else −1 — a
    Rademacher matrix both engines can derive from the same strings,
    the md5-portable-randomness trick this repo's seeded sampling
    already uses. Bucket = Σ_p [CAST(ROUND(v·h_p·10⁶) AS BIGINT) ≥ 0]·2^p
    (quantizing before the sign absorbs float summation-order
    differences, and the integer compare is exact on both engines —
    the round-before-compare rule every float oracle here uses, in the
    r12 scaled-integer form).

    One narrow kernel pass with the (n_planes × d) matrix broadcast —
    no shuffle, no fit. Production LSH wants fresh random planes per
    index build (`knn_lsh` / `cosine_lsh_pairs`); this variant
    trades that for full DuckDB replayability."""
    import hashlib

    import numpy as np

    d = _probe_dim(df, vec_col, "lsh_buckets_deterministic")
    planes = np.empty((n_planes, d))
    for p in range(n_planes):
        for dim in range(d):
            h = hashlib.md5(f"{p}:{dim}".encode()).hexdigest()[0]
            planes[p, dim] = 1.0 if h in "02468ace" else -1.0
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def kernel(batches):
        pl = bc.value
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # sign of the INTEGER-quantized dot (half-away — `_q_scaled`)
            dots = _q_scaled(m @ pl.T, round_to)
            out = pdf.copy()
            out[out_col] = ((dots >= 0) * weights[None, :]).sum(axis=1)
            yield out

    return df.mapInPandas(kernel, f"{fields}, {out_col} long")


def knn_pq_deterministic(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Product-quantization ADC search with ORACLE-GRADE determinism
    (r7, companion to `knn_ivf_deterministic`): per-subspace codebooks
    come from the deterministic Lloyd recurrence over SLICED vectors
    (same md5-ordered seeds per subspace), corpus codes are the
    integer-quantized per-subspace L2 argmins (lowest-code ties), and
    the approximate distance is Σⱼ CAST(ROUND(‖qⱼ − c_{j,codeⱼ}‖²·10⁶)
    AS BIGINT) / 10⁶ — the classic ADC lookup-table sum carried in
    EXACT int64 micros (r12: the float re-round disappeared), so
    the ENTIRE compressed-domain search (fit, encode, tables, top-k)
    hash-checks against a DuckDB CTE unroll. Physical shape matches
    `knn_pq_adc`: m driver-reduced fits (zero shuffle), ONE narrow
    encode+ADC kernel pass over the corpus emitting per-partition
    top-k, global top-k reduce — |Q|·k rows per partition move, never
    the corpus."""
    import numpy as np
    import pandas as pd

    from ..io import ensure_parallelism
    from .topk import top_k_per_group

    d = _probe_dim(corpus, vec_col, "knn_pq_deterministic")
    if d % m != 0:
        raise ValueError(f"knn_pq_deterministic: dim {d} not divisible by m={m}")
    sd = d // m
    # pinned once for the fused fit's 1 + iters passes plus the
    # encode+ADC pass (guide §2.4; see kmeans_cells_deterministic).
    # Lazy: the fit's cutover count materializes it (r12).
    base = ensure_parallelism(corpus).localCheckpoint(eager=False)
    # one fused fit for all m subspaces (1 seed collect + iters passes
    # instead of m × (1 + iters) — bit-identical books, see
    # kmeans_centers_deterministic_sliced)
    books = kmeans_centers_deterministic_sliced(
        base,
        [(j * sd, sd) for j in range(m)],
        id_col=corpus_id, vec_col=vec_col, n_cells=n_codes,
        iters=iters, round_to=round_to,
    )
    books_arr = np.stack(books)  # (m, n_codes, sd)

    qpdf = (
        queries.select(F.col(query_id), F.col(vec_col).alias("_v"))
        .toPandas()
        .sort_values(query_id)
    )
    qids = qpdf[query_id].to_numpy(dtype=np.int64)
    qmat = np.stack(qpdf["_v"].to_numpy()).astype(np.float64)
    # per-query ADC tables: (nq, m, n_codes) INTEGER-quantized subspace
    # distances (units of 10^-round_to, half-away — `_q_scaled`); the
    # ADC sum is then EXACT int64 arithmetic, so no re-round is needed
    # and the oracle's integer table sum matches bit-for-bit
    tables = np.empty((len(qids), m, n_codes), dtype=np.int64)
    for j in range(m):
        qs = qmat[:, j * sd : (j + 1) * sd]
        diff = qs[:, None, :] - books_arr[j][None, :, :]
        tables[:, j, :] = _q_scaled((diff * diff).sum(axis=2), round_to)

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((books_arr, qids, tables))

    def kernel(batches):
        books_b, qids_b, tables_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            codes = np.empty((len(ids), m), np.int64)
            for j in range(m):
                sub = mat[:, j * sd : (j + 1) * sd]
                d2 = _q_scaled(
                    ((sub[:, None, :] - books_b[j][None, :, :]) ** 2).sum(
                        axis=2
                    ),
                    round_to,
                )
                codes[:, j] = d2.argmin(axis=1)  # first-min = lowest code
            # ADC: dist[q, x] = Σ_j tables[q, j, codes[x, j]] — EXACT
            # int64 sum of quantized subspace distances; emitted as the
            # quotient dist/10^r (identical float division on both
            # engines, no re-round needed)
            dist = np.zeros((len(qids_b), len(ids)), dtype=np.int64)
            for j in range(m):
                dist += tables_b[:, j, :][:, codes[:, j]]
            # per-partition top-k per query by (dist, id)
            kk = min(k, len(ids))
            # TRUE division by the exact power of ten (NOT reciprocal
            # multiply — 1/10^r is inexact and can differ in ulp from
            # the oracle's CAST(i AS DOUBLE)/10^r quotient)
            scale_f = float(10 ** round_to)
            rows_q, rows_i, rows_d = [], [], []
            for qi in range(len(qids_b)):
                sel = np.lexsort((ids, dist[qi]))[:kk]  # (dist, id) order
                rows_q.append(np.full(kk, qids_b[qi]))
                rows_i.append(ids[sel])
                rows_d.append(dist[qi][sel] / scale_f)
            yield pd.DataFrame(
                {
                    query_id: np.concatenate(rows_q),
                    corpus_id: np.concatenate(rows_i),
                    "adc_dist": np.concatenate(rows_d),
                }
            )

    local = base.mapInPandas(
        kernel, f"`{query_id}` long, `{corpus_id}` long, adc_dist double"
    )
    return top_k_per_group(
        local, [query_id], [F.asc("adc_dist"), F.asc(corpus_id)], k=k
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    n_cells: int = 16,
    seed: int = 42,
    round_to: int = 6,
    tile: int = 2048,
    max_cluster_rows: int = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic near-duplicate PAIRS, scoped to clusters so the pairwise
    cost is Σ m_c² (bounded by cluster size), never |corpus|².

    ``cluster_col=None`` runs the built-in KMeans cells (the paper's
    recipe); passing an existing column (e.g. a label / topic / domain)
    makes the op fully deterministic and SQL-oracle-checkable. The
    output ``cluster`` column carries the ORIGINAL key value — long for
    integral clusters (and KMeans cells), the string form otherwise.
    No hash stands between the key and the pairing scope, so two
    distinct clusters can never silently merge (the r5 xxhash64
    encoding risked exactly that on a 64-bit collision — ADVICE r5);
    Spark hash-partitions the shuffle on any key type natively.

    Execution: ONE shuffle (hash by cluster), then a per-cluster numpy
    kernel that scores the cluster's m×d matrix against itself in row
    tiles (memory O(tile·m), compute O(m²) per cluster — the SemDeDup
    contract is that clusters are small relative to the corpus; a hard
    ``max_cluster_rows`` gate refuses degenerate clusterings loudly
    instead of OOM-ing an executor; raise n_cells to shrink clusters).
    Zero-norm vectors score 0 against everything (norm clamped to 1).

    Returns (cluster, id_a, id_b, score) with id_a < id_b, score =
    CAST(ROUND(cosine·10^r) AS BIGINT)/10^r ≥ threshold — the cut is
    the exact integer form of that float predicate
    (`functions/exact.quantized_threshold`, r12 scaled-integer
    contract; correct for off-grid thresholds too).
    """
    import numpy as np
    import pandas as pd

    if cluster_col is None:
        base = assign_kmeans_cells(df, vec_col, n_cells, seed, out_col="_cluster")
        cl = "_cluster"
    else:
        base, cl = df, cluster_col
    # a NULL cluster key carries no locality information — such rows
    # cannot be paired (dropped from the pair scan; semantic_dedup then
    # KEEPS them, the conservative choice for unclusterable rows).
    # Integral cluster types pass through as long; anything else
    # (string labels, …) keeps its STRING form — the grouping key is
    # always the original value, never a hash (collision-free scoping).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    cdt = base.schema[cl].dataType
    if isinstance(cdt, (ByteType, ShortType, IntegerType, LongType)):
        ckey, ctype = F.col(cl).cast("long"), "long"
    else:
        ckey, ctype = F.col(cl).cast("string"), "string"
    sel = (
        base.filter(F.col(cl).isNotNull())
        .select(
            ckey.alias("cluster"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
        )
    )

    def kernel(key, pdf):
        m_rows = len(pdf)
        if m_rows > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup_pairs: cluster {key[0]} has {m_rows} rows > "
                f"max_cluster_rows={max_cluster_rows}. Raise n_cells (smaller "
                f"clusters) or max_cluster_rows (more executor memory)."
            )
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        out_a, out_b, out_s = [], [], []
        from ..functions.exact import quantized_threshold

        scale_f = float(10 ** round_to)
        thr_q = quantized_threshold(threshold, 10 ** round_to)
        for lo in range(0, m_rows, tile):
            hi = min(lo + tile, m_rows)
            # integer-quantized cosine (half-away — `_q_scaled`):
            # threshold compares exactly in int, the emitted score is
            # the quotient q/10^r (identical float division on both
            # engines)
            q = _q_scaled(
                (m[lo:hi] @ m.T) / np.outer(norms[lo:hi], norms), round_to
            )
            # global triu: row index lo+i vs col j, keep j > lo+i
            mask = (q >= thr_q) & (
                np.arange(lo, hi)[:, None] < np.arange(m_rows)[None, :]
            )
            ia, ib = np.nonzero(mask)
            out_a.append(ids[lo + ia])
            out_b.append(ids[ib])
            out_s.append(q[ia, ib] / scale_f)
        n_out = sum(map(len, out_a))
        return pd.DataFrame(
            {
                "cluster": [key[0]] * n_out,
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "score": np.concatenate(out_s) if out_s else np.array([], dtype=np.float64),
            }
        )

    return sel.groupBy("cluster").applyInPandas(
        kernel, f"cluster {ctype}, id_a long, id_b long, score double"
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    n_cells: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup survivors: drop every row that has a SMALLER-id semantic
    neighbor (cosine ≥ threshold) in its cluster; keep the rest.

    The keep rule ("no smaller similar neighbor") is deterministic and
    closed-form — on a dup chain a-b-c it keeps exactly the minimum id,
    matching what connected-components + keep-min would do for cliques,
    without an iterative CC pass (the paper keeps one exemplar per
    ε-neighborhood; min-id is the reproducible choice). Survivors are
    the input minus a broadcast-able dropped-id set (left_anti join).
    """
    pairs = semantic_dedup_pairs(
        df, threshold, id_col, vec_col, cluster_col, n_cells, seed
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(broadcast_if_small(dropped), on=id_col, how="left_anti")


def margin_bitext_mine(
    x: DataFrame,
    y: DataFrame,
    k: int = 4,
    margin_ppm_threshold: int = 1_060_000,
    x_id: str = "x_id",
    y_id: str = "y_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MARGIN-BASED bitext mining (the Artetxe–Schwenk criterion from
    the public LASER mining literature): align two embedding sets by
    scoring each cross pair with its cosine RELATIVE to the two
    endpoints' neighborhood densities — margin(x, y) =
    cos(x, y) / ((avg top-k cos of x over Y + avg top-k cos of y over
    X) / 2) — then keep MUTUAL best pairs above a margin threshold.
    Raw-cosine thresholds fail at alignment: a vector in a dense
    region has many high-cosine neighbors (all spurious), while an
    isolated true translation pair may sit at a modest absolute
    cosine; the margin normalizes both away.

    INTEGER-EXACT decision arithmetic (this repo's oracle
    discipline): cosines are converted ONCE to integer micros
    (``round(cos·1e6)`` — the only float step, the identical IEEE
    expression both engines), the top-k neighborhood sums are integer
    sums over window-ranked rows (ties broken by id), and the margin
    is the integer floor ``(2k·10⁶·cos_u) div (d_x + d_y)`` in ppm —
    no float ever decides a rank or a threshold.

    Scale shape: this is the EXACT variant — one |X|×|Y| cosine pass
    (norms precomputed per side, arrays dropped at projection), then
    id-keyed windows and two KB-per-group joins. At corpus scale,
    block the cross pass by `kmeans_cells_deterministic` cells first
    (the SemDeDup composition) and mine within cells; the criterion
    itself is unchanged.

    Output: (x_id, y_id, cos_micros, margin_ppm), mutual-best pairs
    with margin_ppm ≥ threshold.

    PRESUMES DEDUPED INPUTS: the margin denominator is each endpoint's
    avg top-k cosine, so near-duplicate neighbors inflate it and
    collapse ALL margins toward 1 — replicating each side ×3 on the
    registry fixture dropped exact-path yield 524 → 28 pairs and
    blocked-path yield to 0 (measured, SCALE.md r11). Run the miner
    AFTER the dedup stages (`semantic_dedup_*`, `minhash_*`); do not
    feed it replica-dense crawls.
    """
    from pyspark.sql import Window

    from ..functions.vector import as_double, dot, l2_norm
    from ..io import broadcast_if_small, ensure_parallelism

    xs = ensure_parallelism(x).select(
        F.col(x_id),
        as_double(vec_col).alias("_xv"),
        l2_norm(vec_col).alias("_xn"),
    )
    ys = y.select(
        F.col(y_id),
        as_double(vec_col).alias("_yv"),
        l2_norm(vec_col).alias("_yn"),
    )
    cos = dot(F.col("_xv"), F.col("_yv")) / (F.col("_xn") * F.col("_yn"))
    scored = (
        xs.crossJoin(broadcast_if_small(ys))
        .select(
            x_id,
            y_id,
            F.round(F.lit(1_000_000) * cos).cast("long").alias("cos_micros"),
        )
        .localCheckpoint(eager=True)  # 4 consumers: dx, dy, 2 best-windows
    )
    return _margin_mine_from_scored(
        scored, k, margin_ppm_threshold, x_id, y_id
    )


def _margin_mine_from_scored(
    scored: DataFrame,
    k: int,
    margin_ppm_threshold: int,
    x_id: str,
    y_id: str,
) -> DataFrame:
    """Shared margin pipeline over a pre-materialized scored frame
    (x_id, y_id, cos_micros): top-k neighborhood integer sums per
    side, integer ppm margin, mutual-best, threshold."""
    from pyspark.sql import Window

    from ..io import broadcast_if_small

    wx = Window.partitionBy(x_id).orderBy(F.desc("cos_micros"), y_id)
    wy = Window.partitionBy(y_id).orderBy(F.desc("cos_micros"), x_id)
    dx = (
        scored.withColumn("_rn", F.row_number().over(wx))
        .filter(F.col("_rn") <= k)
        .groupBy(x_id)
        .agg(F.sum("cos_micros").alias("_dx"))
    )
    dy = (
        scored.withColumn("_rn", F.row_number().over(wy))
        .filter(F.col("_rn") <= k)
        .groupBy(y_id)
        .agg(F.sum("cos_micros").alias("_dy"))
    )
    m = (
        scored.join(broadcast_if_small(dx), x_id)
        .join(broadcast_if_small(dy), y_id)
        .withColumn(
            "margin_ppm",
            F.expr(f"({2 * k} * 1000000 * cos_micros) div (_dx + _dy)"),
        )
    )
    wmx = Window.partitionBy(x_id).orderBy(F.desc("margin_ppm"), y_id)
    wmy = Window.partitionBy(y_id).orderBy(F.desc("margin_ppm"), x_id)
    return (
        m.withColumn("_bx", F.row_number().over(wmx))
        .withColumn("_by", F.row_number().over(wmy))
        .filter(
            (F.col("_bx") == 1)
            & (F.col("_by") == 1)
            & (F.col("margin_ppm") >= margin_ppm_threshold)
        )
        .select(x_id, y_id, "cos_micros", "margin_ppm")
    )


def margin_bitext_mine_blocked(
    x: DataFrame,
    y: DataFrame,
    k: int = 4,
    margin_ppm_threshold: int = 1_060_000,
    n_cells: int | str = 8,
    iters: int = 2,
    n_probe: int = 2,
    x_id: str = "x_id",
    y_id: str = "y_id",
    vec_col: str = "embedding",
    gate_sample: int = 64,
    min_sample_top1_recall: float | None = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """The SCALE PATH for margin mining: block the |X|×|Y| cross pass
    by deterministic-Lloyd cells fit on X ∪ Y, MULTI-PROBE the cell
    assignment (r11 — each vector also probes its ``n_probe`` nearest
    centroids, the `knn_ivf_deterministic` pattern), and run the
    identical margin criterion over the union of (x-probe ⋈ y-home)
    and (x-home ⋈ y-probe) pairs. Cost drops from |X|·|Y| to
    ~2·n_probe·Σ_cells |X_c|·|Y_c| (the `semantic_dedup` shape with
    the probe fan-out); a pair is considered whenever EITHER endpoint
    probes the other's home cell, which is what rescues the near-miss
    neighbors single-cell blocking loses (measured r10: 28% top-1
    co-cell at n_cells=8 on near-random embeddings → multi-probe p=2
    roughly doubles coverage, and the gate below makes the residual
    loss LOUD instead of silent).

    IN-PLAN QUALITY GATE (r11 — this repo's r6 rule: approximate
    operators ENFORCE their contracts in the plan): a deterministic
    seeded sample of ``gate_sample`` x-vectors (smallest
    md5(x_id), id tie-break) gets its EXACT top-1 cosine over ALL of Y
    (one broadcast-sample scan of Y — s·|Y| dot products, narrow at
    any scale), and the job RAISES unless at least
    ``min_sample_top1_recall`` of the sampled x's have SOME candidate
    attaining that exact max cos_micros (any tied y counts — requiring
    one specific tie-winner would false-alarm on quantized/duplicated
    embeddings; ADVICE r11). The gate is a union branch of the
    candidate set, not a filter over candidate rows, so it executes
    even when blocking yields ZERO candidates — the fully-disjoint
    worst case that a row-filter gate silently bypassed (ADVICE r11).
    On unclusterable embeddings the gate fires instead of silently
    returning ~30% of true pairs; pass ``min_sample_top1_recall=None``
    to opt out (e.g. when composing with an external recall audit).
    Gate arithmetic is integer ppm — no float decides it.

    PRESUMES DEDUPED INPUTS (same contract as `margin_bitext_mine`,
    measured SCALE.md r11: ×3 replicas collapse margins — exact 524 →
    28 pairs, blocked → 0): run AFTER dedup stages.

    ``n_cells="auto"`` sizes the cell count to the corpus
    (~32 vectors per cell, capped at 65,536) — the regime the r12
    scale measurement showed keeps candidate bytes LINEAR in N
    (exponent 1.06 vs ~2.0 at any fixed cell count; SCALE.md r12).
    Any fixed int only divides the quadratic bill by a constant.

    Every stage is engine-portable (md5-seeded ROUND-``round_to``
    Lloyd, rounded-L2² stable probe ranks with lowest-cell ties,
    integer-micros margins), so the whole blocked path hash-checks
    against a DuckDB CTE unroll — see Q:`bitext_margin_mining_blocked`.

    Output: (x_id, y_id, cos_micros, margin_ppm) mutual-best pairs,
    exactly `margin_bitext_mine`'s schema.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 (probe kernel)

    from ..functions.vector import as_double, dot, l2_norm
    from ..io import broadcast_if_small, ensure_parallelism

    ux = x.select((F.col(x_id) * 2).alias("_uid"), F.col(vec_col).alias("_v"))
    uy = y.select(
        (F.col(y_id) * 2 + 1).alias("_uid"), F.col(vec_col).alias("_v")
    )
    # the fit scans its input 1 + iters times (seed TakeOrdered + one
    # fused pass per Lloyd round); pin the repartitioned union ONCE so
    # those passes (and auto's count) share a single scan+shuffle
    # instead of re-running both parquet scans and the repartition per
    # pass (guide §2.4 — the shuffle already exists, the checkpoint
    # just keeps its output). Blocks are embeddings-sized (d doubles
    # per row), executor-local, spill-safe.
    # lazy pin: the auto-cells count (or the Lloyd seed scan) is the
    # first action and materializes it — no standalone checkpoint job
    u = ensure_parallelism(ux.unionByName(uy)).localCheckpoint(eager=False)
    u_count = None
    if n_cells == "auto":
        # the deployment rule the r12 measurement established (SCALE.md
        # r12: n_cells ∝ N → candidate bytes linear, exponent 1.06, vs
        # ~2.0 at any FIXED cell count): size cells to hold ~32 vectors
        # each. Capped so the broadcast centers matrix stays MB-sized
        # (65,536 cells × d doubles); beyond the cap per-cell occupancy
        # grows again — shard the corpus or mine per partition family.
        # One cheap count() over the pinned union; the Lloyd fit
        # dwarfs it.
        u_count = u.count()
        n_cells = max(16, min(65_536, u_count // 32))
    elif not isinstance(n_cells, int):
        raise ValueError(
            f"margin_bitext_mine_blocked: n_cells must be an int or "
            f"'auto', got {n_cells!r}"
        )
    centers = kmeans_centers_deterministic(
        u,
        id_col="_uid", vec_col="_v", n_cells=n_cells, iters=iters,
        round_to=round_to, precounted=u_count,
    )
    bc = x.sparkSession.sparkContext.broadcast(centers)

    def _probed(side: DataFrame, id_col: str) -> DataFrame:
        """(id, vec, _cell, _rank 1..n_probe): each vector's n_probe
        nearest centroids by CAST(ROUND(L2²·10^r) AS BIGINT) (r12
        half-away quantize), stable order =
        lowest-cell tie-break (the knn_ivf_deterministic probe)."""
        vec_ddl = side.schema[vec_col].dataType.simpleString()

        def kernel(batches):
            c = bc.value
            p = min(n_probe, len(c))
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d2 = np.empty((len(m), len(c)))
                for j in range(len(c)):
                    d2[:, j] = ((m - c[j]) ** 2).sum(axis=1)
                d2 = _q_scaled(d2, round_to)
                order = np.argsort(d2, axis=1, kind="stable")[:, :p]
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), p),
                        vec_col: pdf[vec_col].to_numpy().repeat(p),
                        "_cell": order.reshape(-1).astype(np.int32),
                        "_rank": np.tile(
                            np.arange(1, p + 1), len(m)
                        ).astype(np.int32),
                    }
                )

        return side.select(id_col, vec_col).mapInPandas(
            kernel,
            f"`{id_col}` long, `{vec_col}` {vec_ddl}, _cell int, _rank int",
        )

    # parallelize BEFORE the probe kernel (it computes an n_cells × d
    # distance matrix per row — on a 1-file parquet side the kernel
    # otherwise runs in ONE task), and pin each probed side once: xs
    # feeds BOTH candidate branches (all-ranks join + home-only join)
    # and ys feeds both broadcast sides — unpinned, each probe kernel
    # ran twice (guide §2.4 / §4). Concurrent materialization: the two
    # sides are independent (guide §2.6).
    from ..io import materialize_many

    xs, ys = materialize_many(
        [
            _probed(ensure_parallelism(x), x_id).select(
                x_id, "_cell", "_rank",
                as_double(vec_col).alias("_xv"),
                l2_norm(vec_col).alias("_xn"),
            ),
            _probed(ensure_parallelism(y), y_id).select(
                y_id, "_cell", "_rank",
                as_double(vec_col).alias("_yv"),
                l2_norm(vec_col).alias("_yn"),
            ),
        ]
    )
    cos = dot(F.col("_xv"), F.col("_yv")) / (F.col("_xn") * F.col("_yn"))
    cos_micros = F.round(F.lit(1_000_000) * cos).cast("long")
    yh = ys.filter(F.col("_rank") == 1).drop("_rank")
    xh = xs.filter(F.col("_rank") == 1).drop("_rank")
    b1 = (
        xs.drop("_rank")
        .join(broadcast_if_small(yh), "_cell")
        .select(x_id, y_id, cos_micros.alias("cos_micros"))
    )
    b2 = (
        xh.join(broadcast_if_small(ys.drop("_rank")), "_cell")
        .select(x_id, y_id, cos_micros.alias("cos_micros"))
    )
    # the two branches overlap (home⋈home pairs appear in both) and a
    # pair can collide in several probed cells — dedupe on the pair
    # key; cos is identical wherever it appears, so max == the value
    scored = (
        b1.unionByName(b2)
        .groupBy(x_id, y_id)
        .agg(F.max("cos_micros").alias("cos_micros"))
        .localCheckpoint(eager=True)  # 4 margin consumers + the gate
    )

    if min_sample_top1_recall is not None and gate_sample > 0:
        floor_ppm = int(round(min_sample_top1_recall * 1_000_000))
        sample = (
            x.select(F.col(x_id))
            .orderBy(F.md5(F.col(x_id).cast("string")), x_id)
            .limit(gate_sample)
        )
        sx = x.join(F.broadcast(sample), x_id).select(
            F.col(x_id),
            as_double(vec_col).alias("_xv"),
            l2_norm(vec_col).alias("_xn"),
        )
        ally = y.select(
            F.col(y_id),
            as_double(vec_col).alias("_yv"),
            l2_norm(vec_col).alias("_yn"),
        )
        # exact top-1 COSINE per sampled x: one broadcast-sample scan
        # of Y, partial-agg'd max. A sampled x counts as a hit when ANY
        # candidate y attains this max cos_micros — requiring the
        # smallest-id tie-winner specifically would fire the gate
        # spuriously on tie-heavy (quantized / duplicated) embeddings
        # whose candidate quality is perfect (ADVICE r11)
        exact1 = (
            ally.crossJoin(F.broadcast(sx))
            .select(F.col(x_id), cos_micros.alias("_cmax"))
            .groupBy(x_id)
            .agg(F.max("_cmax").alias("_cmax"))
        )
        cand = scored.select(
            F.col(x_id).alias("_hx"), F.col("cos_micros").alias("_hc")
        )
        hit_flag = (
            exact1.join(
                cand,
                (F.col(x_id) == F.col("_hx"))
                & (F.col("_cmax") == F.col("_hc")),
                "left",
            )
            .groupBy(x_id)
            .agg(
                F.max(
                    F.when(F.col("_hx").isNotNull(), 1).otherwise(0)
                ).alias("_hit")
            )
        )
        # one row ALWAYS (global agg), even over an empty sample; eager
        # localCheckpoint so the 4 margin consumers reuse ONE evaluation
        # — and so a violated floor raises at construction, like the
        # candidate set's own eager checkpoint above
        recall = (
            hit_flag.agg(
                F.sum("_hit").alias("_nh"), F.count(F.lit(1)).alias("_n")
            )
            .select(
                F.col("_n"),
                F.expr("(_nh * 1000000) div _n").alias("_recall_ppm"),
            )
            .localCheckpoint(eager=True)
        )
        # The gate is a UNION BRANCH of the candidate set (gates.
        # gate_summary), not a filter over its rows: filtering `scored`
        # evaluates the assert only on candidate rows, so zero
        # candidates (home/probe cells fully disjoint — 0% recall, the
        # worst case) bypassed the gate and returned empty silently
        # (ADVICE r11). The union branch always executes — it raises at
        # construction via the margin pipeline's eager checkpoints.
        from ..gates import gate_summary

        scored = gate_summary(
            scored,
            recall,
            # _n == 0 ⇔ X or Y side is empty: no true pairs exist to
            # lose, so the empty result is exact, not a recall failure
            (F.col("_n") == 0) | (F.col("_recall_ppm") >= floor_ppm),
            F.concat(
                F.lit(
                    "margin_bitext_mine_blocked: seeded-sample top-1 "
                    "candidate recall "
                ),
                F.col("_recall_ppm").cast("string"),
                F.lit(
                    f" ppm < {floor_ppm} ppm floor — the embedding "
                    "distribution does not cluster well enough for "
                    "blocked mining at these (n_cells, n_probe); raise "
                    "n_probe/iters, or use margin_bitext_mine"
                ),
            ),
        )

    return _margin_mine_from_scored(
        scored, k, margin_ppm_threshold, x_id, y_id
    )
