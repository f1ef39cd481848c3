"""Unit/property tests for composite operators: as-of join vs pandas
merge_asof, sketch error bounds, MinHash recall vs exact Jaccard,
connected-components dedup survivors."""

import random
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pystreams_spark.io import load_table
from pystreams_spark.operators.dedup import (
    cc_keep_min,
    duplicate_clusters_md5,
    exact_dedup_hashed,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
)
from pystreams_spark.operators.joins import asof_join, interval_join
from pystreams_spark.operators.similarity import knn_exact, knn_lsh
from pystreams_spark.plans import executed_plan

_BROADCAST_THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@contextmanager
def _broadcast_joins_off(spark):
    """Both broadcast-join thresholds (the planner's and adaptive
    execution's runtime conversion) at -1, restored on exit: every
    unhinted equi-join runs as a shuffle join."""
    old = {k: spark.conf.get(k, None) for k in _BROADCAST_THRESHOLDS}
    for k in old:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _n_broadcast_hints(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("strategy=broadcast")


def test_asof_join_matches_pandas_merge_asof(spark):
    rng = random.Random(7)
    left = [(i, rng.choice([1, 2, 3]), rng.randint(0, 1000)) for i in range(300)]
    right = [(j, rng.choice([1, 2, 3]), rng.randint(0, 1000)) for j in range(150)]
    ldf = spark.createDataFrame(left, "lid long, k long, t long")
    rdf = spark.createDataFrame(right, "rid long, k long, t long")

    got = asof_join(
        ldf,
        rdf.select("k", F.col("t").alias("rt"), "rid"),
        on=["k"],
        left_time="t",
        right_time="rt",
        right_cols=["rt"],
    )
    got_map = {r.lid: r.rt_matched for r in got.collect()}

    lp = pd.DataFrame(left, columns=["lid", "k", "t"]).sort_values("t", kind="stable")
    rp = pd.DataFrame(right, columns=["rid", "k", "rt"]).rename(
        columns={"rt": "t"}
    ).sort_values("t", kind="stable")
    exp = pd.merge_asof(lp, rp, on="t", by="k", direction="backward", suffixes=("", "_r"))
    exp_map = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.t if pd.isna(r.rid) else r.t))
        for _, r in exp.iterrows()
    }
    # merge_asof keeps the matched right time implicitly == its own 't'
    # column only when matched; reconstruct matched right-time per lid
    rp2 = rp.rename(columns={"t": "rt"})
    exp2 = pd.merge_asof(
        lp, rp2, left_on="t", right_on="rt", by="k", direction="backward"
    )
    exp_map = {
        int(r.lid): (None if pd.isna(r.rt) else int(r.rt)) for _, r in exp2.iterrows()
    }
    assert got_map == exp_map


def test_interval_join_matches_naive(spark):
    rng = random.Random(11)
    pts = [(i, rng.randint(0, 3), f"2024-01-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00:00") for i in range(200)]
    ivs = [
        (j, rng.randint(0, 3), f"2024-01-{rng.randint(1, 25):02d} 00:00:00", rng.randint(1, 72))
        for j in range(40)
    ]
    pdf = spark.createDataFrame(pts, "pid long, k long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    idf = (
        spark.createDataFrame(ivs, "iid long, k long, start string, hours long")
        .withColumn("start", F.to_timestamp("start"))
        .withColumn("end", F.col("start") + F.col("hours") * F.expr("INTERVAL 1 HOUR"))
        .drop("hours")
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(pdf, idf, "ts", "start", "end", on=["k"], bucket_seconds=86400).select("pid", "iid").collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in pdf.join(
            idf, (pdf.k == idf.k) & (pdf.ts >= idf.start) & (pdf.ts <= idf.end)
        ).select("pid", "iid").collect()
    )
    assert got == naive


def test_approx_count_distinct_error_bound(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select("l_orderkey").distinct().count()
    approx = li.agg(F.approx_count_distinct("l_orderkey", 0.02).alias("a")).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.1


def test_percentile_approx_error_bound(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(F.percentile("l_extendedprice", F.lit(0.5)).alias("m")).collect()[0]["m"]
    approx = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("m")
    ).collect()[0]["m"]
    assert abs(approx - exact) / exact < 0.02


def _check_minhash_recall_and_threshold(spark, sf_dir, bands, rows_per_band, exact_tau):
    n_docs = 250
    docs = load_table(spark, sf_dir, "documents").limit(n_docs)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=exact_tau, n=3).collect()
    }
    rows = minhash_neardup_pairs(
        docs, n=3, bands=bands, rows_per_band=rows_per_band, threshold=0.3
    ).collect()
    # every reported pair really is ≥ threshold (verify stage is exact)
    assert all(r.jaccard >= 0.3 for r in rows)
    if exact:
        got = {(r.id_a, r.id_b) for r in rows}
        recall = len(exact & got) / len(exact)
        assert recall >= 0.8, f"{bands}x{rows_per_band} minhash recall too low: {recall}"
    if rows_per_band > 1:
        # width-r bands must not degenerate to all-pairs candidates
        # (width-1 bands admit most pairs); threshold 0 keeps them all
        cand = minhash_neardup_pairs(
            docs, n=3, bands=bands, rows_per_band=rows_per_band, threshold=0.0
        ).count()
        all_pairs = n_docs * (n_docs - 1) / 2
        assert cand < 0.2 * all_pairs, f"{cand} candidates of {all_pairs}"


def test_minhash_fast_recall_and_threshold(spark, sf_dir):
    _check_minhash_recall_and_threshold(spark, sf_dir, 4, 1, 0.4)


def test_minhash_banded_recall_and_precision(spark, sf_dir):
    _check_minhash_recall_and_threshold(spark, sf_dir, 8, 2, 0.5)


def test_knn_lsh_recall_vs_exact(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = e.filter(F.col("vec_id") >= 10)
    # exact top-10 by euclidean (same metric LSH uses)
    from pystreams_spark.functions.vector import l2_distance
    from pystreams_spark.operators.topk import top_k_per_group

    joined = c.crossJoin(F.broadcast(q.withColumnRenamed("embedding", "_qv"))).select(
        "query_id", "vec_id", F.round(l2_distance("embedding", "_qv"), 6).alias("d")
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in top_k_per_group(joined, ["query_id"], [F.asc("d"), F.asc("vec_id")], 10).collect()
    }
    rows = knn_lsh(q, c, k=10, num_hash_tables=5, bucket_length=4.0).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    assert all(r.dist >= 0 for r in rows)
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.dist)
    assert all(ds == sorted(ds) for ds in per_q.values())


def test_pack_sequences_invariants(spark, sf_dir):
    from pystreams_spark.functions.text import token_count
    from pystreams_spark.operators.packing import pack_sequences

    max_tokens = 512
    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    rows = pack_sequences(d, max_tokens=max_tokens).collect()
    # every document packed exactly once
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in d.select("doc_id").collect()
    )
    bins: dict = {}
    for r in rows:
        bins.setdefault(r.bin_id, []).append(r)
    for b, members in bins.items():
        total = sum(r.n_tokens for r in members)
        # bin_fill column is consistent and the budget holds (a single
        # oversized doc is allowed its own bin)
        assert all(r.bin_fill == total for r in members)
        assert total <= max_tokens or len(members) == 1
    # first-fit-decreasing should pack densely on ~54-token docs
    multi = [sum(r.n_tokens for r in m) for m in bins.values() if len(m) > 1]
    if multi:
        assert sum(multi) / (len(multi) * max_tokens) > 0.7


def test_winnowing_shared_substring_guarantee():
    # pure-kernel test (no session): the winnowing locality property
    from pystreams_spark.functions.text_kernels import winnow_fps

    k, w = 5, 8
    a = "the quick brown fox jumps over the lazy dog and keeps running far"
    b = "ANOTHER START the quick brown fox jumps over the lazy dog NEW END"
    c = "zzzz qqqq xxxx wwww vvvv uuuu tttt ssss"
    fa = set(winnow_fps(a, k, w))
    assert fa == set(winnow_fps(a, k, w))  # deterministic
    # docs sharing a substring >= w+k-1 chars must share a fingerprint
    assert fa & set(winnow_fps(b, k, w))
    # disjoint character content shares nothing
    assert not (fa & set(winnow_fps(c, k, w)))
    # position independence of the gram hash: same text shifted by a
    # prefix still yields the same gram hashes (implied by the overlap
    # above, asserted directly here)
    shifted = "XY" + a
    assert fa & set(winnow_fps(shifted, k, w))


def test_decontaminate_planted_overlap(spark):
    # plant: train doc 1 copies an eval sentence verbatim, train doc 2
    # shares nothing, train doc 3 shares exactly one 3-gram (below a
    # min_overlap=2 bar); empty, NULL and blank texts on both sides
    # share only the empty gram, which matches nothing
    from pystreams_spark.operators.decontaminate import (
        contaminated_docs,
        decontaminate,
    )

    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, ""),
            (102, None),
        ],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over suffix tail"),
            (2, "completely disjoint content with other tokens entirely"),
            (3, "the quick brown unrelated continuation of this sentence"),
            (4, ""),
            (5, None),
            (6, " \t "),
        ],
        "doc_id long, text string",
    )
    flagged = {
        r.doc_id: r
        for r in contaminated_docs(tr, ev, n=3, min_overlap=2).collect()
    }
    assert set(flagged) == {1}
    assert flagged[1].n_matched_grams >= 4  # the copied run yields many grams
    assert flagged[1].n_eval_docs_hit == 1
    # min_overlap=1 additionally catches the single-gram doc 3
    one = {r.doc_id for r in contaminated_docs(tr, ev, n=3, min_overlap=1).collect()}
    assert one == {1, 3}
    # decontaminate = anti-join of the flagged set
    kept = {r.doc_id for r in decontaminate(tr, ev, n=3, min_overlap=2).collect()}
    assert kept == {2, 3, 4, 5, 6}


def test_incremental_bloom_dedup_exactness(spark, sf_dir):
    # the bloom path must return EXACTLY the plain anti-join result —
    # also under a deliberately tiny, fp-heavy bitmap (512 bits for 300+
    # corpus docs → most probes are false-positive and go through exact
    # verification)
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.bloom import (
        bloom_might_contain_udf,
        build_bloom,
        incremental_exact_dedup,
    )
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 == 0)
    new = d.filter(F.col("doc_id") % 3 != 0)
    want = sorted(
        r.doc_id
        for r in new.join(
            corpus.select("text").distinct(), "text", "left_anti"
        ).collect()
    )
    for bits in (1 << 20, 512):
        got = sorted(
            r.doc_id
            for r in incremental_exact_dedup(new, corpus, num_bits=bits).collect()
        )
        assert got == want, f"bloom path diverged at num_bits={bits}"
    # no false negatives: every corpus hash probes positive
    bloom = build_bloom(
        corpus.select(F.xxhash64("text").alias("_h")), "_h", num_bits=1 << 16
    )
    probe = bloom_might_contain_udf(spark, bloom, 5)
    n_corpus = corpus.count()
    n_pos = (
        corpus.select(probe(F.xxhash64("text")).alias("p")).filter("p").count()
    )
    assert n_pos == n_corpus


def test_seeded_global_shuffle_permutation(spark, sf_dir):
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.decontaminate import seeded_global_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    ids = [r.doc_id for r in d.collect()]
    out1 = [r.doc_id for r in seeded_global_shuffle(d, seed=7).collect()]
    out2 = [r.doc_id for r in seeded_global_shuffle(d, seed=7).collect()]
    # a permutation (nothing lost/duplicated), deterministic under a
    # fixed seed, different under a different seed, and actually shuffled
    assert sorted(out1) == sorted(ids)
    assert out1 == out2
    assert out1 != sorted(out1)
    out3 = [r.doc_id for r in seeded_global_shuffle(d, seed=8).collect()]
    assert out3 != out1 and sorted(out3) == sorted(ids)


def test_band_sigs_kernel_vectorization():
    # pure-kernel test (no session): the per-permutation 1-D reduceat
    # must (a) produce band keys identical to the straightforward 2-D
    # formulation and (b) stay ~memory-bandwidth fast at sf0.1 scale
    # (~260k grams x 16 permutations; a 2-D reduceat strides k words
    # per step and was the 6.4 s trap of the earlier kernel)
    import time

    import numpy as np

    from pystreams_spark.functions.text_kernels import (
        _MINHASH_P,
        _minhash_band_keys,
        minhash_det_constants,
    )

    def reference(v, counts, bands, rows_per_band):
        p = _MINHASH_P
        out = np.zeros((len(counts), bands), dtype=np.int64)
        nz = counts > 0
        if not nz.any():
            return out
        ab = np.array(minhash_det_constants(bands * rows_per_band), dtype=np.int64)
        h = (ab[None, :, 0] * (v % p)[:, None] + ab[None, :, 1]) % p
        offsets = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
        mins = np.minimum.reduceat(h, offsets, axis=0).reshape(-1, bands, rows_per_band)
        out[nz] = mins[:, :, 0] if rows_per_band == 1 else mins[:, :, 0] * p + mins[:, :, 1]
        return out

    rng = np.random.RandomState(7)
    for bands, rpb in [(8, 2), (4, 1), (16, 1)]:
        counts = rng.randint(0, 40, size=rng.randint(1, 200)).astype(np.int64)
        v = rng.randint(0, 2**60, size=int(counts.sum()), dtype=np.int64)
        assert np.array_equal(
            reference(v, counts, bands, rpb),
            _minhash_band_keys(v, counts, bands, rpb),
        )
    # a band key packs at most two 31-bit minima into one bigint
    with pytest.raises(ValueError, match="rows_per_band"):
        _minhash_band_keys(v, counts, 2, 3)
    # empty-corpus edge: all-zero counts
    z = np.zeros(5, dtype=np.int64)
    assert _minhash_band_keys(np.empty(0, dtype=np.int64), z, 8, 2).shape == (5, 8)

    # microbenchmark: sf0.1-corpus shape, single core. Best-of-3 with a
    # generous bound — this box has documented multi-second stalls, so
    # one slow sample must not flake the suite.
    counts = rng.randint(30, 80, size=5000).astype(np.int64)
    v = rng.randint(0, 2**60, size=int(counts.sum()), dtype=np.int64)
    best = min(
        (lambda t0: (_minhash_band_keys(v, counts, 8, 2), time.perf_counter() - t0)[1])(
            time.perf_counter()
        )
        for _ in range(3)
    )
    assert best <= 1.0, f"band-key kernel too slow: best-of-3 {best:.2f}s"


def test_map_arrow_batches_columnar_kernel(spark, sf_dir):
    # mapInArrow adapter: pure-Arrow kernel, no pandas materialization
    import pyarrow as pa

    from pystreams_spark.operators.udf_compat import map_arrow_batches

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")

    def kernel(batches):
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pc.multiply(batch.column(1), 2.0)],
                ["l_orderkey", "qty2"],
            )

    out = map_arrow_batches(li, kernel, "l_orderkey long, qty2 double")
    got = out.agg(F.sum("qty2")).collect()[0][0]
    want = li.agg(F.sum(F.col("l_quantity") * 2.0)).collect()[0][0]
    assert abs(got - want) < 1e-6


def test_heavy_hitters_includes_all_true_hot_keys(spark, sf_dir):
    from pystreams_spark.operators.skew import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    support = 0.05
    got = {
        r.column: set(r.hot_values)
        for r in heavy_hitters(ev, ["user_id", "event_type"], support).collect()
    }
    for col in ["user_id", "event_type"]:
        true_hot = {
            str(r[col])
            for r in ev.groupBy(col).count().filter(F.col("count") > n * support).collect()
        }
        # Misra-Gries guarantee: no false negatives above the support
        assert true_hot <= got[col], f"{col}: missing {true_hot - got[col]}"


def test_cosine_lsh_recovers_planted_duplicates(spark, sf_dir):
    from pystreams_spark.operators.similarity import cosine_lsh_pairs

    e = load_table(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x + 0.01 * F.sin(F.col("vec_id") * 64 + i),
        ).cast("array<float>").alias("embedding"),
        "label",
    )
    corpus = e.unionByName(planted)
    rows = cosine_lsh_pairs(corpus, threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    want = {(i, i + 1_000_000) for i in range(30)}
    recall = len(got & want) / len(want)
    # hyperplane LSH at cos≈0.999: each band agrees with prob ~0.92^8,
    # any-of-8 ≈ 1 — recall must be perfect on planted dups
    assert recall == 1.0, f"planted-dup recall: {recall}"
    # precision: verify stage is exact, nothing below threshold survives
    assert all(r.score >= 0.9 for r in rows)


def test_cc_keep_min_survivors(spark):
    # chain 1-2-3, pair 10-11, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20]], "doc_id long")
    got = {r.doc_id: r.cluster_id for r in cc_keep_min(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    # big-graph path (label propagation) must agree with union-find path
    got_lp = {
        r.doc_id: r.cluster_id
        for r in cc_keep_min(pairs, ids, small_graph_edges=0).collect()
    }
    assert got_lp == got


def test_exact_dedup_hashed_equals_plain(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    kept = exact_dedup_hashed(doubled)
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 1_000_000


def test_duplicate_clusters_on_synthetic_dups(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    rows = duplicate_clusters_md5(df).collect()
    assert len(rows) == 1 and rows[0].n_copies == 3 and rows[0].keep_id == 1


# J("a b c d e", "a b c d") = 2/3 over word 3-grams. Every exact path
# keeps the pair at τ = 2/3 and drops it at τ = 0.6666668, which only
# the rounded value 0.666667 reaches: a rounded cut would keep it in
# brute force and lose it in the prefix plan, whose bound holds for
# the unrounded ratio only.
_TWO_THIRDS_DOCS = [(1, "a b c d e"), (2, "a b c d")]
_TWO_THIRDS_TAUS = (2 / 3, 0.6666668)


def _pair_rows(df, col="jaccard"):
    return sorted((r.id_a, r.id_b, r[col]) for r in df.collect())


def test_inverted_jaccard_equals_bruteforce(spark, sf_dir):
    from pystreams_spark.operators.dedup import ngram_jaccard_pairs_inverted

    docs = load_table(spark, sf_dir, "documents").limit(150)
    brute = _pair_rows(ngram_jaccard_pairs(docs, threshold=0.05, n=3))
    inv = _pair_rows(ngram_jaccard_pairs_inverted(docs, threshold=0.05, n=3))
    assert inv == brute

    two = spark.createDataFrame(_TWO_THIRDS_DOCS, "doc_id long, text string")
    for tau in _TWO_THIRDS_TAUS:
        brute = _pair_rows(ngram_jaccard_pairs(two, threshold=tau, n=3))
        assert brute == ([(1, 2, 0.666667)] if tau == 2 / 3 else []), tau
        inv = ngram_jaccard_pairs_inverted(two, threshold=tau, n=3)
        assert _pair_rows(inv) == brute, tau


def test_gram_table_values_are_the_minhash_values(spark):
    """The exact set-overlap plans and MinHash read one gram value: for
    every doc, the checkpointed gram table's ``_sh`` is the MinHash
    kernel's ``_sh`` (sorted distinct md5 values), NULL, empty and
    shorter-than-n texts included."""
    from pystreams_spark.operators.dedup import _minhash_signatures, _shingle_table

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "a"),
            (4, "a b"),
            (5, "a b c"),
            (6, "the cat sat on the mat the cat sat"),
            (7, "  spaced   out\ttext  with tabs "),
        ],
        "doc_id long, text string",
    )
    table = {r.doc_id: r._sh for r in _shingle_table(docs, 3, "text", "doc_id", []).collect()}
    mh = {r.doc_id: r._sh for r in _minhash_signatures(docs, 3, 8, 2).collect()}
    assert len(table) == 7 and table == mh


def _boilerplate_corpus(spark, n_docs=200):
    """Every doc shares one boilerplate sentence (a 100%-df hot
    shingle run) plus unique filler; three docs are genuine near-dups.
    The old unguarded inverted join emits ≥ n²/2 rows for the
    boilerplate shingles alone."""
    boiler = "this page is copyright the example corporation all rights reserved"
    rows = []
    for i in range(n_docs):
        filler = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, f"{filler} {boiler}"))
    # planted near-dup trio: mostly-identical filler
    shared = " ".join(f"dup{j}" for j in range(12))
    for k, i in enumerate((n_docs, n_docs + 1, n_docs + 2)):
        rows.append((i, f"{shared} tail{k} {boiler}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_jaccard_equals_bruteforce(spark, sf_dir):
    from pystreams_spark.operators.dedup import ngram_jaccard_pairs_prefix

    docs = load_table(spark, sf_dir, "documents").limit(150)
    brute = _pair_rows(ngram_jaccard_pairs(docs, threshold=0.05, n=3))
    pre = _pair_rows(ngram_jaccard_pairs_prefix(docs, threshold=0.05, n=3))
    assert pre == brute

    two = spark.createDataFrame(_TWO_THIRDS_DOCS, "doc_id long, text string")
    for tau in _TWO_THIRDS_TAUS:
        brute = _pair_rows(ngram_jaccard_pairs(two, threshold=tau, n=3))
        pre = _pair_rows(ngram_jaccard_pairs_prefix(two, threshold=tau, n=3))
        assert pre == brute, tau

    # J = 55/100 = 0.55 exactly, the 55 shared grams last in the long
    # doc's df order: its prefix of 100 − ⌈0.55·100⌉ + 1 grams must
    # reach them although 0.55·100 is 55.00000000000001 in doubles
    words = [f"w{i}" for i in range(102)]
    sub = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[45:]))], "doc_id long, text string"
    )
    brute = _pair_rows(ngram_jaccard_pairs(sub, threshold=0.55, n=3))
    assert brute == [(1, 2, 0.55)]
    assert _pair_rows(ngram_jaccard_pairs_prefix(sub, threshold=0.55, n=3)) == brute

    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold > 0"):
        ngram_jaccard_pairs_prefix(docs, threshold=0.0)


@pytest.mark.parametrize("tau", _TWO_THIRDS_TAUS)
def test_jaccard_cut_is_the_unrounded_ratio_on_every_path(spark, tau):
    """The two-thirds pair through the remaining exact-Jaccard paths:
    banded MinHash pairs and candidates (16 single-minimum bands, so
    the pair is a candidate), the candidates' DuckDB replay and the
    DuckDB pairs builder every Jaccard oracle uses give brute force's
    pairs at both thresholds."""
    import duckdb

    from pystreams_spark.operators.dedup import minhash_deterministic_candidates
    from pystreams_spark.queries import _jaccard_pairs_ctes, _minhash_oracle_sql

    two = spark.createDataFrame(_TWO_THIRDS_DOCS, "doc_id long, text string")
    brute = _pair_rows(ngram_jaccard_pairs(two, threshold=tau, n=3))
    assert brute == ([(1, 2, 0.666667)] if tau == 2 / 3 else [])
    mh = minhash_neardup_pairs(two, n=3, bands=16, rows_per_band=1, threshold=tau)
    assert _pair_rows(mh) == brute
    cand = minhash_deterministic_candidates(
        two, bands=16, rows_per_band=1, threshold=tau
    )
    assert _pair_rows(cand) == brute

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(_TWO_THIRDS_DOCS, columns=["doc_id", "text"]))
    got = con.execute(
        f"WITH {_jaccard_pairs_ctes(tau)} SELECT id_a, id_b, jaccard FROM pairs"
    ).fetchall()
    assert sorted(got) == brute
    got = con.execute(
        "SELECT id_a, id_b, jaccard FROM "
        f"({_minhash_oracle_sql(16, 1, threshold=tau)})"
    ).fetchall()
    assert sorted(got) == brute


@pytest.mark.parametrize("tau", _TWO_THIRDS_TAUS)
def test_containment_cut_is_the_unrounded_ratio(spark, tau):
    """C = |A∩B| / min(|A|, |B|) = 2/3 for "a b c d e" (3 grams) and
    "a b c d f g" (4 grams, 2 shared): the containment join keeps the
    pair exactly when the unrounded ratio reaches τ, the oracle's cut,
    and report it rounded."""
    from pystreams_spark.operators.dedup import ngram_containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f g")], "doc_id long, text string"
    )
    want = [(1, 2, 0.666667)] if 2 / 3 >= tau else []
    got = ngram_containment_pairs(df, threshold=tau, n=3)
    assert _pair_rows(got, "containment") == want


def test_prefix_jaccard_bounds_boilerplate_blowup(spark):
    """On a 100%-df boilerplate corpus the prefix plan must (a) return
    exactly the brute-force pairs and (b) generate candidate join rows
    near the true pair count, not n²/2."""
    from pystreams_spark.operators.dedup import ngram_jaccard_pairs_prefix
    from pystreams_spark.plans.introspect import runtime_metrics

    docs = _boilerplate_corpus(spark)
    brute = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    )
    assert len(brute) == 3  # the planted trio only
    res = ngram_jaccard_pairs_prefix(docs, threshold=0.5, n=3)
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in res.collect())
    assert got == brute
    # join-row bound: every SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin
    # in the plan must emit far fewer rows than the ~20100 all-pairs floor
    # the unguarded join pays for the boilerplate shingles alone
    mets = runtime_metrics(res)
    join_rows = [
        m["value"]
        for m in mets
        if "Join" in m["operator"] and m["metric"] == "numOutputRows"
    ]
    assert join_rows, "expected join nodes with row metrics"
    assert max(join_rows) < 4000, f"hot-shingle blowup not bounded: {join_rows}"


def test_pack_contiguous_invariants_and_partition_independence(spark, sf_dir):
    """Contiguous packing: deterministic across partition layouts, and
    every bin's fill within one document of the 512 budget (overflow
    only by the straddling doc; underflow only at the last bin)."""
    from pystreams_spark.functions.text import token_count
    from pystreams_spark.operators.packing import pack_sequences_contiguous

    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tokens", token_count("text"))
        .select("doc_id", "n_tokens")
    )
    a = pack_sequences_contiguous(d, 512).collect()
    b = pack_sequences_contiguous(d.repartition(3), 512).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    by_bin: dict = {}
    for r in a:
        by_bin.setdefault(r.bin_id, []).append(r)
    max_doc = max(r.n_tokens for r in a)
    last_bin = max(by_bin)
    for bin_id, rows in by_bin.items():
        fill = sum(r.n_tokens for r in rows)
        assert fill == rows[0].bin_fill
        assert fill < 512 + max_doc  # overflow bounded by one document
        if bin_id != last_bin:
            # a non-final bin spans its full budget window
            assert fill >= 512 - max_doc


def test_ann_recall_floor_raises(spark, sf_dir):
    """min_avg_recall must RAISE at execution when violated and pass
    silently when met — a recall collapse fails the job, not just the
    annotation."""
    import pytest as _pytest

    from pystreams_spark.operators.similarity import annotate_recall_vs_exact

    exact = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, vec_id long"
    )
    good = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.8)], "query_id long, vec_id long, score double"
    )
    bad = spark.createDataFrame(
        [(0, 7, 0.9), (0, 8, 0.8)], "query_id long, vec_id long, score double"
    )
    ok = annotate_recall_vs_exact(good, exact, k=2, min_avg_recall=0.9).collect()
    assert len(ok) == 2 and all(r.recall_at_k == 1.0 for r in ok)
    with _pytest.raises(Exception, match="recall floor violated"):
        annotate_recall_vs_exact(bad, exact, k=2, min_avg_recall=0.5).collect()


def test_unigram_surprisal_vocab_join_switch(spark, sf_dir):
    """With broadcast joins switched off the vocab join is a shuffle
    join (no BroadcastHashJoin on the word key), with identical
    scores."""
    from pystreams_spark.operators.selection import unigram_surprisal_scores

    docs = load_table(spark, sf_dir, "documents").limit(150)
    bc = unigram_surprisal_scores(docs, carry_cols=("lang",))
    a = {r.doc_id: round(r.surprisal, 9) for r in bc.collect()}
    with _broadcast_joins_off(spark):
        sh = unigram_surprisal_scores(docs, carry_cols=("lang",))
        b = {r.doc_id: round(r.surprisal, 9) for r in sh.collect()}
    assert a == b and len(a) == 150

    # the vocab join carries no hint: adaptive execution picks it from
    # the vocab's measured size. Only the 1-row total is hinted.
    assert _n_broadcast_hints(bc) == 1
    assert "BroadcastHashJoin" in executed_plan(bc)
    assert "BroadcastHashJoin" not in executed_plan(sh)


def test_reliable_checkpoint_paths_match_local(spark, sf_dir, tmp_path):
    """Every iterative op accepts checkpoint_dir; the reliable path
    (disk checkpoint, fault-tolerant) must produce bit-identical
    results to the default localCheckpoint path, and must actually
    write checkpoint files."""
    import os

    from pystreams_spark.operators.bpe import bpe_train
    from pystreams_spark.operators.dedup import neardup_dedup
    from pystreams_spark.operators.graph import pagerank

    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").limit(120)

    merges_local, _ = bpe_train(docs, num_merges=5)
    merges_rel, _ = bpe_train(docs, num_merges=5, checkpoint_dir=ckpt)
    assert merges_rel == merges_local

    surv_local = sorted(r.doc_id for r in neardup_dedup(docs).select("doc_id").collect())
    surv_rel = sorted(
        r.doc_id
        for r in neardup_dedup(docs, checkpoint_dir=ckpt).select("doc_id").collect()
    )
    assert surv_rel == surv_local

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4)], "src long, dst long"
    )
    pr_local = {r.node: r.rank for r in pagerank(edges, num_iters=5).collect()}
    # force the DISTRIBUTED join loop (small_graph_edges=0) so the
    # per-iteration materialize is actually exercised on the reliable path
    pr_rel = {
        r.node: r.rank
        for r in pagerank(
            edges, num_iters=5, small_graph_edges=0, checkpoint_dir=ckpt
        ).collect()
    }
    assert pr_rel == pr_local

    # the reliable path must have written checkpoint data
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no checkpoint files written under checkpoint_dir"


def test_simhash_similar_docs_close_hamming(spark):
    from pystreams_spark.functions.text_kernels import simhash_md5_udf

    simhash = simhash_md5_udf(2)
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words about database query optimization engines"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.sig for r in df.select("doc_id", simhash("text").alias("sig")).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])
    # determinism
    sigs2 = {r.doc_id: r.sig for r in df.select("doc_id", simhash("text").alias("sig")).collect()}
    assert sigs == sigs2


# Values of the Column-algebra SimHash (60 md5 bits voted in Spark SQL
# aggregates) and MinHash (16 universal-hash min-aggregates over md5
# gram values) that the md5 kernels replaced, captured from that form
# on edge texts: NULL, empty, one word, two words (shorter than n),
# repeated grams (tied votes) and tab/newline whitespace.
_EDGE_TEXTS = [None, "", "one", "two words", "a b a b a b", "tab\tand\nnewline  x\ty z"]
_EDGE_SIMHASH = {
    2: [955282973525019424, 955282973525019424, 1123584140357255089, 392916539397423897, 2273792414336002, 904128943844042153],
    3: [955282973525019424, 955282973525019424, 1123584140357255089, 392916539397423897, 905277283068658192, 722831728128822600],
}
_EDGE_MINHASH_MINS_N3 = [
    [1036531261, 1181634479, 1485125605, 948158908, 830633599, 1014450420, 918545003, 515927497, 1162968544, 1542798202, 1698467877, 2109545966, 1839973032, 405816098, 1200409554, 200475196],
    [1036531261, 1181634479, 1485125605, 948158908, 830633599, 1014450420, 918545003, 515927497, 1162968544, 1542798202, 1698467877, 2109545966, 1839973032, 405816098, 1200409554, 200475196],
    [433733788, 1083235930, 222598517, 1436619664, 1510797766, 1261227062, 685084414, 1860691692, 1037409499, 574472156, 1750431550, 1585438300, 1232506581, 65194495, 619476246, 1116070707],
    [828943561, 923689798, 1419095060, 43468247, 693940003, 1979840109, 1669617071, 2074942551, 403116842, 754741662, 1082419323, 395688243, 1502955051, 552880707, 52449973, 1300098290],
    [294839062, 1873887356, 651692344, 414913942, 639312719, 305111975, 536317539, 420946992, 1322883531, 1001685472, 1890436719, 104924603, 317509345, 845045261, 1454470531, 289597997],
    [204215777, 76741743, 889694596, 326579826, 919416055, 60408562, 713345156, 24136254, 570483717, 90558260, 153135287, 40764755, 13176037, 367300069, 251136640, 622104580],
]


def test_md5_kernels_reproduce_column_form_on_edge_texts(spark):
    """The SimHash and MinHash kernels reproduce the retired Column
    form's signatures and minima value for value, and DuckDB replays
    them through the oracles' own CTEs on every edge text: a NULL or
    empty text is the one gram '' in both engines."""
    import duckdb

    from pystreams_spark.functions.text_kernels import _MINHASH_P, simhash_md5_udf
    from pystreams_spark.operators.dedup import _minhash_udf
    from pystreams_spark.queries import _minhash_sig_ctes, _simhash_sig_ctes

    df = spark.createDataFrame(list(enumerate(_EDGE_TEXTS)), "doc_id long, text string")

    def column(expr):
        return [r.v for r in df.orderBy("doc_id").select(expr.alias("v")).collect()]

    for n, want in _EDGE_SIMHASH.items():
        assert column(simhash_md5_udf(n)(F.col("text"))) == want, n
    assert column(_minhash_udf(3, 16, 1)(F.col("text"))["_bands"]) == _EDGE_MINHASH_MINS_N3
    p = _MINHASH_P
    assert column(_minhash_udf(3, 8, 2)(F.col("text"))["_bands"]) == [
        [m[2 * t] * p + m[2 * t + 1] for t in range(8)] for m in _EDGE_MINHASH_MINS_N3
    ]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(6), "text": _EDGE_TEXTS}))
    for n, want in _EDGE_SIMHASH.items():
        got = dict(con.execute(
            f"WITH {_simhash_sig_ctes(n, 60)} SELECT doc_id, sig FROM sig"
        ).fetchall())
        assert [got[i] for i in range(6)] == want, n
    cols = ", ".join(f"h{j}" for j in range(16))
    rows = {
        r[0]: list(r[1:])
        for r in con.execute(f"WITH {_minhash_sig_ctes(16)} SELECT doc_id, {cols} FROM sig").fetchall()
    }
    assert [rows[i] for i in range(6)] == _EDGE_MINHASH_MINS_N3


def test_asof_forward_and_tolerance_vs_pandas(spark):
    rng = random.Random(23)
    left = [(i, rng.choice([1, 2]), rng.randint(0, 500)) for i in range(150)]
    right = [(j, rng.choice([1, 2]), rng.randint(0, 500)) for j in range(80)]
    ldf = spark.createDataFrame(left, "lid long, k long, t long")
    rdf = spark.createDataFrame(right, "rid long, k long, rt long").dropDuplicates(["k", "rt"])

    lp = pd.DataFrame(left, columns=["lid", "k", "t"]).sort_values("t", kind="stable")
    rp = (
        pd.DataFrame(right, columns=["rid", "k", "rt"])
        .drop_duplicates(subset=["k", "rt"])
        .sort_values("rt", kind="stable")
    )

    for direction, tol in [("forward", None), ("backward", 50), ("forward", 25)]:
        got = {
            r.lid: r.rt_matched
            for r in asof_join(
                ldf,
                rdf,
                on=["k"],
                left_time="t",
                right_time="rt",
                right_cols=["rt"],
                direction=direction,
                tolerance=tol,
            ).collect()
        }
        exp = pd.merge_asof(
            lp,
            rp,
            left_on="t",
            right_on="rt",
            by="k",
            direction=direction,
            tolerance=tol,
        )
        exp_map = {
            int(r.lid): (None if pd.isna(r.rt) else int(r.rt)) for _, r in exp.iterrows()
        }
        assert got == exp_map, f"direction={direction} tol={tol}"


def test_neardup_dedup_pipeline_vs_python_reference(spark):
    from pystreams_spark.operators.dedup import neardup_dedup

    docs = [
        (0, "the quick brown fox jumps over the lazy dog today ok fine"),
        (1, "the quick brown fox jumps over the lazy dog tomorrow ok fine"),  # ~0
        (2, "completely different text about spark query optimization engines"),
        (3, "the quick brown fox jumps over the lazy dog tomorrow ok maybe"),  # ~1 (chain)
        (4, "another unrelated document mentioning windows and aggregates"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = sorted(r.doc_id for r in neardup_dedup(df, threshold=0.35).collect())

    # python reference: exact jaccard graph at the same threshold + CC
    def sh3(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    import itertools

    adj = {d[0]: set() for d in docs}
    for (ida, ta), (idb, tb) in itertools.combinations(docs, 2):
        a, b = sh3(ta), sh3(tb)
        if len(a & b) / len(a | b) >= 0.35:
            adj[ida].add(idb)
            adj[idb].add(ida)
    seen, survivors = set(), []
    for node in sorted(adj):
        if node in seen:
            continue
        comp, stack = [], [node]
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            comp.append(x)
            stack.extend(adj[x] - seen)
        survivors.append(min(comp))
    assert kept == sorted(survivors)
    # the transitive chain 0~1~3 must collapse to one survivor
    assert 0 in kept and 1 not in kept and 3 not in kept


def test_annotate_recall_vs_exact_identity(spark, sf_dir):
    from pystreams_spark.operators.similarity import annotate_recall_vs_exact, knn_exact

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.filter(F.col("vec_id") >= 3)
    exact = knn_exact(q, c, k=5)
    rows = annotate_recall_vs_exact(exact, exact, k=5).collect()
    assert rows and all(r.in_exact_topk and r.recall_at_k == 1.0 for r in rows)
    # l2 metric agrees with a naive euclidean computation on one query
    l2 = knn_exact(q.limit(1), c, k=3, metric="l2", score_col="dist").collect()
    assert [round(r.dist, 4) for r in l2] == sorted(round(r.dist, 4) for r in l2)


def test_merge_upsert_semantics(spark):
    from pystreams_spark.operators.joins import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    got = {r.k: (r.s, r.v) for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_cc_long_chain_big_graph_path(spark):
    """A 120-node path graph through the label-propagation path: pointer
    jumping must collapse it well inside the 20-round cap (plain 1-hop
    propagation would need 120 rounds and silently mis-cluster)."""
    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in cc_keep_min(pairs, ids, small_graph_edges=0).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_candidate_shuffle_path_identical(spark):
    """A dup-heavy corpus routed through the shuffle-join candidate path
    (broadcast joins switched off) must produce exactly the same
    survivors as the broadcast path — the join size decision changes
    the physical join only."""
    import pystreams_spark.operators.dedup as dd

    rows = [
        (i, f"a perfectly unique document body number {i} " * 3)
        for i in range(30)
    ]
    rows += [(100 + i, "the same duplicated text content repeated here " * 3)
             for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    base = {r.doc_id for r in dd.neardup_dedup(df).collect()}
    with _broadcast_joins_off(spark):
        forced = {r.doc_id for r in dd.neardup_dedup(df).collect()}
    assert forced == base
    assert 100 in forced and not (forced & set(range(101, 112)))


def test_broadcast_if_small_threshold(spark, monkeypatch):
    import pystreams_spark.io as io

    small = spark.range(10).toDF("k")
    monkeypatch.setattr(io, "BROADCAST_MAX_ROWS", 100)
    hinted = io.broadcast_if_small(small)
    plan = hinted._jdf.queryExecution().logical().toString()
    assert "broadcast" in plan.lower()
    monkeypatch.setattr(io, "BROADCAST_MAX_ROWS", 5)
    unhinted = io.broadcast_if_small(small)
    plan2 = unhinted._jdf.queryExecution().logical().toString()
    assert "broadcast" not in plan2.lower()


def test_cosine_pairs_above_refuses_oversized_corpus(spark, sf_dir):
    from pystreams_spark.operators.similarity import cosine_pairs_above

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="cosine_lsh_pairs"):
        cosine_pairs_above(emb, threshold=0.9, max_rows=10).collect()


def test_zorder_key_bits_guard():
    from pystreams_spark.operators.layout import zorder_key

    ranges = {f"c{i}": (F.lit(0.0), F.lit(1.0)) for i in range(7)}
    # 7 cols x 10 bits = 70 > 63 usable bits: must refuse, not wrap
    with pytest.raises(ValueError, match="63"):
        zorder_key([f"c{i}" for i in range(7)], ranges, bits=10)


def test_int8_quantization_error_bound(spark, sf_dir):
    # per-element reconstruction error must be <= scale/127 * 0.5 + eps
    # (half a quantization step), and cosine between original and
    # reconstructed vectors must stay ~1
    from pyspark.sql import functions as F

    from pystreams_spark.functions.vector import (
        as_double,
        cosine,
        dequantize_int8,
        quantize_int8,
    )
    from pystreams_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qd = e.select(
        "vec_id",
        as_double("embedding").alias("x"),
        quantize_int8("embedding").alias("qs"),
    ).select(
        "vec_id",
        "x",
        F.col("qs.scale").alias("scale"),
        dequantize_int8("qs").alias("xhat"),
    )
    err = qd.select(
        "vec_id",
        "scale",
        F.array_max(
            F.zip_with("x", "xhat", lambda a, b: F.abs(a - b))
        ).alias("max_err"),
        F.round(cosine("x", "xhat"), 4).alias("cos_orig_hat"),
    )
    rows = err.collect()
    assert rows
    for r in rows:
        assert r.max_err <= r.scale / 127.0 * 0.5 + 1e-9, (r.vec_id, r.max_err, r.scale)
        assert r.cos_orig_hat >= 0.999
    # all-zero vector edge: scale 0, codes 0, reconstruction exact
    z = spark.createDataFrame([([0.0] * 4,)], "embedding array<float>")
    zq = z.select(quantize_int8("embedding").alias("qs")).select(
        "qs.scale", dequantize_int8("qs").alias("xhat")
    ).collect()[0]
    assert zq.scale == 0.0 and zq.xhat == [0.0, 0.0, 0.0, 0.0]


def test_quantization_zero_vector_guarded(spark):
    # ANSI mode is on in Spark 4: an all-zero embedding (scale == 0)
    # must yield err_steps 0 and cosine NULL, not DIVIDE_BY_ZERO
    from pyspark.sql import functions as F

    from pystreams_spark.functions.vector import (
        as_double,
        cosine,
        dequantize_int8,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    qd = df.select(
        "vec_id",
        as_double("embedding").alias("x"),
        quantize_int8("embedding").alias("qs"),
    ).select(
        "vec_id",
        "x",
        F.col("qs.scale").alias("scale"),
        dequantize_int8("qs").alias("xhat"),
    )
    rows = qd.select(
        "vec_id",
        F.when(
            F.col("scale") > 0.0,
            F.array_max(F.zip_with("x", "xhat", lambda a, b: F.abs(a - b)))
            / (F.col("scale") / 127.0),
        )
        .otherwise(F.lit(0.0))
        .alias("err_steps"),
        cosine("x", "xhat").alias("cos_hat"),
    ).orderBy("vec_id").collect()
    assert rows[0].err_steps == 0.0
    assert rows[0].cos_hat is None  # try_divide -> NULL, not an error
    assert rows[1].err_steps <= 0.5 + 1e-9
    assert abs(rows[1].cos_hat - 1.0) < 1e-3


def test_bloom_non_multiple_of_8_bits_rounds_up(spark):
    # num_bits=20 used to index past the 2-byte bitmap; build_bloom now
    # rounds up to the next byte and the probe derives its modulus from
    # the bitmap length, so both stay consistent and false-negative-free
    from pystreams_spark.operators.bloom import (
        bloom_might_contain_udf,
        build_bloom,
    )

    df = spark.range(0, 64).selectExpr("xxhash64(id) AS h")
    bloom = build_bloom(df, "h", num_bits=20, k=3)
    assert len(bloom) == 3  # 20 bits -> 24 bits -> 3 bytes
    probe = bloom_might_contain_udf(spark, bloom, k=3)
    got = df.select(probe(F.col("h")).alias("hit")).collect()
    assert all(r.hit for r in got)


def test_chunk_text_rejects_gapping_stride():
    import pytest as _pytest

    from pystreams_spark.functions.text import chunk_text

    with _pytest.raises(ValueError, match="stride"):
        chunk_text("t", size=5, stride=6)
    with _pytest.raises(ValueError):
        chunk_text("t", size=0, stride=1)


def test_stream_source_offset_floor_durable(tmp_path):
    # stop-after-final-commit restart race: with state_dir, a brand-new
    # reader instance (fresh process state) must never hand out an
    # offset behind the last committed position
    from pystreams_spark.sources import SyntheticEventsStreamReader

    opts = {"rows_per_batch": "100", "state_dir": str(tmp_path / "floor")}
    r1 = SyntheticEventsStreamReader(opts)
    r1.commit({"offset": 500})
    r2 = SyntheticEventsStreamReader(opts)  # simulated restart
    assert r2.latestOffset()["offset"] == 600  # floor 500 + one batch
    # without state_dir the documented in-memory behavior is unchanged
    r3 = SyntheticEventsStreamReader({"rows_per_batch": "100"})
    assert r3.latestOffset()["offset"] == 100


def _user_weights(df):
    """(user_id, n, h1, h2): the per-user counts the count-min sketch
    is built from."""
    from pystreams_spark.queries import _cms_md5_pair

    return _cms_md5_pair(df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")))


def test_count_min_no_undercount_and_bound(spark, sf_dir):
    # CMS deterministic guarantee: estimate >= true count for EVERY key;
    # probabilistic guarantee: overcount <= e/width * N for all but a
    # ~e^-depth fraction of keys (depth=5 -> <1%; assert none fail on
    # the fixture's small key set)
    import math

    from pystreams_spark.operators.sketches import _count_min_cells, count_min_estimates

    width, depth = 1024, 5
    ev = load_table(spark, sf_dir, "events")
    keys = _user_weights(ev)
    n = ev.count()
    # every row of the matrix sums to N
    row0 = _count_min_cells(keys, "n", width, depth).filter("d = 0")
    assert row0.select("pos", "cell").distinct().agg(F.sum("cell")).first()[0] == n

    rows = count_min_estimates(keys, "n", width, depth).collect()
    bound = math.ceil(math.e / width * n)
    assert rows
    for r in rows:
        assert r.cms_est >= r.n, "CMS must never undercount"
        assert r.cms_est - r.n <= bound


def test_count_min_is_linear(spark):
    # the sketch is a linear operator: sketch(A) + sketch(B) must equal
    # sketch(A union B) EXACTLY — the property that lets a cell be the
    # sum of per-key (and any partial/rollup) counts
    import numpy as np

    from pystreams_spark.operators.sketches import _count_min_cells

    a = spark.range(0, 5000).selectExpr("id % 37 AS user_id")
    b = spark.range(5000, 8000).selectExpr("id % 11 AS user_id")
    whole = a.unionAll(b)

    def sketch(df):
        mat = np.zeros((3, 256), dtype=np.int64)
        cells = _count_min_cells(_user_weights(df), "n", 256, 3)
        for r in cells.select("d", "pos", "cell").distinct().collect():
            mat[r.d, r.pos] = r.cell
        return mat

    assert ((sketch(a) + sketch(b)) == sketch(whole)).all()


def test_count_min_per_key_weights_equal_row_level_cells(spark, sf_dir):
    """Cells summed from per-user counts are the cells a row-level
    ``groupBy(d, pos).count()`` gives, so every estimate is the same.
    Width 64 forces collisions between the fixture's users."""
    from pystreams_spark.operators.sketches import count_min_estimates
    from pystreams_spark.queries import _cms_md5_pair

    width, depth = 64, 5
    ev = load_table(spark, sf_dir, "events")
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    rows = (
        _cms_md5_pair(ev.select("user_id"))
        .select("user_id", d, "h1", "h2")
        .withColumn("pos", (F.col("h1") + F.col("d") * F.col("h2")) % width)
    )
    cells = rows.groupBy("d", "pos").count()
    # some cell holds more than one user
    assert cells.count() < rows.select("user_id", "d").distinct().count()
    want = sorted(
        rows.select("user_id", "d", "pos").distinct()
        .join(cells, ["d", "pos"])
        .groupBy("user_id")
        .agg(F.min("count").alias("cms_est"))
        .collect()
    )
    got = sorted(
        count_min_estimates(_user_weights(ev), "n", width, depth)
        .select("user_id", "cms_est")
        .collect()
    )
    assert got and got == want


def test_count_min_null_key_gets_no_row(spark):
    """A NULL user_id has no cell position, so it gets no estimate row,
    as in the oracle, whose position join drops it; its events still
    count towards N, the bound's total. Both count-min plans equal the
    DuckDB oracle SQL over the same rows."""
    import duckdb

    from pystreams_spark.queries import _count_min_oracle_sql, _count_min_user_estimates

    users = [7, 7, 7, None, None, 3, 11, 7, 3]
    ev = spark.createDataFrame([(u,) for u in users], "user_id long")
    con = duckdb.connect()
    con.register("events", pd.DataFrame({"user_id": pd.array(users, dtype="Int64")}))
    for within_bound in (False, True):
        got = _count_min_user_estimates(ev, within_bound).orderBy("user_id").collect()
        want = con.execute(_count_min_oracle_sql(within_bound)).fetchall()
        assert [tuple(r) for r in got] == want
        assert [r.user_id for r in got] == [3, 7, 11]


def test_count_min_builds_run_no_job(spark, sf_dir):
    """Building either count-min query submits no Spark job beyond the
    one schema job of its ``load_table``: the sketch is built and
    probed by the query's action."""
    from pystreams_spark.queries import QUERIES

    sc = spark.sparkContext

    def jobs(name, build):
        sc.setJobGroup(name, name)
        try:
            build()
        finally:
            sc.setJobGroup(None, None)  # type: ignore[arg-type]
        return len(sc.statusTracker().getJobIdsForGroup(name))

    load = jobs("load-events", lambda: load_table(spark, sf_dir, "events"))
    for q in ("count_min_deterministic", "count_min_user_events"):
        assert jobs(f"build-{q}", lambda: QUERIES[q](spark, sf_dir)) <= load, q


def test_pii_redaction_semantics(spark):
    from pystreams_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "reach user7@example.com or +1 (415) 555-0107, server 10.0.0.255"),
            (2, "no pii here at all"),
            (3, "a.b+c@sub.domain.org twice x@y.io"),
        ],
        "i long, t string",
    )
    rows = (
        df.select("i", pii_counts("t").alias("p"), redact_pii("t").alias("c"))
        .orderBy("i")
        .collect()
    )
    assert (rows[0].p.n_emails, rows[0].p.n_phones, rows[0].p.n_ips) == (1, 1, 1)
    assert "[EMAIL]" in rows[0].c and "[PHONE]" in rows[0].c and "[IP]" in rows[0].c
    assert "user7@example.com" not in rows[0].c
    assert rows[1].c == "no pii here at all"
    assert rows[2].p.n_emails == 2 and rows[2].c.count("[EMAIL]") == 2


def test_pq_encode_beats_trivial_quantizer(spark, sf_dir):
    # PQ reconstruction (gather each code's centroid) must beat the
    # 0-bit baseline (quantize everything to the global mean): the
    # defining property of a useful codebook, deterministic by
    # construction (md5-ordered seeds, integer-micros Lloyd)
    import numpy as np

    from pystreams_spark.operators.similarity import (
        _kmeans_assign_batch,
        kmeans_centers_deterministic,
    )

    e = load_table(spark, sf_dir, "embeddings")
    orig = e.select("vec_id", "embedding").toPandas()
    mat = np.stack(orig["embedding"].to_numpy()).astype(np.float64)
    m, n_codes = 8, 16
    sd = mat.shape[1] // m
    slices = [(j * sd, sd) for j in range(m)]
    books = np.stack(
        kmeans_centers_deterministic(e, n_cells=n_codes, iters=10, slices=slices)
    )
    # the knn_pq_deterministic encode: per-subspace quantized-L2 argmin
    codes = np.stack(
        [_kmeans_assign_batch(mat[:, s0 : s0 + ln], books[j])
         for j, (s0, ln) in enumerate(slices)],
        axis=1,
    )
    assert codes.min() >= 0 and codes.max() < n_codes
    decoded = np.concatenate(
        [books[j][codes[:, j]] for j in range(books.shape[0])], axis=1
    )
    assert decoded.shape == mat.shape
    pq_mse = ((decoded - mat) ** 2).mean()
    mean_mse = ((mat - mat.mean(axis=0)) ** 2).mean()
    assert pq_mse < 0.7 * mean_mse, (pq_mse, mean_mse)
    # determinism: a refit yields identical codebooks
    books2 = np.stack(
        kmeans_centers_deterministic(e, n_cells=n_codes, iters=10, slices=slices)
    )
    assert np.array_equal(books, books2)


def test_pq_adc_topk_recall_floor(spark, sf_dir):
    from pystreams_spark.operators.similarity import (
        annotate_recall_vs_exact,
        knn_exact,
        knn_pq_deterministic,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.filter(F.col("vec_id") >= 5)
    approx = knn_pq_deterministic(q, c, k=10, m=8, n_codes=16, iters=10)
    exact = knn_exact(q, c, k=10, metric="l2", score_col="dist")
    out = annotate_recall_vs_exact(approx, exact, k=10)
    per_q = {
        r.query_id: r.recall_at_k
        for r in out.select("query_id", "recall_at_k").distinct().collect()
    }
    assert len(per_q) == 5
    assert all(v >= 0.1 for v in per_q.values()), per_q  # top-1 floor
    assert sum(per_q.values()) / len(per_q) >= 0.2, per_q
    # exactly k rows per query
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 10 for r in counts)


def test_ordered_cumsum_matches_naive(spark):
    """Distributed two-pass prefix sum ≡ single-partition running total,
    including across many partitions and descending keys."""
    import numpy as np

    from pystreams_spark.operators.selection import ordered_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randint(1, 100), rng.random()) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v long, pri double")
    out = ordered_cumsum(
        df, [F.col("pri").desc(), F.col("id")], "v", num_partitions=8
    ).toPandas()
    out = out.sort_values(["pri", "id"], ascending=[False, True])
    expected = np.cumsum(out["v"].to_numpy())
    assert (out["cum"].to_numpy() == expected).all()


def test_select_token_budget_boundary(spark):
    """Selection keeps every row whose running total BEFORE it is under
    budget: the boundary-crossing row is included, the next is not."""
    from pystreams_spark.operators.selection import select_token_budget

    df = spark.createDataFrame(
        [(1, 40), (2, 40), (3, 40), (4, 40)], "id long, v long"
    )
    got = sorted(
        r["id"]
        for r in select_token_budget(
            df, [F.col("id")], "v", budget=100
        ).collect()
    )
    # cum-before: 0, 40, 80, 120 → ids 1-3 selected (3 crosses), 4 dropped
    assert got == [1, 2, 3]


def test_mixture_weights_rebalance(spark):
    """Weighted token mass per group equals the uniform target share."""
    from pystreams_spark.operators.selection import mixture_weights

    df = spark.createDataFrame(
        [("a", 300), ("a", 300), ("b", 200), ("c", 200)], "g string, v long"
    )
    out = {r["g"]: r for r in mixture_weights(df, "g", "v").collect()}
    total = 1000
    for g, tokens in (("a", 600), ("b", 200), ("c", 200)):
        r = out[g]
        assert r["group_tokens"] == tokens
        assert abs(r["actual_share"] - tokens / total) < 1e-6
        assert abs(r["target_share"] - 1 / 3) < 1e-6
        # weight * actual token mass == target mass
        assert abs(r["weight"] * tokens - total / 3) < 1e-2


def test_portable_winnow_kernel_guarantee_and_hash():
    """The portable (base-257, modulus-free) winnowing kernel keeps the
    shared-substring guarantee, and its gram hash equals the documented
    5-term polynomial the SQL oracle computes."""
    from pystreams_spark.functions.text_kernels import winnow_fps

    def fps(s):
        return set(winnow_fps(s, k=5, w=8, base=257).tolist())

    a = "the quick brown fox jumps over the lazy dog and keeps running far"
    b = "ANOTHER START the quick brown fox jumps over the lazy dog NEW END"
    c = "zzzz qqqq xxxx wwww vvvv uuuu tttt ssss"
    assert fps(a) & fps(b)          # shared substring >= w+k-1 → shared fp
    assert not (fps(a) & fps(c))    # disjoint content shares nothing
    # polynomial = the oracle's 5-term arithmetic, exact in int64
    g = "abcde"
    expected = (
        ord("a") * 4362470401 + ord("b") * 16974593
        + ord("c") * 66049 + ord("d") * 257 + ord("e")
    )
    assert fps(g) == {expected}
    assert expected < 2**41  # no-modulus exactness bound
    assert fps("abcd") == set()  # shorter than k: no fingerprint


def test_remove_repeated_spans_planted(spark):
    """Span-level exact-substring dedup: a 10-token span shared by two
    docs survives only in the canonical (min-id) doc; overlapping and
    unique spans are untouched."""
    from pystreams_spark.operators.dedup import remove_repeated_spans

    shared = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} unique1 tail1"),
            (2, f"prefix2 {shared} suffix2"),
            (3, "totally different words one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=10).collect()}
    assert out[1]["clean_text"] == f"{shared} unique1 tail1"  # canonical kept
    assert out[2]["clean_text"] == "prefix2 suffix2"          # span removed
    assert out[2]["n_tokens_before"] == 12 and out[2]["n_tokens_after"] == 2
    assert out[3]["clean_text"].startswith("totally")          # untouched
    assert out[3]["n_tokens_before"] == out[3]["n_tokens_after"]


def test_remove_repeated_spans_short_docs(spark):
    """Docs shorter than the span length pass through untouched (the
    naive sequence(1, size-n+1) would feed slice() a 0 start — Spark's
    sequence(1, 0) is DESCENDING [1, 0], unlike DuckDB's empty series)."""
    from pystreams_spark.operators.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=10).collect()}
    assert len(out) == 3
    for i in (1, 2, 3):
        assert out[i]["n_tokens_before"] == out[i]["n_tokens_after"]


def test_mixture_weights_zero_token_group(spark):
    """A group with zero tokens yields NULL shares, not a DIVIDE_BY_ZERO
    crash under ANSI mode."""
    from pystreams_spark.operators.selection import mixture_weights

    df = spark.createDataFrame(
        [("a", 100), ("b", 0)], "g string, v long"
    )
    out = {r["g"]: r for r in mixture_weights(df, "g", "v").collect()}
    assert out["b"]["actual_share"] == 0.0
    assert out["b"]["weight"] is None
    assert abs(out["a"]["weight"] - 0.5) < 1e-6


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py)
# ---------------------------------------------------------------------------


def _py_bpe(texts, num_merges):
    """Pure-Python reference BPE (Sennrich et al. 2016) with the same
    deterministic tie-break (weight DESC, left ASC, right ASC) and
    left-to-right non-overlapping merge application."""
    from collections import Counter

    wf = Counter(w for t in texts for w in t.split() if w)
    syms = {w: list(w) for w in wf}
    merges = []
    for rank in range(1, num_merges + 1):
        pc = Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        (left, right), weight = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, left + right, weight))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def test_bpe_train_matches_python_reference_fixture(spark, sf_dir):
    from pystreams_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    got, words = bpe_train(docs, num_merges=12)
    texts = [r.text for r in docs.select("text").collect()]
    want, want_syms = _py_bpe(texts, 12)

    assert [(m["rank"], m["left"], m["right"], m["merged"], m["weight"]) for m in got] == want

    # final segmentation matches word-for-word, and always reconstructs
    for r in words.collect():
        assert r.syms == want_syms[r.word], r.word
        assert "".join(r.syms) == r.word


def test_bpe_merge_fold_overlap_semantics(spark):
    """Adjacent same-symbol runs merge left-to-right without overlap —
    the classic 'aaa' + (a,a) -> [aa, a] case."""
    from pystreams_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [("aaa aaa aaa aa",)], "text string"
    )
    merges, words = bpe_train(docs, num_merges=1)
    assert (merges[0]["left"], merges[0]["right"]) == ("a", "a")
    got = {r.word: r.syms for r in words.collect()}
    assert got["aaa"] == ["aa", "a"]
    assert got["aa"] == ["aa"]


def test_bpe_apply_merges_segments_new_text(spark):
    from pystreams_spark.operators.bpe import apply_merges, bpe_train, to_symbols

    train = spark.createDataFrame(
        [("lower lower lowest newer newer newest",)], "text string"
    )
    merges, _ = bpe_train(train, num_merges=4)
    pairs = [(m["left"], m["right"]) for m in merges]

    new_words = to_symbols(
        spark.createDataFrame([("lowering",), ("new",)], "word string")
    )
    got = {r.word: r.syms for r in apply_merges(new_words, pairs).collect()}
    # whatever the learned merges are, segmentation must reconstruct
    assert "".join(got["lowering"]) == "lowering"
    assert "".join(got["new"]) == "new"
    # and must equal the python reference applied to the same words
    _, ref_syms = _py_bpe(["lower lower lowest newer newer newest"], 4)
    py = {w: list(w) for w in ["lowering", "new"]}
    for left, right in pairs:
        for w, s in py.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            py[w] = out
    assert got == py


# ---------------------------------------------------------------------------
# SemDeDup (operators/similarity.py)
# ---------------------------------------------------------------------------


def test_semantic_dedup_finds_planted_duplicates(spark, sf_dir):
    """Near-identical copies of real vectors must land in the same
    KMeans cell and be reported as pairs, and semantic_dedup must drop
    exactly the copies (larger ids)."""
    import numpy as np

    from pystreams_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.limit(100)
    rng = np.random.RandomState(0)
    planted = [
        (int(r.vec_id) + 100_000, [float(x) + float(e) for x, e in
                                   zip(r.embedding, rng.normal(0, 1e-4, len(r.embedding)))])
        for r in base.filter(F.col("vec_id").isin([3, 17, 42, 55, 80])).collect()
    ]
    dup_df = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    corpus = base.select("vec_id", "embedding").unionByName(dup_df)

    pairs = semantic_dedup_pairs(corpus, threshold=0.99, n_cells=4).collect()
    got_pairs = {(r.id_a, r.id_b) for r in pairs}
    for vid, _ in planted:
        assert (vid - 100_000, vid) in got_pairs

    survivors = {
        r.vec_id
        for r in semantic_dedup(corpus, threshold=0.99, n_cells=4).collect()
    }
    for vid, _ in planted:
        assert vid not in survivors
        assert vid - 100_000 in survivors


def test_semantic_dedup_survivors_have_no_pairs(spark, sf_dir):
    """Keep rule = 'no smaller similar neighbor' ⇒ re-running the pair
    scan on the survivor set must find nothing."""
    from pystreams_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    surv = semantic_dedup(emb, threshold=0.35, cluster_col="label")
    assert surv.count() < emb.count()  # fixture does contain pairs >= 0.35
    left = semantic_dedup_pairs(surv, threshold=0.35, cluster_col="label")
    assert left.count() == 0


def test_semantic_dedup_zero_vector_and_cluster_gate(spark):
    import numpy as np

    from pystreams_spark.operators.similarity import semantic_dedup_pairs

    rows = [(0, [0.0] * 8, 0), (1, [0.0] * 8, 0), (2, [1.0] * 8, 0), (3, [1.0] * 8, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = semantic_dedup_pairs(df, threshold=0.5, cluster_col="label").collect()
    got = {(r.id_a, r.id_b): r.score for r in pairs}
    assert got == {(2, 3): 1.0}  # zero-norm rows score 0 everywhere, no crash

    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_pairs(
            df, threshold=0.5, cluster_col="label", max_cluster_rows=2
        ).collect()


def test_semantic_dedup_string_cluster_keeps_original_value(spark):
    """A string cluster column scopes pairing by its ORIGINAL value (no
    hash in between — two distinct topics can never merge) and the
    output `cluster` column carries that value back verbatim
    (ADVICE r5: the xxhash64 encoding risked silent 64-bit-collision
    merges and lost the readable key)."""
    from pystreams_spark.operators.similarity import semantic_dedup_pairs

    # identical vectors across DIFFERENT topics: pairs must stay
    # within-topic even though the vectors alone would all pair
    rows = [
        (0, [1.0] * 8, "news"), (1, [1.0] * 8, "news"),
        (2, [1.0] * 8, "code"), (3, [1.0] * 8, "code"),
        (4, [1.0] * 8, None),  # NULL cluster: unclusterable, never paired
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, topic string"
    )
    pairs = semantic_dedup_pairs(df, threshold=0.9, cluster_col="topic")
    assert dict(pairs.dtypes)["cluster"] == "string"
    got = {(r.cluster, r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {("news", 0, 1), ("code", 2, 3)}


# ---------------------------------------------------------------------------
# Distributed PCA (operators/pca.py)
# ---------------------------------------------------------------------------


def test_fit_pca_matches_numpy_exact(spark, sf_dir):
    import numpy as np

    from pystreams_spark.operators.pca import fit_pca

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=10)

    x = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()]
    )
    mean = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:10]
    want_vals = evals[order]
    want_comps = evecs[:, order].T
    for i in range(len(want_comps)):
        j = int(np.argmax(np.abs(want_comps[i])))
        if want_comps[i, j] < 0:
            want_comps[i] = -want_comps[i]

    assert model.n_rows == len(x)
    np.testing.assert_allclose(model.mean, mean, atol=1e-10)
    np.testing.assert_allclose(model.eigenvalues, want_vals, atol=1e-10)
    np.testing.assert_allclose(model.components, want_comps, atol=1e-8)
    np.testing.assert_allclose(model.total_variance, np.trace(cov), atol=1e-10)


def test_fit_pca_partitioning_independent(spark, sf_dir):
    import numpy as np

    from pystreams_spark.operators.pca import fit_pca

    emb = load_table(spark, sf_dir, "embeddings")
    m3 = fit_pca(emb.repartition(3), k=5)
    m7 = fit_pca(emb.repartition(7), k=5)
    np.testing.assert_allclose(m3.eigenvalues, m7.eigenvalues, atol=1e-9)
    np.testing.assert_allclose(m3.components, m7.components, atol=1e-7)


def test_pca_project_whiten_unit_variance(spark, sf_dir):
    import numpy as np

    from pystreams_spark.operators.pca import fit_pca, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=6)
    proj = pca_project(emb, model, out_col="w", whiten=True)
    w = np.stack([np.asarray(r.w) for r in proj.select("w").collect()])
    np.testing.assert_allclose(w.var(axis=0), np.ones(6), rtol=1e-6)
    # components are orthogonal directions -> projected dims uncorrelated
    c = np.cov(w.T, bias=True)
    np.testing.assert_allclose(c - np.diag(np.diag(c)), 0.0, atol=1e-6)


# ---------------------------------------------------------------------------
# Data validation (operators/validate.py)
# ---------------------------------------------------------------------------


def test_validate_rules_on_planted_violations(spark):
    from pystreams_spark.operators.validate import (
        check,
        expect,
        foreign_key,
        in_range,
        in_set,
        not_null,
        satisfies,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", -5.0),      # range violation
            (2, "a", 20.0),      # dup id
            (None, "z", 30.0),   # null id + domain violation + fk orphan ('z')
        ],
        "id long, cat string, v double",
    )
    dim = spark.createDataFrame([("a",), ("b",)], "cat string")
    rep = {
        r.rule: r.n_violations
        for r in check(
            df,
            [
                not_null("id"),
                in_range("v", 0.0, 100.0),
                in_set("cat", ["a", "b"]),
                satisfies("v_odd_rule", F.col("v") != 20.0),
                unique("id"),
                foreign_key("cat", dim, "cat"),
            ],
        ).collect()
    }
    assert rep == {
        "not_null(id)": 1,
        "in_range(v,[0.0,100.0])": 1,
        "in_set(cat)": 1,
        "v_odd_rule": 1,
        "unique(id)": 1,
        "foreign_key(cat)": 1,
    }

    with pytest.raises(AssertionError, match="unique"):
        expect(df, [unique("id")])
    expect(df.filter("v > 0"), [in_range("v", 0.0, 100.0)])


def test_validate_row_local_rules_share_one_scan(spark, sf_dir):
    """N row-local rules must plan as ONE aggregate over one scan, not
    N passes."""
    from pystreams_spark.operators.validate import check, in_range, not_null
    from pystreams_spark.plans import executed_plan

    li = load_table(spark, sf_dir, "lineitem")
    rep = check(
        li,
        [not_null("l_orderkey"), in_range("l_discount", 0.0, 0.05),
         in_range("l_quantity", 1, 50)],
    )
    plan = executed_plan(rep)
    assert plan.count("FileScan") == 1, plan


# ---------------------------------------------------------------------------
# Time-series resample (operators/timeseries.py)
# ---------------------------------------------------------------------------


def test_resample_fill_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from pystreams_spark.operators.timeseries import resample_fill

    rows = [
        ("u1", "2024-01-01 00:30:00", 10.0),
        ("u1", "2024-01-01 00:45:00", 20.0),   # same hour -> avg 15
        ("u1", "2024-01-01 03:10:00", 60.0),   # 2h gap
        ("u1", "2024-01-01 05:05:00", 10.0),
        ("u2", "2024-01-01 01:00:00", 1.0),    # single-point series
    ]
    df = spark.createDataFrame(rows, "u string, ts string, v double").select(
        "u", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    got = {
        (r.u, r.bucket): (r.raw, r.ffill, r.interp)
        for r in resample_fill(df, "ts", "v", ["u"], 3600).collect()
    }
    h = 3600
    base = int(pd.Timestamp("2024-01-01 00:00:00").timestamp())
    # u1 grid: hours 0..5
    assert got[("u1", base + 0 * h)] == (15.0, 15.0, 15.0)
    assert got[("u1", base + 1 * h)][0] is None
    np.testing.assert_allclose(got[("u1", base + 1 * h)][1], 15.0)   # ffill
    np.testing.assert_allclose(got[("u1", base + 1 * h)][2], 30.0)   # 15 + (60-15)*1/3
    np.testing.assert_allclose(got[("u1", base + 2 * h)][2], 45.0)
    assert got[("u1", base + 3 * h)] == (60.0, 60.0, 60.0)
    np.testing.assert_allclose(got[("u1", base + 4 * h)][2], 35.0)   # between 60 and 10
    assert got[("u1", base + 5 * h)] == (10.0, 10.0, 10.0)
    # u2: single observation -> 1-row grid
    assert got[("u2", base + 1 * h)] == (1.0, 1.0, 1.0)
    assert len(got) == 7

    with pytest.raises(ValueError, match="key column"):
        resample_fill(df, "ts", "v", [], 3600)


def test_resample_fill_plan_is_lint_clean(spark, sf_dir):
    from pystreams_spark.operators.timeseries import resample_fill
    from pystreams_spark.plans import lint

    ev = load_table(spark, sf_dir, "events").filter("event_type = 'purchase'")
    out = resample_fill(ev, "ts", "value", ["user_id"], 86400)
    assert lint(out) == []


def test_validate_quoted_and_duplicate_labels(spark):
    """Rule labels never enter SQL text: quotes and duplicate labels
    are both safe (review finding: the first stack()-based report broke
    on either)."""
    from pystreams_spark.operators.validate import check, in_set, satisfies

    df = spark.createDataFrame([(1, "a"), (2, "c")], "id long, cat string")
    rows = check(
        df,
        [
            satisfies("cat isn't 'c'", F.col("cat") != "c"),
            in_set("cat", ["a"]),
            in_set("cat", ["a", "c"]),  # duplicate label with different rule
        ],
    ).collect()
    got = sorted((r.rule, r.n_violations) for r in rows)
    assert got == [("cat isn't 'c'", 1), ("in_set(cat)", 0), ("in_set(cat)", 1)]


def test_resample_fill_pre_epoch_buckets_floor(spark):
    """cast-truncate would shift pre-1970 observations one bucket late;
    floor keeps them in their own bucket."""
    from pystreams_spark.operators.timeseries import resample_fill

    df = spark.createDataFrame(
        [("u", "1969-12-31 23:59:55", 5.0), ("u", "1970-01-01 00:00:30", 7.0)],
        "u string, ts string, v double",
    ).select("u", F.col("ts").cast("timestamp").alias("ts"), "v")
    got = {r.bucket: r.raw for r in resample_fill(df, "ts", "v", ["u"], 60).collect()}
    assert got == {-60: 5.0, 0: 7.0}


def test_incremental_dedup_null_text(spark):
    """NULL text must behave like the plain anti-join it replaces:
    NULL never matches, so NULL-text rows are kept (review finding:
    xxhash64(NULL) crashed the int64 bloom kernels)."""
    from pystreams_spark.operators.bloom import incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "seen before"), (11, "brand new"), (12, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in incremental_exact_dedup(new, corpus).collect()}
    want = {
        r.doc_id
        for r in new.join(corpus.select("text").distinct(), "text", "left_anti").collect()
    }
    assert got == want == {11, 12}


def test_semantic_dedup_null_cluster_rows_kept(spark):
    from pystreams_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rows = [(0, [1.0] * 8, 0), (1, [1.0] * 8, 0), (2, [1.0] * 8, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = semantic_dedup_pairs(df, threshold=0.9, cluster_col="label").collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}
    surv = {r.vec_id for r in semantic_dedup(df, 0.9, cluster_col="label").collect()}
    assert surv == {0, 2}  # NULL-cluster row kept (conservative)


def test_kmeans_cells_clamped_on_tiny_corpus(spark):
    from pystreams_spark.operators.similarity import kmeans_cells_deterministic

    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(3)], "vec_id long, embedding array<float>"
    )
    out = kmeans_cells_deterministic(df, n_cells=16)  # 16 > 3 rows
    assert out.count() == 3


def test_kmeans_fit_survives_empty_partitions(spark):
    """r11 regression: the fused Lloyd fit's partial kernel used to
    yield an EMPTY python-list 's' column on empty partitions (pandas
    types it float64, Arrow cannot convert to list<double>) — a small
    frame spread over many partitions crashed the fit. Empty partials
    must simply yield nothing."""
    from pystreams_spark.operators.similarity import (
        kmeans_centers_deterministic,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    ).repartition(32)  # 5 rows over 32 partitions: most are empty
    centers = kmeans_centers_deterministic(
        df, n_cells=2, iters=2
    )
    assert centers.shape == (2, 2)


def test_mixture_weights_rejects_incomplete_shares(spark):
    from pystreams_spark.operators.selection import mixture_weights

    df = spark.createDataFrame(
        [("en", 10), ("fr", 10), ("de", 10)], "lang string, n_tokens long"
    )
    with pytest.raises(ValueError, match="missing groups \\['de'\\]"):
        mixture_weights(df, "lang", "n_tokens", {"en": 0.5, "fr": 0.5})
    # explicit 0.0 share is the documented way to drop a group
    out = {r.lang: r.weight for r in
           mixture_weights(df, "lang", "n_tokens", {"en": 0.5, "fr": 0.5, "de": 0.0}).collect()}
    assert out["de"] == 0.0


def test_merge_upsert_null_update_overwrites(spark):
    """MERGE SET * semantics: an update row that sets a column to NULL
    really nulls it (review finding: per-column COALESCE kept the stale
    base value)."""
    from pystreams_spark.operators.joins import merge_upsert

    base = spark.createDataFrame(
        [(1, "active", 5.0), (2, "idle", 1.0)], "k long, status string, v double"
    )
    updates = spark.createDataFrame(
        [(1, None, 9.0), (3, "new", 2.0)], "k long, status string, v double"
    )
    got = {r.k: (r.status, r.v) for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: (None, 9.0), 2: ("idle", 1.0), 3: ("new", 2.0)}


def test_salted_join_rejects_outer_sides(spark):
    from pystreams_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, a string")
    small = spark.createDataFrame([(1, "y")], "k long, b string")
    with pytest.raises(ValueError, match="outer join"):
        salted_join(big, small, "k", "k", how="full_outer")
    # exact hows still work
    assert salted_join(big, small, "k", "k", how="left_semi").count() == 1


def test_lang_id_unsegmented_chinese(spark):
    """zh stopword matching is boundary-free: real (unsegmented)
    Chinese text must be identified even though it is one giant token
    (review finding: the whole-token pattern could never fire)."""
    from pystreams_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [
            ("这是一个测试文档我们的系统是好的",),   # unsegmented zh
            ("the cat sat on the mat and it is fine",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(lang_id("text")).collect()]
    assert got == ["zh", "en", "und"]


def test_normalize_zero_vector_no_crash(spark):
    import numpy as np

    from pystreams_spark.functions.vector import normalize

    df = spark.createDataFrame(
        [([0.0, 0.0, 0.0],), ([3.0, 4.0, 0.0],)], "v array<double>"
    )
    got = [r[0] for r in df.select(normalize("v")).collect()]
    assert got[0] == [0.0, 0.0, 0.0]
    np.testing.assert_allclose(got[1], [0.6, 0.8, 0.0])


def test_portable_winnow_rejects_overflowing_k(spark):
    from pystreams_spark.functions.text_kernels import portable_winnow_fps_udf

    with pytest.raises(ValueError, match="overflows int64"):
        portable_winnow_fps_udf(k=8)
    portable_winnow_fps_udf(k=7)  # max exact k at base 257


def test_bpe_segment_corpus_report_matches_python(spark, sf_dir):
    from pystreams_spark.operators.bpe import segment_corpus_report

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r.lang: (r.n_words, r.n_subwords, r.n_chars)
        for r in segment_corpus_report(docs, 10, group_col="lang").collect()
    }

    texts = [(r.lang, r.text) for r in docs.select("lang", "text").collect()]
    _, syms = _py_bpe([t for _, t in texts], 10)
    want = {}
    for lang, t in texts:
        for w in t.split():
            if not w:
                continue
            nw, ns, nc = want.get(lang, (0, 0, 0))
            want[lang] = (nw + 1, ns + len(syms[w]), nc + len(w))
    assert got == want


@pytest.mark.parametrize("cutover", [2_000_000, 0])  # one-task / distributed
def test_pagerank_matches_numpy_power_iteration(spark, cutover):
    import random

    import numpy as np

    from pystreams_spark.operators.graph import pagerank

    rng = random.Random(5)
    n = 40
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(150)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(df, num_iters=25, small_graph_edges=cutover).collect()
    }

    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    m = len(ids)
    A = np.zeros((m, m))
    for a, b in edges:
        A[idx[b], idx[a]] = 1.0
    deg = A.sum(axis=0)
    dangling = deg == 0
    P = np.divide(A, deg, out=np.zeros_like(A), where=deg > 0)
    r = np.full(m, 1.0 / m)
    for _ in range(25):
        r = 0.15 / m + 0.85 * (P @ r + r[dangling].sum() / m)

    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert max(abs(got[ids[i]] - r[i]) for i in range(m)) < 1e-7


def test_pagerank_guards(spark):
    from pystreams_spark.operators.graph import pagerank

    with pytest.raises(ValueError, match="empty graph"):
        pagerank(spark.createDataFrame([], "src long, dst long")).collect()
    with pytest.raises(TypeError, match="integral"):
        pagerank(spark.createDataFrame([("a", "b")], "src string, dst string"))


def test_pca_project_rejects_existing_out_col(spark, sf_dir):
    from pystreams_spark.operators.pca import fit_pca, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, k=2)
    once = pca_project(emb, model, out_col="pca")
    with pytest.raises(ValueError, match="already exists"):
        pca_project(once, model, out_col="pca")


def test_profile_single_scan_and_values(spark, sf_dir):
    from pystreams_spark.operators.profile import profile
    from pystreams_spark.plans import executed_plan

    o = load_table(spark, sf_dir, "orders")
    prof = profile(o, exact_distinct=True)
    plan = executed_plan(prof)
    # r12 split: exact COUNT(DISTINCT)s run in their OWN aggregate so
    # the RewriteDistinctAggregates Expand can't multiply the other
    # metrics' expressions — two scans, ONE Expand, and the Expand's
    # aggregate carries no non-distinct buffers
    assert plan.count("FileScan") == 2, "exact profile = two shared-scan aggs"
    assert plan.count("Expand") == 1, "only the distinct agg may Expand"

    got = {(r.column, r.metric): (r.value_num, r.value_str) for r in prof.collect()}
    n = o.count()
    assert got[("o_orderkey", "n_nulls")][0] == 0.0
    assert got[("o_orderkey", "n_distinct")][0] == float(n)
    assert got[("o_orderstatus", "n_distinct")][0] == 3.0
    assert got[("o_orderstatus", "n_empty")][0] == 0.0
    assert got[("o_orderdate", "min")][1].startswith("199")

    # approx path runs in ONE scan (no distinct rewrite, no Expand)
    # and is within HLL tolerance
    approx_df = profile(o, exact_distinct=False)
    approx_plan = executed_plan(approx_df)
    assert approx_plan.count("FileScan") == 1, "HLL profile stays ONE scan"
    assert "Expand" not in approx_plan
    approx = {
        (r.column, r.metric): r.value_num for r in approx_df.collect()
    }
    assert abs(approx[("o_orderkey", "n_distinct")] - n) / n < 0.1

    with pytest.raises(ValueError, match="unknown columns"):
        profile(o, columns=["nope"])


def test_drift_detects_planted_shift(spark):
    """PSI/KS must be ~0 for identical distributions and large for a
    planted mean shift; out-of-range values clamp into edge bins."""
    import numpy as np

    from pystreams_spark.operators.drift import drift_report, psi_bins

    rng = np.random.RandomState(3)
    ref = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 4000)], "v double"
    )
    same = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 4000)], "v double"
    )
    shifted = spark.createDataFrame(
        [(float(x),) for x in rng.normal(3, 1, 4000)], "v double"
    )
    r_same = drift_report(ref, same, ["v"]).collect()[0]
    r_shift = drift_report(ref, shifted, ["v"]).collect()[0]
    assert r_same.psi < 0.05 and r_same.ks < 0.05
    assert r_shift.psi > 1.0 and r_shift.ks > 0.5
    # the shifted mass lands in the top clamp bin
    top = {r.bin: r.n_cur for r in psi_bins(ref, shifted, "v").collect()}
    assert top[9] > 1000  # ~31% of N(3,1) exceeds ref max (~3.5) and clamps


def test_drift_constant_reference_column(spark):
    from pystreams_spark.operators.drift import drift_report

    ref = spark.createDataFrame([(1.0,)] * 50, "v double")
    cur = spark.createDataFrame([(2.0,)] * 50, "v double")
    row = drift_report(ref, cur, ["v"]).collect()[0]
    assert row.psi == 0.0 and row.ks == 0.0  # all mass in bin 0 both sides


def test_drift_report_multi_column_shares_scans(spark):
    """The multi-column report folds every column into one wide agg per
    side: the plan must contain exactly 3 scans of the inputs (ref
    stats + ref bins + cur bins) however many columns are requested,
    and an empty current side yields NULL ks (try_divide), not an ANSI
    DIVIDE_BY_ZERO."""
    import numpy as np

    from pystreams_spark.operators.drift import drift_report

    rng = np.random.RandomState(7)
    ref = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in rng.normal(0, 1, (500, 3))],
        "a double, b double, c double",
    )
    cur = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in rng.normal(0.2, 1, (500, 3))],
        "a double, b double, c double",
    )
    rep = drift_report(ref, cur, ["a", "b", "c"])
    rows = {r.column: r for r in rep.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all(rows[c].n_ref == 500 and rows[c].n_cur == 500 for c in rows)
    # scan count: LocalTableScan appears once per distinct input scan
    plan = rep._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("LocalTableScan")
    assert n_scans <= 3, f"expected ≤3 input scans for 3 columns, saw {n_scans}"

    empty = cur.filter(F.lit(False))
    row = drift_report(ref, empty, ["a"]).collect()[0]
    assert row.n_cur == 0 and row.ks is None  # guarded division


def test_nfc_report_detects_decomposed_text(spark):
    """Planted NFD strings (decomposed accents) must be counted; NFC
    text passes clean; NULL text counts as empty."""
    import unicodedata

    from pystreams_spark.operators.profile import nfc_normalization_report

    nfd = unicodedata.normalize("NFD", "café déjà vu")   # e + U+0301 …
    assert nfd != "café déjà vu"
    rows = [
        ("fr", nfd),
        ("fr", "café déjà vu"),      # already NFC
        ("en", "plain ascii"),
        ("en", None),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    out = {r.lang: r for r in nfc_normalization_report(df).collect()}
    assert out["fr"].n_docs == 2 and out["fr"].n_not_nfc == 1
    assert out["fr"].n_len_changed == 1
    assert out["fr"].chars_saved == 3  # three combining marks composed
    assert out["en"].n_not_nfc == 0 and out["en"].chars_saved == 0


def test_minhash_banding_curve_matches_empirical_rate(spark):
    """The published S-curve P=1-(1-j^r)^b must predict the EMPIRICAL
    banded-candidate rate: for pairs at controlled Jaccard, the b=8,r=2
    banding's hit rate falls inside a tolerance of the formula."""
    from pystreams_spark.queries import QUERIES

    curve = {
        float(r.jaccard): r.p_candidate_b8_r2
        for r in QUERIES["minhash_banding_calibration"](spark, "ignored").collect()
    }
    # controlled-similarity corpus: doc pairs sharing a tunable token
    # fraction. 40 shared + 10 unique each side → J = 40/60 ≈ 0.65
    rows = []
    for p in range(60):
        shared = [f"s{p}w{j}" for j in range(40)]
        a = shared + [f"a{p}u{j}" for j in range(10)]
        b = shared + [f"b{p}u{j}" for j in range(10)]
        rows.append((2 * p, " ".join(a)))
        rows.append((2 * p + 1, " ".join(b)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_neardup_pairs(docs, n=3, threshold=0.0).collect()
    }
    planted = {(2 * p, 2 * p + 1) for p in range(60)}
    rate = len(cands & planted) / len(planted)
    # shingle-level overlap of the planted pairs ≈ 0.61; curve there
    # predicts ~0.95; allow generous sampling tolerance on 60 pairs
    predicted = curve[0.6]
    assert abs(rate - predicted) < 0.25, (rate, predicted)


def test_drift_report_ignores_nulls(spark):
    """NULL values must NOT fall into bin 0: identical non-NULL
    distributions with extra NULLs on one side score zero drift, and
    n_ref counts only non-NULL rows (matches the oracle's IS NOT
    NULL)."""
    from pystreams_spark.operators.drift import drift_report

    vals = [(float(x),) for x in range(10)]
    ref = spark.createDataFrame(vals + [(None,)] * 5, "v double")
    cur = spark.createDataFrame(vals, "v double")
    row = drift_report(ref, cur, ["v"]).collect()[0]
    assert row.n_ref == 10 and row.n_cur == 10
    assert row.psi == 0.0 and row.ks == 0.0


def test_drift_monitor_rejects_empty_reference(spark, tmp_path):
    import pytest as _pytest

    from pystreams_spark.streaming.drift_monitor import DriftMonitor

    empty = spark.createDataFrame([], "v double")
    with _pytest.raises(ValueError, match="no non-NULL values"):
        DriftMonitor(str(tmp_path / "m"), empty, ["v"])
    all_null = spark.createDataFrame([(None,), (None,)], "v double")
    with _pytest.raises(ValueError, match="\\['v'\\]"):
        DriftMonitor(str(tmp_path / "m2"), all_null, ["v"])


def test_semantic_dedup_string_cluster_column(spark):
    """A string cluster column must work (hashed, not cast): same label
    → same cluster id; pairs only form within a label."""
    from pystreams_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0], "news"),
        (2, [1.0, 0.001], "news"),      # near-dup of 1, same topic
        (3, [1.0, 0.0], "forum"),       # identical vector, other topic
        (4, [0.0, 1.0], "news"),
        (5, [1.0, 0.0], None),          # NULL topic: unclusterable, kept
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, topic string"
    )
    pairs = semantic_dedup_pairs(
        df, threshold=0.99, cluster_col="topic"
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    survivors = {
        r.vec_id
        for r in semantic_dedup(df, 0.99, cluster_col="topic").collect()
    }
    assert survivors == {1, 3, 4, 5}


def test_linear_model_scoring_exact(spark):
    """score_linear_model must equal the hand-computed sigmoid of the
    mean hashed-bucket weight, and zero-token docs produce no row."""
    import hashlib
    import math

    from pystreams_spark.operators.quality_model import (
        demo_weights,
        score_linear_model,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "gamma")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.score
        for r in score_linear_model(
            docs, demo_weights(spark, 16), n_buckets=16
        ).collect()
    }
    assert set(out) == {1, 3}  # the empty doc has no features

    wmap = {j: ((j * 37 + 11) % 101 - 50) / 100.0 for j in range(16)}

    def py_score(words):
        b = [
            int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 16
            for w in words
        ]
        m = sum(wmap[j] for j in b) / len(b)
        return 1.0 / (1.0 + math.exp(-m))

    assert abs(out[1] - py_score(["alpha", "beta", "alpha"])) < 1e-12
    assert abs(out[3] - py_score(["gamma"])) < 1e-12


def test_bigram_surprisal_flags_word_salad(spark):
    """A scrambled doc over the SAME unigrams as the corpus must score
    strictly higher bigram surprisal than the predictable docs — the
    signal a unigram LM cannot see. Docs with <2 tokens are excluded."""
    from pystreams_spark.operators.selection import bigram_surprisal_scores

    rows = [(i, "a b a b a b a b") for i in range(10)]
    rows.append((99, "b b a a b a a b"))  # same unigram mix, salad order
    rows.append((100, "a"))  # single token: no bigrams
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bigram_surprisal for r in bigram_surprisal_scores(docs).collect()}
    assert 100 not in out
    assert all(out[99] > out[i] for i in range(10))


def test_bigram_surprisal_vocab_join_switch(spark, sf_dir):
    """With broadcast joins switched off the bigram/context joins are
    shuffle joins, with identical scores — same contract as the
    unigram path."""
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.selection import bigram_surprisal_scores

    docs = load_table(spark, sf_dir, "documents").limit(120)
    bc = bigram_surprisal_scores(docs)
    a = {r.doc_id: round(r.bigram_surprisal, 9) for r in bc.collect()}
    with _broadcast_joins_off(spark):
        sh = bigram_surprisal_scores(docs)
        b = {r.doc_id: round(r.bigram_surprisal, 9) for r in sh.collect()}
    assert a == b and len(a) == 120

    assert _n_broadcast_hints(bc) == 1  # only the 1-row V
    assert "BroadcastHashJoin" in executed_plan(bc)
    assert "BroadcastHashJoin" not in executed_plan(sh)


def test_dsir_prefers_target_like_docs(spark):
    """A raw doc written in the target domain's vocabulary must get a
    strictly higher DSIR log-weight than one from a disjoint
    vocabulary, and n_tokens must count the doc's tokens."""
    from pystreams_spark.operators.selection import dsir_log_weights

    target = spark.createDataFrame(
        [(i, "spark shuffle partition join agg") for i in range(8)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "spark join shuffle agg partition join"),
            (2, "banana apple cherry mango papaya kiwi"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_log_weights(raw, target, n_buckets=64).collect()}
    assert out[1].n_tokens == 6 and out[2].n_tokens == 6
    assert out[1].log_weight > out[2].log_weight
    assert out[1].log_weight > 0 > out[2].log_weight


def test_mixture_weights_temperature_alpha(spark):
    """α=1 must reproduce the natural mixture (all weights 1); α=0 the
    uniform target; α with target_shares or outside [0,1] must raise."""
    import pytest as _pytest

    from pystreams_spark.operators.selection import mixture_weights

    df = spark.createDataFrame(
        [("en", 900), ("de", 90), ("fr", 10)], "lang string, n_tokens long"
    )
    nat = {r.lang: r.weight for r in mixture_weights(df, "lang", "n_tokens", alpha=1.0).collect()}
    assert all(abs(w - 1.0) < 1e-6 for w in nat.values())

    uni = {r.lang: r.target_share for r in mixture_weights(df, "lang", "n_tokens", alpha=0.0).collect()}
    assert all(abs(t - 1 / 3) < 1e-6 for t in uni.values())

    # α=0.3 boosts the low-resource group, shrinks the dominant one
    mid = {r.lang: r.weight for r in mixture_weights(df, "lang", "n_tokens", alpha=0.3).collect()}
    assert mid["fr"] > 1.0 > mid["en"]

    with _pytest.raises(ValueError, match="not both"):
        mixture_weights(df, "lang", "n_tokens", target_shares={"en": 1.0}, alpha=0.3)
    with _pytest.raises(ValueError, match="alpha"):
        mixture_weights(df, "lang", "n_tokens", alpha=1.5)


def test_bm25_scores_hand_computed(spark):
    """BM25 must equal the hand-computed Lucene-form score on a tiny
    corpus; docs matching no term produce no row; empty terms raise."""
    import math

    import pytest as _pytest

    from pystreams_spark.operators.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),      # tf(cat)=2, dl=3
            (2, "dog bird"),         # no query term
            (3, "cat"),              # tf(cat)=1, dl=1
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_scores(docs, ["cat"]).collect()}
    assert set(out) == {1, 3}
    n, avgdl, df, k1, b = 3, 2.0, 2, 1.2, 0.75

    def py_bm25(tf, dl):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(out[1].score - py_bm25(2, 3)) < 1e-12
    assert abs(out[3].score - py_bm25(1, 1)) < 1e-12
    assert out[1].n_terms_hit == 1

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_scores(docs, [])


def test_embedding_outlier_query_degenerate_labels(spark, tmp_path):
    """Zero-variance labels (every 2-vector label, geometrically) and
    singleton labels must yield n_outliers=0, not an ANSI
    DIVIDE_BY_ZERO crash or a NULL count (r5 review finding)."""
    import os

    from pystreams_spark.queries import QUERIES

    rows = [
        (1, [1.0, 0.0], 0), (2, [3.0, 0.0], 0),   # 2-vector label: sigma=0
        (3, [5.0, 5.0], 1),                        # singleton: sigma=NULL
        (4, [0.0, 0.0], 2), (5, [0.0, 0.0], 2), (6, [9.0, 9.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "embeddings.parquet"))
    out = {r.label: r for r in QUERIES["embedding_outlier_report"](spark, d).collect()}
    assert out[0].n_outliers == 0 and out[1].n_outliers == 0
    assert out[2].n_vecs == 3 and out[2].n_outliers is not None


def test_record_linkage_blocked_pairs_and_hot_block_gate(spark):
    """Linkage must only compare within blocks (no cross-block pairs),
    order pairs id_a < id_b, and REFUSE a block over the row cap."""
    import pytest as _pytest

    from pystreams_spark.operators.linkage import record_linkage

    df = spark.createDataFrame(
        [
            (1, "B1", "smith john"),
            (2, "B1", "smith jon"),      # distance 1 to id 1
            (3, "B1", "wilson amy"),
            (4, "B2", "smith john"),     # same name, other block: no pair
        ],
        "rid long, blk string, name string",
    )
    out = record_linkage(df, ["blk"], "name", "rid", max_distance=1).collect()
    assert [(r.id_a, r.id_b, r.distance) for r in out] == [(1, 2, 1)]

    with _pytest.raises(ValueError, match="max_block_rows"):
        record_linkage(df, ["blk"], "name", "rid", max_block_rows=2)
    with _pytest.raises(ValueError, match="non-empty"):
        record_linkage(df, [], "name", "rid")


def test_weighted_sample_favors_heavy_weights(spark):
    from pystreams_spark.operators.selection import weighted_sample

    rows = [(i, 1000.0 if i < 10 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, k=20, weight_col="w", id_col="doc_id")
    picked = {r.doc_id for r in got.collect()}
    # all 10 heavy rows (1000x the weight of the tail) must be drawn;
    # E[missing one] < 1e-3 under A-Res, so this is deterministic for
    # the fixed seed — and the sample itself is a pure fn of (id, seed)
    assert set(range(10)) <= picked
    assert len(picked) == 20
    again = {r.doc_id for r in weighted_sample(
        df.repartition(7), k=20, weight_col="w", id_col="doc_id"
    ).collect()}
    assert again == picked  # partitioning-independent


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from pystreams_spark.operators.selection import weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -5.0), (3, 2.0), (4, 1.0)], "doc_id long, w double"
    )
    got = weighted_sample(df, k=10, weight_col="w", id_col="doc_id")
    assert {r.doc_id for r in got.collect()} == {3, 4}


def test_k_anonymity_profile_hand_computed(spark):
    from pystreams_spark.operators.privacy import k_anonymity_profile

    # classes: (a: 3 rows, 1 distinct sensitive), (b: 1 row), (c: 2 rows)
    rows = [
        ("a", "x", 1), ("a", "x", 1), ("a", "x", 1),
        ("b", "x", 2),
        ("c", "y", 3), ("c", "y", 4),
    ]
    df = spark.createDataFrame(rows, "qi1 string, qi2 string, sens long")
    out = {
        r.k: r
        for r in k_anonymity_profile(
            df, ["qi1", "qi2"], k_values=(2, 5), sensitive_col="sens"
        ).collect()
    }
    assert out[2].n_classes == 3
    assert out[2].n_classes_below == 1        # only the size-1 class
    assert out[2].n_rows_below == 1
    assert out[2].min_class_size == 1
    assert out[2].n_rows_below_l == 1         # size-1 class has 1 value
    assert out[5].n_classes_below == 3
    assert out[5].n_rows_below == 6
    # class a (3 rows, homogeneous) + class b fail l=2; class c passes
    assert out[5].n_rows_below_l == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k_values"):
        k_anonymity_profile(df, ["qi1"], k_values=(1,))


def test_pair_cooccurrence_hand_computed(spark):
    from pystreams_spark.operators.assoc import pair_cooccurrence

    # baskets: {1,2,3}, {1,2}, {1,2}, {3}, {4} — item 4 infrequent
    rows = [
        (10, 1), (10, 2), (10, 3),
        (20, 1), (20, 2),
        (30, 1), (30, 2),
        (40, 3),
        (50, 4),
    ]
    df = spark.createDataFrame(rows, "bk long, it long")
    out = {
        (r.item_a, r.item_b): r
        for r in pair_cooccurrence(df, "bk", "it", min_support=2).collect()
    }
    assert set(out) == {(1, 2)}  # (1,3)/(2,3) count 1; 4 pruned
    r = out[(1, 2)]
    assert r.pair_count == 3 and r.count_a == 3 and r.count_b == 3
    assert r.confidence == 1.0
    # lift = 3 * 5 baskets / (3*3)
    assert abs(r.lift - 15.0 / 9.0) < 1e-6


def test_pair_cooccurrence_mega_basket_gate(spark):
    from pystreams_spark.operators.assoc import pair_cooccurrence
    import pyspark.sql.functions as F

    # one mega-basket with 100 items (all frequent via a twin basket)
    rows = [(1, i) for i in range(100)] + [(2, i) for i in range(100)]
    df = spark.createDataFrame(rows, "bk long, it long")
    capped = pair_cooccurrence(
        df, "bk", "it", min_support=2, max_basket_size=10
    )
    assert capped.count() == 0  # both baskets excluded -> no pairs
    open_ = pair_cooccurrence(
        df, "bk", "it", min_support=2, max_basket_size=None
    )
    assert open_.count() == 100 * 99 // 2


def test_transition_counts_hand_computed(spark):
    import pyspark.sql.functions as F
    from pystreams_spark.operators.timeseries import transition_counts

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "uid long, seq long, st string")
    out = {
        (r.from_state, r.to_state): r
        for r in transition_counts(
            df, "uid", [F.col("seq")], "st"
        ).collect()
    }
    assert out[("a", "b")].n == 3 and out[("a", "b")].prob == 1.0
    assert out[("b", "a")].n == 1 and out[("b", "a")].prob == 1.0
    assert set(out) == {("a", "b"), ("b", "a")}


def test_robust_outliers_planted_and_degenerate(spark):
    from pystreams_spark.operators.profile import robust_outlier_report

    normal = [("g", float(v)) for v in range(1, 100)]  # 1..99, median 50
    planted = [("g", 10000.0)]
    constant = [("c", 7.0)] * 20
    df = spark.createDataFrame(
        normal + planted + constant, "grp string, value double"
    )
    out = {r.grp: r for r in robust_outlier_report(
        df, "value", ["grp"], z_threshold=3.5
    ).collect()}
    g = out["g"]
    assert g.n == 100 and g.n_outliers == 1  # only the planted point
    assert g.median == 50.5 and g.mad == 25.0
    # degenerate group: MAD 0 -> NULL z, zero outliers, no ANSI crash
    c = out["c"]
    assert c.mad == 0.0 and c.n_outliers == 0 and c.max_abs_z is None


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    from pystreams_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    rows = [(1, short), (2, filler + " " + short), (3, "other text entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(df, threshold=0.9, n=3).collect()
    }
    assert cont[(1, 2)] == 1.0  # doc 1 fully contained in doc 2
    jac = ngram_jaccard_pairs(df, threshold=0.5, n=3).collect()
    assert not jac  # Jaccard can't see the inclusion at any useful tau


def test_cross_source_overlap_planted_resale(spark):
    from pystreams_spark.operators.dedup import cross_source_shingle_overlap

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "A", shared + " " + " ".join(f"a{i}" for i in range(10))),
        (2, "B", shared + " " + " ".join(f"b{i}" for i in range(10))),
        (3, "C", " ".join(f"c{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        (r.source_a, r.source_b): r
        for r in cross_source_shingle_overlap(
            df, n=5, source_col="source"
        ).collect()
    }
    # only A-B share content: the 4 complete 5-grams of the shared span
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    assert r.n_shared == 4
    assert r.n_grams_a == 14 and r.n_grams_b == 14  # 18 tokens -> 14 grams
    assert abs(r.frac_of_a - 4 / 14) < 1e-6


def test_pmi_collocations_hand_computed(spark):
    import math

    from pystreams_spark.operators.assoc import pmi_collocations
    import pytest as _pytest

    # "a b" always adjacent; c/d never adjacent to each other
    rows = [("a b c", ), ("a b d",), ("c a b",), ("d a b",)]
    df = spark.createDataFrame(rows, "text string")
    out = {
        (r.w1, r.w2): r
        for r in pmi_collocations(df, min_count=2, top_k=None).collect()
    }
    # bigrams: (a,b)x4, (b,c)x1, (b,d)x1, (c,a)x1, (d,a)x1 -> N=8
    assert set(out) == {("a", "b")}  # only pair with count >= 2
    r = out[("a", "b")]
    # c1(a)=4 (a as w1), c2(b)=4 (b as w2): pmi = ln(4*8/(4*4)) = ln 2
    assert r.pair_count == 4
    assert abs(r.pmi - round(math.log(2.0), 6)) < 1e-9
    with _pytest.raises(ValueError, match="min_count"):
        pmi_collocations(df, min_count=0)


def test_weighted_sample_per_group_cap_and_bias(spark):
    from pystreams_spark.operators.selection import weighted_sample_per_group

    rows = [(i, "g1", 1000.0 if i < 5 else 1.0) for i in range(100)] + [
        (100 + i, "g2", 1.0) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")
    got = weighted_sample_per_group(
        df, k=10, weight_col="w", group_cols=["grp"], id_col="doc_id"
    ).collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, set()).add(r.doc_id)
    assert len(by_grp["g1"]) == 10
    assert set(range(5)) <= by_grp["g1"]  # heavy rows all drawn
    assert by_grp["g2"] == {100, 101, 102}  # under-k group returns whole
    again = weighted_sample_per_group(
        df.repartition(7), k=10, weight_col="w", group_cols=["grp"],
        id_col="doc_id",
    ).collect()
    assert {(r.grp, r.doc_id) for r in again} == {
        (r.grp, r.doc_id) for r in got
    }


def test_distinctive_terms_planted_marker(spark):
    from pystreams_spark.operators.retrieval import distinctive_terms

    base = "the quick brown fox jumps over lazy dog again and"
    rows = [(i, "A", base + " zebra zebra zebra") for i in range(10)] + [
        (100 + i, "B", base) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    out = distinctive_terms(df, group_col="grp", top_k=3).collect()
    top_a = [r for r in out if r.grp == "A"]
    # the planted marker must rank first for A with exact counts
    assert top_a[0].term == "zebra"
    assert top_a[0].count_in_group == 30 and top_a[0].count_in_rest == 0
    assert top_a[0].log_odds_z > 0
    # no B term can out-z the planted marker (B has no exclusive word)
    top_b = [r for r in out if r.grp == "B"]
    assert all(r.log_odds_z < top_a[0].log_odds_z for r in top_b)


def test_mergeable_stats_monoid(spark):
    """merge(fold over any batching) == state of the whole — and the
    merge is order-insensitive."""
    from pystreams_spark.operators.incremental import (
        finalize_stats,
        merge_stats,
        stats_state,
    )

    rows = [(i, "g" + str(i % 2), float(i * 7 % 23)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    whole = {r.grp: r for r in finalize_stats(
        stats_state(df, ["grp"], "v")
    ).collect()}
    b0 = stats_state(df.filter("id % 3 = 0"), ["grp"], "v")
    b1 = stats_state(df.filter("id % 3 = 1"), ["grp"], "v")
    b2 = stats_state(df.filter("id % 3 = 2"), ["grp"], "v")
    merged = {r.grp: r for r in finalize_stats(
        merge_stats(b2, b0, b1)  # deliberately out of order
    ).collect()}
    assert set(merged) == set(whole)
    for g in whole:
        for f in ("n", "sum", "min", "max", "mean", "stddev"):
            assert getattr(merged[g], f) == getattr(whole[g], f), (g, f)


def test_mergeable_stats_nulls_and_int_overflow(spark):
    """NULL values are skipped consistently (n counts values, not
    rows), and int-typed columns don't ANSI-overflow on the square."""
    from pystreams_spark.operators.incremental import (
        finalize_stats,
        merge_stats,
        stats_state,
    )

    df = spark.createDataFrame(
        [("g", None), ("g", 2.0), ("g", 2.0)], "grp string, v double"
    )
    r = finalize_stats(stats_state(df, ["grp"], "v")).collect()[0]
    assert r.n == 2 and r.mean == 2.0 and r.stddev == 0.0

    # 50000^2 > 2^31-1: squaring in the input int type would crash ANSI
    big = spark.createDataFrame([("g", 50000), ("g", 50000)], "grp string, v int")
    s = stats_state(big, ["grp"], "v")
    out = finalize_stats(merge_stats(s, group_cols=["grp"])).collect()[0]
    assert out.n == 2 and out.mean == 50000.0 and out.stddev == 0.0


def test_pareto_frontier_matches_bruteforce(spark):
    import itertools
    import random

    from pystreams_spark.operators.topk import pareto_frontier

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 20), rng.randint(0, 20), float(rng.randint(0, 20)))
           for i in range(300)]
    df = spark.createDataFrame(pts, "id long, x int, y int, z double")
    dims = [("x", "min"), ("y", "max"), ("z", "min")]
    got = {r.id for r in pareto_frontier(df.repartition(7), dims).collect()}

    def dominates(b, a):
        ax, ay, az = a[1], a[2], a[3]
        bx, by, bz = b[1], b[2], b[3]
        return (bx <= ax and by >= ay and bz <= az
                and (bx < ax or by > ay or bz < az))

    expected = {a[0] for a in pts
                if not any(dominates(b, a) for b in pts if b is not a)}
    assert got == expected
    # duplicated frontier points: neither strictly dominates -> both kept
    dup = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (3, 5, 0)], "id long, x int, y int"
    )
    kept = {r.id for r in pareto_frontier(
        dup, [("x", "min"), ("y", "max")]
    ).collect()}
    assert kept == {1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        pareto_frontier(df, [("x", "down")])


def test_pareto_frontier_exact_beyond_float53(spark):
    """int64 dims beyond 2^53 must compare exactly in the local prune:
    a float64 cast would collapse 2^53 and 2^53+1 and wrongly drop a
    true frontier row."""
    from pystreams_spark.operators.topk import pareto_frontier

    big = 2**53
    df = spark.createDataFrame(
        [(1, big, 5), (2, big + 1, 3)], "id long, a long, b long"
    )
    kept = {r.id for r in pareto_frontier(
        df.coalesce(1), [("a", "min"), ("b", "min")]
    ).collect()}
    # neither dominates: row 1 is better on a (exactly), row 2 on b
    assert kept == {1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="_o_"):
        pareto_frontier(
            df.withColumnRenamed("b", "_o_a"), [("a", "min")]
        )


def test_triangle_census_hand_computed(spark):
    from pystreams_spark.operators.graph import triangle_census

    # K3 on {1,2,3} plus a pendant edge 3-4: 1 triangle,
    # degrees 2,2,3,1 -> wedges 1+1+3+0 = 5, clustering 3/5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    r = triangle_census(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 4, 1, 5)
    assert r.clustering == 0.6
    # triangle-free graph: clustering 0; empty wedge case stays NULL
    path = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    r2 = triangle_census(path).collect()[0]
    assert r2.n_triangles == 0 and r2.clustering == 0.0
    single = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r3 = triangle_census(single).collect()[0]
    assert r3.n_wedges == 0 and r3.clustering is None


def test_deterministic_ann_empty_input_raises_clearly(spark):
    """r8 ADVICE: probing the embedding dimension from an empty frame
    used to raise an opaque TypeError (first() → None); now a clear
    ValueError names the empty input."""
    import pytest

    from pystreams_spark.operators.similarity import (
        knn_pq_deterministic,
        lsh_buckets_deterministic,
    )

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="lsh_buckets_deterministic.*empty"):
        lsh_buckets_deterministic(empty)
    q = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0])], "query_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="knn_pq_deterministic.*empty"):
        knn_pq_deterministic(q, empty.withColumnRenamed("vec_id", "vec_id"), k=1)


def test_ngram_novelty_scores_known_corpus(spark):
    """r8: hand-built corpus with knowable first-seen attribution.
    Doc 1 introduces everything (novelty 1.0); doc 2 is a verbatim
    copy (novelty 0.0); doc 3 is half doc-1 text and half new; doc 4
    is short (<3 tokens → its whole token string is the one gram)."""
    from pystreams_spark.operators.dedup import ngram_novelty_scores

    t1 = "alpha beta gamma delta epsilon"         # grams: 3 distinct
    t3 = "alpha beta gamma zeta eta theta"        # shares 'alpha beta gamma'
    rows = [(1, t1), (2, t1), (3, t3), (4, "tiny doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_novelty_scores(df, n=3).collect()}
    assert out[1].n_grams == 3 and out[1].novelty == 1.0
    assert out[2].n_grams == 3 and out[2].novelty == 0.0
    # doc 3: grams = [alpha beta gamma, beta gamma zeta, gamma zeta eta,
    # zeta eta theta] — 1 of 4 seen
    assert out[3].n_grams == 4 and out[3].novelty == 0.75
    # doc 4: one gram ("tiny doc"), never seen before → novel
    assert out[4].n_grams == 1 and out[4].novelty == 1.0


def test_ngram_novelty_conservation_invariant(spark, sf_dir):
    """Every distinct gram in the corpus is novel for EXACTLY ONE
    document (its first-seen doc): Σ novel_grams == |distinct grams|,
    and novelty ∈ [0, 1] row-wise — the conservation law that pins the
    min-attribution join against double- or zero-counting."""
    from pyspark.sql import functions as F

    from pystreams_spark.functions.text import tokens
    from pystreams_spark.operators.dedup import ngram_novelty_scores

    docs = load_table(spark, sf_dir, "documents").limit(300)
    scores = ngram_novelty_scores(docs, n=3)
    agg = scores.agg(
        F.sum("novel_grams").alias("novel"),
        F.min("novelty").alias("lo"),
        F.max("novelty").alias("hi"),
    ).collect()[0]
    base = docs.select(tokens(F.col("text")).alias("_t"))
    distinct_grams = (
        base.select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size("_t") - 2, F.lit(1)),
                        ),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("_t"), i, 3)
                        ),
                    )
                )
            ).alias("g")
        )
        .distinct()
        .count()
    )
    assert agg.novel == distinct_grams
    assert 0.0 <= agg.lo and agg.hi <= 1.0


def test_minhash_deterministic_candidates_invariants(spark):
    """r9 (r8 verdict #6): identical docs must collide on ALL 8 bands
    with exact Jaccard 1.0; a doc sharing nothing must produce no
    candidate; unsupported band widths refuse loudly. (Cross-engine
    value parity is covered by the oracle suite — this pins the
    operator-level semantics.)"""
    import pytest as _pytest

    from pystreams_spark.functions.text_kernels import minhash_det_constants
    from pystreams_spark.operators.dedup import minhash_deterministic_candidates

    t = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, t), (2, t), (3, "totally different words entirely here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_deterministic_candidates(df, n=3, bands=8, rows_per_band=2)
    got = {(r.id_a, r.id_b): r for r in out.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)].n_bands_shared == 8 and got[(1, 2)].jaccard == 1.0

    with _pytest.raises(ValueError, match="rows_per_band"):
        minhash_deterministic_candidates(df, rows_per_band=3)

    # constants are stable literals (the oracle SQL embeds them)
    assert minhash_det_constants(2) == minhash_det_constants(2)
    a0, b0 = minhash_det_constants(1)[0]
    assert 1 <= a0 <= 2147483646 and 0 <= b0 <= 2147483646


def _waterfill_ref(caps: dict, weights: dict, budget: int) -> dict:
    """Brute-force reference: integer water level found by scanning the
    sorted cap/weight prefix exactly as the operator's math states."""
    order = sorted(caps, key=lambda g: (caps[g] / weights[g], g))
    n = len(order)
    for k, g in enumerate(order, start=1):
        cprev = sum(caps[x] for x in order[: k - 1])
        wsuf = sum(weights[x] for x in order[k - 1 :])
        lam_num, lam_den = budget - cprev, wsuf
        ok_here = lam_num * weights[g] <= caps[g] * wsuf
        if k == 1:
            ok_prev = True
        else:
            pg = order[k - 2]
            ok_prev = lam_num * weights[pg] >= caps[pg] * wsuf
        if ok_here and ok_prev:
            out = {}
            for j, h in enumerate(order, start=1):
                if j < k:
                    out[h] = (caps[h], True)
                else:
                    out[h] = (
                        min(caps[h], (lam_num * weights[h]) // lam_den),
                        False,
                    )
            return out
    return {g: (caps[g], True) for g in order}  # budget >= total supply


def test_waterfill_allocation_matches_reference(spark):
    from pystreams_spark.operators.selection import waterfill_allocation

    caps = {"a": 1000, "b": 5000, "c": 300, "d": 2200}
    weights = {"a": 40, "b": 20, "c": 25, "d": 15}
    for budget in (100, 2000, 6000, 8000, 8500, 100_000):
        cdf = spark.createDataFrame(
            [(g, caps[g], weights[g]) for g in sorted(caps)],
            "lang string, available_tokens long, weight long",
        )
        bdf = spark.createDataFrame([(budget,)], "budget long")
        got = {
            r.lang: (r.allocated_tokens, r.capped)
            for r in waterfill_allocation(cdf, bdf).collect()
        }
        want = _waterfill_ref(caps, weights, budget)
        assert got == want, (budget, got, want)
        total = sum(a for a, _ in got.values())
        if budget <= sum(caps.values()):
            # floor allocations: within n_groups of the budget, never over
            assert budget - len(caps) < total <= budget
        else:
            assert total == sum(caps.values())  # shortfall is visible


def test_waterfill_allocation_rejects_bad_weights(spark):
    """ADVICE r10: a NULL (or non-positive) weight is a caller bug —
    under nulls-first ordering it would be granted its full cap as
    'capped' and silently shrink everyone else's budget. The operator
    raises in-plan instead."""
    import pytest as _pytest

    from pystreams_spark.operators.selection import waterfill_allocation

    bdf = spark.createDataFrame([(4000,)], "budget long")
    for bad in (None, 0, -3):
        cdf = spark.createDataFrame(
            [("x", 10_000, 3), ("y", 10_000, bad)],
            "lang string, available_tokens long, weight long",
        )
        with _pytest.raises(Exception, match="non-positive weight"):
            waterfill_allocation(cdf, bdf).collect()


def test_snapshot_diff_null_text_is_content(spark):
    """ADVICE r10: NULL text coalesces to '' before hashing — an id
    present in both snapshots with NULL text on one side classifies
    as modified (vs ''), two NULL-text docs exact-match (unchanged /
    moved), never fall out into added+removed."""
    from pystreams_spark.operators.snapshot import snapshot_diff

    a = spark.createDataFrame(
        [(1, None), (2, "kept"), (3, None), (5, None)],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(1, ""), (2, None), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.status, r.match_id)
        for r in snapshot_diff(a, b).collect()
    }
    # NULL ≡ '' by design: id 1 unchanged; id 2 text→NULL is modified
    assert got[1] == ("unchanged", None)
    assert got[2] == ("modified", None)
    # NULL-text content matches across the removed×added sets: the
    # rank-paired move picks the smaller removed id (3, not 5)
    assert got[3] == ("moved_away", 4)
    assert got[4] == ("moved_in", 3)
    assert got[5][0] == "removed"


def test_waterfill_allocation_uncapped_is_proportional(spark):
    from pystreams_spark.operators.selection import waterfill_allocation

    cdf = spark.createDataFrame(
        [("x", 10_000, 3), ("y", 10_000, 1)],
        "lang string, available_tokens long, weight long",
    )
    bdf = spark.createDataFrame([(4000,)], "budget long")
    got = {
        r.lang: (r.allocated_tokens, r.capped)
        for r in waterfill_allocation(cdf, bdf).collect()
    }
    assert got == {"x": (3000, False), "y": (1000, False)}


def test_margin_bitext_mine_beats_raw_cosine(spark):
    """The margin criterion's reason to exist: a dense hub pair with a
    HIGHER raw cosine than an isolated true pair must lose to it on
    margin. x1 sits in a dense Y-region (y1, y2, y3 all ~equally
    close, so its neighborhood average is high and its margin ~1);
    x0/y0 are an isolated true pair (modest cosine, low-density
    neighborhoods, margin >> 1)."""
    import numpy as np

    from pystreams_spark.operators.similarity import margin_bitext_mine

    rng = np.random.RandomState(3)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    base = rng.randn(8)
    hub = rng.randn(8)
    far = [unit(rng.randn(8)) for _ in range(4)]
    xs = [
        (0, unit(base)),                      # isolated true pair w/ y0
        (2, unit(hub + 0.02 * rng.randn(8))), # dense hub members: their
        (4, unit(hub + 0.02 * rng.randn(8))), # and the hub ys' top-k
        (6, unit(hub + 0.02 * rng.randn(8))), # neighborhoods saturate
    ]
    ys = [
        (1, unit(base + 0.35 * rng.randn(8))),  # true partner (modest cos)
        (3, unit(hub + 0.02 * rng.randn(8))),   # hub: near-identical trio
        (5, unit(hub + 0.02 * rng.randn(8))),
        (7, unit(hub + 0.02 * rng.randn(8))),
        (9, far[0]), (11, far[1]), (13, far[2]), (15, far[3]),
    ]
    x = spark.createDataFrame(xs, "x_id long, embedding array<double>")
    y = spark.createDataFrame(ys, "y_id long, embedding array<double>")
    mined = {
        r.x_id: (r.y_id, r.cos_micros, r.margin_ppm)
        for r in margin_bitext_mine(x, y, k=3).collect()
    }
    # the isolated true pair is mined...
    assert 0 in mined and mined[0][0] == 1
    # ...even though the hub pair's RAW cosine is higher
    assert mined[0][1] < 980_000  # true pair is a modest cosine
    # the hub x is NOT mined: its margin ~1 (its top-3 are all ~equal)
    assert 2 not in mined
    # partitioning independence
    mined2 = {
        r.x_id: (r.y_id, r.cos_micros, r.margin_ppm)
        for r in margin_bitext_mine(
            x.repartition(5), y.repartition(3), k=3
        ).collect()
    }
    assert mined2 == mined


def test_margin_bitext_blocked_equals_exact_on_clustered_data(spark):
    """The blocked miner's validity domain, pinned: on WELL-SEPARATED
    clusters (each cluster lands in one Lloyd cell; cross-cluster
    cosines are low) within-cell neighborhoods equal global ones, so
    blocked ≡ exact — and the r11 in-plan recall gate (default 0.9)
    passes without intervention."""
    import numpy as np

    from pystreams_spark.operators.similarity import (
        margin_bitext_mine,
        margin_bitext_mine_blocked,
    )

    rng = np.random.RandomState(9)
    # 4 tight, near-orthogonal clusters in 16-d; 8 members each
    centers = np.linalg.qr(rng.randn(16, 16))[0][:4] * 4.0
    rows = []
    uid = 0
    for c in centers:
        for _ in range(8):
            v = c + 0.05 * rng.randn(16)
            rows.append((uid, (v / np.linalg.norm(v)).tolist()))
            uid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from pyspark.sql import functions as F

    x = df.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), "embedding"
    )
    y = df.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), "embedding"
    )
    exact = {
        (r.x_id, r.y_id, r.cos_micros, r.margin_ppm)
        for r in margin_bitext_mine(
            x, y, k=3, margin_ppm_threshold=1_000_000
        ).collect()
    }
    blocked = {
        (r.x_id, r.y_id, r.cos_micros, r.margin_ppm)
        for r in margin_bitext_mine_blocked(
            x, y, k=3, margin_ppm_threshold=1_000_000, n_cells=4, iters=4
        ).collect()
    }
    assert exact and blocked == exact


def test_margin_bitext_blocked_gate_fires_on_unclusterable_data(spark):
    """The r11 quality contract, exercised on the failure domain the
    r10 measurement documented: near-random embeddings do not cluster,
    so blocked candidates miss exact top-1 neighbors — the in-plan
    seeded-sample recall gate must RAISE (naming the measured ppm)
    instead of silently returning a fraction of true pairs; opting
    out (min_sample_top1_recall=None) must return without raising;
    and multi-probe must strictly widen candidate coverage over
    single-probe."""
    import numpy as np
    import pytest as _pytest

    from pystreams_spark.operators.similarity import (
        margin_bitext_mine_blocked,
    )

    rng = np.random.RandomState(17)
    rows = [
        (uid, (v / np.linalg.norm(v)).tolist())
        for uid, v in enumerate(rng.randn(120, 16))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), "embedding"
    )
    y = df.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), "embedding"
    )
    with _pytest.raises(Exception, match="candidate recall"):
        margin_bitext_mine_blocked(
            x, y, k=3, n_cells=8, iters=2, n_probe=1,
            min_sample_top1_recall=0.9,
        ).collect()
    # opt-out: same inputs return (possibly wrong-by-documentation)
    # rows without raising
    ungated = margin_bitext_mine_blocked(
        x, y, k=3, n_cells=8, iters=2, n_probe=1,
        min_sample_top1_recall=None,
    ).count()
    assert ungated >= 0
    # multi-probe coverage is monotone in n_probe; at n_probe=n_cells
    # every pair is a candidate, so the gate passes by construction
    full = margin_bitext_mine_blocked(
        x, y, k=3, n_cells=8, iters=2, n_probe=8,
        min_sample_top1_recall=0.99,
    )
    assert full.count() > 0


def test_margin_bitext_blocked_gate_fires_on_zero_candidates(spark):
    """ADVICE r11 (medium): when X's home/probe cells are fully
    disjoint from Y's — 0% recall, the unclusterable worst case — the
    blocked path produces ZERO candidate rows, so a gate implemented as
    a filter over candidates never evaluates and the miner silently
    returns empty. The union-branch gate must RAISE here. Construction:
    X hugs one corner, Y the opposite one; Lloyd on X ∪ Y splits the
    corners into different cells, and n_probe=1 keeps each side home."""
    import numpy as np
    import pytest as _pytest

    from pystreams_spark.operators.similarity import (
        margin_bitext_mine_blocked,
    )

    rng = np.random.RandomState(23)
    a, b = np.zeros(8), np.zeros(8)
    a[0], b[1] = 4.0, 4.0
    xs, ys = [], []
    for i in range(24):
        v = a + 0.05 * rng.randn(8)
        xs.append((i, (v / np.linalg.norm(v)).tolist()))
        w = b + 0.05 * rng.randn(8)
        ys.append((i, (w / np.linalg.norm(w)).tolist()))
    x = spark.createDataFrame(xs, "x_id long, embedding array<double>")
    y = spark.createDataFrame(ys, "y_id long, embedding array<double>")
    # the gate raises when the mined pairs are computed
    with _pytest.raises(Exception, match="candidate recall"):
        margin_bitext_mine_blocked(
            x, y, k=3, n_cells=4, iters=3, n_probe=1,
            min_sample_top1_recall=0.9,
        ).collect()
    # the same zero-candidate input with the gate opted out returns
    # empty without raising (documented escape hatch)
    assert (
        margin_bitext_mine_blocked(
            x, y, k=3, n_cells=4, iters=3, n_probe=1,
            min_sample_top1_recall=None,
        ).count()
        == 0
    )


def test_margin_bitext_blocked_auto_cells(spark):
    """n_cells='auto' (r12): cells sized ∝ N — the regime the SCALE.md
    r12 measurement showed keeps candidate bytes linear. On
    well-separated clusters the auto sizing must mine exactly what the
    exact path mines, with the recall gate passing; junk values must be
    rejected loudly."""
    import numpy as np
    import pytest as _pytest

    from pystreams_spark.operators.similarity import (
        margin_bitext_mine,
        margin_bitext_mine_blocked,
    )

    rng = np.random.RandomState(41)
    centers = np.linalg.qr(rng.randn(16, 16))[0][:4] * 4.0
    rows = []
    uid = 0
    for c in centers:
        for _ in range(16):
            v = c + 0.05 * rng.randn(16)
            rows.append((uid, (v / np.linalg.norm(v)).tolist()))
            uid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), "embedding"
    )
    y = df.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), "embedding"
    )
    exact = {
        (r.x_id, r.y_id, r.cos_micros)
        for r in margin_bitext_mine(
            x, y, k=3, margin_ppm_threshold=1_000_000
        ).collect()
    }
    # 64 vectors // 32 → auto resolves to the 16-cell floor. 16 cells
    # over 4 clusters SPLITS clusters, which clips the top-k
    # neighborhood sums to candidate pairs (margins shift a few ppm —
    # inherent to blocking at any n_cells > n_clusters), so the pin is
    # pair identity + cosine, not margin equality.
    auto = {
        (r.x_id, r.y_id, r.cos_micros)
        for r in margin_bitext_mine_blocked(
            x, y, k=3, margin_ppm_threshold=1_000_000,
            n_cells="auto", iters=4, n_probe=4,
        ).collect()
    }
    assert exact and auto == exact
    with _pytest.raises(ValueError, match="n_cells"):
        margin_bitext_mine_blocked(x, y, n_cells="bogus")


def test_margin_bitext_blocked_gate_tolerates_cosine_ties(spark):
    """ADVICE r11 (low): duplicated/quantized embeddings produce many
    y's tied at a sampled x's exact max cosine. The gate must count a
    hit when ANY candidate attains the max cos_micros, not only the
    smallest-id tie-winner — otherwise perfect candidate sets fire the
    gate spuriously. Construction: every Y vector is one of 2 exact
    prototypes (massive ties); clusters are tight so blocking is
    lossless and the result must also equal the exact path's."""
    import numpy as np

    from pystreams_spark.operators.similarity import (
        margin_bitext_mine,
        margin_bitext_mine_blocked,
    )

    rng = np.random.RandomState(31)
    protos = np.linalg.qr(rng.randn(8, 8))[0][:2] * 4.0
    xs, ys = [], []
    uid = 0
    for p in protos:
        for _ in range(6):
            v = p + 0.03 * rng.randn(8)
            xs.append((uid, (v / np.linalg.norm(v)).tolist()))
            # Y side: EXACT prototype copies → all 6 tie at every x's max
            ys.append((uid + 1000, (p / np.linalg.norm(p)).tolist()))
            uid += 1
    x = spark.createDataFrame(xs, "x_id long, embedding array<double>")
    y = spark.createDataFrame(ys, "y_id long, embedding array<double>")
    blocked = margin_bitext_mine_blocked(
        x, y, k=3, n_cells=2, iters=3, n_probe=1,
        min_sample_top1_recall=0.9, margin_ppm_threshold=0,
    ).collect()
    exact = margin_bitext_mine(
        x, y, k=3, margin_ppm_threshold=0
    ).collect()
    assert {tuple(r) for r in blocked} == {tuple(r) for r in exact}


def test_waterfill_allocation_randomized_sweep(spark):
    """Seeded random instances vs the brute-force reference: caps,
    weights, and budgets drawn across regimes (tight budget, overdraw,
    exact-total, single source) — every allocation and capped flag
    must match the prefix-scan math exactly."""
    import random

    from pystreams_spark.operators.selection import waterfill_allocation

    rng = random.Random(42)
    for trial in range(12):
        n = rng.randrange(1, 8)
        caps = {f"s{i}": rng.randrange(1, 10_000) for i in range(n)}
        weights = {f"s{i}": rng.randrange(1, 60) for i in range(n)}
        total = sum(caps.values())
        budget = rng.choice(
            [rng.randrange(1, total + 1), total, total + rng.randrange(1, 500)]
        )
        cdf = spark.createDataFrame(
            [(g, caps[g], weights[g]) for g in sorted(caps)],
            "lang string, available_tokens long, weight long",
        )
        bdf = spark.createDataFrame([(budget,)], "budget long")
        got = {
            r.lang: (r.allocated_tokens, r.capped)
            for r in waterfill_allocation(cdf, bdf).collect()
        }
        want = _waterfill_ref(caps, weights, budget)
        assert got == want, (trial, budget, caps, weights, got, want)


def test_bpe_single_task_path_equals_distributed_loop(spark, sf_dir):
    """r12 optimization: the adaptive single-task merge loop (vocabulary
    fits one task -> whole training in 2 jobs) must be bit-identical to
    the distributed per-merge loop — same merges, same weights, same
    final segmentation."""
    from pystreams_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    fast_m, fast_w = bpe_train(docs, num_merges=8)
    slow_m, slow_w = bpe_train(docs, num_merges=8, single_task_vocab=0)
    assert fast_m == slow_m
    fast = {r.word: (r.freq, r.syms) for r in fast_w.collect()}
    slow = {r.word: (r.freq, r.syms) for r in slow_w.collect()}
    assert fast == slow


def test_kmeans_sliced_fit_equals_per_slice_fits(spark, sf_dir):
    """r12 optimization: the fused multi-subspace Lloyd fit (one seed
    collect + iters passes for ALL subspaces) must produce codebooks
    bit-identical to fitting each F.slice projection separately."""
    import numpy as np

    from pystreams_spark.io import ensure_parallelism
    from pystreams_spark.operators.similarity import kmeans_centers_deterministic

    e = load_table(spark, sf_dir, "embeddings")
    base = ensure_parallelism(e)
    d = len(e.select("embedding").head()[0])
    m = 4
    sd = d // m
    fused = kmeans_centers_deterministic(
        base, id_col="vec_id", vec_col="embedding", n_cells=8, iters=2,
        slices=[(j * sd, sd) for j in range(m)],
    )
    for j in range(m):
        sub = base.select(
            F.col("vec_id"), F.slice("embedding", j * sd + 1, sd).alias("_s")
        )
        solo = kmeans_centers_deterministic(
            sub, id_col="vec_id", vec_col="_s", n_cells=8, iters=2
        )
        assert np.array_equal(fused[j], solo), f"subspace {j} differs"


def test_ivf_scored_superset_rank_filter_equals_per_probe(spark, sf_dir):
    """r12 optimization: one scored candidate pass at the LARGEST probe
    setting, filtered on probe rank < p, must reproduce
    knn_ivf_deterministic's per-setting top-k bit-identically for
    every smaller p (candidate
    sets nest because each corpus vector lives in exactly one cell) —
    the equivalence ann_ivf_recall_curve's shared plan rests on."""
    from pystreams_spark.operators.similarity import (
        _ivf_scored_candidates,
        knn_ivf_deterministic,
    )
    from pystreams_spark.operators.topk import top_k_per_group

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.filter(F.col("vec_id") >= 5)
    scored = _ivf_scored_candidates(
        q, c, 16, 8, 0, "query_id", "vec_id", "embedding"
    ).localCheckpoint(eager=True)
    for p in (1, 2, 4, 8):
        shared = sorted(
            tuple(r)
            for r in top_k_per_group(
                scored.filter(F.col("_probe_rank") < p).drop("_probe_rank"),
                ["query_id"],
                [F.desc("score"), F.asc("vec_id")],
                k=10,
            ).collect()
        )
        solo = sorted(
            tuple(r)
            for r in knn_ivf_deterministic(
                q, c, k=10, n_cells=16, n_probe=p, iters=0
            ).collect()
        )
        assert shared == solo, f"n_probe={p} differs"
