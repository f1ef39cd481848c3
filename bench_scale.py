"""Empirical scale-curve evidence for the heavy operator families
(VERDICT r6 #6): blow the sf0.1 documents/embeddings fixtures up by a
factor K with DETERMINISTIC perturbation, run each family at 1x and
Kx, and report wall-clock, shuffle-write volume, and the observed
scaling exponent log(t_K / t_1) / log(K) — turning SCALE.md's design
arguments into measured curves.

Perturbation design (matters for honesty):
- documents: replica k rewrites every MUTATE_STRIDE-th token
  (position-dependent, suffixed with the replica tag). Stride 3
  touches EVERY 3-gram window, so cross-replica shingles are all
  distinct — the "10x more unique content" regime where per-shingle
  df stays constant. Stride 5 leaves ~40% of 3-grams shared across
  replicas — the "content repeats at scale" regime where df grows
  with the corpus and the prefix join's Sigma df_prefix^2 bill shows.
  (Naive exact replication would grow every dup cluster x K and the
  pair count x K^2 BY CONSTRUCTION, measuring the fixture, not the
  operator.)
- embeddings: replica k shifts each vector by a small deterministic
  per-replica offset — cluster geometry preserved, rows x K.

Usage:
    python bench_scale.py            # factors 1,3,10, runs=2
    SCALE_FACTORS=1,10 SCALE_RUNS=1 python bench_scale.py

Prints one JSON line per (family, factor) and a final markdown table
(for SCALE.md) on stdout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across every stage this app has run
    (AppStatusStore — the UI's numbers, programmatically)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.Collections.emptyList()
    darr = spark.sparkContext._gateway.new_array(jvm.double, 0)
    total = 0
    it = store.stageList(empty, False, False, darr, empty).iterator()
    while it.hasNext():
        total += it.next().shuffleWriteBytes()
    return int(total)


def _build_scaled(spark, sf_dir: str, out_dir: str, factor: int) -> None:
    """Write documents.parquet / embeddings.parquet at `factor` x the
    fixture size into out_dir (deterministic, layout-independent)."""
    from pystreams_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    doc_parts = []
    emb_parts = []
    ev_parts = []
    li_parts = []
    for k in range(factor):
        if k == 0:
            doc_parts.append(docs)
            emb_parts.append(emb)
            ev_parts.append(ev)
            li_parts.append(li)
            continue
        # lineitem (r12-ext, for the exact-aggregate contract family):
        # replica k shifts the order key — rows ×K with the measure
        # columns repeated exactly, so per-group sums/averages scale
        # linearly by construction and any super-linear wall is the
        # operator's, not the fixture's
        li_parts.append(
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(k * 100_000_000)
            )
        )
        # events: replica k shifts ids AND users — row count ×K with
        # key cardinality ×K (the honest regime for sketch/agg curves:
        # per-key frequency distribution preserved)
        ev_parts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(k * 10_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(k * 10_000_000))
        )
        stride = int(os.environ.get("SCALE_MUTATE_STRIDE", "3"))
        tag = F.lit(f"r{k}")
        toks = F.split(F.trim(F.col("text")), r"\s+")
        mutated = F.concat_ws(
            " ",
            F.transform(
                toks,
                lambda x, i: F.when(
                    (i + F.lit(k)) % stride == 0, F.concat(x, tag)
                ).otherwise(x),
            ),
        )
        doc_parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * 10_000_000))
            .withColumn("text", mutated)
        )
        emb_parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * 10_000_000))
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x: (x + F.lit(0.003 * k)).cast("float"),
                ),
            )
        )
    from functools import reduce

    reduce(lambda a, b: a.unionByName(b), doc_parts).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/documents.parquet")
    reduce(lambda a, b: a.unionByName(b), emb_parts).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/embeddings.parquet")
    reduce(lambda a, b: a.unionByName(b), ev_parts).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/events.parquet")
    reduce(lambda a, b: a.unionByName(b), li_parts).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/lineitem.parquet")


def _families(spark, data_dir: str, ckpt_dir: str):
    """{family: thunk} — each thunk builds AND fully executes the
    operator (noop-style terminal), mirroring the registered queries'
    parameters."""
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.bpe import bpe_train
    from pystreams_spark.operators.dedup import (
        neardup_dedup,
        ngram_jaccard_pairs_prefix,
    )
    from pystreams_spark.operators.similarity import kmeans_cells_deterministic

    def docs():
        return load_table(spark, data_dir, "documents")

    def emb():
        return load_table(spark, data_dir, "embeddings")

    from pystreams_spark.operators.similarity import (
        knn_ivf_deterministic,
        knn_pq_deterministic,
    )
    from pystreams_spark.queries import QUERIES

    def ann_frames():
        # 5 fixed queries (replica 0), corpus grows ×K — isolates the
        # corpus-side fit/scan scaling, which is what dominates here
        e = emb()
        q = e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = e.filter(F.col("vec_id") >= 5)
        return q, c

    def ivf_det():
        q, c = ann_frames()
        return knn_ivf_deterministic(q, c, k=10, n_cells=8, n_probe=2).count()

    def pq_det():
        q, c = ann_frames()
        return knn_pq_deterministic(q, c, k=10, m=4, n_codes=8, iters=2).count()

    return {
        "neardup_dedup_pipeline": lambda: neardup_dedup(
            docs(), checkpoint_dir=ckpt_dir
        ).count(),
        "prefix_jaccard_pairs": lambda: ngram_jaccard_pairs_prefix(
            docs(), threshold=0.35, n=3
        ).count(),
        "kmeans_lloyd": lambda: kmeans_cells_deterministic(
            emb(), n_cells=8, iters=2
        ).count(),
        "bpe_train": lambda: bpe_train(
            docs(), num_merges=15, checkpoint_dir=ckpt_dir
        )[1].count(),
        # r8 (VERDICT r7 #6): the deterministic ANN trio's heavy pair —
        # full-corpus fit scans dominate — and the prefix-pair + CC +
        # weighted-agg report, at the registered queries' parameters
        "knn_ivf_deterministic": ivf_det,
        "knn_pq_deterministic": pq_det,
        "effective_dataset_size": lambda: QUERIES["effective_dataset_size"](
            spark, data_dir
        ).count(),
        # r12-ext: the exact-aggregate contract flagship — per-value
        # ROUND(x·10^d) quantization into DECIMAL(38,0) partial sums;
        # wall must stay linear-flat (the contract is pure per-row
        # expression work; the shuffle stays partitions × 6 groups)
        "pricing_summary_contract": lambda: QUERIES["pricing_summary"](
            spark, data_dir
        ).count(),
        # r8: first-seen novelty — should be exactly linear (no pairwise
        # term by construction; the gram-keyed window min and the
        # per-doc agg are the only shuffles, over 8-byte md5 gram values)
        "ngram_novelty": lambda: QUERIES["ngram_novelty_report"](
            spark, data_dir
        ).count(),
        # r9 (VERDICT r8 #5): the r8 report family. The leakage audit
        # and its component-split cure ride the df-order prefix join +
        # CC closure (expected ≈ effective_dataset_size's 0.97); the
        # cluster-balanced sample is a zero-shuffle Lloyd fit plus one
        # cell-partitioned window (expect near-zero shuffle growth)
        "split_leakage": lambda: QUERIES["split_leakage_report"](
            spark, data_dir
        ).count(),
        "component_split": lambda: QUERIES["component_split_report"](
            spark, data_dir
        ).count(),
        "cluster_balanced_sample": lambda: QUERIES[
            "cluster_balanced_sample_report"
        ](spark, data_dir).count(),
        # r9: the deterministic-anchor trio — banding/voting/sketch
        # shuffles should all be ~linear (postings/votes) or constant
        # (the CMS matrix is fixed-size by construction)
        "minhash_deterministic": lambda: QUERIES[
            "minhash_deterministic_candidates"
        ](spark, data_dir).count(),
        "simhash_deterministic": lambda: QUERIES[
            "simhash_deterministic_candidates"
        ](spark, data_dir).count(),
        "count_min_deterministic": lambda: QUERIES[
            "count_min_deterministic"
        ](spark, data_dir).count(),
        # r9 composites: hashed-novelty + distributed prefix sum, and
        # the Lloyd + cell-pair + split-hash semantic audit
        "novelty_budget_selection": lambda: QUERIES[
            "novelty_budget_selection"
        ](spark, data_dir).count(),
        "semantic_split_leakage": lambda: QUERIES[
            "semantic_split_leakage_report"
        ](spark, data_dir).count(),
        "kmv_rollup": lambda: QUERIES[
            "kmv_rollup_deterministic"
        ](spark, data_dir).count(),
        # r10: perceptual-hash image dedup — one Arrow decode+hash pass
        # (linear) + the banded-Hamming join (postings: 4 × 12-byte
        # triples per image); the components pipeline adds dup-graph-
        # sized CC on top. Expect ~linear wall, ~linear shuffle.
        "image_neardup": lambda: QUERIES[
            "image_neardup_candidates"
        ](spark, data_dir).count(),
        "image_components": lambda: QUERIES[
            "image_neardup_components"
        ](spark, data_dir).count(),
        # r10: the audio and video siblings — same shape as image
        # (one Arrow decode+hash pass + banded join); video shuffles
        # 4 slot-hashes per clip instead of 1, still ~linear
        "audio_neardup": lambda: QUERIES[
            "audio_neardup_candidates"
        ](spark, data_dir).count(),
        "video_neardup": lambda: QUERIES[
            "video_neardup_candidates"
        ](spark, data_dir).count(),
        # r10: union of the two banded pair kernels + dup-sized CC —
        # expect ~the sum of the minhash and image curves
        "crossmodal_components": lambda: QUERIES[
            "crossmodal_neardup_components"
        ](spark, data_dir).count(),
        # r10: the EXACT |X|x|Y| margin-mining pass — quadratic BY
        # DESIGN (measure at 1x/3x, not 10x); the documented scale
        # path blocks the cross pass by kmeans cells first
        "bitext_margin": lambda: QUERIES[
            "bitext_margin_mining"
        ](spark, data_dir).count(),
        # r11: the SCALE path — multi-probe blocked mining with the
        # in-plan recall gate executing (clusterable construction).
        # n_cells is FIXED (4) in the registered query, so the curve
        # shows the ~2·n_probe/n_cells constant vs the exact pass;
        # production scales n_cells with the corpus
        "bitext_blocked": lambda: QUERIES[
            "bitext_margin_mining_blocked"
        ](spark, data_dir).count(),
        # r12 (VERDICT r11 #3): the PRODUCTION constant, measured —
        # same clusterable synthetic (64 hash prototypes in 16-d,
        # cardinality tracks the scaled embeddings table), mined at
        # IVF-style params (n_cells=64, n_probe=4) vs few-cell params
        # (n_cells=4, n_probe=2) — candidate bytes should drop by
        # roughly (2p/n_cells)_c4 / (2p/n_cells)_prod = 8x, with the
        # recall gate EXECUTING and passing in both
        "bitext_blocked_prod": lambda: _bitext_blocked_prototyped(
            spark, data_dir, n_cells=64, n_probe=4
        ),
        "bitext_blocked_prod_c4": lambda: _bitext_blocked_prototyped(
            spark, data_dir, n_cells=4, n_probe=2
        ),
        # r12: the production ASYMPTOTE — n_cells (and the synthetic's
        # cluster count) scale ∝ N so per-cell occupancy stays constant;
        # candidate bytes should grow ~linearly where the fixed-cell
        # curves above stay quadratic-with-a-smaller-constant
        "bitext_blocked_prod_scaledcells": lambda: (
            _bitext_blocked_prototyped(
                spark, data_dir, n_cells=None, n_probe=4
            )
        ),
        # r10: crawl-over-crawl diff — ONE full-outer 16-byte id join
        # (text never shuffles) + removed/added-sized rank pairing;
        # expect ~linear bytes, near-flat wall
        "snapshot_diff": lambda: QUERIES[
            "corpus_snapshot_diff"
        ](spark, data_dir).count(),
        # r11: the moved-AND-edited composition — the exact diff plus
        # MinHash over the removed+added residue only; expect the diff's
        # flat wall + a residue-sized (~2/7 of corpus) MinHash bill
        "snapshot_moves": lambda: QUERIES[
            "snapshot_neardup_moves"
        ](spark, data_dir).count(),
        # r11: waterfill → materialized manifest — ONE global
        # ordered_cumsum (range shuffle + narrow offset kernel) is the
        # only corpus-sized work; expect ~linear bytes, near-flat wall
        "training_manifest": lambda: QUERIES[
            "training_mix_manifest"
        ](spark, data_dir).count(),
    }


def _bitext_blocked_prototyped(
    spark, data_dir: str, n_cells: int | None, n_probe: int
) -> int:
    """Blocked margin mining over a CLUSTERABLE synthetic whose
    cardinality tracks the scaled embeddings table: deterministic
    hash prototypes in 16-d (coordinates ±4), each vector = its
    (id div 2) % n_proto prototype + ±0.05 hash noise, X = even ids /
    Y = odd ids — consecutive (2m, 2m+1) pairs share a cluster, so
    every x has same-cluster y neighbors on the other side.
    Lloyd recovers the prototype structure, so the in-plan recall
    gate (0.9 floor) EXECUTES AND PASSES at every parameter set and
    the curves isolate pure blocking economics — the measured form of
    the n_cells ≫ n_probe production argument (VERDICT r11 #3).

    ``n_cells=None`` = the production ASYMPTOTE regime: cluster count
    AND cell count scale ∝ N (N // 32 → ~16 members per side per
    cluster at any factor), the fixed-cells regimes keep n_proto=64."""
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.similarity import (
        margin_bitext_mine_blocked,
    )

    raw = load_table(spark, data_dir, "embeddings")
    if n_cells is None:
        n_cells = n_proto = max(16, raw.count() // 32)
    else:
        n_proto = 64
    vec = F.expr(
        "transform(sequence(0, 15), i -> "
        f"(cast(pmod(xxhash64(concat('p', cast(pmod(vec_id div 2, {n_proto})"
        " as string),"
        " ':', cast(i as string))), 2001) as double) - 1000.0) / 250.0"
        " + (cast(pmod(xxhash64(concat('e', cast(vec_id as string),"
        " ':', cast(i as string))), 2001) as double) - 1000.0) / 20000.0)"
    )
    base = raw.select("vec_id", vec.alias("embedding"))
    x = base.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), "embedding"
    )
    y = base.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), "embedding"
    )
    # threshold 1.0: cluster members are near-identical, so margins sit
    # ~1 — the mutual-best pairs clear exactly 1.0 and the full pipeline
    # (margins, mutual-best, threshold) produces real yield to count
    return margin_bitext_mine_blocked(
        x, y, k=4, n_cells=n_cells, iters=2, n_probe=n_probe,
        min_sample_top1_recall=0.9, margin_ppm_threshold=1_000_000,
    ).count()


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pystreams_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factors = [
        int(x)
        for x in os.environ.get("SCALE_FACTORS", "1,3,10").split(",")
    ]
    runs = int(os.environ.get("SCALE_RUNS", "2"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus=cpus)

    scratch = tempfile.mkdtemp(prefix="pystreams_scale_")
    results: dict[str, dict[int, dict]] = {}
    try:
        for factor in factors:
            data_dir = f"{scratch}/x{factor}"
            t0 = time.monotonic()
            _build_scaled(spark, sf_dir, data_dir, factor)
            print(
                f"# built x{factor} fixtures in "
                f"{time.monotonic() - t0:.1f}s",
                file=sys.stderr,
            )
            fams = _families(spark, data_dir, f"{scratch}/ckpt_x{factor}")
            only = os.environ.get("SCALE_FAMILIES")
            if only:
                wanted = [n.strip() for n in only.split(",") if n.strip()]
                unknown = [n for n in wanted if n not in fams]
                if unknown:
                    raise SystemExit(f"SCALE_FAMILIES: unknown {unknown}")
                fams = {n: fams[n] for n in wanted}
            for name, thunk in fams.items():
                best, sh = None, None
                for r in range(runs):
                    import gc

                    gc.collect()
                    spark.sparkContext._jvm.System.gc()
                    sh0 = _shuffle_write_bytes(spark)
                    t0 = time.monotonic()
                    n_out = thunk()
                    dt = time.monotonic() - t0
                    sh1 = _shuffle_write_bytes(spark)
                    if best is None or dt < best:
                        best = dt
                    if sh is None:
                        sh = sh1 - sh0  # first run; replay-invariant
                    print(
                        f"# {name} x{factor} run{r}: {dt:.2f}s "
                        f"rows={n_out}",
                        file=sys.stderr,
                    )
                results.setdefault(name, {})[factor] = {
                    "sec": round(best, 3),
                    "shuffle_mb": round(sh / 1e6, 2),
                    "rows_out": int(n_out),
                }
                print(
                    json.dumps(
                        {
                            "family": name,
                            "factor": factor,
                            **results[name][factor],
                        }
                    )
                )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # markdown table with observed exponents (vs the 1x row)
    print("\n| family | metric | " + " | ".join(f"{k}x" for k in factors)
          + " | observed exponent |")
    print("| --- | --- | " + " | ".join("---" for _ in factors) + " | --- |")
    for name, by_f in results.items():
        base = by_f[factors[0]]
        kmax = factors[-1]
        for metric, unit in (("sec", "s"), ("shuffle_mb", "MB")):
            vals = " | ".join(f"{by_f[k][metric]}" for k in factors)
            if base[metric] > 0 and kmax > factors[0]:
                expo = math.log(
                    max(by_f[kmax][metric], 1e-9) / base[metric]
                ) / math.log(kmax / factors[0])
                e = f"{expo:.2f}"
            else:
                e = "—"
            print(f"| {name} | {metric} ({unit}) | {vals} | {e} |")


if __name__ == "__main__":
    main()
