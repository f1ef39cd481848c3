"""Scale-posture assertions: the physical plans must show pushdown,
pruning, broadcast, partial aggregation, and top-k short-circuits —
the properties that decide whether a query survives 100 TB."""

import pytest
from pyspark.sql import functions as F

from pystreams_spark.io import load_table
from pystreams_spark.plans import (
    has_broadcast_join,
    has_partial_aggregate,
    has_take_ordered,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
    wholestage_codegen_count,
)
from pystreams_spark.queries import QUERIES


def test_pricing_summary_scan_hygiene(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    # the shipdate filter must reach the parquet scan
    assert any("l_shipdate" in f for f in pushed_filters(df)), pushed_filters(df)
    # only the 7 needed columns are read, not all 11
    (cols,) = read_schema_columns(df)
    assert set(cols) == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }
    assert has_partial_aggregate(df)
    assert wholestage_codegen_count(df) >= 1


def test_top_customers_broadcasts_dims_and_takes_ordered(spark, sf_dir):
    df = QUERIES["top_customers"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert has_take_ordered(df)


def test_filter_pushdown_through_facade(spark, sf_dir):
    from pystreams_spark import Stream

    li = load_table(spark, sf_dir, "lineitem")
    s = Stream(li).filter("l_quantity > 45").map(F.col("l_quantity").alias("qty"))
    assert any("l_quantity" in f for f in pushed_filters(s.df))
    (cols,) = read_schema_columns(s.df)
    assert cols == ["l_quantity"]


def test_broadcast_join_no_fact_shuffle(spark, sf_dir):
    df = QUERIES["brand_revenue_broadcast"](spark, sf_dir)
    assert has_broadcast_join(df)
    # broadcast join + partial agg: only the post-agg exchange (+AQE
    # final sort exchange) remain; the fact table itself never shuffles
    assert shuffle_count(df) <= 3


def test_exact_dedup_hashed_shuffles_once(spark, sf_dir):
    from pystreams_spark.operators.dedup import exact_dedup_hashed

    docs = load_table(spark, sf_dir, "documents")
    df = exact_dedup_hashed(docs)
    # r4 two-phase form: singles ride a broadcast anti (no data
    # exchange), only the duplicate-candidate slice re-shuffles its
    # text. Plan budget: 1 candidate Exchange + 2 BroadcastExchange
    # (the dup-key frame on both join sides); the bytes-level claim is
    # the runtime test below.
    assert shuffle_count(df) <= 3


def test_knn_exact_corpus_not_shuffled(spark, sf_dir):
    from pystreams_spark.operators.similarity import knn_exact

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    df = knn_exact(q, e.filter(F.col("vec_id") >= 5), k=10)
    # corpus side: scan → (input-conditioning round-robin repartition,
    # a no-op on already-wide inputs) → broadcast-join with queries →
    # window top-k partitioned by query_id. No corpus-keyed shuffle.
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 3, shuffle_count(df)


def test_global_topk_never_full_sorts(spark, sf_dir):
    from pystreams_spark.operators.topk import top_k

    o = load_table(spark, sf_dir, "orders")
    df = top_k(o, [F.desc("o_totalprice")], 5)
    assert has_take_ordered(df)


def _group_jobs(spark, group, build):
    """(``build()``'s result, the Spark jobs it started), counted by
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def all_builds(spark, sf_dir):
    """{query name: (executed plan string, construction jobs)} for every
    registered query, built once and shared by the all-query sweeps
    below. Construction jobs are the Spark jobs a query's build submits
    before its DataFrame is returned."""
    from pystreams_spark.plans import executed_plan

    builds = {}
    for name, fn in QUERIES.items():
        df, jobs = _group_jobs(
            spark, f"construct-{name}", lambda: fn(spark, sf_dir)
        )
        builds[name] = (executed_plan(df), jobs)
    return builds


@pytest.fixture(scope="module")
def all_plans(all_builds):
    """{query name: executed plan string} for every registered query."""
    return {name: plan for name, (plan, _) in all_builds.items()}


# Most Spark jobs the builds of all registered queries may start before
# their DataFrames exist: the total measured at sf0.001 at 4 and 8
# cores. Each site where adaptive execution already picks the join
# strategy joins its plain frame, with no size probe at construction.
_CONSTRUCTION_JOB_BUDGET = 680


def test_construction_jobs_within_budget(all_builds):
    """Query construction stays lazy: the construction jobs of all
    registered queries total at most the measured budget. A new eager
    pin or size probe anywhere raises the total and fails here."""
    total = sum(jobs for _, jobs in all_builds.values())
    worst = sorted(all_builds.items(), key=lambda kv: -kv[1][1])[:5]
    assert total <= _CONSTRUCTION_JOB_BUDGET, (
        f"{total} construction jobs over {len(all_builds)} queries "
        f"(budget {_CONSTRUCTION_JOB_BUDGET}); most: "
        + ", ".join(f"{n} {j}" for n, (_, j) in worst)
    )


def test_ngram_novelty_report_builds_without_a_job_of_its_own(spark, sf_dir):
    """Building ``ngram_novelty_report`` starts no Spark job beyond its
    ``load_table`` schema job: the scores are a lazy plan over the
    gram kernel, with no pin to run their shuffle stages."""
    _, load_jobs = _group_jobs(
        spark, "novelty-load", lambda: load_table(spark, sf_dir, "documents")
    )
    _, build_jobs = _group_jobs(
        spark, "novelty-build",
        lambda: QUERIES["ngram_novelty_report"](spark, sf_dir),
    )
    assert build_jobs <= load_jobs, (build_jobs, load_jobs)


def test_no_rowwise_python_udfs_anywhere(all_plans):
    """Sweep every registered query plan for two Python-boundary
    invariants:

    1. Row-at-a-time Python UDFs (BatchEvalPython) are banned — Python
       only ever enters via Arrow (ArrowEvalPython / mapInPandas /
       FlatMapGroupsInPandas).
    2. Python-eval stages are a BUDGETED resource (each stage is an
       Arrow round-trip + worker dispatch, 1-6 s overhead on this box;
       the r2 bench regression was one kernel silently evaluated 2-3x
       through a self-join lineage). Budget = one eval per distinct
       kernel the query deliberately uses; queries whose kernels are
       pre-materialized via localCheckpoint plan as ExistingRDD scans
       and show ZERO Python nodes. Exceeding the budget means a kernel
       output got re-derived instead of reused — checkpoint it.
    """
    import re

    python_nodes = re.compile(
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
        r"|FlatMapCoGroupsInPandas|BatchEvalPythonUDTF|MapInArrow"
    )
    # queries with >1 DISTINCT kernel by design (each still evaluated
    # exactly once): the ANN paths run a bucket/cell-assignment kernel
    # on the corpus and a separate exact-refine kernel on candidates
    budget = {
        # IVF (knn_ivf_deterministic at every setting): corpus
        # cell-assignment kernel + query probe kernel, each pass-once
        # (the deterministic Lloyd FIT executes eagerly at build time
        # and never enters this plan)
        "knn_ivf_approx": 2,
        "knn_ivf_kmeans": 2,
        "knn_ivf_deterministic": 2,
        # oracle-grade LSH (r7): bucket kernel + within-bucket pair
        # kernel, each pass-once
        "embedding_lsh_deterministic": 2,
        "knn_lsh_approx": 2,
        # decontamination shingles the (tiny) eval slice and the train
        # slice separately — two kernel stages over DISJOINT inputs, so
        # neither is a re-evaluation (see operators/decontaminate.py)
        "benchmark_decontamination": 2,
        # SemDeDup's KMeans path chains the cell-assignment kernel and
        # the per-cluster pairwise kernel — two distinct kernels, each
        # pass-once (the label-clustered variant plans just one)
        "semantic_dedup_kmeans": 2,
        # r9: the semantic leakage audit composes the SAME two
        # pass-once kernels as semantic_dedup_kmeans (cell assignment
        # + per-cluster pairwise) before its label join and 1-row agg
        "semantic_split_leakage_report": 2,
        # PQ encodes and probes in ONE fused encode+ADC kernel
        # (knn_pq_deterministic): measured 1
        "knn_pq_adc": 1,
        # two-stage serving: the ADC shortlist is pinned (a lazy
        # materialize), so the exact re-rank plans as Column algebra
        # over an existing RDD: measured 0
        "knn_pq_refined": 0,
        # the calibration curve's four n_probe settings filter ONE
        # scored IVF candidate superset, pinned eagerly before the
        # curve's plan: measured 0
        "ann_ivf_recall_curve": 0,
        # payload synthesis kernel + the real decode kernel — a
        # deliberate two-stage pipeline, each row passing each once
        "media_decode_report": 2,
        # r10: the frame_sample certification chain is THREE deliberate
        # kernels — AVI synth, decode+sample (BMP re-encode), and the
        # image dHash over the sampled frames — each pass-once
        "video_frame_index": 3,
    }

    for name, plan in all_plans.items():
        # BatchEvalPythonUDTF is the (separate) UDTF node; scalar
        # row-wise UDFs plan as plain BatchEvalPython
        assert not re.search(r"BatchEvalPython(?!UDTF)", plan), (
            f"{name} uses a row-wise Python UDF"
        )
        n_py = len(python_nodes.findall(plan))
        assert n_py <= budget.get(name, 1), (
            f"{name}: {n_py} Python-eval stages in one plan "
            f"(budget {budget.get(name, 1)}) — a kernel is being "
            "re-evaluated; materialize its output once (localCheckpoint)"
        )


def test_no_repeated_expensive_exprs_anywhere(all_plans):
    """Suite-wide W_REPEATED_EXPR sweep (VERDICT r6 #4): no registered
    query's plan may evaluate the same expensive sub-expression (regex
    split/extract/replace, JSON parse, levenshtein) more than twice —
    Catalyst's subexpression elimination does not reach across
    operators or inside interpreted HOF lambdas, so an inlined
    `split(text)` consumed N times is N full regex passes per row (and
    per ELEMENT when a transform() lambda closes over it — the 5d161bd
    O(tokens²) regression this lint was built from).

    Designed exceptions below: the same split()/regexp() projected in
    SIBLING branch lineages (funnel stages, fit+score passes, report
    branches that deliberately re-scan), each evaluated ONCE per row of
    its branch — a bounded constant factor priced into BASELINE.md's
    per-query rows, not the per-element trap. The pinned value is the
    DESIGNED occurrence count: any growth past it fails the sweep, so
    the next inlined-HOF regression can't ship anywhere."""
    from pystreams_spark.plans.lint import repeated_expensive_exprs

    allowed = {
        "doc_quality_by_lang": 5,  # quality metrics branch per rule
        "lang_id_heuristic": 8,  # one token pass per language profile
        "training_corpus_pipeline": 14,  # 4 composed stages, each re-deriving its filter columns from the survivor slice
        "filter_funnel_report": 10,  # per-stage survival branches
        "cross_doc_repeated_spans": 3,  # span table consumed by dup-detect + canon-keep + report
        "remove_repeated_spans_report": 7,  # base tokens feed spans, marks, and the rebuild lineage
        "dsir_selection_report": 5,  # 2 bucket-count fits + score scan
        "length_bucketing_report": 3,  # bucket + waste branches
        "incremental_token_stats": 3,  # per-batch folds + recompute oracle share one tokenizer expr
    }
    for name, plan in all_plans.items():
        rep = repeated_expensive_exprs(plan)
        cap = allowed.get(name, 2)
        worst = max(rep.values(), default=0)
        assert worst <= cap, (
            f"{name}: expensive sub-expression repeated {worst}x in one "
            f"plan (designed cap {cap}): {max(rep, key=rep.get)[:140]} — "
            "project it once behind an attribute and consume the attribute"
        )


def test_cartesian_products_only_where_designed(all_plans):
    """Cross joins are legitimate only where the operator is explicitly
    all-pairs (kNN/cross query) — anywhere else a cartesian in the plan
    is a missing join condition."""
    allowed = {
        "region_nation_cross",
        "knn_exact_cosine",
        "knn_lsh_approx",
        "knn_ivf_approx",
    }
    for name, plan in all_plans.items():
        if name in allowed:
            continue
        assert "CartesianProduct" not in plan, f"{name} has an undeclared cartesian"


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """Physical join strategy is controllable per-join: broadcast,
    shuffle_hash, and merge hints each produce their operator — the
    knob that matters when AQE's estimates are wrong at scale."""
    from pystreams_spark.io import load_table
    from pystreams_spark.plans.introspect import executed_plan

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    on = o.o_custkey == c.c_custkey
    assert "BroadcastHashJoin" in executed_plan(o.join(c.hint("broadcast"), on))
    assert "ShuffledHashJoin" in executed_plan(o.join(c.hint("shuffle_hash"), on))
    assert "SortMergeJoin" in executed_plan(o.join(c.hint("merge"), on))


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE is not just enabled but engaged: a small aggregate's shuffle
    read coalesces the static 32 partitions down to match actual data —
    the runtime re-plan that keeps reducer counts sane from sf0.001 to
    100 TB without retuning spark.sql.shuffle.partitions."""
    from pystreams_spark.io import load_table
    from pystreams_spark.plans.introspect import executed_plan

    n = load_table(spark, sf_dir, "nation")
    agg = n.groupBy("n_regionkey").count()
    agg.collect()  # materialize so AQE finalizes the plan
    plan = executed_plan(agg)
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:1500]


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime filtering: a selective filter on the build side of a
    shuffle join injects a bloom filter onto the probe (fact) side, so
    the 100 TB scan drops non-joining rows before the exchange. Local
    thresholds are lowered to trigger on fixture sizes; on a cluster the
    defaults (10 MB creation side / 10 GB probe side) gate it to joins
    where it pays."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        su = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 1000)
        j = li.join(su, li.l_suppkey == su.s_suppkey).agg(
            F.sum("l_extendedprice").alias("rev")
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        # and the result is unaffected by the filter (correctness)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        plain = li.join(su, li.l_suppkey == su.s_suppkey).agg(
            F.sum("l_extendedprice").alias("rev")
        )
        for k, v in confs.items():
            spark.conf.set(k, v)
        got, want = j.collect()[0].rev, plain.collect()[0].rev
        assert (got is None and want is None) or abs(got - want) < 1e-6
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_join_tree_physical_shape(spark, sf_dir):
    """The six-relation Q5 tree must keep the constant dims broadcast
    and the aggregation partial — no full-table nested loops anywhere."""
    df = QUERIES["local_supplier_volume"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_shapes_plan_hygiene(spark, sf_dir):
    """Representative plan-shape checks on the r4 TPC-H queries: the
    optimizer decisions each pattern exists to exercise."""
    from pystreams_spark.plans import executed_plan

    # Q6: pure scan-filter-agg — every predicate pushed, partial agg
    df = QUERIES["forecast_revenue_increase"](spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pf, (c, pf)
    assert has_partial_aggregate(df)

    # Q3: top-10 is a TakeOrdered, customer dim broadcasts
    df = QUERIES["shipping_priority_top10"](spark, sf_dir)
    assert has_take_ordered(df)
    assert has_broadcast_join(df)

    # Q18: the grouped-HAVING IN is a broadcast LEFT SEMI, not a shuffle
    plan = executed_plan(QUERIES["large_quantity_orders"](spark, sf_dir))
    assert "LeftSemi" in plan and "Broadcast" in plan, plan[:2000]

    # Q2: the correlated MAX is a window over p_partkey — never an
    # empty-frame (single-task) window
    plan = executed_plan(QUERIES["min_cost_supplier"](spark, sf_dir))
    assert "Window" in plan
    assert "Window [" not in plan.replace("Window [max", "WINOK"), (
        "unexpected un-partitioned window"
    )

    # Q16: NOT IN exclusion is a broadcast anti join
    plan = executed_plan(QUERIES["part_supplier_counts"](spark, sf_dir))
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_ordered_cumsum_no_global_window(spark, sf_dir):
    """token_budget_selection's running total must stay distributed: a
    narrow per-partition cumsum kernel over the checkpointed
    range-sorted frame — NO window at all (a Window.partitionBy(pid)
    would plan an extra full Exchange because Catalyst can't prove the
    checkpointed frame is pid-clustered — caught in the r4 plan audit),
    and only the final ORDER BY exchange after the checkpoint."""
    from pystreams_spark.plans import executed_plan

    plan = executed_plan(QUERIES["token_budget_selection"](spark, sf_dir))
    assert "Window" not in plan, "cumsum fell back to a window"
    assert "MapInPandas" in plan
    # post-checkpoint: the only exchange is the final presentation sort
    post = plan.split("ExistingRDD")[0]
    assert post.count("Exchange") <= 1, plan[:1500]


def test_runtime_metrics_prove_partial_aggregation(spark, sf_dir):
    """RUNTIME (not static) proof of the map-side combine: the flagship
    aggregate scans the full fixture but its AGGREGATE exchange carries
    only ~groups×tasks records — the property that keeps a 100 TB Q1
    shuffle in MBs. Since the r12 scan-parallelism fix the plan may also
    contain ONE adaptive round-robin repartition (ensure_parallelism —
    fires only when the source arrives narrower than the core count,
    i.e. the single-row-group fixture; a no-op on any wide real input),
    so the contract is per-exchange: every exchange is either
    combine-sized or at most one full pass of the input, and the input
    never crosses the network more than once. Also pins that the probe
    harvests scan/shuffle/agg metrics at all."""
    from pystreams_spark.plans.introspect import metric_total, runtime_metrics

    m = runtime_metrics(QUERIES["pricing_summary"](spark, sf_dir))
    scan_rows = max(
        x["value"]
        for x in m
        if x["operator"] == "FileSourceScanExec" and x["metric"] == "numOutputRows"
    )
    recs = sorted(
        x["value"]
        for x in m
        if "shufflerecordswritten" in x["metric"].lower().replace(" ", "")
    )
    assert scan_rows >= 1000
    # exchanges: parallelism repartition (≤1 input pass) + partial-agg
    # combine (groups × map-tasks) + the single-partition sort — never
    # a second pass of the input
    assert recs and recs[0] > 0, recs
    # the combine exchange is combine-sized: 6 groups × ≤64 map tasks
    assert any(v <= 6 * 64 for v in recs), (scan_rows, recs)
    # no exchange re-shuffles more than one pass of the input, and the
    # total stays under input + combine-sized terms
    assert max(recs) <= scan_rows, (scan_rows, recs)
    assert sum(recs) <= scan_rows + 2 * 6 * 64, (scan_rows, recs)
    # bytes: one narrow-row input pass at fixture scale, far below the
    # corpus-sized shuffle the combine exists to prevent
    assert 0 < metric_total(m, "shufflebyteswritten") < 1024 * 1024


def test_runtime_metrics_dedup_shuffles_hashes_not_documents(spark, sf_dir):
    """RUNTIME proof of SCALE.md's dedup claim: the hashed exact-dedup
    shuffles fixed-size hash keys, never document text — measured
    shuffle bytes stay far below the corpus text volume."""
    from pystreams_spark.operators.dedup import exact_dedup_hashed
    from pystreams_spark.plans.introspect import metric_total, runtime_metrics

    # the fixture has no exact-text dups (on it, AQE collapses the
    # candidate branch to EmptyRelation → ZERO text shuffled, the
    # optimum), so plant them: duplicate 10% of docs under new ids —
    # the candidate slice is then ~20% of rows
    docs = load_table(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(dups)
    text_bytes = corpus.agg(F.sum(F.length("text"))).collect()[0][0]
    deduped = exact_dedup_hashed(corpus)
    m = runtime_metrics(deduped.select("doc_id"))
    shuffled = metric_total(m, "shufflebyteswritten")
    assert shuffled > 0, "expected the dup-candidate slice to shuffle"
    # only the duplicate-candidate slice (~20%) moves its text — the
    # pre-r4 form (window over hash+len+text) shuffled EVERY document
    assert shuffled < text_bytes / 2, (shuffled, text_bytes)
    # and the dedup itself is exact
    assert deduped.count() == docs.count()



def test_plan_linter_flags_and_clears(spark, sf_dir):
    """The packaged linter (plans/lint.py) catches each scale cliff on a
    deliberately bad plan and stays silent on the flagship query."""
    from pyspark.sql import Window, functions as F
    from pyspark.sql.functions import udf

    from pystreams_spark.io import load_table
    from pystreams_spark.plans import assert_clean, lint

    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")

    # clean plan: no findings, assert_clean passes
    good = QUERIES["pricing_summary"](spark, sf_dir)
    assert lint(good) == []
    assert_clean(good)

    # cartesian
    codes = {f["code"] for f in lint(o.crossJoin(n))}
    assert "W_CARTESIAN" in codes
    assert lint(o.crossJoin(n), allow_cartesian=True) == []

    # row-wise python UDF
    plus1 = udf(lambda x: x + 1, "long")
    codes = {f["code"] for f in lint(o.select(plus1("o_orderkey")))}
    assert "W_ROW_UDF" in codes

    # global window without partition key -> single-partition exchange
    w = Window.orderBy("o_orderkey")
    bad_win = o.withColumn("rn", F.row_number().over(w))
    codes = {f["code"] for f in lint(bad_win)}
    assert "W_SINGLE_PARTITION" in codes

    # ...but a plain global aggregate is NOT flagged (partial-agg rows)
    assert lint(o.agg(F.sum("o_totalprice"))) == []

    # python stage budget
    from pystreams_spark.operators.similarity import semantic_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    two_kernels = semantic_dedup_pairs(e, threshold=0.9)  # assign + pairwise
    assert lint(two_kernels, python_stage_budget=1)[0]["code"] == "W_PYTHON_STAGES"
    assert lint(two_kernels, python_stage_budget=2) == []


def test_lint_repeated_expensive_expr_and_bigram_plan(spark, sf_dir):
    """W_REPEATED_EXPR: a re-seeded copy of the 5d161bd O(tokens²) trap
    (tokens(text) inlined into the pair-building HOF → 4 split() copies,
    no CSE inside interpreted lambdas) must be flagged; the FIXED
    bigram/PMI operators must (a) lint clean and (b) evaluate the text
    split exactly ONCE in their optimized plans."""
    import re

    from pyspark.sql import functions as F

    from pystreams_spark.functions.text import adjacent_token_pairs, tokens
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.assoc import pmi_collocations
    from pystreams_spark.operators.selection import bigram_surprisal_scores
    from pystreams_spark.plans import lint

    docs = load_table(spark, sf_dir, "documents")

    # seeded regression: inline tokens() straight into the HOF consumer
    bad = docs.select(
        "doc_id", F.explode(adjacent_token_pairs(tokens("text"))).alias("o")
    )
    codes = {f["code"] for f in lint(bad)}
    assert "W_REPEATED_EXPR" in codes, lint(bad)

    # fixed operators: clean lint, ONE split(text…) in the optimized plan
    for out in (
        bigram_surprisal_scores(docs),
        pmi_collocations(docs, min_count=2),
    ):
        assert [f for f in lint(out) if f["code"] == "W_REPEATED_EXPR"] == []
        opt = out._jdf.queryExecution().optimizedPlan().toString()
        # bigram: the occ branch feeds the final plan → exactly one
        # split(text…). PMI: the corpus scan ran inside the eager
        # localCheckpoint, so the returned plan reads a LogicalRDD and
        # shows zero — either way, never more than one.
        n_text_splits = len(re.findall(r"split\(text#", opt))
        assert n_text_splits <= 1, (n_text_splits, opt[:2000])


def test_aqe_skew_join_engages_at_runtime(spark):
    """AQE's skew-join mitigation must actually fire on a skewed
    shuffle join — the runtime backstop behind `operators/skew.py`'s
    explicit salting (thresholds scaled down to fixture sizes; on a
    real cluster the defaults play the same role). The plan only shows
    the verdict after ITS OWN execution finalizes AQE, hence the
    execute-then-inspect dance (same as plans.runtime_metrics)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400000).select(
            F.when(F.col("id") % 20 < 19, 0).otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("payload-padding-padding-"), F.col("id")).alias("pl"),
        )
        right = spark.range(500).select(
            (F.col("id") % 97).alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k")
        qe = j._jdf.queryExecution()
        qe.executedPlan().execute().count()
        plan = qe.executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead coalesced and skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_introspect_parsers_handle_nested_and_commas(spark, sf_dir):
    """The plan parsers are depth-aware (review findings): predicates
    containing commas stay whole, nested struct ReadSchemas report only
    top-level columns, and shuffle_count excludes broadcast/reused
    exchanges."""
    from pystreams_spark.plans.introspect import (
        _balanced_capture,
        _split_top_level,
        pushed_filters,
        read_schema_columns,
        shuffle_count,
    )

    # pure parsing units
    inner = _balanced_capture("x: [A(a), B(b,[1,2])] tail", 3, "[", "]")
    assert _split_top_level(inner) == ["A(a)", "B(b,[1,2])"]
    assert _split_top_level("id:bigint,meta:struct<uri:string,mime:string>") == [
        "id:bigint", "meta:struct<uri:string,mime:string>",
    ]

    # live plan: comma-carrying pushed predicate survives whole
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select("l_quantity")
    preds = pushed_filters(f)
    assert any(p.startswith("LessThanOrEqual(l_shipdate,") for p in preds), preds

    # nested struct scan reports top-level columns only
    import tempfile

    tmp = tempfile.mkdtemp()
    li.limit(10).select(
        "l_orderkey", F.struct("l_quantity", "l_discount").alias("m")
    ).write.mode("overwrite").parquet(f"{tmp}/nested")
    nested = spark.read.parquet(f"{tmp}/nested").select("l_orderkey", "m")
    (cols,) = read_schema_columns(nested)
    assert cols == ["l_orderkey", "m"], cols

    # broadcast exchange is not a data shuffle
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = o.join(F.broadcast(n), o.o_custkey % 25 == n.n_nationkey)
    assert "BroadcastExchange" in executed_plan_str(j)
    assert shuffle_count(j) == 0, executed_plan_str(j)


def executed_plan_str(df):
    from pystreams_spark.plans import executed_plan

    return executed_plan(df)


def test_runtime_metrics_bm25_shuffles_postings_not_corpus(spark, sf_dir):
    """RUNTIME proof of retrieval.py's scale claim: BM25 shuffles only
    the term-matched postings (plus tiny df/stats frames), never the
    corpus text — measured shuffle bytes stay far below the text
    volume, and the postings aggregate's shuffle rows stay near the
    matched (doc, term) count."""
    from pystreams_spark.operators.retrieval import bm25_scores
    from pystreams_spark.plans.introspect import metric_total, runtime_metrics

    docs = load_table(spark, sf_dir, "documents")
    text_bytes = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    scored = bm25_scores(docs, ["spark", "hash", "window"])
    m = runtime_metrics(scored)
    shuffled = metric_total(m, "shufflebyteswritten")
    assert shuffled > 0
    assert shuffled < text_bytes / 4, (shuffled, text_bytes)


def test_runtime_metrics_dsir_shuffles_buckets_not_text(spark, sf_dir):
    """RUNTIME proof of DSIR's fixed-feature-space claim: the only
    shuffles carry bucket-count partials (≤ n_buckets × tasks rows) and
    per-doc sums — corpus text never moves."""
    from pystreams_spark.operators.selection import dsir_log_weights
    from pystreams_spark.plans.introspect import metric_total, runtime_metrics

    docs = load_table(spark, sf_dir, "documents")
    text_bytes = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    m = runtime_metrics(dsir_log_weights(raw, target, n_buckets=256))
    shuffled = metric_total(m, "shufflebyteswritten")
    assert shuffled > 0
    assert shuffled < text_bytes / 4, (shuffled, text_bytes)


def test_weighted_sample_plans_take_ordered(spark, sf_dir):
    """The A-Res weighted draw must stay a TakeOrderedAndProject
    (per-partition k-heaps) — a full sort here would turn a cheap
    reproducible sample into a corpus-wide range shuffle."""
    from pystreams_spark.operators.selection import weighted_sample

    d = load_table(spark, sf_dir, "documents")
    df = weighted_sample(d, k=50, weight_col="n_chars", id_col="doc_id")
    assert has_take_ordered(df)


def test_runtime_metrics_source_overlap_shuffles_keys_not_text(spark, sf_dir):
    """RUNTIME proof of cross_source_shingle_overlap's scale claim: the
    distinct/pair machinery shuffles 8-byte kernel gram keys, never the
    document text — measured shuffle bytes stay well below the text
    volume."""
    from pystreams_spark.operators.dedup import cross_source_shingle_overlap
    from pystreams_spark.plans.introspect import metric_total, runtime_metrics

    docs = load_table(spark, sf_dir, "documents")
    text_bytes = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    m = runtime_metrics(cross_source_shingle_overlap(docs, n=5))
    shuffled = metric_total(m, "shufflebyteswritten")
    assert shuffled > 0
    # ~125 grams/doc at 8B+overhead vs ~640B of text/doc: the gram-key
    # shuffle is comparable in ROWS but each row is a (src, int64) pair;
    # the claim is it never degenerates to shuffling gram STRINGS
    # (~40B each) or the text — stay under half the text volume
    assert shuffled < text_bytes / 2, (shuffled, text_bytes)
