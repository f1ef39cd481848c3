"""Invariant gates for rows-only queries (VERDICT r5 #7): a rows-only
driver verdict certifies only "ran, produced rows", so every such query
must carry an EXECUTED quality gate (assert_true in the plan), not just
an annotation column. The meta-test here keeps that audit mechanical —
a new rows-only query without a gate fails CI."""

import inspect

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException  # noqa: F401

from pystreams_spark.gates import binomial_bound, gate_global, gate_rows
from pystreams_spark.queries import ORACLE, QUERIES

# Evidence markers that a query's plan carries a hard gate: either the
# shared gate helpers, a recall floor (whose annotate helper embeds
# assert_true), or a literal assert_true.
_GATE_MARKERS = (
    "gate_rows",
    "gate_global",
    "assert_true",
    "min_avg_recall=",
)


def test_every_rows_only_query_is_invariant_gated():
    rows_only = [n for n in QUERIES if n not in ORACLE]
    ungated = []
    for n in rows_only:
        src = inspect.getsource(QUERIES[n])
        if not any(m in src for m in _GATE_MARKERS):
            ungated.append(n)
    assert ungated == [], (
        f"rows-only queries without an executed invariant gate: {ungated} — "
        "add gate_rows/gate_global (pystreams_spark.gates) or a recall floor"
    )


def test_gate_rows_passes_and_fires(spark):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    # clean: all rows pass through unchanged
    assert gate_rows(df, F.col("v") >= 0, "neg").count() == 10
    # violation: the job FAILS with the message, not a filtered result
    with pytest.raises(Exception, match="v must stay under 15"):
        gate_rows(df, F.col("v") < 15, "v must stay under 15").collect()
    # a Column message is raised as it is, naming the violating value
    msg = F.format_string("v=%d must stay under 15", F.col("v"))
    with pytest.raises(Exception, match="v=1[68] must stay under 15"):
        gate_rows(df, F.col("v") < 15, msg).collect()


def test_gate_global_passes_and_fires(spark):
    from pyspark.sql import Window

    df = spark.range(10).withColumn("v", F.lit(1))
    total = F.sum("v").over(Window.partitionBy())
    assert gate_global(df, total == 10, "sum").count() == 10
    assert gate_global(df, total == 10, "sum").columns == ["id", "v"]  # _gate dropped
    with pytest.raises(Exception, match="expected 11"):
        gate_global(df, total == 11, "expected 11").collect()


def test_gate_summary_fires_even_on_empty_df(spark):
    """The zero-row hole (ADVICE r11): a gate filtered over the gated
    frame's own rows never evaluates when the frame is EMPTY. The
    union-branch form must (a) raise on an empty frame whose summary
    violates the condition, (b) return the empty frame unchanged when
    the summary passes, (c) pass non-empty frames through untouched,
    (d) still raise under a downstream key join, whose inferred
    IS NOT NULL filter reaches the union branch."""
    from pystreams_spark.gates import gate_summary

    df = spark.range(10).withColumn("v", F.col("id") * 2)
    empty = df.filter(F.lit(False))
    # summary = global agg: exactly one row even over empty input
    summary = empty.agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(Exception, match="empty frame rejected"):
        gate_summary(
            empty, summary, F.col("n") > 0, "empty frame rejected"
        ).collect()
    # same empty frame, a condition that tolerates emptiness: no raise
    assert (
        gate_summary(empty, summary, F.col("n") == 0, "boom").count() == 0
    )
    # non-empty: rows pass through unchanged, schema intact
    full_sum = df.agg(F.count(F.lit(1)).alias("n"))
    out = gate_summary(df, full_sum, F.col("n") == 10, "boom")
    assert out.count() == 10 and out.columns == ["id", "v"]
    with pytest.raises(Exception, match="wrong count"):
        gate_summary(df, full_sum, F.col("n") == 11, "wrong count").collect()
    with pytest.raises(Exception, match="joined"):
        gate_summary(df, full_sum, F.col("n") == 11, "joined").join(
            df.select("id"), "id"
        ).collect()


def test_binomial_bound_shape(spark):
    row = spark.range(1).select(
        binomial_bound(F.lit(10000), 0.1).alias("b")
    ).collect()[0]
    # 6 * sqrt(10000 * 0.09) + 1 = 6*30 + 1
    assert abs(row.b - 181.0) < 1e-9


def test_planted_violations_fire_in_real_queries(spark, sf_dir, tmp_path):
    """The gates guard REAL failure modes: corrupt a real pipeline the
    way a regression would and watch the gate kill the job."""
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.packing import pack_sequences

    # a pack run against a mis-tagged token count (the classic unit
    # mix-up: chars instead of tokens) violates n_tokens <= bin_fill
    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tokens", F.length("text"))  # wrong unit, way over 512
        .limit(50)
    )
    packed = pack_sequences(d, max_tokens=512)
    bad = gate_rows(
        packed,
        (F.col("bin_fill") <= 512),
        "bin over budget",
    )
    with pytest.raises(Exception, match="bin over budget"):
        bad.collect()