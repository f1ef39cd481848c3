"""functions/exact: the engine-exact rounded-average contract.

Covers the r11 ADVICE overflow finding: the Spark-side accumulator must
survive sums whose doubled integer-scaled total exceeds int64 (reached
around sf≈50 for whole-table money averages), where a BIGINT sum wraps
silently in non-ANSI mode while DuckDB's HUGEINT raises-or-is-exact.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from pystreams_spark.functions.exact import (
    avg_round_half_up,
    avg_round_half_up_sql,
)


def _duck_avg(vals, digits):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    return con.sql(
        f"SELECT {avg_round_half_up_sql('x', digits)} AS a FROM t"
    ).fetchone()[0]


def _spark_avg(spark, vals, digits):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    return df.agg(avg_round_half_up("x", digits).alias("a")).first()[0]


def test_half_case_rounds_up_identically(spark):
    # 12.5 micros-average lands exactly on a half at digit 6
    vals = [0.000012, 0.000013]
    assert _spark_avg(spark, vals, 6) == _duck_avg(vals, 6) == 0.000013


def test_sum_beyond_int64_matches_oracle(spark):
    # each value is 6e12 → 6e18 micros; 2·Σ = 2.4e19 > int64 max
    # (9.22e18). A BIGINT accumulator wraps silently on the Spark side;
    # DECIMAL(38,0) must agree with DuckDB's HUGEINT to the last digit.
    vals = [6.0e12 + 0.25, 6.0e12 + 0.25]
    got_s = _spark_avg(spark, vals, 6)
    got_d = _duck_avg(vals, 6)
    assert got_s == got_d == 6.0e12 + 0.25


def test_negative_values_truncate_toward_zero_identically(spark):
    # negative sums: Spark div and DuckDB // both truncate toward zero
    # (half-toward-zero for negatives) — the contract is cross-engine
    # identity, pinned here
    vals = [-0.000012, -0.000013]
    assert _spark_avg(spark, vals, 6) == _duck_avg(vals, 6) == -0.000012


def test_empty_group_is_null(spark):
    df = spark.createDataFrame([(None,)], "x double")
    assert df.agg(avg_round_half_up("x", 6).alias("a")).first()[0] is None


@pytest.mark.parametrize("digits", [2, 4, 6])
def test_scales_agree_cross_engine(spark, digits):
    vals = [123.4567, 0.015, 7.125, 99.995]
    assert _spark_avg(spark, vals, digits) == _duck_avg(vals, digits)


def _duck_sum(vals, sql_frag):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    return con.sql(f"SELECT {sql_frag} AS a FROM t").fetchone()[0]


def test_sum_exact_scaled_matches_oracle_and_is_double(spark):
    from pystreams_spark.functions.exact import (
        sum_exact_scaled,
        sum_exact_scaled_sql,
    )

    vals = [1234.56, 0.01, -7.89, 99999.99]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(sum_exact_scaled("x", 2).alias("a"))
    assert dict(row.dtypes)["a"] == "double"  # not silently DECIMAL
    got_s = row.first()[0]
    got_d = _duck_sum(vals, sum_exact_scaled_sql("x", 2))
    assert got_s == got_d == 101226.67


def test_sum_round_half_up_cents_from_finer_grid(spark):
    """4dp-exact values reported at cents: the integer quotient lands
    exactly on a half-cent, which two-arg float rounding can split
    across engines; the scaled single-arg rule rounds it away on both."""
    from pystreams_spark.functions.exact import (
        sum_round_half_up,
        sum_round_half_up_sql,
    )

    vals = [0.0025, 0.0025, 0.01]  # Σ = 0.0150 → half-cent tie → 0.02
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(sum_round_half_up("x", 4, 2).alias("a"))
    assert dict(row.dtypes)["a"] == "double"
    got_s = row.first()[0]
    got_d = _duck_sum(vals, sum_round_half_up_sql("x", 4, 2))
    assert got_s == got_d == 0.02


def test_sum_round_half_up_negative_tie(spark):
    """Negative totals: the single-arg scaled rule is half-AWAY on both
    engines (Spark BigDecimal HALF_UP and DuckDB std::round both round
    -k.5 to -(k+1)) — unlike the avg contract's div, which truncates
    toward zero. Pinned so a refactor to div doesn't silently change
    the negative-tie digit."""
    from pystreams_spark.functions.exact import (
        sum_round_half_up,
        sum_round_half_up_sql,
    )

    vals = [-0.0025, -0.0025, -0.01]  # Σ = -0.0150 → -0.02 away
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_s = df.agg(sum_round_half_up("x", 4, 2).alias("a")).first()[0]
    got_d = _duck_sum(vals, sum_round_half_up_sql("x", 4, 2))
    assert got_s == got_d == -0.02


def test_sum_helpers_null_semantics(spark):
    from pystreams_spark.functions.exact import (
        sum_exact_scaled,
        sum_round_half_up,
    )

    df = spark.createDataFrame([(None,)], "x double")
    assert df.agg(sum_exact_scaled("x", 2).alias("a")).first()[0] is None
    assert df.agg(sum_round_half_up("x", 4, 2).alias("a")).first()[0] is None
    with pytest.raises(ValueError, match="value_digits"):
        sum_round_half_up("x", 2, 4)


def test_sum_exact_scaled_large_magnitude_cents(spark):
    """Large-magnitude cents stay exact through the DECIMAL(38,0)
    accumulator and the engines agree to the last representable digit
    (the at-scale property the contract buys: the integer sum is a
    pure function of the data, not of float summation order)."""
    from pystreams_spark.functions.exact import (
        sum_exact_scaled,
        sum_exact_scaled_sql,
    )

    # each value is cents-exact and |x·100| < 2^52, so the per-value
    # quantization is exact; the scaled-int sum is 4e14 + 7 cents
    vals = [1.0e12 + 0.01, 1.0e12 + 0.02, 1.0e12 + 0.03, 1.0e12 + 0.01]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_s = df.agg(sum_exact_scaled("x", 2).alias("a")).first()[0]
    got_d = _duck_sum(vals, sum_exact_scaled_sql("x", 2))
    assert got_s == got_d
    # both engines report the identical double nearest 4e12 + 0.07
    assert got_s == 400000000000007 / 100.0


def test_quantized_threshold_exact_predicate():
    """quantized_threshold(t, s) must be the smallest q with
    q/s >= t under IEEE division — including off-grid thresholds
    (ceil-like, NOT nearest: the r12-ext review case 0.125@100) and
    ulp-perturbed float products (0.2·1e6 lands above 200000)."""
    from pystreams_spark.functions.exact import quantized_threshold

    cases = [
        (0.125, 100, 13),       # off-grid: round() would give 12
        (0.2, 1_000_000, 200_000),
        (0.35, 1_000_000, 350_000),
        (0.4, 1_000_000, 400_000),
        (0.9, 1_000_000, 900_000),
        (-0.125, 100, -12),     # smallest q with q/100 >= -0.125
        (0.0, 1_000_000, 0),
    ]
    for t, s, want in cases:
        q = quantized_threshold(t, s)
        assert q == want, (t, s, q, want)
        assert q / s >= t and (q - 1) / s < t


def test_quantized_threshold_minimality_property():
    """Property: for ANY float threshold in [-2, 2] and the scales the
    kernels use, quantized_threshold returns the UNIQUE minimal integer
    cut equivalent to the float predicate — q/s >= t and (q-1)/s < t."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pystreams_spark.functions.exact import quantized_threshold

    @settings(max_examples=500, deadline=None)
    @given(
        t=st.floats(min_value=-2.0, max_value=2.0,
                    allow_nan=False, allow_infinity=False),
        s=st.sampled_from([100, 10_000, 1_000_000]),
    )
    def check(t, s):
        q = quantized_threshold(t, s)
        assert q / s >= t
        assert (q - 1) / s < t

    check()


def test_cosine_pairs_above_zero_norm_vector(spark):
    """A zero embedding must score 0 against everything (clamped norm),
    not feed NaN into the int64 quantizer — r12-ext review fix."""
    import numpy as np

    from pystreams_spark.operators.similarity import cosine_pairs_above

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b): r.score
           for r in cosine_pairs_above(df, 0.5).collect()}
    assert got == {(0, 1): 1.0}  # the zero vector pairs with nothing
    assert all(np.isfinite(v) for v in got.values())


def test_no_new_round_avg_raw_oracle_sites():
    """The ROUND(AVG(raw)) oracle class was drained to zero in r12-ext
    (a proven cross-engine mismatch class — the sf0.1 sweep caught a
    real one). This lint keeps it at zero: any new oracle using
    ROUND(AVG(...)) must either use the integer-scaled contract
    (functions/exact) or extend the documented allowlist with a reason
    comment at the site."""
    import re

    from pystreams_spark.queries import ORACLE

    allow = {
        # per-doc inner average of irrational -ln values: an exact half
        # at digit 6 is measure-zero; commented at the site
        "model_filtered_funnel",
    }
    offenders = {
        name for name, sql in ORACLE.items()
        if re.search(r"ROUND\s*\(\s*AVG\s*\(", sql) and name not in allow
    }
    assert not offenders, (
        f"new ROUND(AVG(raw)) oracle sites (use avg_round_half_up_sql "
        f"or allowlist with a reason): {sorted(offenders)}"
    )


def test_np_round_half_away_matches_duckdb_round():
    """The numpy quantizer must be bit-identical to the engines'
    half-away-from-zero ROUND on the SAME doubles — np.round is
    half-to-even and silently disagrees exactly on the half cases.
    Grid: exact binary halves, near-halves one ulp off, negatives,
    plus a seeded random sweep."""
    import numpy as np

    from pystreams_spark.functions.exact import np_round_half_away_scaled

    rng = np.random.RandomState(7)
    vals = np.concatenate([
        np.array([0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 3.5]) / 1e6,
        np.array([np.nextafter(0.5, 0), np.nextafter(0.5, 1)]) / 1e6,
        rng.randn(500) * 1e-3,
        rng.randn(100) * 10,
    ])
    got = np_round_half_away_scaled(vals, 1_000_000)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(map(float, vals)))
    )
    want = [
        r[0]
        for r in con.sql(
            "SELECT CAST(ROUND(x * 1000000) AS BIGINT) FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got.tolist() == want


def test_np_trunc_div_matches_duckdb_intdiv():
    import numpy as np

    from pystreams_spark.functions.exact import np_trunc_div

    num = np.array([7, -7, 9, -9, 10, -10, 0, 1, -1], dtype=np.int64)
    den = np.array([2, 2, 4, 4, 5, 5, 3, 3, 3], dtype=np.int64)
    got = np_trunc_div(num, den).tolist()
    con = duckdb.connect()
    want = [
        con.sql(f"SELECT CAST({int(a)} AS BIGINT) // {int(b)}").fetchone()[0]
        for a, b in zip(num, den)
    ]
    assert got == want


def test_quantize_at_its_2_52_bound_and_nan_both_engines(spark):
    """``_quantize``'s documented per-value bound is |round(x)| < 2^52.
    Pin what both engines do at the bound: at 2^52 ± 1 (and the half
    case 2^52 − 0.5) round() still yields an exact integral double, so
    Spark's bigint-routed cast and DuckDB's per-value BIGINT cast give
    the same exact integer — the bound is conservative. NaN has no
    integer: DuckDB raises; Spark raises under ANSI mode (the Spark 4
    default) and yields 0 without it, where the old direct decimal cast
    gave NULL."""
    from pystreams_spark.functions.exact import _quantize

    b = 2**52
    xs = [b - 1, b, b + 1, -(b + 1), -(b - 1), b - 0.5, -(b - 0.5)]
    want = [b - 1, b, b + 1, -(b + 1), -(b - 1), b, -b]
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "i int, x double"
    )
    got_s = [
        int(r.q)
        for r in df.selectExpr("i", f"{_quantize('x')} AS q").orderBy("i").collect()
    ]
    con = duckdb.connect()
    got_d = [
        con.execute("SELECT CAST(ROUND(?::DOUBLE) AS BIGINT)", [float(x)]).fetchone()[0]
        for x in xs
    ]
    assert got_s == got_d == want

    nan = spark.createDataFrame([(float("nan"),)], "x double")
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            nan.selectExpr(f"{_quantize('x')} AS q").collect()
        spark.conf.set(key, "false")
        assert nan.selectExpr(f"{_quantize('x')} AS q").first().q == 0
    finally:
        spark.conf.set(key, old)
    with pytest.raises(duckdb.ConversionException):
        con.execute("SELECT CAST(ROUND(?::DOUBLE) AS BIGINT)", [float("nan")]).fetchone()


def test_kmeans_centers_partitioning_independent(spark):
    """The r12 centroid contract removes the float-partial-sum order
    dependence: the fitted centers must be BIT-identical under wildly
    different partitionings (the accumulation-order class the sf0.1
    sweep proved real for resample)."""
    import numpy as np

    from pystreams_spark.operators.similarity import (
        kmeans_centers_deterministic,
    )

    rng = np.random.RandomState(3)
    rows = [(i, (rng.randn(8) * 0.7).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = kmeans_centers_deterministic(df.repartition(1), n_cells=5, iters=3)
    b = kmeans_centers_deterministic(df.repartition(37), n_cells=5, iters=3)
    assert np.array_equal(a, b)
    # and every coordinate produced by an update is an exact multiple
    # of 10^-6 (the quantized-contract invariant; seeds may not be)
    micros = a * 1e6
    assert np.allclose(micros, np.round(micros), atol=0)


def test_kmeans_single_task_fit_matches_distributed(spark):
    """The r12 single-task Lloyd cutover must be BIT-identical to the
    distributed seed-TakeOrdered + per-iteration partial-collect loop:
    force the distributed branch with an over-threshold ``precounted``
    and compare against the default (single-task at this size) path —
    plain fit and the sliced multi-book PQ fit."""
    import numpy as np

    from pystreams_spark.operators.similarity import (
        _LLOYD_SINGLE_TASK_ROWS,
        kmeans_centers_deterministic,
    )

    rng = np.random.RandomState(7)
    rows = [(i, (rng.randn(8) * 0.9).tolist()) for i in range(300)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(13)
    forced_distributed = _LLOYD_SINGLE_TASK_ROWS + 1

    single = kmeans_centers_deterministic(df, n_cells=6, iters=3)
    dist = kmeans_centers_deterministic(
        df, n_cells=6, iters=3, precounted=forced_distributed
    )
    assert np.array_equal(single, dist)

    slices = [(0, 4), (4, 4)]
    single_s = kmeans_centers_deterministic(
        df, n_cells=4, iters=2, slices=slices
    )
    dist_s = kmeans_centers_deterministic(
        df, n_cells=4, iters=2, precounted=forced_distributed, slices=slices
    )
    assert len(single_s) == len(dist_s) == 2
    for a, b in zip(single_s, dist_s):
        assert np.array_equal(a, b)


def test_resample_fill_contract_is_explicit(spark):
    """ADVICE r11: the micros contract must be opt-in, not keyed on the
    magic (agg='avg', round_to=6) combination. Values with more than 6
    significant decimals distinguish the two semantics."""
    from pystreams_spark.operators.timeseries import resample_fill

    rows = [
        ("u", "2024-01-01 00:00:01", 3e-7),
        ("u", "2024-01-01 00:00:02", 3e-7),
        ("u", "2024-01-01 00:00:03", 9e-7),
    ]
    df = spark.createDataFrame(rows, "u string, ts string, v double").select(
        "u", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    plain = resample_fill(df, "ts", "v", ["u"], 3600).first()
    assert plain.raw == 1e-6  # round(avg(raw), 6) — the default
    micros = resample_fill(
        df, "ts", "v", ["u"], 3600, avg_contract="micros_half_up"
    ).first()
    assert micros.raw == 0.0  # per-value quantization before the sum

    with pytest.raises(ValueError, match="avg_contract"):
        resample_fill(df, "ts", "v", ["u"], 3600, avg_contract="bogus")
    with pytest.raises(ValueError, match="only applies"):
        resample_fill(
            df, "ts", "v", ["u"], 3600, agg="max", avg_contract="micros_half_up"
        )


# ---------------------------------------------------------------------------
# Exact second moments (r12): stddev/var/corr/covar contract
# ---------------------------------------------------------------------------


def _duck2(pairs, frag):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE, y DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    return con.sql(f"SELECT {frag} AS a FROM t").fetchone()[0]


def test_var_samp_exact_half_case_at_digit6(spark):
    """Planted variance half: [0, 0.001] on the micros grid gives
    var_samp = 5e-7 exactly — the raw float path can land either side
    of the digit-6 half depending on engine/order; the contract pins
    1e-6 (half-away) on both."""
    from pystreams_spark.functions.exact import (
        var_samp_exact,
        var_samp_exact_sql,
    )

    pairs = [(0.0, None), (0.001, None)]
    df = spark.createDataFrame(pairs, "x double, y double")
    got_s = df.agg(var_samp_exact("x", 6, 6).alias("a")).first()[0]
    got_d = _duck2(pairs, var_samp_exact_sql("x", 6, 6))
    assert got_s == got_d == 1e-06


def test_stddev_pop_exact_dyadic_half(spark):
    """stddev_pop([0.0, 0.5]) = 0.25 exactly (a dyadic double): at
    out_digits=1 the scaled value 2.5 is a TRUE representable half —
    numpy-style half-to-even would report 0.2; both engines' half-away
    rule must report 0.3."""
    from pystreams_spark.functions.exact import (
        stddev_pop_exact,
        stddev_pop_exact_sql,
    )

    pairs = [(0.0, None), (0.5, None)]
    df = spark.createDataFrame(pairs, "x double, y double")
    got_s = df.agg(stddev_pop_exact("x", 1, 1).alias("a")).first()[0]
    got_d = _duck2(pairs, stddev_pop_exact_sql("x", 1, 1))
    assert got_s == got_d == 0.3


def test_corr_exact_zero_variance_is_null_both_engines(spark):
    """Zero variance: the built-ins disagree here (Spark NaN, DuckDB
    NULL-ish); the contract defines NULL on both."""
    from pystreams_spark.functions.exact import corr_exact, corr_exact_sql

    pairs = [(3.0, 7.5)] * 5
    df = spark.createDataFrame(pairs, "x double, y double")
    got_s = df.agg(corr_exact("x", "y", 0, 1, 6).alias("a")).first()[0]
    got_d = _duck2(pairs, corr_exact_sql("x", "y", 0, 1, 6))
    assert got_s is None and got_d is None


def test_pair_stats_ignore_null_pairs_like_builtins(spark):
    """corr/covar are pairwise-non-null: rows with either side NULL
    drop out of n AND every sum, matching the built-in semantics."""
    from pyspark.sql import functions as F

    from pystreams_spark.functions.exact import (
        corr_exact,
        corr_exact_sql,
        covar_samp_exact,
        covar_samp_exact_sql,
    )

    pairs = [(1.0, 2.0), (None, 3.0), (2.0, None), (4.0, 8.0)]
    df = spark.createDataFrame(pairs, "x double, y double")
    row = df.agg(
        corr_exact("x", "y", 0, 0, 6).alias("c"),
        covar_samp_exact("x", "y", 0, 0, 2).alias("v"),
        F.round(F.corr("x", "y"), 6).alias("cb"),
        F.round(F.covar_samp("x", "y"), 2).alias("vb"),
    ).first()
    assert row.c == _duck2(pairs, corr_exact_sql("x", "y", 0, 0, 6)) == row.cb == 1.0
    assert row.v == _duck2(pairs, covar_samp_exact_sql("x", "y", 0, 0, 2)) == row.vb == 9.0


def test_second_moments_beyond_double_product_bound(spark):
    """Per-value squares are formed in DECIMAL(38,0)/HUGEINT, so
    xi² > 2^53 (and > int64) stays exact: 4dp values around 1.2e7
    square to ~1.5e22 per value. Engines must agree bit-for-bit."""
    import random

    from pystreams_spark.functions.exact import (
        corr_exact,
        corr_exact_sql,
        stddev_samp_exact,
        stddev_samp_exact_sql,
    )

    rng = random.Random(7)
    pairs = [
        (round(rng.uniform(1e7, 1.3e7), 4), round(rng.uniform(1e7, 1.3e7), 4))
        for _ in range(50)
    ]
    df = spark.createDataFrame(pairs, "x double, y double")
    row = df.agg(
        stddev_samp_exact("x", 4, 6).alias("s"),
        corr_exact("x", "y", 4, 4, 6).alias("c"),
    ).first()
    assert row.s == _duck2(pairs, stddev_samp_exact_sql("x", 4, 6))
    assert row.c == _duck2(pairs, corr_exact_sql("x", "y", 4, 4, 6))


def test_second_moments_track_builtins_on_random_data(spark):
    """On well-conditioned data the exact contract reproduces the
    streaming built-ins to the rounded digit — it removes divergence,
    not accuracy."""
    import random

    from pyspark.sql import functions as F

    from pystreams_spark.functions.exact import (
        corr_exact,
        covar_samp_exact,
        stddev_samp_exact,
        var_samp_exact,
    )

    rng = random.Random(11)
    pairs = [
        (float(round(rng.uniform(1, 50))), round(rng.uniform(900, 110000), 2))
        for _ in range(500)
    ]
    df = spark.createDataFrame(pairs, "x double, y double")
    row = df.agg(
        stddev_samp_exact("y", 2, 6).alias("se"),
        F.round(F.stddev_samp("y"), 6).alias("sb"),
        var_samp_exact("x", 0, 6).alias("ve"),
        F.round(F.var_samp("x"), 6).alias("vb"),
        corr_exact("x", "y", 0, 2, 6).alias("ce"),
        F.round(F.corr("x", "y"), 6).alias("cb"),
        covar_samp_exact("x", "y", 0, 2, 2).alias("oe"),
        F.round(F.covar_samp("x", "y"), 2).alias("ob"),
    ).first()
    assert row.se == row.sb
    assert row.ve == row.vb
    assert row.ce == row.cb
    assert row.oe == row.ob


def test_sum_round_half_up_portable_same_text_both_engines(spark):
    """The dialect-portable fragment runs ONE string through spark.sql
    AND DuckDB: planted half-cent tie, identical rounded cents, DOUBLE
    (not DECIMAL) output type on the Spark side."""
    from pystreams_spark.functions.exact import sum_round_half_up_portable

    frag = sum_round_half_up_portable("x", 4, 2)
    vals = [0.0025, 0.0025, 0.01]  # Σ = 0.0150 → half-cent tie → 0.02
    spark.createDataFrame([(v,) for v in vals], "x double").createOrReplaceTempView(
        "_portable_t"
    )
    sdf = spark.sql(f"SELECT {frag} AS a FROM _portable_t")
    assert dict(sdf.dtypes)["a"] == "double"
    got_s = sdf.first()[0]
    got_d = _duck_sum(vals, frag)
    assert got_s == got_d == 0.02
