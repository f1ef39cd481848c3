"""Engine-exact rounded averages — the integer-scaled half-up contract.

``ROUND(AVG(x), d)`` over raw doubles is the one aggregate where two
correct engines legitimately disagree: floating summation order can
land the average exactly on a half at digit ``d`` on one engine and a
hair off it on the other (the r9 ``novelty_budget_selection`` mismatch,
re-confirmed at sf0.1 by the r11 parity sweep on
``resample_user_purchases_daily``). The contract removes the class:
values that are exact multiples of ``10^-d`` (exact integers, cents,
pre-``ROUND(x, d)`` scores) are scaled to integers, summed exactly, and
the average is rounded half-up in pure integer arithmetic —
``(2·Σ + N) div (2·N)`` — so no float ever decides a digit.

Overflow posture (the r11 ADVICE finding): the Spark-side sum
accumulates in DECIMAL(38,0), not BIGINT — a BIGINT sum of micros
wraps silently in non-ANSI mode once ``2·Σ`` passes 2^63 (reachable
around sf≈50 for whole-table money sums), while DuckDB's SUM(BIGINT)
already widens to HUGEINT (int128) and raises rather than wraps. With
DECIMAL(38,0) both engines carry ≥38 digits of headroom; the final
``div`` result is an average in scaled units, which fits BIGINT for
any value the per-value ``CAST(... AS BIGINT)`` admitted in the first
place.

Sign convention: ``div`` (Spark) and integral ``//`` (DuckDB BIGINT /
HUGEINT) both truncate toward zero, so for negative sums the contract
is "half toward zero" — cross-engine identical, which is the property
the oracle gate needs. NULL-safe: empty groups return NULL (count
guard), never a div-by-zero.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "avg_round_half_up",
    "avg_round_half_up_sql",
    "corr_exact",
    "corr_exact_sql",
    "covar_samp_exact",
    "covar_samp_exact_sql",
    "np_round_half_away_scaled",
    "np_trunc_div",
    "quantized_threshold",
    "stddev_pop_exact",
    "stddev_pop_exact_sql",
    "stddev_samp_exact",
    "stddev_samp_exact_sql",
    "sum_exact_scaled",
    "sum_exact_scaled_sql",
    "sum_round_half_up",
    "sum_round_half_up_portable",
    "sum_round_half_up_sql",
    "var_samp_exact",
    "var_samp_exact_sql",
]


def quantized_threshold(threshold: float, scale: int) -> int:
    """Smallest integer ``q`` with ``q/scale >= threshold`` under IEEE
    double division — the EXACT integer form of the float predicate
    ``score >= threshold`` over scores quantized to ``q/scale``. A
    naive ``round(threshold*scale)`` is wrong twice over: Python's
    round is half-to-EVEN, and for off-grid thresholds the correct cut
    is ceil-like, not nearest (``threshold=0.125, scale=100`` must cut
    at 13, not 12). The float-product seed can be off by an ulp either
    way (0.2·1e6 = 200000.00000000003), so the seed is corrected by
    direct comparison against the actual quotient doubles."""
    q = int(round(threshold * scale))
    while q / scale < threshold:
        q += 1
    while (q - 1) / scale >= threshold:
        q -= 1
    return q


def np_round_half_away_scaled(m, scale: int):
    """``CAST(ROUND(m * scale) AS BIGINT)`` with the SQL engines'
    half-AWAY-from-zero rule, vectorized for numpy — ``np.round`` is
    half-to-EVEN, which silently disagrees with Spark's
    BigDecimal-HALF_UP and DuckDB's std::round exactly on the half
    cases this module exists to pin down. Exact for ``|m·scale| <
    2^52``: the product is the identical IEEE multiply both engines
    perform, ``x - trunc(x)`` is exact there, and the half comparison
    is exact."""
    import numpy as np

    x = m * float(scale)
    r = np.trunc(x)
    frac = x - r
    r = r + (frac >= 0.5) - (frac <= -0.5)
    return r.astype(np.int64)


def _quantize(arg: str, acc: str = "decimal(38,0)") -> str:
    """Per-value quantization ``cast(round(<arg>) as <acc>)`` routed
    THROUGH BIGINT (r13, guide §2.3 per-task work): Spark's
    double→DECIMAL(38,0) cast allocates a BigDecimal per row, while
    double→bigint→decimal stays on the compact long representation —
    measured 0.370→0.283 s min / 0.549→0.331 s med for 4 sums over
    600k rows, i.e. the decimal accumulator now costs ≈ a raw float
    sum. Bit-identical within the contract's documented per-value
    bound (|round(arg)| < 2^52): round() output is an integral double,
    so the bigint cast is exact and yields the same integer the direct
    decimal cast did. Outside the bound the forms differ (past 2^63 and
    at NaN the bigint cast raises under ANSI mode, Spark 4's default,
    and saturates / yields 0 without it, where the decimal cast gave
    NULL; pinned in tests/test_exact.py) — but off-grid /
    non-finite values were already outside the contract, and the
    DuckDB fragments have always cast per value to BIGINT (which
    raises there), so the cross-engine posture is unchanged:
    a visible mismatch, never a silently-wrong digit.

    ``arg`` is the FULL round() argument text, verbatim from the call
    site — the callers' historical parenthesizations differ
    (``avg_round_half_up`` has always emitted ``{col} * {s}`` without
    wrapping the column expression, and both engines' fragments agree
    on that text), and the oracle hashes pin those exact semantics."""
    return f"cast(cast(round({arg}) as bigint) as {acc})"


def np_trunc_div(num, den):
    """Integer division truncating toward zero on int64 arrays —
    numpy's ``//`` floors, but Spark's ``div`` and DuckDB's integral
    ``//`` truncate; for negative numerators the two differ by one."""
    q = num // den
    return q + ((num % den != 0) & ((num < 0) != (den < 0)))


def avg_round_half_up(col: str, digits: int = 6) -> Column:
    """Spark Column: engine-exact ``ROUND(AVG(col), digits)`` for values
    that are exact multiples of ``10^-digits``. ``col`` is a SQL
    fragment (column name or expression)."""
    s = 10 ** int(digits)
    return F.expr(
        f"case when count({col}) > 0 then "
        f"cast((2 * sum({_quantize(f'{col} * {s}')})"
        f" + count({col})) div (2 * count({col})) as double)"
        f" / {s}.0 end"
    )


def sum_exact_scaled(col: str, digits: int = 2) -> Column:
    """Spark Column: engine-exact ``ROUND(SUM(col), digits)`` for values
    on the ``10^-digits`` grid (cents, pre-rounded scores) — the SUM
    sibling of the average contract (r12). ``ROUND(SUM(raw double))``
    is order-dependent: a naive per-partition float sum of N cents
    values carries error that grows with N (random-walk ~√N·ulp(Σ)),
    crossing the half-cent grid around N·mean ≈ 1e13 — i.e. whole-table
    money sums at roughly sf ≥ 100, exactly the scale this engine
    targets. Quantize-before-sum makes the reported digit a pure
    integer function of the data: identical on any partitioning, any
    engine, any scale the DECIMAL(38,0) accumulator admits. For values
    OFF the grid (irrational math sums) this is a deliberate contract
    change — the sum of per-value-quantized terms — which is the
    deterministic form an oracle can certify (same reasoning as the
    Lloyd centroid contract). Per-value exactness bound: |col·10^d| <
    2^52. NULL semantics match ROUND(SUM(...)): empty/all-NULL → NULL.
    """
    s = 10 ** int(digits)
    return F.expr(
        f"cast(sum({_quantize(f'({col}) * {s}')}) as double)"
        f" / {s}.0"
    )


def sum_exact_scaled_sql(col: str, digits: int = 2) -> str:
    """DuckDB SQL fragment equivalent of :func:`sum_exact_scaled`
    (per-value BIGINT cast; DuckDB's SUM widens to HUGEINT natively;
    HUGEINT→DOUBLE and Spark Decimal→Double are both correctly rounded,
    so the final quotient is the identical double)."""
    s = 10 ** int(digits)
    return (
        f"CAST(SUM(CAST(ROUND(({col}) * {s}) AS BIGINT)) AS DOUBLE)"
        f" / {s}.0"
    )


def sum_round_half_up(col: str, value_digits: int, digits: int) -> Column:
    """Spark Column: engine-exact ``ROUND(SUM(col), digits)`` where the
    values sit on a FINER grid than the output (e.g. 4dp-exact
    discounted prices reported at cents): quantize per value at
    ``value_digits`` (exact), sum in DECIMAL(38,0), then round the
    integer quotient with the single-arg scaled rule — ``ROUND(x)`` of
    the identical double is engine-exact (ties are dyadic ``k.5``
    doubles, rounded away on both engines), unlike two-arg ROUND whose
    internal scaling paths differ. Requires ``value_digits >= digits``.
    """
    v, d = int(value_digits), int(digits)
    if v < d:
        raise ValueError(f"sum_round_half_up: value_digits {v} < digits {d}")
    sv, down, sd = 10 ** v, 10 ** (v - d), 10 ** d
    # the final cast keeps the quotient DOUBLE — a bare bigint/100.0
    # would promote to DECIMAL under Spark's decimal-literal rule
    return F.expr(
        f"cast(cast(round(cast(sum({_quantize(f'({col}) * {sv}')})"
        f" as double) / {down}) as bigint) as double)"
        f" / {sd}.0"
    )


def sum_round_half_up_sql(col: str, value_digits: int, digits: int) -> str:
    """DuckDB SQL fragment equivalent of :func:`sum_round_half_up`."""
    v, d = int(value_digits), int(digits)
    if v < d:
        raise ValueError(
            f"sum_round_half_up_sql: value_digits {v} < digits {d}"
        )
    sv, down, sd = 10 ** v, 10 ** (v - d), 10 ** d
    return (
        f"CAST(ROUND(CAST(SUM(CAST(ROUND(({col}) * {sv}) AS BIGINT))"
        f" AS DOUBLE) / {down}) AS BIGINT) / {sd}.0"
    )


def sum_round_half_up_portable(col: str, value_digits: int, digits: int) -> str:
    """Dialect-PORTABLE text of :func:`sum_round_half_up` — one string
    that parses and computes identically under Spark SQL and DuckDB,
    for queries that run the SAME SQL text on both engines
    (``spark.sql(TEXT)`` vs the oracle). Uses the Spark-safe
    DECIMAL(38,0) accumulator (a BIGINT sum would wrap silently on
    Spark past 2^63; DuckDB sums DECIMAL(38,0) exactly too) and the
    cast-to-double-before-divide form so Spark's decimal-literal rule
    can't promote the final quotient."""
    v, d = int(value_digits), int(digits)
    if v < d:
        raise ValueError(
            f"sum_round_half_up_portable: value_digits {v} < digits {d}"
        )
    sv, down, sd = 10 ** v, 10 ** (v - d), 10 ** d
    # the same bigint-routed per-value quantization as the Spark-only
    # fragments (r13): DuckDB casts the integral round() double to
    # BIGINT exactly too, so the shared text stays dialect-portable
    # and the summed integers are unchanged on both engines
    return (
        f"cast(cast(round(cast(sum({_quantize(f'({col}) * {sv}')})"
        f" as double) / {down}) as bigint) as double)"
        f" / {sd}.0"
    )


# ---------------------------------------------------------------------------
# Exact second moments — the stddev/var/corr/covar contract (r12).
#
# ``ROUND(stddev_samp(x), d)`` over raw doubles has TWO cross-engine
# divergence sources: partial-sum ORDER (the same class as the drained
# ROUND(AVG/SUM(raw)) sites) and ALGORITHM (Spark aggregates Welford-
# style running moments; DuckDB keeps different running state — their
# results differ by ulps even on one partition). The exact contract
# removes both at once: quantize each value to an integer on its
# ``10^-value_digits`` grid (the identical IEEE multiply+round both
# engines perform), accumulate Σx, Σx², Σxy EXACTLY in wide integers
# (DECIMAL(38,0) Spark-side — BIGINT wraps silently in non-ANSI mode;
# HUGEINT via SUM(BIGINT) DuckDB-side, which raises on overflow), form
# the moment numerators n·Σx² − (Σx)² / n·Σxy − Σx·Σy in the SAME wide
# integer arithmetic, and only then cast the handful of exact group
# scalars to DOUBLE. From identical integers, both engines evaluate the
# identical float expression tree (casts, ×, ÷, sqrt are all IEEE
# correctly-rounded) → bit-identical doubles; the final digit is
# emitted with the scaled single-arg ROUND (half-away on both).
#
# Exactness bounds (documented, not silently truncated): per value
# |x·10^vd| < 2^52 (the quantizing round's own exactness window);
# per-value squares/cross-products are formed AFTER the cast to the
# wide integer type, so they are exact to the 38-digit/int128 ceiling,
# as are the sums and the n·Σx² − (Σx)² numerators — lineitem-money
# scale reaches ~1e31 at sf100, 7 digits of headroom. Past the
# ceiling DuckDB raises and Spark nulls (a visible mismatch), never a
# silently-wrong digit.
# ---------------------------------------------------------------------------


def _acc(dialect: str) -> str:
    # Spark: DECIMAL(38,0) (SUM(BIGINT) wraps silently; decimal
    # multiply is exact BigDecimal while the value fits 38 digits).
    # DuckDB: HUGEINT (int128, exact, raises on overflow). DuckDB can
    # NOT mirror the decimal form — its DECIMAL multiply requires
    # p1+p2 ≤ 38, so (38,0)×(38,0) is a bind error there; both
    # accumulators are exact integers, cast to DOUBLE only at the end.
    return "decimal(38,0)" if dialect == "spark" else "HUGEINT"


def _emit_round(vexpr: str, out_digits: int) -> str:
    """ROUND(v, d) of a cross-engine-identical double, engine-exact:
    scaled single-arg round (half-cases are dyadic ``k.5`` doubles,
    rounded away on both engines), cast back to DOUBLE before the
    unscaling division so Spark's decimal-literal rule can't promote
    the quotient to DECIMAL."""
    so = 10 ** int(out_digits)
    return (
        f"cast(cast(round(({vexpr}) * {so}) as bigint) as double) / {so}.0"
    )


def _var_sql(
    col: str, value_digits: int, out_digits: int, pop: bool, sqrt_: bool,
    dialect: str,
) -> str:
    s = 10 ** int(value_digits)
    acc = _acc(dialect)
    # Spark: per-value cast routed through bigint (see _quantize —
    # keeps the decimal compact, ≈2× cheaper per row, same integer).
    # DuckDB keeps the direct HUGEINT cast — the oracle text is
    # unchanged, so every consumer's oracle hash is untouched.
    xi = (
        _quantize(f"({col}) * {s}", acc)
        if dialect == "spark"
        else f"cast(round(({col}) * {s}) as {acc})"
    )
    n = f"count({col})"
    s1 = f"sum({xi})"
    # per-value square in the wide integer type — exact to the
    # 38-digit/int128 ceiling, no 2^53 double-product bound
    s2 = f"sum({xi} * {xi})"
    num = f"({n} * {s2} - {s1} * {s1})"
    den = (
        f"(cast({n} as double) * cast({n} as double))"
        if pop
        else f"(cast({n} as double) * (cast({n} as double) - 1))"
    )
    v = f"cast({num} as double) / {den} / {s * s}.0"
    if sqrt_:
        v = f"sqrt({v})"
    guard = f"{n} >= {1 if pop else 2}"
    return f"case when {guard} then {_emit_round(v, out_digits)} end"


def _pair_sql(
    x: str, y: str, x_digits: int, y_digits: int, out_digits: int,
    corr: bool, dialect: str,
) -> str:
    sx, sy = 10 ** int(x_digits), 10 ** int(y_digits)
    acc = _acc(dialect)
    both = f"(({x}) is not null and ({y}) is not null)"
    if dialect == "spark":  # bigint-routed per-value cast, see _quantize
        xi = _quantize(f"({x}) * {sx}", acc)
        yi = _quantize(f"({y}) * {sy}", acc)
    else:
        xi = f"cast(round(({x}) * {sx}) as {acc})"
        yi = f"cast(round(({y}) * {sy}) as {acc})"
    n = f"count(case when {both} then 1 end)"

    def ssum(prod: str) -> str:
        return f"sum(case when {both} then {prod} end)"

    s1x, s1y = ssum(xi), ssum(yi)
    s2x, s2y = ssum(f"{xi} * {xi}"), ssum(f"{yi} * {yi}")
    sxy = ssum(f"{xi} * {yi}")
    vx = f"({n} * {s2x} - {s1x} * {s1x})"
    vy = f"({n} * {s2y} - {s1y} * {s1y})"
    cv = f"({n} * {sxy} - {s1x} * {s1y})"
    if corr:
        # the sx·sy scale cancels between numerator and denominator
        # (up to the shared correctly-rounded float ops)
        v = (
            f"cast({cv} as double)"
            f" / sqrt(cast({vx} as double) * cast({vy} as double))"
        )
        guard = f"{n} >= 2 and {vx} > 0 and {vy} > 0"
    else:
        v = (
            f"cast({cv} as double)"
            f" / (cast({n} as double) * (cast({n} as double) - 1))"
            f" / {sx * sy}.0"
        )
        guard = f"{n} >= 2"
    return f"case when {guard} then {_emit_round(v, out_digits)} end"


def var_samp_exact(col: str, value_digits: int = 0, out_digits: int = 6) -> Column:
    """Spark Column: engine-exact ``ROUND(var_samp(col), out_digits)``
    for values on the ``10^-value_digits`` grid. See the module-level
    second-moment contract note for the divergence classes this
    removes and the exactness bounds."""
    return F.expr(_var_sql(col, value_digits, out_digits, False, False, "spark"))


def var_samp_exact_sql(col: str, value_digits: int = 0, out_digits: int = 6) -> str:
    """DuckDB SQL fragment equivalent of :func:`var_samp_exact`."""
    return _var_sql(col, value_digits, out_digits, False, False, "duck")


def stddev_samp_exact(col: str, value_digits: int = 0, out_digits: int = 6) -> Column:
    """Spark Column: engine-exact ``ROUND(stddev_samp(col), out_digits)``."""
    return F.expr(_var_sql(col, value_digits, out_digits, False, True, "spark"))


def stddev_samp_exact_sql(col: str, value_digits: int = 0, out_digits: int = 6) -> str:
    """DuckDB SQL fragment equivalent of :func:`stddev_samp_exact`."""
    return _var_sql(col, value_digits, out_digits, False, True, "duck")


def stddev_pop_exact(col: str, value_digits: int = 0, out_digits: int = 6) -> Column:
    """Spark Column: engine-exact ``ROUND(stddev_pop(col), out_digits)``."""
    return F.expr(_var_sql(col, value_digits, out_digits, True, True, "spark"))


def stddev_pop_exact_sql(col: str, value_digits: int = 0, out_digits: int = 6) -> str:
    """DuckDB SQL fragment equivalent of :func:`stddev_pop_exact`."""
    return _var_sql(col, value_digits, out_digits, True, True, "duck")


def corr_exact(
    x: str, y: str, x_digits: int = 0, y_digits: int = 0, out_digits: int = 6
) -> Column:
    """Spark Column: engine-exact ``ROUND(corr(x, y), out_digits)`` —
    pairwise-non-null like the built-in; NULL when either variance is
    zero (where the engines' built-ins disagree on NaN vs NULL)."""
    return F.expr(_pair_sql(x, y, x_digits, y_digits, out_digits, True, "spark"))


def corr_exact_sql(
    x: str, y: str, x_digits: int = 0, y_digits: int = 0, out_digits: int = 6
) -> str:
    """DuckDB SQL fragment equivalent of :func:`corr_exact`."""
    return _pair_sql(x, y, x_digits, y_digits, out_digits, True, "duck")


def covar_samp_exact(
    x: str, y: str, x_digits: int = 0, y_digits: int = 0, out_digits: int = 2
) -> Column:
    """Spark Column: engine-exact ``ROUND(covar_samp(x, y), out_digits)``."""
    return F.expr(_pair_sql(x, y, x_digits, y_digits, out_digits, False, "spark"))


def covar_samp_exact_sql(
    x: str, y: str, x_digits: int = 0, y_digits: int = 0, out_digits: int = 2
) -> str:
    """DuckDB SQL fragment equivalent of :func:`covar_samp_exact`."""
    return _pair_sql(x, y, x_digits, y_digits, out_digits, False, "duck")


def avg_round_half_up_sql(col: str, digits: int = 6) -> str:
    """DuckDB SQL fragment equivalent of :func:`avg_round_half_up`.

    The per-value cast stays BIGINT (a single value's scaled form fits
    easily); the SUM widens to HUGEINT natively, so the numerator is
    exact to 128 bits and ``//`` on HUGEINT truncates toward zero
    exactly like Spark's ``div``.
    """
    s = 10 ** int(digits)
    return (
        f"CASE WHEN COUNT({col}) > 0 THEN "
        f"CAST((2 * SUM(CAST(ROUND({col} * {s}) AS BIGINT))"
        f" + COUNT({col})) // (2 * COUNT({col})) AS DOUBLE)"
        f" / {s}.0 END"
    )
