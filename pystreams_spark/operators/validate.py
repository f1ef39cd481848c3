"""Declarative data-validation (expectations) over DataFrames: the
pre-training / pre-publish gate that answers "is this table fit to
join, aggregate, and train on" with per-rule violation counts.

Scale shape per rule class:
- row-local rules (not_null / in_range / in_set / custom predicate)
  are ONE shared scan: every rule becomes a conditional-sum aggregate
  in a single partial-agg'd ``agg`` — N rules cost one pass, not N.
- ``unique`` is a per-key groupBy (partial-agg'd; the shuffle carries
  distinct keys only).
- ``foreign_key`` is a left-anti join against the (typically
  broadcast-able) dimension's key set.

Output is a tiny (rule, column, n_violations) report — the shape a
pipeline can assert on (`expect(df, rules)` raises on any violation)
or persist per ingest run.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "not_null",
    "unique",
    "in_range",
    "in_set",
    "satisfies",
    "foreign_key",
    "check",
    "expect",
]


@dataclass
class Rule:
    kind: str
    column: str
    predicate: Column | None = None          # row-local: TRUE = violation
    dim: DataFrame | None = None             # foreign_key
    dim_col: str | None = None
    name: str = field(default="")

    def label(self) -> str:
        return self.name or f"{self.kind}({self.column})"


def not_null(col: str) -> Rule:
    return Rule("not_null", col, F.col(col).isNull())


def in_range(col: str, lo, hi) -> Rule:
    c = F.col(col)
    return Rule(
        "in_range", col, c.isNull() | (c < F.lit(lo)) | (c > F.lit(hi)),
        name=f"in_range({col},[{lo},{hi}])",
    )


def in_set(col: str, values) -> Rule:
    c = F.col(col)
    return Rule(
        "in_set", col, c.isNull() | ~c.isin(list(values)),
    )


def satisfies(name: str, predicate: Column) -> Rule:
    """Custom row-local rule; ``predicate`` must be TRUE for valid rows."""
    return Rule("satisfies", name, ~F.coalesce(predicate, F.lit(False)), name=name)


def unique(*cols: str) -> Rule:
    return Rule("unique", ",".join(cols))


def foreign_key(col: str, dim: DataFrame, dim_col: str) -> Rule:
    """Every fact-side ``col`` value must exist in ``dim.dim_col``.

    NULL semantics (deliberate, differs from SQL's FK constraint): a
    NULL fact key COUNTS AS A VIOLATION, because the left-anti join
    never matches NULL. SQL FK constraints let NULLs pass ("unknown
    parent" is allowed); this gate treats referential integrity as
    "resolvable to a parent", which a NULL is not. If you want SQL
    semantics — NULLs pass, and NULL-ness policed separately — filter
    first (``df.filter(col.isNotNull())``) or pair this rule with
    ``not_null(col)`` and subtract. Composing both rules on one column
    double-counts NULL rows (once per rule) by design."""
    return Rule("foreign_key", col, dim=dim, dim_col=dim_col)


def check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """(rule, n_violations) report; row-local rules share ONE scan."""
    if not rules:
        raise ValueError("check: empty rule list (nothing to validate)")
    spark = df.sparkSession
    reports: list[DataFrame] = []

    row_local = [r for r in rules if r.predicate is not None]
    if row_local:
        # positional aliases + lit() labels: labels never enter SQL text,
        # so quotes in rule names and duplicate labels are both safe
        aggs = [
            F.sum(r.predicate.cast("long")).alias(f"_r{i}")
            for i, r in enumerate(row_local)
        ]
        pairs = F.array(
            *[
                F.struct(
                    F.lit(r.label()).alias("rule"),
                    F.col(f"_r{i}").alias("n_violations"),
                )
                for i, r in enumerate(row_local)
            ]
        )
        reports.append(
            df.agg(*aggs)
            .select(F.explode(pairs).alias("p"))
            .select("p.rule", "p.n_violations")
        )

    for r in rules:
        if r.kind == "unique":
            cols = r.column.split(",")
            dup = (
                df.groupBy(*cols)
                .count()
                .filter(F.col("count") > 1)
                .agg(
                    F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias(
                        "n_violations"
                    )
                )
                .select(F.lit(r.label()).alias("rule"), "n_violations")
            )
            reports.append(dup)
        elif r.kind == "foreign_key":
            orphans = (
                df.select(F.col(r.column))
                .join(
                    r.dim.select(F.col(r.dim_col).alias(r.column)).distinct(),
                    r.column,
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).alias("n_violations"))
                .select(
                    F.lit(f"foreign_key({r.column})").alias("rule"),
                    "n_violations",
                )
            )
            reports.append(orphans)

    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


def expect(df: DataFrame, rules: list[Rule]) -> None:
    """Raise AssertionError listing every violated rule (gate form).
    Raised explicitly, not via ``assert`` — a production gate must fire
    under ``python -O`` too."""
    bad = [
        (r["rule"], r["n_violations"])
        for r in check(df, rules).collect()
        if r["n_violations"]
    ]
    if bad:
        raise AssertionError(
            "expectations violated: "
            + ", ".join(f"{name}={n}" for name, n in bad)
        )
