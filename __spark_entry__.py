"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``pystreams_spark``; this module adapts the
registry to the driver's entry-point shape.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

# make the sibling package importable regardless of the caller's cwd
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pystreams_spark.queries import ORACLE, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on the sf0.001 fixture; the smoke
    check wants rows > 0."""
    return QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Alias every computed/aggregate column so names match ``oracle_sql``.

    Each verify round checks only the first 50 entries, so the order
    is ranked from the verdict files beside this module (``_ranked``);
    a new CORRECTNESS file rotates the window."""
    return {n: QUERIES[n] for n in _ranked(QUERIES, ORACLE, _verdicts(_HERE))}


def oracle_sql() -> dict[str, str]:
    """For each key in ``queries()``, equivalent ANSI SQL runnable by
    DuckDB on the same parquet tables (pre-registered views: region
    nation customer supplier part orders lineitem events documents
    embeddings). Keys absent here are non-SQL-expressible ops, which
    get a weaker rows-only check."""
    return dict(ORACLE)


def _verdicts(folder: str) -> dict[int, dict[str, dict]]:
    """Round number → that round's verdicts (query name → record), read
    from the ``CORRECTNESS_r<N>.json`` files in ``folder``."""
    out = {}
    for fname in os.listdir(folder):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            with open(os.path.join(folder, fname)) as f:
                out[int(m.group(1))] = json.load(f)
    return out


def _ranked(
    names: Iterable[str], oracle: Mapping[str, str], verdicts: Mapping[int, dict]
) -> list[str]:
    """``names`` in verify-window order, where a fresh verdict is worth
    most: (0) never checked; (1) the newest verdict is not a full hash
    match although ``oracle`` now holds the query's SQL; (2) the rest,
    by the round of the newest verdict, oldest first. The sort is
    stable, so a tier keeps the order of ``names``."""
    newest: dict[str, tuple[int, bool]] = {}
    for rnd in sorted(verdicts):
        for name, v in verdicts[rnd].items():
            newest[name] = (rnd, v.get("hash_match") is True)

    def tier(name: str) -> tuple[int, int]:
        if name not in newest:
            return (0, 0)
        rnd, matched = newest[name]
        return (1, 0) if not matched and name in oracle else (2, rnd)

    return sorted(names, key=tier)

