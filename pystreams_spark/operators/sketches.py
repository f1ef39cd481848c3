"""Count-min sketch (Cormode & Muthukrishnan 2005, public knowledge):
fixed-size frequency estimation for the 100 TB posture — a (depth x
width) counter matrix answers "how often did key x occur?" with
guaranteed NO undercount and overcount <= e/width * N with probability
>= 1 - e^-depth, regardless of key cardinality.

Spark-first shape: the sketch is linear, so a cell's count is the sum
of the weights of the keys that land in it, and the whole sketch is one
lazy aggregate inside the plan — no driver-side reduce, no broadcast,
no Python worker. The caller aggregates its rows per key first (the
exact counts it reports anyway), each key is exploded over the depth
rows, a cell is ``sum(weight)`` over ``Window.partitionBy(d, pos)``,
and the estimate is the min over d. Cells are the Kirsch–Mitzenmacher
double-hashing family ``(h1 + d·h2) mod width`` in bigint arithmetic,
the expression SQL replays exactly, so every count-min query is
oracle-checked.

The complement to ``skew.heavy_hitters`` (freqItems finds WHICH keys are
hot; the CMS estimates HOW hot any key is without holding per-key state)
— together the pre-shuffle skew toolkit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _count_min_cells(
    keys: DataFrame, weight: str, width: int, depth: int
) -> DataFrame:
    """Every column of ``keys`` (one row per key with its int64 pair
    (h1, h2) and its count ``weight``) once per depth row ``d``, with
    ``pos`` = (h1 + d·h2) mod width and ``cell``, the summed weight of
    the keys sharing (d, pos). With the md5-derived 60-bit pair
    (``queries._cms_md5_pair``) no step overflows (h1 < 2^60,
    d·h2 < 2^62). A key whose pair is NULL has no cell and no row."""
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
    pos = (F.col("h1") + F.col("d") * F.col("h2")) % F.lit(width)
    return (
        keys.select("*", d.alias("d"))
        .withColumn("pos", pos)
        .filter(F.col("pos").isNotNull())
        .withColumn("cell", F.sum(weight).over(Window.partitionBy("d", "pos")))
    )


def count_min_estimates(
    keys: DataFrame, weight: str, width: int = 2048, depth: int = 5
) -> DataFrame:
    """Point query of every key in ``keys`` against the (depth x width)
    count-min sketch of those same keys: the columns of ``keys`` other
    than (h1, h2), plus ``cms_est``, the min over the depth rows of the
    key's cells. Lazy: no Spark job runs until the frame's action.
    Guarantee: ``cms_est`` >= ``weight``, always."""
    cells = _count_min_cells(keys, weight, width, depth)
    cols = [c for c in keys.columns if c not in ("h1", "h2")]
    return cells.groupBy(*cols).agg(F.min("cell").alias("cms_est"))
