"""The three functions behind every preference view (``bigquery_views.sql:1-128``).

The four reference views share one shape: bucket a key, compute per-key
stats, rank each key's items by count, keep the top 1 or top 3. The
fixture views (``views.py``), the shopping views (``shopping_views.py``)
and the incremental gold cube (``streaming/incremental.py``) are all calls
to these three functions. :func:`item_stats` is the ONE aggregation over
the fact rows (or a re-sum of the cube's stats); :func:`stats_top_k`
derives both view branches from it with window functions, so the fact
table is read once and the reference's stats⋈top join disappears.

``measures``: :func:`item_stats` takes ``{sum: source column}`` and emits
``sum`` plus its non-null count ``n_<sum>`` (AVG ignores NULLs); the
other two take ``{average: sum}``. Every average is ``ratio_round`` over
the cents-rounded sum, the formula the oracles mirror
(``numeric.stable_avg_sql``). Ranks break count ties by item ascending
(SURVEY.md §5 rule 1).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.numeric import cents, ratio_round
from ..operators.relational import ordered_array_agg

#: The gold preference views, in dashboard-tab order.
GOLD_VIEWS = (
    "v_age_preferences",
    "v_gender_preferences",
    "v_location_preferences",
    "v_age_gender_category",
)


def _avg(amt: Column, n: Column) -> Column:
    # round the sum to the cents grid, then divide in exact integer space:
    # cross-engine float summation-order differences vanish there
    return ratio_round(cents(amt), n * 100, 4)


def item_stats(df: DataFrame, keys: Sequence[str], measures: Mapping[str, str]) -> DataFrame:
    """Per-``keys`` ``cnt`` plus, for each ``{sum: column}`` in
    ``measures``, ``sum`` and its non-null count ``n_<sum>``. A frame
    that already has ``cnt`` (the streaming cube) is re-summed instead."""
    if "cnt" in df.columns:
        aggs = [F.sum(c).alias(c) for c in ("cnt", *measures, *(f"n_{m}" for m in measures))]
    else:
        aggs = [F.count(F.lit(1)).alias("cnt")]
        aggs += [F.sum(col).alias(m) for m, col in measures.items()]
        aggs += [F.count(col).alias(f"n_{m}") for m, col in measures.items()]
    return df.groupBy(*keys).agg(*aggs)


def stats_top_k(
    parts: DataFrame, key: str, item: str, measures: Mapping[str, str], k: int, top_name: str
) -> DataFrame:
    """Per-``key`` ``orders`` and ``{average: sum}`` averages, plus the
    ``k`` items with the highest ``cnt`` (ties by ``item`` ascending):
    a scalar ``top_name`` for ``k == 1``, else an ordered array."""
    key_w = Window.partitionBy(key)
    out = parts.withColumn("orders", F.sum("cnt").over(key_w))
    for avg, m in measures.items():
        out = out.withColumn(avg, _avg(F.sum(m).over(key_w), F.sum(f"n_{m}").over(key_w)))
    rank_w = key_w.orderBy(F.desc("cnt"), F.asc(item))
    out = out.withColumn("rn", F.row_number().over(rank_w)).filter(F.col("rn") <= k)
    stats = [key, "orders", *measures]
    if k == 1:
        out = out.select(*stats, F.col(item).alias(top_name))
    else:
        out = out.groupBy(*stats).agg(
            ordered_array_agg(F.col("cnt"), F.col(item), ascending=False).alias(top_name)
        )
    return out.orderBy(key)


def group_stats(parts: DataFrame, keys: Sequence[str], measures: Mapping[str, str]) -> DataFrame:
    """``item_stats`` over ``keys`` as ``orders`` plus ``{average: sum}``
    averages, ordered by ``keys``."""
    avgs = [_avg(F.col(m), F.col(f"n_{m}")).alias(avg) for avg, m in measures.items()]
    return parts.select(*keys, F.col("cnt").alias("orders"), *avgs).orderBy(*keys)
