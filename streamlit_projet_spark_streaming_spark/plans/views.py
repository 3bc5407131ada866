"""The reference's four analytical views (SURVEY.md §2.J), fixture-mapped.

Reference views live at ``/root/reference/bigquery_views.sql``:

1. ``v_age_preferences``      (:2-43)  — age-bucket stats ∥ top-1 category → LEFT JOIN
2. ``v_gender_preferences``   (:46-72) — same shape keyed on raw gender
3. ``v_location_preferences`` (:75-100)— location stats ∥ top-3 categories → ordered ARRAY_AGG
4. ``v_age_gender_category``  (:103-126)— three-key GROUP BY counts+avgs

The fixtures are TPC-H-ish (TESTDATA.md), so the column mapping is
(FIXTURES.md §A): age→``o_totalprice`` buckets, gender→``o_orderstatus``,
category→``o_orderpriority``, location→``c_mktsegment`` (via the
customer⋈orders join), spend→``o_totalprice``.

Determinism (SURVEY.md §5 rule 1): every ROW_NUMBER order adds the group
value as a tie-breaker — BigQuery's QUALIFY left ties undefined
(``bigquery_views.sql:34,63,91``); our engine and the DuckDB oracle agree.

Scale notes per view are in the builder docstrings; the common shape is
aggregate-then-rank (window over group aggregates, never raw rows) and
broadcast-joining the tiny aggregate branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import bucketize
from .preferences import group_stats, item_stats, stats_top_k

#: Six price buckets standing in for the reference's six age buckets
#: (``bigquery_views.sql:5-12``). Upper-bound-exclusive edges + overflow.
PRICE_BUCKET_EDGES = (50_000.0, 100_000.0, 200_000.0, 300_000.0, 400_000.0)
PRICE_BUCKET_LABELS = ("<50k", "50-100k", "100-200k", "200-300k", "300-400k", "400k+")

#: The same bucketing as a SQL CASE fragment, reused by the DuckDB oracles.
PRICE_BUCKET_SQL = (
    "CASE WHEN o_totalprice < 50000 THEN '<50k' "
    "WHEN o_totalprice < 100000 THEN '50-100k' "
    "WHEN o_totalprice < 200000 THEN '100-200k' "
    "WHEN o_totalprice < 300000 THEN '200-300k' "
    "WHEN o_totalprice < 400000 THEN '300-400k' "
    "ELSE '400k+' END"
)


#: The one measure every fixture view averages, and its average's name.
_PRICE = {"amt": "o_totalprice"}
_AVG_PRICE = {"avg_price": "amt"}


def price_bucket_col() -> F.Column:
    return bucketize(F.col("o_totalprice"), PRICE_BUCKET_EDGES, PRICE_BUCKET_LABELS)


def v_price_bucket_preferences(orders: DataFrame) -> DataFrame:
    """View 1 analog (flagship): ``v_age_preferences``, ``bigquery_views.sql:2-43``.

    bucket → (stats branch: COUNT/AVG) ∥ (top branch: per-(bucket,priority)
    COUNT → ROW_NUMBER top-1) → LEFT JOIN on bucket.

    Scale: ONE aggregation over the fact scan — per-(bucket, priority)
    count+sum — then BOTH branches (global stats, top-1 ranking) come from
    window functions over that ≤(6×5)-row intermediate, in one pass with
    no join at all. The reference computes the branches as separate scans
    of ``orders`` joined back together (bigquery_views.sql:19-43); here
    the 100 TB fact table is read and shuffled exactly once and
    everything downstream is dimension-sized. (A two-branch self-join of
    the intermediate would also rescan the fact: per-branch column
    pruning makes the subplans non-identical, defeating ReuseExchange.)
    """
    bucketed = orders.withColumn("price_bucket", price_bucket_col())
    parts = item_stats(bucketed, ("price_bucket", "o_orderpriority"), _PRICE)
    return stats_top_k(parts, "price_bucket", "o_orderpriority", _AVG_PRICE, 1, "top_priority")


def v_status_preferences(orders: DataFrame) -> DataFrame:
    """View 2 analog: ``v_gender_preferences``, ``bigquery_views.sql:46-72``.

    Same shape as view 1 keyed on the raw ``o_orderstatus`` column —
    single fact aggregation, both branches via windows, no join.
    """
    parts = item_stats(orders, ("o_orderstatus", "o_orderpriority"), _PRICE)
    return stats_top_k(parts, "o_orderstatus", "o_orderpriority", _AVG_PRICE, 1, "top_priority")


def v_segment_preferences(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """View 3 analog: ``v_location_preferences``, ``bigquery_views.sql:75-100``.

    Per-segment stats ∥ top-3 priorities (ROW_NUMBER ≤ 3,
    ``bigquery_views.sql:91``) → LEFT JOIN → re-GROUP BY folding matches
    into an ordered array (``ARRAY_AGG … ORDER BY category_count DESC``,
    ``bigquery_views.sql:97``; here count desc, priority asc tie-break).

    Scale: ``customer`` is a dimension → explicit broadcast, so the
    orders→segment attachment never shuffles the fact table; ONE
    aggregation over the joined scan — per-(segment, priority) count+sum —
    and both branches (stats, top-3) re-derive from that ≤(5×5)-row
    intermediate, so the fact table is read once.
    """
    seg_orders = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
        "inner",
    ).select("c_mktsegment", "o_totalprice", "o_orderpriority")
    parts = item_stats(seg_orders, ("c_mktsegment", "o_orderpriority"), _PRICE)
    return stats_top_k(
        parts, "c_mktsegment", "o_orderpriority", {"avg_spend": "amt"}, 3, "top_priorities"
    )


def v_bucket_status_priority(orders: DataFrame) -> DataFrame:
    """View 4 analog: ``v_age_gender_category``, ``bigquery_views.sql:103-126``.

    Three-key GROUP BY (bucket × status × priority) with COUNT + AVG —
    a single partial→final hash aggregation; the CASE bucketer pipelines
    into the scan stage (no extra pass).
    """
    keys = ("price_bucket", "o_orderstatus", "o_orderpriority")
    bucketed = orders.withColumn("price_bucket", price_bucket_col())
    return group_stats(item_stats(bucketed, keys, _PRICE), keys, _AVG_PRICE)
