"""The four reference views on the TRUE shopping ``orders`` schema —
byte-level semantic parity with ``/root/reference/bigquery_views.sql``
(modulo the documented deterministic tie-breakers).

``plans/views.py`` holds the fixture-mapped analogs the driver oracles run
against; THIS module is the faithful reconstruction used by the streaming
gold layer and the shopping-fixture parity tests (FIXTURES.md §B).

Environment parameterization note (SURVEY.md §2.J): the reference ships two
byte-identical SQL files differing only in dataset (``bigquery_views.sql``
prod vs ``bigquery_views_dev.sql`` dev). Here a view is a function of a
DataFrame — one definition, any environment — which IS the
parameterization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.numeric import stable_avg_sql
from ..operators.relational import bucketize
from .preferences import GOLD_VIEWS, group_stats, item_stats, stats_top_k

#: Age buckets exactly per ``bigquery_views.sql:5-12``: <25 → '18-24',
#: BETWEEN 25 AND 34 → '25-34', …, BETWEEN 55 AND 64 → '55-64', ELSE '65+'.
AGE_EDGES = (25, 35, 45, 55, 65)
AGE_LABELS = ("18-24", "25-34", "35-44", "45-54", "55-64", "65+")


def age_bucket_col() -> F.Column:
    return bucketize(F.col("age"), AGE_EDGES, AGE_LABELS)


#: Measure sums the shopping views average — the streaming cube
#: (``streaming.incremental.super_aggregate``) stores exactly these.
MEASURES = {"amt": "purchase_amount_usd", "rat": "review_rating"}
_SPEND = {"amt": MEASURES["amt"]}


def _bucketed(orders: DataFrame) -> DataFrame:
    return orders.withColumn("age_bucket", age_bucket_col())


def _stats_top1(rows: DataFrame, key: str) -> DataFrame:
    """Shared shape of views 1-2: per-key stats branch LEFT JOIN top-1
    category branch (``bigquery_views.sql:20-43`` and ``:49-72``)."""
    parts = item_stats(rows, (key, "category"), MEASURES)
    return stats_top_k(
        parts, key, "category", {"avg_spend": "amt", "avg_rating": "rat"}, 1, "top_category"
    )


def _top3_locations(rows: DataFrame) -> DataFrame:
    parts = item_stats(rows, ("location", "category"), _SPEND)
    return stats_top_k(parts, "location", "category", {"avg_spend": "amt"}, 3, "top_categories")


def _age_gender_category(rows: DataFrame) -> DataFrame:
    keys = ("age_bucket", "gender", "category")
    return group_stats(item_stats(rows, keys, _SPEND), keys, {"avg_spend": "amt"})


def v_age_preferences(orders: DataFrame) -> DataFrame:
    """``v_age_preferences`` (``bigquery_views.sql:2-43``): age CASE bucket →
    COUNT/AVG(spend)/AVG(rating) ∥ top-1 category per bucket → LEFT JOIN.
    Output: age_bucket, orders, avg_spend, avg_rating, top_category
    (``:36-41``)."""
    return _stats_top1(_bucketed(orders), "age_bucket")


def v_gender_preferences(orders: DataFrame) -> DataFrame:
    """``v_gender_preferences`` (``bigquery_views.sql:46-72``): same shape
    keyed on raw ``gender`` (``:54``). Output ``:65-70``."""
    return _stats_top1(orders, "gender")


def v_location_preferences(orders: DataFrame) -> DataFrame:
    """``v_location_preferences`` (``bigquery_views.sql:75-100``):
    per-location COUNT/AVG ∥ top-3 categories (ROW_NUMBER ≤ 3, ``:91``) →
    LEFT JOIN → re-GROUP BY with ordered ARRAY_AGG (``:97``, count desc +
    category asc tie-break). Output: location, orders, avg_spend,
    top_categories ARRAY<STRING> (``:93-97``)."""
    return _top3_locations(orders)


def v_age_gender_category(orders: DataFrame) -> DataFrame:
    """``v_age_gender_category`` (``bigquery_views.sql:103-126``): age CASE
    bucket → three-key GROUP BY (bucket, gender, category) with COUNT + AVG
    (``:119-126``)."""
    return _age_gender_category(_bucketed(orders))


def views_from_cube(cube: DataFrame) -> dict[str, DataFrame]:
    """All four views re-derived from the streaming cube
    (``streaming.incremental.super_aggregate``) by the same functions:
    :func:`item_stats` re-sums the cube's stats, so this is
    dimension-sized work with no silver scan."""
    views = (
        _stats_top1(cube, "age_bucket"),
        _stats_top1(cube, "gender"),
        _top3_locations(cube),
        _age_gender_category(cube),
    )
    return dict(zip(GOLD_VIEWS, views))


#: SQL twins for the shopping-fixture parity tests (DuckDB dialect).
AGE_BUCKET_SQL = (
    "CASE WHEN age < 25 THEN '18-24' WHEN age < 35 THEN '25-34' "
    "WHEN age < 45 THEN '35-44' WHEN age < 55 THEN '45-54' "
    "WHEN age < 65 THEN '55-64' ELSE '65+' END"
)


def oracle_sql_shopping(table: str = "shopping_orders") -> dict[str, str]:
    """DuckDB oracle SQL for the four shopping views (pytest parity gate)."""

    def stats_top1(key_expr: str, key_alias: str) -> str:
        return f"""
        WITH base AS (
          SELECT {key_expr} AS k, purchase_amount_usd, review_rating, category
          FROM {table}
        ), stats AS (
          SELECT k, COUNT(*) AS orders,
                 {stable_avg_sql("purchase_amount_usd")} AS avg_spend,
                 {stable_avg_sql("review_rating")} AS avg_rating
          FROM base GROUP BY k
        ), counts AS (
          SELECT k, category, COUNT(*) AS cnt FROM base GROUP BY k, category
        ), top AS (
          SELECT k, category AS top_category
          FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY k ORDER BY cnt DESC, category ASC) AS rn
                FROM counts)
          WHERE rn = 1
        )
        SELECT s.k AS {key_alias}, s.orders, s.avg_spend, s.avg_rating,
               t.top_category
        FROM stats s LEFT JOIN top t ON s.k = t.k
        """

    return {
        "v_age_preferences": stats_top1(AGE_BUCKET_SQL, "age_bucket"),
        "v_gender_preferences": stats_top1("gender", "gender"),
        "v_location_preferences": f"""
        WITH stats AS (
          SELECT location, COUNT(*) AS orders,
                 {stable_avg_sql("purchase_amount_usd")} AS avg_spend
          FROM {table} GROUP BY location
        ), counts AS (
          SELECT location, category, COUNT(*) AS cnt
          FROM {table} GROUP BY location, category
        ), top3 AS (
          SELECT location, category, cnt
          FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY location ORDER BY cnt DESC, category ASC) AS rn
                FROM counts)
          WHERE rn <= 3
        )
        SELECT s.location, s.orders, s.avg_spend,
               list(t.category ORDER BY t.cnt DESC, t.category ASC)
                 AS top_categories
        FROM stats s LEFT JOIN top3 t ON s.location = t.location
        GROUP BY s.location, s.orders, s.avg_spend
        """,
        "v_age_gender_category": f"""
        SELECT {AGE_BUCKET_SQL} AS age_bucket, gender, category,
               COUNT(*) AS orders,
               {stable_avg_sql("purchase_amount_usd")} AS avg_spend
        FROM {table}
        GROUP BY 1, 2, 3
        """,
    }
