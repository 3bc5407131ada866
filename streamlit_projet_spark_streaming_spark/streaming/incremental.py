"""Incremental gold maintenance: a streaming super-aggregate from which
every preference view derives (SURVEY.md §7 Phase 2) — the gold path.

Re-reading all of silver per micro-batch is correct (view semantics are
full-table) but O(|silver|) every 15 s, which stops scaling once silver
is fact-sized. The four preference views, however, are all
re-aggregations of ONE additive statistic: per-(age_bucket, gender,
location, category) count / sum(spend) / sum(rating). That statistic is
incrementally maintainable from an append-only stream by a standard
streaming aggregation — per batch, Spark updates only the touched groups'
state — and its full cardinality is bounded by the dimension domains
(6×2×50×8 ≈ 5k rows), so each batch can emit the complete snapshot and
derive all four views from it for pennies.

  silver stream → groupBy(4 dims) count/sum  [incremental state, update-
    only-touched-keys; complete-mode emit of the ~5k-row cube]
  → foreachBatch: publish the cube snapshot + re-derive the 4 views
    (window ranks over the cube — dimension-sized work)

The cube and the batch views are the same aggregation built by the same
functions (``plans/preferences.py``), which is the stream/batch parity
argument. Every gold table is published by ``sinks.publish_table``: a
staged write swapped in by rename, so a failed batch never empties a
table the dashboard reads.

Late data: silver is append-only with ingest timestamps, so every row is
new by construction — no watermark needed for the cube (the hourly series
keeps its watermarked tumbling window, ``consumer.hourly_series_stream``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.preferences import item_stats
from ..plans.shopping_views import MEASURES, age_bucket_col, views_from_cube
from ..sinks.writer import publish_table

#: The additive super-aggregate every preference view re-derives from.
CUBE_KEYS = ("age_bucket", "gender", "location", "category")


def super_aggregate(silver: DataFrame) -> DataFrame:
    """Per-(age_bucket, gender, location, category) additive stats —
    works identically on a batch frame or a stream (same code path is the
    stream/batch parity argument)."""
    return item_stats(silver.withColumn("age_bucket", age_bucket_col()), CUBE_KEYS, MEASURES)


def _start(
    agg: DataFrame,
    emit: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
    processing_time: str,
) -> StreamingQuery:
    """Start a gold query: ``emit`` publishes each complete-mode
    micro-batch of ``agg`` (the full aggregate state)."""
    writer = (
        agg.writeStream.foreachBatch(emit)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def start_incremental_gold(
    spark: SparkSession,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str = "15 seconds",
) -> StreamingQuery:
    """Incrementally maintain the cube + views from the silver stream.

    complete-mode emit is the full ~5k-row cube each batch (Spark's agg
    state updates only the keys the batch touched); foreachBatch publishes
    the snapshot and the views re-derived from it."""
    from .consumer import enrich_schema

    silver_stream = spark.readStream.schema(enrich_schema(spark)).parquet(silver_dir)
    cube_stream = super_aggregate(silver_stream)

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        cube = batch_df.persist()
        try:
            publish_table(cube, os.path.join(gold_dir, "cube"))
            for name, df in views_from_cube(cube).items():
                publish_table(df, os.path.join(gold_dir, name))
        finally:
            cube.unpersist()

    return _start(cube_stream, _emit, checkpoint_dir, available_now, processing_time)


def start_incremental_hourly(
    spark: SparkSession,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str = "15 seconds",
) -> StreamingQuery:
    """Incrementally maintain the hourly gold series: the tumbling-window
    aggregation (``consumer.hourly_series_stream``) keeps per-hour running
    state — each batch UPDATES only the windows it touches — and
    foreachBatch snapshots the full series for the polling serving layer.

    State-retention note: in ``complete`` output mode Structured Streaming
    does NOT evict window state past the watermark (the watermark only
    governs late-row admission in append/update modes), so state holds one
    row per distinct hour ever seen. That is the point here — the gold
    table IS the all-hours series, and a year of hours is ~8.8k tiny rows —
    but it means the "bounded state" guarantee is "one row per hour", not
    "only open windows", and the table equals ``hourly_series_batch`` over
    all of silver. Companion to ``start_incremental_gold`` (a streaming
    query supports one aggregation, so the cube and the time series are
    separate queries over the same silver source)."""
    from .consumer import enrich_schema, hourly_series_stream

    silver_stream = spark.readStream.schema(enrich_schema(spark)).parquet(silver_dir)
    hourly = hourly_series_stream(silver_stream)

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        publish_table(batch_df, os.path.join(gold_dir, "hourly_series"))

    return _start(hourly, _emit, checkpoint_dir, available_now, processing_time)

