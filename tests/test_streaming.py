"""Streaming-layer tests (SURVEY.md §5.3): stream/batch enrichment parity
and incremental hourly window parity. Gold parity lives in
``test_streaming_incremental.py``."""

import os

import pytest

from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
from streamlit_projet_spark_streaming_spark.sources.shopping import generate_raw_orders
from streamlit_projet_spark_streaming_spark.streaming import consumer as C

from .oracle_harness import canonical_rows
from .shopping_fixture import raw_df, write_csv_chunks, write_json_chunks

N_ROWS = 3000


@pytest.fixture(scope="module")
def pipeline_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    dirs = {
        "input": str(base / "input"),
        "silver": str(base / "silver"),
        "ckpt_ingest": str(base / "ckpt_ingest"),
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


@pytest.fixture(scope="module")
def drained(spark, pipeline_dirs):
    """Drop fixture files into the input dir and drain the ingest stream."""
    rows = generate_raw_orders(N_ROWS, seed=42)
    write_json_chunks(rows, pipeline_dirs["input"], n_chunks=6)
    q = C.start_ingest(
        spark,
        pipeline_dirs["input"],
        pipeline_dirs["silver"],
        pipeline_dirs["ckpt_ingest"],
        max_files_per_trigger=2,
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive
    return pipeline_dirs


def test_stream_batch_enrichment_parity(spark, drained):
    """Silver rows from the stream == batch enrich() over the same input —
    Structured Streaming's unbounded-table model makes this exact equality."""
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(drained["silver"])
    batch = enrich(raw_df(spark, N_ROWS))
    a = canonical_rows(silver.toPandas())
    b = canonical_rows(batch.toPandas())
    assert a == b


def test_csv_ingest_matches_json_ingest(spark, tmp_path):
    """Source-format coverage: the SAME rows dropped as CSV produce the
    SAME silver table as batch enrichment (and therefore as the JSON
    path, which test_stream_batch_enrichment_parity pins to batch) —
    the pipeline is format-agnostic downstream of the reader."""
    n = 600
    rows = generate_raw_orders(n, seed=42)
    input_dir, silver_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "silver"), str(tmp_path / "ckpt")
    )
    write_csv_chunks(rows, input_dir, n_chunks=3)
    q = C.start_ingest(
        spark, input_dir, silver_dir, ckpt,
        max_files_per_trigger=2, available_now=True, source_format="csv",
    )
    q.awaitTermination(120)
    assert not q.isActive
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(silver_dir)
    batch = enrich(raw_df(spark, n))
    assert canonical_rows(silver.toPandas()) == canonical_rows(batch.toPandas())


def test_ingest_rejects_unknown_format(spark, tmp_path):
    with pytest.raises(ValueError, match="source_format"):
        C.start_ingest(
            spark, str(tmp_path), str(tmp_path), str(tmp_path),
            source_format="xml",
        )


def test_incremental_hourly_window_parity(spark, drained):
    """True incremental windowed agg (watermark) == batch date_trunc agg."""
    silver_stream = spark.readStream.schema(C.enrich_schema(spark)).parquet(
        drained["silver"]
    )
    agg = C.hourly_series_stream(silver_stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_inc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM hourly_inc")
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(drained["silver"])
    expect = C.hourly_series_batch(silver)
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())
