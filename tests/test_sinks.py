"""Partitioned gold-writer sink: layout, pruning, sorting, packing.

The write IS the downstream plan: these tests assert the physical
properties the writers promise — directory-per-partition-value, partition
filters pruning before file open, within-file sort order for row-group
stats, file-count bounds, and shard layout a sequential consumer can
stream.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.sinks import (
    publish_table,
    write_packed_shards,
    write_partitioned,
)
from streamlit_projet_spark_streaming_spark.sinks.writer import read_gold
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_SMOKE


@pytest.fixture()
def docs(spark):
    return load_table(spark, "documents", SF_SMOKE)


def test_write_partitioned_layout_and_parity(spark, docs, tmp_path):
    """Round-trip parity + hive directory-per-value layout."""
    path = str(tmp_path / "gold")
    write_partitioned(docs, path, ["lang"], sort_cols=["doc_id"])
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert dirs == {f"lang={l}" for l in langs}
    back = read_gold(spark, path)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)


def test_partition_filter_prunes_directories(spark, docs, tmp_path):
    """A filter on the partition column must prune at the DIRECTORY
    level: PartitionFilters in the scan, inputFiles shrink to the one
    partition, and no data filter remains for the partition column."""
    path = str(tmp_path / "gold")
    write_partitioned(docs, path, ["lang"])
    back = read_gold(spark, path)
    one = back.filter(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters:")[1]
    # inputFiles() lists the whole relation; the EXECUTED read must only
    # touch the lang=en directory
    files = {
        r["f"] for r in one.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert files and all("lang=en" in f for f in files)
    assert one.count() == docs.filter(F.col("lang") == "en").count()


def test_sorted_within_files(spark, docs, tmp_path):
    """sort_cols order must hold WITHIN each written file (the property
    that makes parquet row-group min/max stats selective)."""
    path = str(tmp_path / "gold")
    write_partitioned(docs, path, ["lang"], sort_cols=["n_chars"])
    back = read_gold(spark, path).withColumn("f", F.input_file_name())
    rows = back.select("f", "n_chars").collect()
    by_file: dict[str, list[int]] = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append(r["n_chars"])
    assert by_file
    for vals in by_file.values():
        assert vals == sorted(vals)


def test_max_records_per_file(spark, docs, tmp_path):
    """maxRecordsPerFile bounds every written file."""
    path = str(tmp_path / "gold")
    write_partitioned(docs, path, ["lang"], max_records_per_file=50)
    back = read_gold(spark, path).withColumn("f", F.input_file_name())
    counts = back.groupBy("f").count().collect()
    assert counts and all(r["count"] <= 50 for r in counts)


def test_spread_splits_hot_partition(spark, docs, tmp_path):
    """spread > 1 writes a hot partition value with multiple files (the
    write-side salt), without changing the row contents."""
    path = str(tmp_path / "gold")
    write_partitioned(docs, path, ["lang"], spread=4)
    back = read_gold(spark, path).withColumn("f", F.input_file_name())
    per_part = (
        back.groupBy("lang")
        .agg(F.countDistinct("f").alias("nf"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    biggest = max(per_part, key=lambda r: r["n"])
    assert biggest["nf"] >= 2
    assert read_gold(spark, path).count() == docs.count()


def test_packed_shards_layout(spark, docs, tmp_path):
    """Shard export: bucket directories, every doc present exactly once,
    and rows laid out in (pack_ix, doc_id) order within each file so a
    sequential reader streams packs contiguously."""
    path = str(tmp_path / "shards")
    with_tokens = docs.withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    write_packed_shards(
        with_tokens, path, "n_tokens", budget=256, n_buckets=8
    )
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    assert {d for d in os.listdir(path) if d.startswith("bucket=")}
    rows = (
        back.withColumn("f", F.input_file_name())
        .select("f", "pack_ix", "doc_id")
        .collect()
    )
    by_file: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append((r["pack_ix"], r["doc_id"]))
    for vals in by_file.values():
        assert vals == sorted(vals)


def test_publish_table_keeps_previous_table_when_write_fails(spark, tmp_path):
    """A gold publish whose job fails must leave the previous table
    readable: ``mode("overwrite")`` straight onto the target would have
    deleted it before the job ran."""
    gold = tmp_path / "gold"
    path = str(gold / "v_age_gender_category")
    good = spark.createDataFrame([("18-24", 3), ("25-34", 5)], "age_bucket string, orders long")
    publish_table(good, path)
    failing = good.withColumn(
        "orders",
        F.when(F.col("orders") > 0, F.raise_error(F.lit("boom"))).otherwise(F.col("orders")),
    )
    with pytest.raises(Exception, match="boom"):
        publish_table(failing, path)
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == [("18-24", 3), ("25-34", 5)]
    assert os.listdir(gold) == ["v_age_gender_category"]  # no staging dir left

    publish_table(good.filter("orders > 4"), path)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [("25-34", 5)]
    assert os.listdir(gold) == ["v_age_gender_category"]
