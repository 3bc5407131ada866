"""Incremental gold maintenance parity: the cube-derived views after the
stream drains must equal the batch view computations over silver."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV
from streamlit_projet_spark_streaming_spark.sources.shopping import generate_raw_orders
from streamlit_projet_spark_streaming_spark.streaming import consumer as C
from streamlit_projet_spark_streaming_spark.streaming import incremental as I

from .oracle_harness import canonical_rows
from .shopping_fixture import write_json_chunks

N_ROWS = 3000


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("inc")
    d = {k: str(base / k) for k in ("input", "silver", "ckpt_i", "gold", "ckpt_g")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    rows = generate_raw_orders(N_ROWS, seed=7)
    write_json_chunks(rows, d["input"], n_chunks=5)
    q = C.start_ingest(
        spark, d["input"], d["silver"], d["ckpt_i"], max_files_per_trigger=2,
        available_now=True,
    )
    q.awaitTermination(120)
    q2 = I.start_incremental_gold(
        spark, d["silver"], d["gold"], d["ckpt_g"], available_now=True
    )
    q2.awaitTermination(120)
    assert not q2.isActive
    return d


def test_cube_matches_batch_super_aggregate(spark, dirs):
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(dirs["silver"])
    cube = spark.read.parquet(os.path.join(dirs["gold"], "cube"))
    expect = I.super_aggregate(silver)
    got = cube.select(*I.CUBE_KEYS, "cnt", F.round("amt", 2).alias("amt"),
                      F.round("rat", 2).alias("rat"))
    exp = expect.select(*I.CUBE_KEYS, "cnt", F.round("amt", 2).alias("amt"),
                        F.round("rat", 2).alias("rat"))
    assert canonical_rows(got.toPandas()) == canonical_rows(exp.toPandas())


def test_incremental_views_match_batch_views(spark, dirs):
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(dirs["silver"])
    expect = {
        "v_age_preferences": SV.v_age_preferences(silver),
        "v_gender_preferences": SV.v_gender_preferences(silver),
        "v_location_preferences": SV.v_location_preferences(silver),
        "v_age_gender_category": SV.v_age_gender_category(silver),
    }
    for name, edf in expect.items():
        gold = spark.read.parquet(os.path.join(dirs["gold"], name))
        assert canonical_rows(gold.toPandas()) == canonical_rows(edf.toPandas()), name


def test_incremental_hourly_matches_batch(spark, dirs, tmp_path):
    """Incrementally maintained hourly series == batch date_trunc agg,
    after each of two availableNow runs that resume from one checkpoint.
    Silver grows between the runs, so the second run must fold only the
    new files into the aggregate state the first run left behind."""
    files = sorted(glob.glob(os.path.join(dirs["silver"], "*.parquet")))
    assert len(files) >= 2, "fixture must produce a multi-file silver table"
    silver_dir, gold_dir, ckpt = (str(tmp_path / k) for k in ("silver", "gold", "ckpt"))
    os.makedirs(silver_dir)
    schema = C.enrich_schema(spark)
    half = len(files) // 2
    for run, new_files in enumerate((files[:half], files[half:])):
        for f in new_files:
            shutil.copy(f, silver_dir)
        q = I.start_incremental_hourly(
            spark, silver_dir, gold_dir, ckpt, available_now=True
        )
        q.awaitTermination(120)
        assert not q.isActive
        read = sum(p["numInputRows"] for p in q.recentProgress)
        assert read == spark.read.schema(schema).parquet(*new_files).count(), run
        got = spark.read.parquet(os.path.join(gold_dir, "hourly_series"))
        expect = C.hourly_series_batch(spark.read.schema(schema).parquet(silver_dir))
        assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas()), run
