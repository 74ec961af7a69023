"""The parquet schema memo of sources/catalog.py: a read of a file or
directory it has seen infers nothing, and its key changes with the bytes
and with the session's inference settings."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table, read_parquet
from tests.conftest import spark_jobs, write_sf


def test_second_load_of_a_fixture_starts_no_job(spark, tmp_path):
    sf = write_sf(tmp_path, region=spark.range(3).selectExpr("id AS r_regionkey"))
    first, inferring = spark_jobs(spark, lambda: load_table(spark, sf, "region"))
    again, jobs = spark_jobs(spark, lambda: load_table(spark, sf, "region"))
    assert inferring >= 1, "the first load infers the schema"
    assert jobs == 0
    assert again.schema == first.schema
    assert again.count() == 3


def test_read_of_a_committed_version_starts_no_job(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v"))
    df, jobs = spark_jobs(spark, t.read)
    assert jobs == 0
    snap, jobs = spark_jobs(spark, t.snapshot)
    assert jobs == 0
    assert sorted(r.k for r in df.collect()) == list(range(5))
    assert snap.df.schema == df.schema


def test_a_fixture_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    read_parquet(spark, path)
    _, jobs = spark_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    # new size: a new schema, not the memoized one
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = spark_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.columns == ["a", "b"]
    assert df.schema == spark.read.parquet(path).schema
    # the same bytes with a new mtime: re-inferred too
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    df, jobs = spark_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.columns == ["a", "b"]


def test_a_schema_is_never_served_under_another_inference_setting(spark, tmp_path):
    """events' older fixture vintage stores ts as TIMESTAMP(NANOS), which
    infers as long only under nanosAsLong and fails to infer without it.
    A memoized long schema must not hide that failure."""
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["ts"].dataType == T.LongType()
        spark.conf.set(key, "false")
        with pytest.raises(Exception) as plain:
            spark.read.parquet(path)
        with pytest.raises(type(plain.value), match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, before)


def test_a_missing_path_fails_as_a_plain_read_fails(spark, tmp_path):
    path = str(tmp_path / "missing.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(path)
    with pytest.raises(type(plain.value), match="PATH_NOT_FOUND"):
        read_parquet(spark, path)
