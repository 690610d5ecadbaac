"""Warehouse catalog: each table's Parquet schema is inferred once per
file set, and any change to the files or to the type-conversion confs
infers it again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineering_spark import catalog
from data_engineering_spark.catalog import TABLES, load_table, table_path


@pytest.fixture(autouse=True)
def _empty_slots():
    catalog._SCHEMA_SLOTS.clear()
    yield
    catalog._SCHEMA_SLOTS.clear()


def test_second_read_runs_no_job_and_equals_plain_read(spark, sf_dir, jobs_of):
    for name in TABLES:
        first, jobs = jobs_of(lambda: load_table(spark, sf_dir, name))
        assert jobs, name  # the footer inference
        again, jobs = jobs_of(lambda: load_table(spark, sf_dir, name))
        assert jobs == [], name
        assert again.schema == first.schema, name
        assert again.sameSemantics(first), name
    plain = spark.read.parquet(table_path(sf_dir, "orders"))
    assert load_table(spark, sf_dir, "orders").sameSemantics(plain)


def test_spark_overwrite_adding_a_column_infers_again(spark, tmp_path, jobs_of):
    d = str(tmp_path)
    spark.range(5).select("id", F.lit("a").alias("v")).write.parquet(table_path(d, "t"))
    assert load_table(spark, d, "t").columns == ["id", "v"]
    spark.range(5).select("id", F.lit("b").alias("v"), F.lit(1).alias("w")).write.mode(
        "overwrite"
    ).parquet(table_path(d, "t"))
    df, jobs = jobs_of(lambda: load_table(spark, d, "t"))
    assert jobs
    assert df.columns == ["id", "v", "w"]
    assert {r.w for r in df.collect()} == {1}


def test_outside_rewrite_infers_again(spark, tmp_path):
    d = str(tmp_path)
    path = table_path(d, "t")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    assert load_table(spark, d, "t").columns == ["id"]
    pq.write_table(pa.table({"id": [1, 2], "extra": ["x", "y"]}), path)
    df = load_table(spark, d, "t")
    assert df.columns == ["id", "extra"]
    assert sorted(r.extra for r in df.collect()) == ["x", "y"]


def test_flipping_nanos_as_long_on_events_infers_again(spark, tmp_path):
    """Nanosecond ``events.ts`` reads as LongType only under
    ``nanosAsLong``; with it off Spark rejects the type at inference.
    A read after the flip must infer (and fail) rather than reuse the
    slot's LongType schema."""
    d = str(tmp_path)
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1], "ts": ts}), table_path(d, "events"))
    events = load_table(spark, d, "events")
    assert events.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_123_456
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        with pytest.raises(Exception, match="(?i)illegal parquet type|PARQUET_TYPE_ILLEGAL"):
            catalog._read_parquet(spark, table_path(d, "events"))
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    assert load_table(spark, d, "events").schema == events.schema


def test_hive_partitioned_table_keeps_its_partition_column(spark, tmp_path, jobs_of):
    d = str(tmp_path)
    spark.range(6).select("id", (F.col("id") % 3).alias("p")).write.partitionBy("p").parquet(
        table_path(d, "t")
    )
    first = load_table(spark, d, "t")
    again, jobs = jobs_of(lambda: load_table(spark, d, "t"))
    assert jobs == []
    assert again.schema == first.schema and again.columns == ["id", "p"]
    plain = spark.read.parquet(table_path(d, "t"))
    assert again.sameSemantics(plain)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, plain.collect()))
    # the partition value type follows the session's inference conf
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            got = load_table(spark, d, "t")
            assert got.schema == spark.read.parquet(table_path(d, "t")).schema, flag
    finally:
        spark.conf.set(key, prev)


def test_only_local_paths_take_a_slot(spark, tmp_path):
    for uri in ("s3a://bucket/t.parquet", "hdfs://namenode/t.parquet", "gs://b/t.parquet"):
        assert catalog._fingerprint(spark, uri) is None, uri
    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"id": [1]}), path)
    uri = "file://" + os.path.abspath(path)
    catalog._read_parquet(spark, uri)
    assert set(catalog._SCHEMA_SLOTS) == {uri}
