"""Readers (S3/S6/S7) round-trips with explicit schemas."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from data_engineering_spark.pipeline.etl import set_nullable_for_columns
from data_engineering_spark.sources.readers import read_csv, read_json_lines, read_with_schema


def test_read_csv_explicit_schema(spark, tmp_path):
    p = str(tmp_path / "counts.csv")
    with open(p, "w") as f:
        f.write("date,hr_emp_center,hr_dty_rcmd_emp\n2024-01-01,100,200\n2024-01-02,110,210\n")
    schema = T.StructType(
        [
            T.StructField("date", T.StringType()),
            T.StructField("hr_emp_center", T.LongType()),
            T.StructField("hr_dty_rcmd_emp", T.LongType()),
        ]
    )
    df = read_csv(spark, p, schema)
    assert df.count() == 2
    assert [f.dataType for f in df.schema.fields][1] == T.LongType()


def test_read_json_lines_gzip(spark, tmp_path):
    import gzip

    p = str(tmp_path / "part.json.gz")
    with gzip.open(p, "wt") as f:
        f.write('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = read_json_lines(spark, p)
    assert df.count() == 2
    assert {r.b for r in df.collect()} == {"x", "y"}


def test_read_with_overridden_schema(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    relaxed = set_nullable_for_columns(base.schema, True)
    df = read_with_schema(spark, f"{sf_dir}/nation.parquet", relaxed)
    assert df.count() == 25
    assert all(f.nullable for f in df.schema.fields)


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.sources.readers import read_orc, write_orc

    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in src.collect()
    )
    # predicate pushdown reaches the ORC scan
    plan = back.filter(back.n_nationkey == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "n_nationkey" in plan


def test_write_serving_index_buckets_bound_file_count(spark, tmp_path):
    """The `buckets` parameter was dead (r11 warehouse review #8): wired
    through a key-hash repartition it must bound the output file count
    and keep every key's rows in one file (single-file point lookup)."""
    import os

    from data_engineering_spark.sources.writers import write_serving_index

    df = spark.createDataFrame(
        [(i % 17, f"doc {i}") for i in range(500)], "k long, body string"
    ).repartition(16)
    out_dir = str(tmp_path / "serving_idx")
    n = write_serving_index(df, out_dir, "k", buckets=4)
    assert n == 500
    parts = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    assert len(parts) <= 4
    # every key confined to one file
    back = spark.read.parquet(out_dir).withColumn(
        "f", __import__("pyspark.sql.functions", fromlist=["F"]).input_file_name()
    )
    per_key = back.groupBy("k").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).countDistinct("f").alias("nf")
    )
    assert per_key.filter("nf > 1").count() == 0


def test_full_overwrite_is_truncate_and_load(spark, tmp_path):
    """r11 warehouse review #9: the two S-rows map to ONE implementation
    (they were byte-identical copies that could diverge)."""
    from data_engineering_spark.sources import writers

    assert writers.full_overwrite.__wrapped__ is writers.truncate_and_load \
        if hasattr(writers.full_overwrite, "__wrapped__") else True
    d = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert writers.full_overwrite(df, d) == 1
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")
    assert writers.full_overwrite(df2, d) == 2  # true overwrite, not append


# ---------------------------------------------------------------------------
# Driver-built lookup frames (session.local_frame): Arrow-built local
# relations must hold exactly the rows and schema of the list-built form.
# ---------------------------------------------------------------------------


@pytest.fixture()
def local_frames(monkeypatch):
    """Record every ``local_frame`` call the given module makes."""
    from data_engineering_spark import session

    calls = []

    def record(spark, rows, schema):
        df = session.local_frame(spark, rows, schema)
        calls.append((list(rows), schema, df))
        return df

    def patch(module):
        monkeypatch.setattr(module, "local_frame", record)
        return calls

    return patch


def _assert_list_built_twins(spark, calls):
    for rows, schema, df in calls:
        want = spark.createDataFrame(rows, schema)
        assert df.schema == want.schema
        assert sorted(map(tuple, df.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        )
        # a local relation: no pickled Python RDD for workers to run
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_txlog_lookup_frames_equal_list_built(spark, tmp_path, local_frames):
    """Partition-value lookups (incl. a NULL partition), deletion-vector
    lookups and the empty scan frame."""
    from data_engineering_spark.sources import txlog

    calls = local_frames(txlog)
    t = txlog.LakeTable(spark, str(tmp_path / "lk"))
    rows = [(d, i, f"t{i}") for d in ("2024-01-01", "2024-01-02", None) for i in range(6)]
    t.create(spark.createDataFrame(rows, "day string, n long, tag string"), partition_by=["day"])
    t.delete_where_dv("n = 3")
    want = sorted((r for r in rows if r[1] != 3), key=repr)
    assert sorted(map(tuple, t.scan().collect()), key=repr) == want
    assert t.scan(filters=[("n", ">", 100)]).count() == 0  # every file pruned
    by_kind = {}
    for rows_, schema, _ in calls:
        by_kind.setdefault(tuple(schema.names), []).extend(rows_)
    assert None in {r[1] for r in by_kind[("__file__", "day")]}  # the NULL partition
    assert by_kind[("__file__", "__pos__")]  # deletion-vector positions
    assert any(not rows_ for rows_, _, _ in calls)  # the empty scan frame
    _assert_list_built_twins(spark, calls)


def test_classify_lookup_frames_equal_list_built(spark, local_frames):
    """Perceptron weight tables (training and scoring) and the operating
    curve, including the empty curve."""
    from pyspark.sql import functions as F

    from data_engineering_spark.operators import classify

    calls = local_frames(classify)
    rows = [(i, f"theorem proof lemma v{i % 3}", 1) for i in range(10)]
    rows += [(i, f"buy cheap pills w{i % 3}", -1) for i in range(10, 20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    w, _ = classify.train_perceptron(docs, F.col("y"), iterations=3, buckets=32)
    scored = classify.classifier_margins(docs, w, buckets=32)
    labels = docs.select("doc_id", "y")
    assert classify.operating_curve(scored, labels, n_bins=4).count() == 3
    assert classify.operating_curve(scored, labels.filter("y = 0"), n_bins=4).count() == 0
    names = [tuple(schema.names) for _, schema, _ in calls]
    assert names.count(("bucket", "wt")) >= 2
    assert names.count(("k", "threshold", "tp", "fp", "fn", "tn")) == 2
    _assert_list_built_twins(spark, calls)


def test_local_frame_rejects_timestamp_values(spark):
    """Arrow reads a naive datetime as UTC, the list path as process-
    local time: timestamp columns with values are refused."""
    from datetime import datetime

    from data_engineering_spark.session import local_frame

    schema = T.StructType([T.StructField("t", T.TimestampType())])
    with pytest.raises(TypeError, match="timestamp"):
        local_frame(spark, [(datetime(2024, 1, 1),)], schema)
    assert local_frame(spark, [], schema).schema == schema
