"""Phase-2 job layer: SQL-file ETL, audit log, writers, validation gates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.catalog import register_views
from data_engineering_spark.pipeline.etl import (
    AUDIT_SCHEMA,
    count_reconciliation_gate,
    run_sql_etl,
    schema_match,
    set_nullable_for_columns,
)
from data_engineering_spark.sources.writers import (
    partition_overwrite,
    retention_prune,
    truncate_and_load,
    write_unload,
)


def test_run_sql_etl_truncate(spark, sf_dir, tmp_path):
    register_views(spark, sf_dir)
    target = str(tmp_path / "t1_orders_summary")
    audit = str(tmp_path / "audit")
    # reference-dialect SQL (to_char + nvl + listagg) straight through the shim
    rec = run_sql_etl(
        spark,
        """select o_custkey, listagg(distinct o_orderstatus, ',') as statuses,
                  to_char(max(o_orderdate), 'YYYYMMDD') as last_dt
           from orders group by o_custkey;""",
        target,
        job_nm="t1_orders_summary",
        bat_dt="20240101",
        audit_dir=audit,
    )
    assert rec.success_yn == "Y"
    assert rec.cretn_cnt > 0
    out = spark.read.parquet(target)
    assert set(out.columns) == {"o_custkey", "statuses", "last_dt"}
    audit_df = spark.read.parquet(audit)
    assert audit_df.schema == AUDIT_SCHEMA
    assert audit_df.count() == 1
    # idempotent re-run: truncate semantics → same count, audit appends
    rec2 = run_sql_etl(spark, "select * from nation", target, audit_dir=audit)
    assert rec2.cretn_cnt == 25
    assert spark.read.parquet(audit).count() == 2


def test_run_sql_etl_error_is_audited(spark, tmp_path):
    rec = run_sql_etl(spark, "select * from no_such_table", str(tmp_path / "x"))
    assert rec.success_yn == "N"
    assert rec.error_msg
    assert rec.cretn_cnt == 0


def test_partition_overwrite_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / "backup")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d1 = orders.limit(100).withColumn("bkup_dt", F.lit("20240101"))
    d2 = orders.limit(50).withColumn("bkup_dt", F.lit("20240102"))
    partition_overwrite(d1, target, "bkup_dt")
    partition_overwrite(d2, target, "bkup_dt")
    assert spark.read.parquet(target).count() == 150
    # re-run day 2 with fewer rows → replaces ONLY that partition
    d2b = orders.limit(10).withColumn("bkup_dt", F.lit("20240102"))
    partition_overwrite(d2b, target, "bkup_dt")
    got = dict(
        spark.read.parquet(target).groupBy("bkup_dt").count().rdd.map(tuple).collect()
    )
    assert got == {"20240101": 100, "20240102": 10}


def test_retention_prune(spark, sf_dir, tmp_path):
    target = str(tmp_path / "retained")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(30)
    for d in ("20231229", "20231230", "20240102"):
        partition_overwrite(orders.withColumn("bkup_dt", F.lit(d)), target, "bkup_dt")
    dropped = retention_prune(spark, target, "bkup_dt", cutoff="20240101")
    assert dropped == ["20231229", "20231230"]
    remaining = [r.bkup_dt for r in spark.read.parquet(target).select("bkup_dt").distinct().collect()]
    assert remaining == ["20240102"]


def test_write_unload_single_gzip_json(spark, sf_dir, tmp_path):
    path = str(tmp_path / "unload")
    write_unload(spark.read.parquet(f"{sf_dir}/nation.parquet"), path)
    files = [f for f in os.listdir(path) if f.endswith(".json.gz")]
    assert len(files) == 1  # parallel OFF → exactly one gzip part
    assert spark.read.json(path).count() == 25  # codec round-trip


def test_schema_tools(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    relaxed = set_nullable_for_columns(nation.schema, True)
    assert all(f.nullable for f in relaxed.fields)
    backup = nation.select(F.lit("20240101").alias("bkup_dt"), "*")
    assert schema_match(nation, backup)
    assert not schema_match(nation.drop("n_name"), backup)
    assert count_reconciliation_gate(25, nation)
    assert not count_reconciliation_gate(24, nation)


def test_truncate_and_load_atomic_replace(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert truncate_and_load(nation, target) == 25
    assert truncate_and_load(nation.limit(5), target) == 5  # truncate, not append


def test_run_daily_end_to_end(spark, sf_dir, tmp_path):
    """§3.1 DAG re-enactment: t1 SQL ETL → t2 mart partition →
    retention → weekly serving index, audited, idempotent on re-run."""
    from data_engineering_spark.pipeline.daily import run_daily

    wh = str(tmp_path / "wh")
    recs = run_daily(spark, sf_dir, wh, "20240110", weekly=True)
    assert [r.job_nm for r in recs] == [
        "t1.t1_order_summary",
        "t1.t1_lineitem_daily",
        "t2.cust_mart",
        "t4.serving_index",
    ]
    assert all(r.success_yn == "Y" for r in recs)
    mart = spark.read.parquet(f"{wh}/t2_cust_mart")
    assert mart.filter("bkup_dt = '20240110'").count() == recs[2].cretn_cnt > 0

    # re-run same date: idempotent (partition replaced, not doubled)
    recs2 = run_daily(spark, sf_dir, wh, "20240110", weekly=False)
    mart2 = spark.read.parquet(f"{wh}/t2_cust_mart")
    assert mart2.filter("bkup_dt = '20240110'").count() == recs2[2].cretn_cnt

    # second batch date adds a partition; retention keeps both (within window)
    run_daily(spark, sf_dir, wh, "20240111", weekly=False)
    parts = {r.bkup_dt for r in spark.read.parquet(f"{wh}/t2_cust_mart").select("bkup_dt").distinct().collect()}
    assert parts == {"20240110", "20240111"}

    audit = spark.read.parquet(f"{wh}/audit_log")
    assert audit.filter("success_yn = 'Y'").count() >= 9


def test_retention_cutoff_crosses_month_boundary(spark, sf_dir, tmp_path):
    """Cutoff must use real date arithmetic: integer yyyyMMdd subtraction
    around a month boundary (20240201 - 7 = '20240194') lexically exceeds
    every January partition and would prune data inside the window."""
    from data_engineering_spark.pipeline.daily import run_daily

    wh = str(tmp_path / "wh")
    run_daily(spark, sf_dir, wh, "20240129", weekly=False)
    run_daily(spark, sf_dir, wh, "20240201", weekly=False, keep_days=7)
    parts = {
        r.bkup_dt
        for r in spark.read.parquet(f"{wh}/t2_cust_mart").select("bkup_dt").distinct().collect()
    }
    # 20240129 is 3 days before 20240201 — well inside keep_days=7
    assert parts == {"20240129", "20240201"}


# ---------------------------------------------------------------------------
# Write counts are observed on the write job; audit rows are built in the
# JVM; a batch day runs a bounded number of jobs and no Python worker.
# ---------------------------------------------------------------------------


def _write_all(df, tmp_path, tag):
    """Every counting writer over ``df``: (returned count, rows on disk)."""
    from data_engineering_spark.sources.writers import write_serving_index

    out = {}
    for name, write in (
        ("truncate", lambda d: truncate_and_load(df, d)),
        ("partition", lambda d: partition_overwrite(df, d, "p")),
        ("serving", lambda d: write_serving_index(df, d, "k")),
        ("serving_bucketed", lambda d: write_serving_index(df, d, "k", buckets=3)),
    ):
        d = str(tmp_path / f"{tag}_{name}")
        n = write(d)
        out[name] = (n, df.sparkSession.read.schema(df.schema).parquet(d).count())
    return out


def test_writer_counts_equal_rows_written(spark, sf_dir, tmp_path):
    """Empty, filtered-to-empty, multi-partition and joined frames: each
    writer returns exactly the row count read back from its output."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = orders.select(
        F.col("o_orderkey").alias("k"), (F.col("o_orderkey") % 5).cast("string").alias("p")
    )
    frames = {
        "empty": spark.range(0).select(F.col("id").alias("k"), F.lit("x").alias("p")),
        "filtered_empty": base.filter(F.lit(False)),
        "limit_empty": base.limit(0),
        "multi_partition": base.repartition(7),
        "joined": orders.join(cust, orders.o_custkey == cust.c_custkey).select(
            F.col("o_orderkey").alias("k"), F.col("c_mktsegment").alias("p")
        ),
    }
    for tag, df in frames.items():
        for writer, (n, on_disk) in _write_all(df, tmp_path, tag).items():
            assert n == on_disk, (tag, writer, n, on_disk)
            want = orders.count() if tag in ("multi_partition", "joined") else 0
            assert n == want, (tag, writer)


def test_writer_count_is_rows_on_disk_for_random_filter(spark, tmp_path):
    """A ``rand()``-filtered frame: the count is that of the rows the
    write put on disk, taken from the write itself."""
    df = spark.range(0, 4000, numPartitions=4).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
    ).filter(F.rand() < 0.5)
    for writer, (n, on_disk) in _write_all(df, tmp_path, "rand").items():
        assert n == on_disk, (writer, n, on_disk)
        assert 0 < n < 4000


_AUDIT_TWIN_SCRIPT = r"""
import json, os, sys, tempfile
from datetime import datetime
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from data_engineering_spark.pipeline.etl import AUDIT_SCHEMA, AuditRecord, write_audit
from data_engineering_spark.session import get_spark

spark = get_spark("audit-twin", cpus=1)
spark.sparkContext.setLogLevel("ERROR")
recs = [
    AuditRecord("20240110", "0:00:03", "t1.x", "x", "t1.x-1", 2**40, "Y", "",
                datetime(2024, 1, 10, 3, 4, 5, 678901)),
    AuditRecord("20240710", "1:02:03", "t2.y", "y", "t2-9", 0, "N", "에러 '%s' \\n",
                datetime(2024, 7, 10, 23, 59, 59, 1)),
]
out = {}
for tz in ("UTC", "Asia/Seoul"):
    spark.conf.set("spark.sql.session.timeZone", tz)
    got, want = tempfile.mkdtemp(), tempfile.mkdtemp()
    write_audit(spark, recs, got)
    write_audit(spark, [], got)
    spark.createDataFrame([vars(rec) for rec in recs], schema=AUDIT_SCHEMA).coalesce(1).write.mode(
        "append").parquet(want)
    rows = []
    for d in (got, want):
        df = spark.read.parquet(d)
        rows.append(sorted(
            [str(v) for v in r]
            for r in df.select("*", F.unix_micros("platform_dt").alias("us")).collect()
        ))
    out[tz] = {"schema": spark.read.parquet(got).schema == AUDIT_SCHEMA,
               "files": sorted(f for f in os.listdir(got) if f.endswith(".parquet")),
               "got": rows[0], "want": rows[1]}
print("AUDIT_TWIN " + json.dumps(out))
"""


def test_write_audit_row_matches_list_path_under_non_utc_process(tmp_path):
    """The JVM-literal audit rows equal the list-built rows, including
    ``unix_micros(platform_dt)``, in UTC and Asia/Seoul sessions of a
    process whose own timezone is America/New_York (where the Arrow path
    would shift the naive timestamp). Two records land in one file; an
    empty sequence writes none."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "audit_twin.py"
    script.write_text(_AUDIT_TWIN_SCRIPT)
    env = dict(os.environ, TZ="America/New_York")
    proc = subprocess.run(
        [sys.executable, str(script), root], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("AUDIT_TWIN ")]
    assert line, proc.stderr[-3000:]
    out = json.loads(line[0][len("AUDIT_TWIN "):])
    assert set(out) == {"UTC", "Asia/Seoul"}
    for tz, r in out.items():
        assert r["schema"], tz
        assert len(r["files"]) == 1, (tz, r["files"])
        assert r["got"] == r["want"] and len(r["got"]) == 2, tz


_AUDIT_INSTANT_SCRIPT = r"""
import json, sys, tempfile, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from data_engineering_spark.pipeline.etl import run_sql_etl
from data_engineering_spark.session import get_spark

spark = get_spark("audit-instant", cpus=1)
spark.sparkContext.setLogLevel("ERROR")
out = {}
for tz in ("UTC", "Asia/Seoul"):
    spark.conf.set("spark.sql.session.timeZone", tz)
    audit = tempfile.mkdtemp()
    rec = run_sql_etl(spark, "select 1 as x", tempfile.mkdtemp() + "/t1_x",
                      job_nm="t1.x", bat_dt="20240110", audit_dir=audit)
    us = spark.read.parquet(audit).select(F.unix_micros("platform_dt")).first()[0]
    out[tz] = {"success_yn": rec.success_yn, "skew_s": us / 1e6 - time.time()}
print("AUDIT_INSTANT " + json.dumps(out))
"""


def test_run_sql_etl_audit_instant_under_non_utc_process(tmp_path):
    """``run_sql_etl`` records the real run instant in ``platform_dt``
    in a process whose own timezone is America/New_York, in UTC and
    Asia/Seoul sessions (a naive UTC wall clock lands 4-5 h off)."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "audit_instant.py"
    script.write_text(_AUDIT_INSTANT_SCRIPT)
    env = dict(os.environ, TZ="America/New_York")
    proc = subprocess.run(
        [sys.executable, str(script), root], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("AUDIT_INSTANT ")]
    assert line, proc.stderr[-3000:]
    out = json.loads(line[0][len("AUDIT_INSTANT "):])
    assert set(out) == {"UTC", "Asia/Seoul"}
    for tz, r in out.items():
        assert r["success_yn"] == "Y", tz
        assert abs(r["skew_s"]) < 60, (tz, r)


# Jobs of one non-weekly run_daily at the test SF with empty schema
# slots (measured): 4 view footer reads; per t1 table, its aggregate
# write (shuffle stage + write: 2 + 2); for the mart, the footer read of
# t1's output and its write (two broadcast builds + write: 4); one audit
# append for all three rows (1).
DAILY_JOB_BUDGET = 13


def _python_stages(spark, jobs):
    """(job, stage) of every stage of ``jobs`` that ran a PythonRDD.
    Skipped stages (a reused shuffle) ran nothing and have no graph; the
    status store also evicts them first once it holds more than
    ``spark.ui.retainedStages``, so a long session may no longer know
    them at all. The stages that ran are the newest and stay."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    out = []
    for j in jobs:
        ids = store.job(j).stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sc.statusTracker().getStageInfo(sid) is None:
                continue
            if store.lastStageAttempt(sid).status().toString() == "SKIPPED":
                continue
            if "PythonRDD" in graph.makeDotFile(store.operationGraphForStage(sid)):
                out.append((j, sid))
    return out


def test_run_daily_job_budget_and_no_python_workers(spark, sf_dir, tmp_path, jobs_of):
    """A batch day runs at most ``DAILY_JOB_BUDGET`` Spark jobs and no
    stage runs a PythonRDD: a re-read count, a re-executed count or a
    list-built row fails here."""
    from data_engineering_spark import catalog
    from data_engineering_spark.pipeline.daily import run_daily

    catalog._SCHEMA_SLOTS.clear()
    recs, jobs = jobs_of(
        lambda: run_daily(spark, sf_dir, str(tmp_path / "wh"), "20240110", weekly=False)
    )
    assert all(r.success_yn == "Y" for r in recs)
    assert 0 < len(jobs) <= DAILY_JOB_BUDGET, (len(jobs), jobs)
    assert _python_stages(spark, jobs) == []


# Jobs of one weekly batch day at the test SF with empty schema slots
# (measured): the two delta footer reads (2), the txlog append (1), the
# CDC sink's commit (feed and target shuffle stages + write: 3), the
# two t0 snapshot writes (2), the weekly run_daily (the 13 above + the
# serving-index write, its loads served from the schema slots: 18),
# the compaction (1), the change feed collected to the driver (3) and
# the NL answer (2).
BATCH_DAY_JOB_BUDGET = 32


def test_weekly_batch_day_job_budget(spark, sf_dir, tmp_path, jobs_of):
    """One weekly day of the DAG end to end in one job group: txlog
    append, CDC sink, t0 snapshots, ``run_daily(weekly=True)``,
    compaction and the t5 reads. A new eager action anywhere on that
    path fails here."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_engineering_spark import catalog
    from data_engineering_spark.functions.nl2sql import run_nl
    from data_engineering_spark.pipeline.daily import run_daily
    from data_engineering_spark.sources.txlog import LakeTable
    from data_engineering_spark.streaming.streams import cdc_upsert_sink

    src, wh = str(tmp_path / "src"), str(tmp_path / "wh")
    os.makedirs(src)
    for name in ("orders", "customer", "lineitem", "nation"):
        shutil.copy(f"{sf_dir}/{name}.parquet", f"{src}/{name}.parquet")
    orders = pq.read_table(f"{src}/orders.parquet")
    cust = pq.read_table(f"{src}/customer.parquet")
    top = pc.max(orders["o_orderkey"]).as_py()
    day = orders.slice(0, 5).set_column(0, "o_orderkey", [list(range(top + 1, top + 6))])
    pq.write_table(day, str(tmp_path / "orders_delta.parquet"))
    keys = cust["c_custkey"].to_pylist()
    changes = cust.slice(0, 3).set_column(0, "c_custkey", [[keys[0], keys[1], max(keys) + 1]])
    changes = changes.set_column(
        changes.schema.get_field_index("c_name"), "c_name", [["renamed", "gone", "new"]]
    )
    changes = changes.append_column("op", [["U", "D", "I"]]).append_column("seq", [[1, 2, 3]])
    pq.write_table(changes, str(tmp_path / "cust_changes.parquet"))
    orders_lake = LakeTable(spark, str(tmp_path / "lake_orders"))
    cust_lake = LakeTable(spark, str(tmp_path / "lake_customer"))
    orders_lake.create(spark.read.parquet(f"{src}/orders.parquet"))
    cust_lake.create(spark.read.parquet(f"{src}/customer.parquet"))
    sink = cdc_upsert_sink(cust_lake, ["c_custkey"], app_id="test-day")
    catalog._SCHEMA_SLOTS.clear()

    def batch_day():
        read = spark.read.parquet
        orders_lake.append(read(str(tmp_path / "orders_delta.parquet")))
        sink(read(str(tmp_path / "cust_changes.parquet")), 0)
        truncate_and_load(orders_lake.scan(), f"{src}/orders.parquet")
        truncate_and_load(cust_lake.scan(), f"{src}/customer.parquet")
        recs = run_daily(spark, src, wh, "20240108", weekly=True)
        orders_lake.compact()
        v = cust_lake.latest_version()
        feed = cust_lake.version_changes(v - 1, v, ["c_custkey"]).toPandas()
        answer = run_nl(spark, src, "count rows in orders where o_totalprice > 1000").toPandas()
        return recs, feed, answer

    (recs, feed, answer), jobs = jobs_of(batch_day)
    assert [r.success_yn for r in recs] == ["Y"] * 4
    assert sorted(feed.change) == ["added", "changed", "removed"]
    assert answer.iloc[0, 0] > 0
    assert len(orders_lake.files()) == 1
    assert 0 < len(jobs) <= BATCH_DAY_JOB_BUDGET, (len(jobs), jobs)
    assert _python_stages(spark, jobs) == []


def test_run_daily_failed_tier_keeps_earlier_audit_rows(spark, sf_dir, tmp_path, monkeypatch):
    """A tier that raises propagates out of ``run_daily``, and the one
    audit append still lands the rows of the tiers before it."""
    from data_engineering_spark.pipeline import daily

    def failing_write(*_args, **_kwargs):
        raise RuntimeError("t2 write failed")

    monkeypatch.setattr(daily, "partition_overwrite", failing_write)
    wh = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="t2 write failed"):
        daily.run_daily(spark, sf_dir, wh, "20240110")
    files = [f for f in os.listdir(f"{wh}/audit_log") if f.endswith(".parquet")]
    assert len(files) == 1, files
    rows = spark.read.parquet(f"{wh}/audit_log").collect()
    assert sorted((r.job_nm, r.success_yn) for r in rows) == [
        ("t1.t1_lineitem_daily", "Y"),
        ("t1.t1_order_summary", "Y"),
    ]
