"""Phase-2 job layer: SQL-file ETL, audit log, writers, validation gates."""

from __future__ import annotations

import os

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
import json, sys, tempfile
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
    for rec in recs:
        write_audit(spark, rec, got)
        spark.createDataFrame([vars(rec)], schema=AUDIT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(want)
    rows = []
    for d in (got, want):
        df = spark.read.parquet(d)
        rows.append(sorted(
            [str(v) for v in r]
            for r in df.select("*", F.unix_micros("platform_dt").alias("us")).collect()
        ))
    out[tz] = {"schema": spark.read.parquet(got).schema == AUDIT_SCHEMA,
               "got": rows[0], "want": rows[1]}
print("AUDIT_TWIN " + json.dumps(out))
"""


def test_write_audit_row_matches_list_path_under_non_utc_process(tmp_path):
    """The JVM-literal audit row equals the old list-built row, including
    ``unix_micros(platform_dt)``, in UTC and Asia/Seoul sessions of a
    process whose own timezone is America/New_York (where the Arrow path
    would shift the naive timestamp)."""
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
        assert r["got"] == r["want"] and len(r["got"]) == 2, tz


# Jobs of one non-weekly run_daily at the test SF (measured): 4 view
# footer reads; per t1 table, its aggregate write (shuffle stage + write)
# and its audit row (3 + 3); for the mart, the footer read of t1's
# output, its write (two broadcast builds + write) and its audit row (5).
DAILY_JOB_BUDGET = 15


def test_run_daily_job_budget_and_no_python_workers(spark, sf_dir, tmp_path):
    """A batch day runs at most ``DAILY_JOB_BUDGET`` Spark jobs and no
    stage runs a PythonRDD: a re-read count, a re-executed count or a
    list-built row fails here."""
    from data_engineering_spark.pipeline.daily import run_daily

    sc = spark.sparkContext
    gid = "test-run-daily-budget"
    sc.setJobGroup(gid, "run_daily job budget")
    try:
        recs = run_daily(spark, sf_dir, str(tmp_path / "wh"), "20240110", weekly=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all(r.success_yn == "Y" for r in recs)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    assert 0 < len(jobs) <= DAILY_JOB_BUDGET, sorted(jobs)
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    python_stages = []
    for j in jobs:
        ids = store.job(j).stageIds()
        for i in range(ids.size()):
            dot = graph.makeDotFile(store.operationGraphForStage(ids.apply(i)))
            if "PythonRDD" in dot:
                python_stages.append((j, ids.apply(i)))
    assert python_stages == []
