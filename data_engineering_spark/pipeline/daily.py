"""Daily pipeline — the reference's Airflow DAG re-enacted as one
composable function (SURVEY §3.1: t0 → t1 → t2 → backup → serving, with
weekly gating and per-job audit rows).

The reference orchestrates this as Glue jobs polled from Airflow
(``Talent_Opportunity_Platform/Airflow_week.py:332-377``: task groups
``t0 >> t1 >> t2 >> t2t3 >> t4 >> t5``, weekly jobs gated on
``weekday == 0``). Here each tier is a pure DataFrame job over the
Parquet warehouse; ordering is plain Python control flow; idempotency
comes from truncate/partition-overwrite writes, so re-running a batch
date is safe end to end.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import QUERIES
from ..sources.writers import partition_overwrite, retention_prune, truncate_and_load
from .etl import AuditRecord, run_sql_etl, write_audit

__all__ = ["run_daily"]

# T1-tier SQL artifacts — Redshift-dialect text exactly as the reference
# stores them in S3 (one file per target table, AWS_GLUE_ETL.py:79-92).
T1_SQLS = {
    "t1_order_summary": """
        SELECT o_custkey,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_spend,
               to_char(max(o_orderdate), 'YYYYMMDD') AS last_order_dt
        FROM orders GROUP BY o_custkey;
    """,
    "t1_lineitem_daily": """
        SELECT to_char(l_shipdate, 'YYYYMMDD') AS ship_dt,
               l_returnflag,
               count(*) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem GROUP BY 1, 2;
    """,
}
# The tables the tiers read by name: the T1 SQL's sources plus the t2
# mart's dimensions. Only these become views (one footer read each).
DAG_VIEWS = ("orders", "lineitem", "customer", "nation")


def run_daily(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    batch_date: str,
    *,
    weekly: bool = False,
    keep_days: int = 7,
) -> list[AuditRecord]:
    """One batch run. Returns the audit records in execution order.

    Tiers: t1 SQL-file ETL (truncate loads) → t2 customer mart
    (partition-overwrite by batch date — idempotent re-runs) → backup
    retention prune → t4 serving index (the flagship query materialized).
    ``weekly`` gates the serving-index rebuild the way the DAG gates its
    weekly task group.

    Registers temp views for exactly the tables the tiers read by name
    (``DAG_VIEWS``: orders, lineitem, customer, nation), not the whole
    catalog; the serving index loads its own tables.
    """
    audit_dir = f"{warehouse_dir}/audit_log"
    records: list[AuditRecord] = []
    for name in DAG_VIEWS:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

    # ---- t1: SQL artifacts shipped verbatim through the dialect shim
    for table, sql_text in T1_SQLS.items():
        rec = run_sql_etl(
            spark,
            sql_text,
            f"{warehouse_dir}/{table}",
            job_nm=f"t1.{table}",
            bat_dt=batch_date,
            audit_dir=audit_dir,
        )
        records.append(rec)
        if rec.success_yn != "Y":
            return records  # downstream tiers depend on t1

    # ---- t2: customer mart joining t1 output with dims, replacing ONE
    # date partition (BkupRs.py:272-280 semantics)
    t1 = spark.read.parquet(f"{warehouse_dir}/t1_order_summary")
    cust = spark.table("customer")
    nation = spark.table("nation")
    from ..operators.joins import broadcast_if_small

    mart = (
        # customer scales with the corpus → size-gated hint; nation is
        # fixed 25 rows → plain broadcast stays
        t1.join(broadcast_if_small(cust), t1.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.lit(batch_date).alias("bkup_dt"),
            "o_custkey",
            "c_name",
            "n_name",
            "n_orders",
            "total_spend",
            "last_order_dt",
        )
    )
    start = datetime.utcnow()
    cnt = partition_overwrite(mart, f"{warehouse_dir}/t2_cust_mart", "bkup_dt")
    rec = AuditRecord(
        bat_dt=batch_date,
        bat_req_tm="0:00:00",
        job_nm="t2.cust_mart",
        taget_tbl_nm="t2_cust_mart",
        job_run_id=f"t2-{int(start.timestamp())}",
        cretn_cnt=cnt,
        success_yn="Y",
        error_msg="",
        platform_dt=start,
    )
    write_audit(spark, rec, audit_dir)
    records.append(rec)

    # ---- retention: drop mart partitions older than keep_days
    # Real calendar arithmetic: integer subtraction on yyyyMMdd strings
    # produces invalid dates across month/year boundaries (20240201 - 7 =
    # '20240194') that lexically exceed every in-window partition and
    # would make retention_prune delete data it should keep.
    cutoff = (datetime.strptime(batch_date, "%Y%m%d") - timedelta(days=keep_days)).strftime(
        "%Y%m%d"
    )
    retention_prune(spark, f"{warehouse_dir}/t2_cust_mart", "bkup_dt", cutoff)

    # ---- t4/t5: serving index — weekly-gated like the DAG's weekly group
    if weekly:
        from .. import queries_relational  # noqa: F401 — side-effect: registers queries

        serving = QUERIES["flagship_serving_index"](spark, sf_dir)
        cnt = truncate_and_load(serving, f"{warehouse_dir}/t4_serving_index")
        rec = AuditRecord(
            bat_dt=batch_date,
            bat_req_tm="0:00:00",
            job_nm="t4.serving_index",
            taget_tbl_nm="t4_serving_index",
            job_run_id=f"t4-{int(start.timestamp())}",
            cretn_cnt=cnt,
            success_yn="Y",
            error_msg="",
            platform_dt=start,
        )
        write_audit(spark, rec, audit_dir)
        records.append(rec)

    return records
