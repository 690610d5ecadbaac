"""Job/pipeline layer (SURVEY §3, Phase 2): SQL-file-driven ETL, audit
logging, and the reference's runtime validation gates as engine features.

The reference's T1 layer is "SQL file in S3 → Redshift executes → write
back" (``Talent_Opportunity_Platform/AWS_GLUE_ETL.py:79-132``). Here the
SQL text runs on Spark itself (through the dialect shim) and the write is
a parquet table — steps 3/4 of SURVEY §3.1 collapse into Catalyst.
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.dialect import rewrite_redshift_sql
from ..sources.writers import partition_overwrite, truncate_and_load

__all__ = [
    "AUDIT_SCHEMA",
    "AuditRecord",
    "run_sql_etl",
    "write_audit",
    "set_nullable_for_columns",
    "schema_match",
    "count_reconciliation_gate",
]

# Audit-log struct — column-for-column the reference's log table
# (INSERT list ``comlib.py:398-399``; values ``AWS_GLUE_ETL.py:66-76``;
# 'taget_tbl_nm' [sic] kept for parity).
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("bat_dt", T.StringType()),
        T.StructField("bat_req_tm", T.StringType()),
        T.StructField("job_nm", T.StringType()),
        T.StructField("taget_tbl_nm", T.StringType()),
        T.StructField("job_run_id", T.StringType()),
        T.StructField("cretn_cnt", T.LongType()),
        T.StructField("success_yn", T.StringType()),
        T.StructField("error_msg", T.StringType()),
        T.StructField("platform_dt", T.TimestampType()),
    ]
)


@dataclass
class AuditRecord:
    bat_dt: str
    bat_req_tm: str
    job_nm: str
    taget_tbl_nm: str
    job_run_id: str
    cretn_cnt: int
    success_yn: str
    error_msg: str
    platform_dt: datetime


def _elapsed_str(seconds: float) -> str:
    """F18 — ``str(timedelta(seconds=sec)).split(".")[0]``
    (``AWS_GLUE_ETL.py:152-156``)."""
    return str(timedelta(seconds=seconds)).split(".")[0]


def run_sql_etl(
    spark: SparkSession,
    sql_text: str,
    target_dir: str,
    *,
    job_nm: str = "sql_etl",
    bat_dt: str = "",
    mode: str = "truncate",
    partition_col: str = "",
    audit_dir: str | None = None,
) -> AuditRecord:
    """§3.1 end-to-end job: rewrite dialect → ``spark.sql`` → write →
    audit. ``mode``: ``truncate`` (S11) or ``partition_overwrite`` (S12,
    requires ``partition_col``). Errors are caught into the audit record
    (success_yn='N'), mirroring the reference's try/except→log pattern
    (``AWS_GLUE_ETL.py:137-163``)."""
    start = time.time()
    now = datetime.now(timezone.utc)
    try:
        df = spark.sql(rewrite_redshift_sql(sql_text))
        if mode == "partition_overwrite":
            if not partition_col:
                raise ValueError("partition_overwrite mode requires partition_col")
            cnt = partition_overwrite(df, target_dir, partition_col)
        else:
            cnt = truncate_and_load(df, target_dir)
        rec = AuditRecord(
            bat_dt=bat_dt,
            bat_req_tm=_elapsed_str(time.time() - start),
            job_nm=job_nm,
            taget_tbl_nm=target_dir.rstrip("/").rsplit("/", 1)[-1],
            job_run_id=f"{job_nm}-{int(start)}",
            cretn_cnt=cnt,
            success_yn="Y",
            error_msg="",
            platform_dt=now,
        )
    except Exception as exc:  # noqa: BLE001 — the audit row carries the error
        rec = AuditRecord(
            bat_dt=bat_dt,
            bat_req_tm=_elapsed_str(time.time() - start),
            job_nm=job_nm,
            taget_tbl_nm=target_dir.rstrip("/").rsplit("/", 1)[-1],
            job_run_id=f"{job_nm}-{int(start)}",
            cretn_cnt=0,
            success_yn="N",
            error_msg=str(exc)[:1000],
            platform_dt=now,
        )
    if audit_dir:
        write_audit(spark, [rec], audit_dir)
    return rec


def write_audit(spark: SparkSession, records: Sequence[AuditRecord], audit_dir: str) -> None:
    """Append-only audit write (``comlib.py:386-407``): all ``records``
    in one file, one job; an empty sequence writes nothing.

    The rows are built in the JVM as an inlined array of typed literal
    structs over a one-row range, so the write needs no Python worker (a
    list-built ``createDataFrame`` ships a pickled Python RDD through
    them). A naive ``platform_dt`` converts the way the list path
    converts it, as process-local time (the Arrow/pandas path would read
    it as UTC); the jobs stamp an aware UTC instant, which converts
    exactly under any process timezone."""
    if not records:
        return
    rows = [
        F.struct(
            *(F.lit(vars(rec)[f.name]).cast(f.dataType).alias(f.name) for f in AUDIT_SCHEMA.fields)
        )
        for rec in records
    ]
    spark.range(1, numPartitions=1).select(F.inline(F.array(*rows))).write.mode(
        "append"
    ).parquet(audit_dir)


def set_nullable_for_columns(schema: T.StructType, nullable: bool = True) -> T.StructType:
    """S3 — rebuild a StructType flipping nullability
    (``comlib.py:300-311``), used to re-read a source with a relaxed
    schema (``AWS_GLUE_ETL.py:111-117``)."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, nullable, f.metadata) for f in schema.fields]
    )


def schema_match(source: DataFrame, backup: DataFrame, ignore_cols: tuple[str, ...] = ("bkup_dt",)) -> bool:
    """U2 — the pre-backup schema-equality gate (``BkupRs.py:123-166``):
    column lists must match exactly (order-sensitive) after dropping the
    backup-date column."""
    a = [c for c in source.columns if c not in ignore_cols]
    b = [c for c in backup.columns if c not in ignore_cols]
    return a == b


def count_reconciliation_gate(expected: int, df: DataFrame) -> bool:
    """The pre-write row-count reconciliation (``log_screen.py:305``:
    ``total_hits == select_df.count()`` else skip the write)."""
    return df.count() == expected
