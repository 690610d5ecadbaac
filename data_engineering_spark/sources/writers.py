"""Sinks (SURVEY §2.1 S11-S18) — the reference's Redshift/S3/ES write
patterns as Parquet-warehouse operations.

Scale stance: every writer is a distributed ``df.write`` — no driver
staging, no shell subprocesses (the reference moves files with
``aws s3 mv`` subprocesses, ``Talent_Opportunity_Platform/comlib.py:157-175``).
Partition-level idempotency uses dynamic partition overwrite, the
transactional replacement for the reference's ``preactions: delete where
bkup_dt='{d}'`` pattern.

Row counts (the audit metric) are observed on the write itself: the
written frame carries ``DataFrame.observe(count(1))``, so the count rides
the write job — no re-read of the output, no second execution of the
frame's plan — and it is the count of the rows actually written, even
for a non-deterministic frame that a re-execution could answer
differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "truncate_and_load",
    "partition_overwrite",
    "full_overwrite",
    "write_unload",
    "write_serving_index",
    "bucketize",
    "retention_prune",
]


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count attached that its next action fills in."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def bucketize(
    df: DataFrame,
    table_name: str,
    keys: list[str],
    n_buckets: int = 32,
    sort: bool = True,
) -> DataFrame:
    """Write ``df`` as a bucketed (and bucket-sorted) managed table and
    return it.

    This is the 100 TB answer to the engine's one fact-fact shuffle
    (lineitem⋈orders on orderkey, flagship/Q3/Q18): bucket BOTH facts on
    the join key once at load time, and every subsequent equi-join or
    groupBy on that key is co-located — zero Exchange in the plan
    (asserted in tests/test_plans.py). The reference instead re-shuffles
    per job inside Redshift; here the layout is paid once and reused by
    every downstream query. Bucket counts must match across tables to
    co-locate; sorted buckets additionally enable merge-join without a
    sort step."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def truncate_and_load(df: DataFrame, table_dir: str) -> int:
    """S11 — the reference's truncate-then-append
    (``AWS_GLUE_ETL.py:124-132``: ``preactions: delete from t`` +
    ``mode("append")``) as an atomic ``mode("overwrite")`` parquet write.
    Returns the written row count (the audit metric, A4), observed on
    the write job."""
    out, obs = _observed(df)
    out.write.mode("overwrite").parquet(table_dir)
    return obs.get["rows"]


def partition_overwrite(df: DataFrame, table_dir: str, partition_col: str) -> int:
    """S12 — replace exactly the date partitions present in ``df``
    (``BkupRs.py:272-280``: ``delete … where bkup_dt='{d}'`` + append).
    Dynamic partition overwrite touches only those directories — re-runs
    are idempotent, other partitions untouched. At 100 TB this is the
    difference between rewriting a table and rewriting a day. Returns
    the written row count, observed on the write job (no second
    execution of ``df``'s plan).

    The dynamic mode rides as a PER-WRITE option, never a session-conf
    toggle: two concurrent writers toggling the shared conf can
    interleave so one write executes in STATIC overwrite mode — which
    truncates the entire table directory down to the batch's partitions
    (review finding r10; the incremental-dedup sinks issue three such
    writes per micro-batch, concurrently across streams)."""
    out, obs = _observed(df)
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(table_dir)
    return obs.get["rows"]


def full_overwrite(df: DataFrame, table_dir: str) -> int:
    """S13 — plain ``mode("overwrite")`` (``ETL_esrd.py:126-134``).

    Alias of :func:`truncate_and_load`: the reference reaches the same
    storage state through two idioms (truncate+append vs overwrite), so
    both S-rows map to ONE implementation — they were byte-identical
    copies that could silently diverge under maintenance (r11 warehouse
    review #9)."""
    return truncate_and_load(df, table_dir)


def write_unload(df: DataFrame, path: str, parallel_off: bool = True, compression: str = "gzip") -> None:
    """S14 — ``UNLOAD … json parallel OFF gzip allowoverwrite``
    (``Elastic_indexing.py:161-165``): single gzip JSON file.

    ``parallel OFF`` → ``coalesce(1)``. Note for scale: a single output
    file serializes the write through one task — only do this when a
    downstream consumer genuinely needs one file (the reference's ES bulk
    loader did); otherwise leave parallel on."""
    out = df.coalesce(1) if parallel_off else df
    out.write.mode("overwrite").option("compression", compression).json(path)


def write_serving_index(df: DataFrame, table_dir: str, key_col: str, buckets: int = 0) -> int:
    """S15 — the ES bulk-index sink re-imagined: the "index" is a
    materialized, query-optimized parquet table (SURVEY §1.1). The
    reference batches 300k docs per bulk call (``Elastic_indexing.py:220``)
    — here partitioning subsumes batching. Sorting within partitions by
    the lookup key makes min/max row-group stats prune point lookups.

    ``buckets > 0`` hash-repartitions on the key first (the parameter
    was dead — r11 warehouse review #8): each output file then holds one
    hash bucket's keys in sorted runs, giving a BOUNDED file count and
    single-file point lookups by hash. This is the path-based layout
    twin of :func:`bucketize` — metastore-registered bucketing (which
    Spark's reader exploits for zero-Exchange joins) needs
    ``saveAsTable`` and lives there; a serving index is read by point
    lookup, where the file/row-group pruning is what matters. Returns
    the written row count, observed on the write job."""
    out, obs = _observed(df)
    out = out.repartition(buckets, F.col(key_col)) if buckets > 0 else out
    out.sortWithinPartitions(key_col).write.mode("overwrite").parquet(table_dir)
    return obs.get["rows"]


def retention_prune(spark: SparkSession, table_dir: str, partition_col: str, cutoff: str) -> list[str]:
    """S18 — date-prefix retention delete (``BkupRs.py:183-201``,
    ``S3Delete.py:29-51``): drop partitions with value < cutoff.
    Operates on partition directories (``col=value``), never row-by-row.
    Returns the dropped partition values.

    Listing and deletion go through the Hadoop FileSystem API resolved
    from the path's scheme — the driver-local ``os.listdir``/``shutil``
    form silently NO-OPED on ``s3a://``/``hdfs://`` warehouses, exactly
    where retention jobs run (r11 warehouse review #10); the ``spark``
    parameter exists to reach the Hadoop configuration."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    dropped: list[str] = []
    if not fs.exists(root):
        return dropped
    prefix = f"{partition_col}="
    names = sorted(
        st.getPath().getName() for st in fs.listStatus(root) if st.isDirectory()
    )
    for name in names:
        if name.startswith(prefix):
            value = name[len(prefix):]
            if value < cutoff:
                fs.delete(jvm.org.apache.hadoop.fs.Path(root, name), True)
                dropped.append(value)
    return dropped
