"""SparkSession factory tuned for the engine.

The reference creates its session through Glue (``SparkContext →
GlueContext → spark_session``, reference ``Talent_Opportunity_Platform/
AWS_GLUE_ETL.py:61-63``) and sizes parallelism per job via Glue worker
counts (``Airflow_week.py:135,347,356-359``). Here the equivalent knobs are
Spark confs, chosen for the 100 TB design point:

- **AQE on** (coalesce post-shuffle partitions, runtime broadcast
  conversion, skew-join splitting) so plans re-optimize with real stats —
  this replaces the reference's hand-picked 2/10/20-worker sizing.
- ``spark.sql.shuffle.partitions`` defaults to a multiple of local cores;
  on a real cluster AQE coalescing makes the initial number a ceiling, not
  a target.
- Session timezone pinned to **UTC** so date/timestamp rendering matches
  the DuckDB oracle byte-for-byte (the reference instead hard-codes UTC+9
  arithmetic everywhere, e.g. ``AWS_GLUE_ETL.py:119``; we expose that as an
  explicit INTERVAL op, see ``functions/scalar.py``).
- Arrow enabled: every pandas_udf / applyInPandas boundary is
  Arrow-vectorized, never row-at-a-time pickling.
- No humongous per-stage buffers on the driver heap (G1 region size and
  broadcast block size), so its resident memory does not hinge on GC timing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

__all__ = ["get_spark", "prepare_session", "local_frame"]

# The directory holding the ``data_engineering_spark`` package.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def get_spark(app_name: str = "data-engineering-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session with scale-appropriate defaults."""
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Every stage serializes its task binary into a 1 MB chunk and
        # broadcasts it in spark.broadcast.blockSize chunks (4 MB by
        # default). On a G1 heap under 8 GB (2 MB regions) both are
        # humongous objects: each takes old regions of its own and, past
        # the marking threshold, starts a concurrent cycle with a young
        # pause. Stage-heavy steps ran dozens of these within a second, and
        # G1 answers a burst of pauses by growing the heap up to ~1 GB in
        # one step, so whether a run crossed that line was timing: a 3 GB
        # driver running one workload peaked at 1.7-1.9 GB resident in most
        # runs and at 2.3-2.6 GB in others. With 4 MB regions and 1 MB
        # blocks both are ordinary young objects (humongous-allocation
        # pauses per run 8-24 -> 0-2; peaks 1.6-2.0 GB).
        .config("spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=4m")
        .config("spark.broadcast.blockSize", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative ops (pagerank_integer, prefix_sum, canonical
        # assignment) write one cluster checkpoint per round under
        # reliable_checkpoints=True; without this cleaner flag Spark
        # never removes superseded rounds and a long run accumulates one
        # full score-table copy per iteration in the checkpoint dir
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    prepare_session(spark)
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Set runtime-mutable confs we depend on, on an externally-built session.

    The correctness driver hands us its own SparkSession; only runtime-
    settable confs can be fixed up here (timezone matters for oracle
    parity, AQE for plan quality).
    """
    # Python workers unpickle module-level functions (Arrow kernels) by
    # reference, so they must import this package whatever directory the
    # driver started in. Spark merges a UDF's PYTHONPATH environment
    # entry into its worker's path; the environment is read when each
    # UDF is built, so this must run before the first one.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_ROOT])
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Partition values stay strings (the reference's bkup_dt yyyyMMdd keys
    # are strings, BkupRs.py:234-239; inference would coerce them to int).
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Runtime bloom-filter injection: back to Spark's own default (ON),
    # r15. History: injection is gated on a ≥10 GB application-side
    # SCAN, but plans rooted in cached relations bypass that estimate,
    # and the r14 4-batch replay plans carried ~80 injected
    # bloom_filter_agg scalar subqueries over batch-sized cached
    # relations — r14 turned injection off session-wide on that
    # evidence (~15% of the replay) plus the r10 driver-heap finding
    # (the sizing caps below bound that side). r15 removed the misfire
    # surface itself: the replays derive their pair log in ONE
    # batch-ordered plan (streaming/incremental_dedup.py), and the
    # interleaved A/B on the new plans shows injection now WINS or ties
    # everywhere it fires — dedup_minhash_portable 3.59 vs 4.06 s,
    # flagship_serving_index 1.62 vs 1.82 s, canonical_portable 7.67 vs
    # 8.70 s, capped embed replay 3.16 vs 3.55 s, st_streaming_dedup
    # flat — so the r14 session-wide off-default (a config fix for an
    # algorithm problem) is retired per the r14 verdict's own item 2.
    # SPARK_GRAFT_RUNTIME_BLOOM=0 force-disables for a profile that
    # needs it; the sizing caps below still bound a misfired build to
    # ~100 KB per task.
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "false" if os.environ.get("SPARK_GRAFT_RUNTIME_BLOOM") == "0" else "true",
    )
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "100000")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "4194304")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A small driver-side frame (lookup tables, weight tables, empty
    results) built through an Arrow table in the schema's Arrow types.

    The plan is a ``LocalTableScan``: no Python worker runs, where a
    list-built ``createDataFrame`` ships a pickled Python RDD through
    them. Timestamp columns with values are rejected: Arrow reads a
    naive ``datetime`` as UTC, while the list path reads it as
    process-local time, so the two paths disagree under a non-UTC
    process timezone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if rows and any(
        isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)) for f in schema.fields
    ):
        raise TypeError("local_frame: timestamp columns convert differently through Arrow")
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
