"""Warehouse catalog: parquet directories as tables, temp views for SQL.

The reference's "warehouse" is Redshift tiers t0-t5 reached over JDBC
(``Talent_Opportunity_Platform/AWS_GLUE_ETL.py:100-106``, table names like
``hrtpr.t3_emp_feature`` at ``Elastic_indexing.py:131``). Here the warehouse
IS Spark + Parquet: a table is a parquet path, a "Redshift query" is
``spark.sql`` over registered views (SURVEY §1.1).

Scale note: at 100 TB these would be date-partitioned parquet/iceberg
directories; ``load_tables`` reads whole tables only because the driver's
testdata ships one file per table. All downstream operators filter/project
through Catalyst so partition pruning + predicate pushdown engage as soon
as the storage layout provides them.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

__all__ = [
    "TABLES",
    "DEFAULT_SF_DIR",
    "table_path",
    "load_table",
    "load_tables",
    "register_views",
    "bucketed_layout",
]

# (sf_dir, table) → managed-table name. While set, load_table routes reads
# of that table to a bucket-sorted managed copy, so EVERY registered query
# transparently runs on the bucketed layout — the end-to-end story for the
# one fact-fact shuffle (lineitem⋈orders on orderkey), not just the
# isolated join primitive.
_LAYOUT_OVERRIDES: dict[tuple[str, str], str] = {}


# table path → (file fingerprint, inferred schema): the last schema
# Spark inferred for the file set at that path. One slot per path, so
# the count is bounded by the number of table paths read; deliberately
# not in memo.py, whose cap exists to release persisted preps.
_SCHEMA_SLOTS: dict[str, tuple[tuple, T.StructType]] = {}
# Session confs that change how Parquet types convert to Spark types.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """The path, then (relative name, size, ``mtime_ns``) of every file
    under it, then the values of ``_SCHEMA_CONFS``; None for a path that
    is not on the local filesystem (stat-ing remote objects is not free)
    or holds no file. Driver-side metadata only — no Spark job."""
    u = urlparse(path)
    if u.scheme not in ("", "file"):
        return None
    root = unquote(u.path)
    if os.path.isfile(root):
        st = os.stat(root)
        files = [("", st.st_size, st.st_mtime_ns)]
    else:
        files = []
        for d, dirs, names in os.walk(root):
            dirs.sort()
            for n in sorted(names):
                st = os.stat(os.path.join(d, n))
                files.append((os.path.relpath(os.path.join(d, n), root), st.st_size, st.st_mtime_ns))
    if not files:
        return None
    return (path, tuple(files), tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (a Spark job
    reading the footers) only when the path's fingerprint differs from
    the one stored with its slot; otherwise it reads with the stored
    schema, which runs no job. A Spark overwrite, an outside rewrite or
    a flipped type-conversion conf changes the fingerprint."""
    fp = _fingerprint(spark, path)
    slot = _SCHEMA_SLOTS.get(path)
    if fp is not None and slot is not None and slot[0] == fp:
        return spark.read.schema(slot[1]).parquet(path)
    df = spark.read.parquet(path)
    if fp is not None:
        # fingerprinted before the read: a rewrite racing the inference
        # leaves a stale fingerprint, never a stale schema
        _SCHEMA_SLOTS[path] = (fp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table.

    ``events.parquet`` has shipped with both nanosecond and microsecond
    ``ts`` across driver rounds, so we branch on the dtype Spark actually
    reads rather than assuming a writer:

    - ``LongType`` (nanos read via the ``nanosAsLong`` legacy conf, which
      Spark otherwise rejects with PARQUET_TYPE_ILLEGAL): rebuild a
      microsecond timestamp with integer ``div 1000`` — the same floor
      truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP.
    - ``TimestampNTZType`` (micros, no session-TZ semantics): cast to
      TimestampType. The session TZ is pinned UTC (``session.py:67``) so
      values are preserved and the schema matches the oracle's.
    - ``TimestampType``: passthrough.

    Each table's schema is inferred once per file set (``_read_parquet``).
    """
    override = _LAYOUT_OVERRIDES.get((sf_dir, name))
    if override is not None:
        return spark.table(override)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = _read_parquet(spark, table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if isinstance(ts_type, TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (the reference's
    ``createOrReplaceTempView`` pattern, ``Keyword.py:135-174``)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


@contextmanager
def bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    keys: dict[str, list[str]] | None = None,
    n_buckets: int = 32,
):
    """Materialize bucket-sorted copies of the given fact tables and route
    ``load_table`` to them for the duration of the block.

    Default layout buckets BOTH lineitem and orders on orderkey with
    matching bucket counts — the co-location that deletes the Exchange
    from every equi-join/groupBy on that key (flagship, Q3, Q18). This is
    the pay-once-at-load layout decision a 100 TB warehouse makes instead
    of re-shuffling per query; the managed copies are dropped on exit
    (in production they ARE the tables)."""
    from .sources.writers import bucketize

    keys = keys or {"lineitem": ["l_orderkey"], "orders": ["o_orderkey"]}
    created: list[tuple[str, str]] = []
    try:
        for name, key_cols in keys.items():
            managed = f"bucketed_{name}_{n_buckets}"
            bucketize(load_table(spark, sf_dir, name), managed, key_cols, n_buckets=n_buckets)
            _LAYOUT_OVERRIDES[(sf_dir, name)] = managed
            created.append((name, managed))
        yield
    finally:
        for name, managed in created:
            _LAYOUT_OVERRIDES.pop((sf_dir, name), None)
            spark.sql(f"DROP TABLE IF EXISTS {managed}")
