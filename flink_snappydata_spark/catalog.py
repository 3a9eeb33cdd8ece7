"""In-memory table catalog — the engine's "SnappyData store" half.

The reference scans a SnappyData in-memory bucketed table one split per
bucket with locality-aware assignment (reference
``SnappydataJdbcUtil.scala:21-33``, ``SnappydataInputSplitAssigner.java:21-61``).
In Spark the equivalent is: parquet files registered as temp views —
scans are partition-parallel (one task per file split), locality-aware
(Spark task scheduler), snapshot-consistent (immutable files), with
predicate pushdown and column pruning handled by Catalyst. Caching a view
makes it a bona-fide in-memory columnar table, which is exactly what
SnappyData was.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Every driver fixture table (TESTDATA.md): TPC-H-ish star schema plus
#: the events stream table and the LLM-pipeline tables.
TABLES = (
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

#: Opt-in in-memory columnar table cache — the "SnappyData store" mode.
#: Off by default (one-shot correctness runs should pay one scan, not a
#: cache materialization); bench and long-lived sessions turn it on.
#: Keyed by (application id, sf_dir, table) so a stop/start cycle never
#: hands out DataFrames bound to a dead session.
_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_CACHE_ENABLED = False


def enable_table_cache(enabled: bool = True) -> None:
    """Toggle the in-memory table cache for subsequent ``load_table``
    calls. Cached tables live as Spark in-memory columnar relations
    (compressed, partitioned across executors) — exactly what the
    reference's SnappyData store was."""
    global _CACHE_ENABLED
    _CACHE_ENABLED = enabled
    if not enabled:
        clear_table_cache()


def clear_table_cache() -> None:
    """Drop every cached table, tolerating already-stopped sessions
    (``stop_spark`` calls this so stale entries never outlive their
    session)."""
    for df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to free
    _CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan: splittable, prunable.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some
    fixture generations (which Spark's vectorized reader rejects) and
    TIMESTAMP(MICROS) in others, so the conversion is footer-guarded:
    when the column arrives as long (nanos via
    ``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable), we
    truncate to microseconds with integer division — ``ts div 1000``
    stays in int64 the whole way (a double division would lose
    precision above 2^53), matching DuckDB's own ns→µs truncation
    bit-for-bit. Plain timestamp columns pass through untouched.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if _CACHE_ENABLED and key in _CACHE:
        return _CACHE[key]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if _CACHE_ENABLED:
        df = df.cache()
        _CACHE[key] = df
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (idempotent)."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def save_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 32
) -> None:
    """Persist as a hash-bucketed, per-bucket-sorted catalog table.

    This is the Spark analog of the reference's store layout: SnappyData
    hash-partitions each table into N buckets and the connector scans
    one split per bucket (reference ``SnappydataJdbcUtil.scala:21-33``,
    ``SnappyDataConnectorHelper.scala:142-152``). Spark's ``bucketBy``
    gives the same contract — and the payoff the reference never got:
    two tables bucketed on the same key by the same count join with NO
    shuffle on either side (verified by plan test). At 100 TB,
    pre-bucketing fact tables on their join key removes the dominant
    exchange from every downstream join.
    """
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def save_partitioned(df: DataFrame, table: str, partition_col: str) -> None:
    """Persist hive-style partitioned by a (low-cardinality) column.

    Queries filtering on ``partition_col`` scan only matching
    directories (partition pruning — the Spark analog of the
    reference's ``SET_BUCKETS_FOR_LOCAL_EXECUTION`` bucket pruning,
    ``SnappyDataConnectorHelper.scala:22-27``); verified by plan test.
    """
    (
        df.write.partitionBy(partition_col)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
