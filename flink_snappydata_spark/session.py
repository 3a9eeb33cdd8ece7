"""SparkSession bootstrap — the engine's "cluster" entry point.

The reference boots a Flink ExecutionEnvironment plus a SnappyData
connection pool sized ``max(256, cores*8)`` (reference
``NetworkStoreUtil.scala:4-8``). In Spark both halves collapse into one
SparkSession; what we configure here is the performance envelope that the
reference hand-built:

* AQE on — runtime join-strategy switching + skew-join handling replaces
  the reference's static one-split-per-bucket planning.
* Arrow on — columnar Python<->JVM transfer replaces the reference's
  "thrift direct ByteBuffers" LOB transport
  (``SnappyDataConnectorHelper.scala:73-75``).
* Shuffle partitions sized for the local harness but overridable via env
  for cluster deployment (at 100 TB you want ~2-3x total cores, or simply
  AQE coalescing from a high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "flink-snappydata-spark"


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Safe to call repeatedly — returns the active session if one exists.
    All settings are conf-level, so a real cluster deployment can override
    master/partitions without code changes.
    """
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # Adaptive execution: runtime coalescing, skew-join splitting, and
        # sort-merge->broadcast switching. This is the scale story: plans
        # written here re-plan themselves at 1000-executor scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-UDF / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Shuffle partitions: harness-sized default; AQE coalesces down.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))),
        )
        # Broadcast dims aggressively (all our dim tables are tiny
        # relative to fact tables at every SF).
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Input split size — the spill-aware knob: size splits so a
        # task's working set fits executor memory. 128m default; shrink
        # (e.g. 32m) for wide binary/multimodal rows, grow for tiny-row
        # scans. Env-overridable so cluster deploys tune without code.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # Read ns-precision parquet timestamps (events.ts) as long nanos;
        # catalog.load_table converts to micros losslessly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming micro-batch state store: local dir checkpoints.
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/fss-warehouse"))
        .config("spark.ui.enabled", "false")
        # Generated-code cache. Spark's default keeps 100 compiled
        # classes; one build+force of dedup_clusters alone generates
        # ~90 (a class per codegen stage, projection and ordering), so
        # a session that alternates between a handful of pipeline
        # queries recompiled nearly every class on every run (85-116
        # Janino compiles, ~0.35-0.6 s, per dedup_clusters run at
        # sf0.01). A compiled class is tens of KB.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    from flink_snappydata_spark.catalog import clear_table_cache

    clear_table_cache()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
