"""Streaming sources/sinks and the stream→in-memory-table loop.

Source parity (SURVEY.md §2.1): socket text stream
(``TimeWindowWordCount.scala:16``), Kafka string stream
(``KafkaWindowWordCount.scala:18-23``), Kafka JSON table source with
declared schema (``ParquetTableJoin.scala:32-43``), file/text stream
(``WindowWordCount.scala:24``). Sink parity: Kafka producer
(``TimeWindowWordCount.scala:20-22``), text sink, and — the repo's
raison d'être — the continuous stream→queryable-table loop that
Flink→SnappyData was built to demonstrate, here as
``foreachBatch`` → cached catalog table.

Kafka/socket builders construct real plans but need live infra; tests
exercise the file and memory paths (the fixture parquet as a file
stream).
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader, StreamingQuery


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-source stream, mirroring
    ``catalog.load_table``'s type guard: the fixture has shipped ``ts``
    both as TIMESTAMP(NANOS) (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``, then ``div 1000`` → µs)
    and as plain TIMESTAMP(MICROS) (no conversion). Probe the footer via
    a one-off static read and convert only when ``ts`` arrives as
    ``LongType``. ``maxFilesPerTrigger``/``availableNow`` control
    micro-batching in tests."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .schema
    )
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ensure_event_time(df)


def ensure_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Make ``col`` watermarkable: event-time watermarks require
    TIMESTAMP (with tz), but parquet fixtures may surface TIMESTAMP_NTZ.
    The session tz is pinned to UTC (session.py), so the NTZ→TIMESTAMP
    cast preserves wall-clock instants and window boundaries
    bit-for-bit. Other types pass through untouched."""
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def socket_text_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Socket line stream (reference ``env.socketTextStream``)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


@dataclass(frozen=True)
class KafkaSourceSpec:
    """Declarative Kafka source config. ``options()`` is the single
    source of truth for what reaches Spark — ``reader()`` iterates it
    verbatim — so tests assert the built reader's options without a
    broker; ``load()`` is the only line a broker-less environment can't
    execute."""

    servers: str
    topic: str
    starting_offsets: str = "latest"
    fail_on_data_loss: bool = True

    def options(self) -> dict[str, str]:
        return {
            "kafka.bootstrap.servers": self.servers,
            "subscribe": self.topic,
            "startingOffsets": self.starting_offsets,
            "failOnDataLoss": str(self.fail_on_data_loss).lower(),
        }

    def reader(self, spark: SparkSession) -> DataStreamReader:
        r = spark.readStream.format("kafka")
        for k, v in self.options().items():
            r = r.option(k, v)
        return r

    def load(self, spark: SparkSession) -> DataFrame:
        """Requires the spark-sql-kafka package on the classpath."""
        return self.reader(spark).load()


def decode_kafka_string(raw: DataFrame) -> DataFrame:
    """Post-source transform of the Kafka string path: wire ``value``
    bytes → string plus the broker timestamp. Pure function of any
    frame with (value, timestamp) columns — the file/socket twins run
    it green without a broker."""
    return raw.select(
        F.col("value").cast("string").alias("value"), F.col("timestamp")
    )


def decode_kafka_json(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Post-source transform of the Kafka JSON table path (reference
    ``Kafka010JsonTableSource`` + TableSchema,
    ``ParquetTableJoin.scala:32-43``): JSON payload projected into the
    declared typed columns. Pure function — tested against a file-stream
    twin carrying the same (value, timestamp) shape."""
    return (
        decode_kafka_string(raw)
        .select(F.from_json(F.col("value"), schema).alias("data"), F.col("timestamp"))
        .select("data.*", "timestamp")
    )


def kafka_string_stream(
    spark: SparkSession, servers: str, topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka topic as a string stream (reference
    ``FlinkKafkaConsumer010[String]``, ``KafkaWindowWordCount.scala:18-23``)."""
    spec = KafkaSourceSpec(servers, topic, starting_offsets)
    return decode_kafka_string(spec.load(spark))


def kafka_json_table_stream(
    spark: SparkSession, servers: str, topic: str, schema: T.StructType,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka JSON table source with a declared schema (reference
    ``Kafka010JsonTableSource`` + TableSchema, ``ParquetTableJoin.scala:32-43``)."""
    spec = KafkaSourceSpec(servers, topic, starting_offsets)
    return decode_kafka_json(spec.load(spark), schema)


def encode_kafka_output(df: DataFrame) -> DataFrame:
    """Pure pre-sink transform of the Kafka producer path: project the
    payload to the wire ``value`` string column."""
    return df.selectExpr("CAST(value AS STRING) AS value")


def kafka_sink(df: DataFrame, servers: str, topic: str,
               checkpoint: str | None = None):
    """Kafka producer sink (reference ``FlinkKafkaProducer010`` with
    ``setWriteTimestampToKafka`` — Kafka stamps ingestion time itself)."""
    writer = (
        encode_kafka_output(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def run_to_memory_sink(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Drain all currently-available input into an in-memory table
    (availableNow trigger), then return the finished query. The test-time
    analog of the reference's print sink."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix=f"fss-ckpt-{name}-"),
        )
        .start()
    )
    q.awaitTermination()
    return q


def land_batch_partition(df: DataFrame, table: str, batch_id: int) -> None:
    """Idempotently land one micro-batch's rows as partition
    ``batch_id=N`` of a managed catalog table. First write creates the
    table partitioned by ``batch_id``; later writes use dynamic
    partition-overwrite ``insertInto``, which replaces ONLY the
    partitions present in the frame — so re-landing the same batch_id
    (a foreachBatch retry) rewrites its own partition instead of
    appending a duplicate copy. The dynamic-overwrite conf is set on
    the frame's own session (inside foreachBatch that is the per-batch
    cloned session, so the setting cannot leak to the parent)."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = df.withColumn("batch_id", F.lit(batch_id).cast("long"))
    if spark.catalog.tableExists(table):
        out.write.mode("overwrite").insertInto(table)
    else:
        out.write.partitionBy("batch_id").saveAsTable(table)


def ingest_stream_to_tables(
    stream_df: DataFrame,
    outputs,
    prepare=None,
    checkpoint: str | None = None,
    compact=None,
    compact_every: int = 8,
    compact_mode: str = "floor",
) -> StreamingQuery:
    """The ONE stream→queryable-catalog-table ingest loop every
    stream-to-table op in the engine rides (:func:`stream_to_table`,
    ``text.streaming_novelty_ingest``, ``sampling.streaming_mix_ingest``,
    ``similarity.streaming_centroid_ingest``): per micro-batch, run the
    expensive shared transform ``prepare`` ONCE (persisted when it fans
    out to several tables), then land each ``(table, build)`` output.

    EXACTLY-ONCE under foreachBatch retries: foreachBatch is
    at-least-once — a batch retried after a partial failure (crash
    between two table writes) would blind-append the same rows twice
    and silently corrupt any accumulated log-structured state. Every
    output row is therefore stamped with the micro-batch's ``batch_id``
    and the tables are PARTITIONED by it; writes use dynamic
    partition-overwrite ``insertInto``, so a retry of batch N rewrites
    exactly partition ``batch_id=N`` — idempotent, with no fold-time
    dedup shuffle for readers. Every reader opens its state through
    :func:`read_state_table`, which strips the ``batch_id`` lineage and
    applies compaction visibility.

    Scale: per batch, one persisted materialization of the shared
    transform and one partition-overwrite write per table; state tables
    are append-only logs folded by the reader's aggregation (partials
    merge map-side), never read-modify-written here — EXCEPT when the
    caller opts into periodic compaction (below), which bounds a
    long-running stream's state by its LIVE aggregate size instead of
    its age.

    COMPACTION (``compact``, single-output loops only): ``compact`` is
    the loop's MERGE (state-frame -> state-frame, same schema — e.g.
    the session fragment sweep-merge), and the loop's ``*_from_state``
    reader folds through the SAME function:
    ``finalize(compact(read_state_table(spark, table)))``. A merge
    written once is what makes compaction invisible to the reader.
    Every ``compact_every``-th micro-batch (:func:`land_floor_partition`)
    folds the accumulated live rows plus the current batch through
    ``compact`` and lands the result in the CURRENT batch's
    partition with a ``floor`` column stamped to this batch_id; normal
    batches stamp ``floor=0``. Readers (:func:`read_state_table`)
    keep only partitions ``batch_id >= max(floor)``, so a compaction
    supersedes everything before it ATOMICALLY with its own landing —
    one dynamic-partition write is the only state mutation, making a
    retried compaction batch recompute byte-identical output from the
    untouched pre-floor partitions (the exactly-once argument above,
    unchanged). Superseded partitions are dropped lazily AFTER the
    landing commits — pure space reclamation; a crash mid-drop leaves
    rows every reader and every future compaction already ignores.

    TIERED COMPACTION (``compact_mode="tiered"``): the floor mode
    above rewrites the ENTIRE live state every ``compact_every``
    batches — O(corpus) write amplification per compaction, the wrong
    trade for loops whose live state is corpus-sized (the dedup
    partials log: one row per distinct text, carrying the text).
    Tiered mode instead merges only the RAW batch partitions landed
    since the previous merge: every ``compact_every``-th micro-batch
    (:func:`land_tiered_partition`) folds those raws plus the current
    batch through ``compact`` and lands the result in the CURRENT
    batch's partition stamped
    ``covered_to = batch_id``; normal batches stamp ``covered_to=0``.
    Each row is therefore rewritten exactly ONCE ever (raw → its
    window's merged partition) — total write amplification 2x,
    independent of stream age — while the read fold opens
    O(age / compact_every) merged partitions plus <= compact_every
    trailing raws instead of O(age) raw partitions. Readers
    (:func:`read_state_table`) keep merged rows (``covered_to > 0``)
    plus raw rows with ``batch_id > max(covered_to)`` — the one-write
    atomic-supersede argument of the floor mode, unchanged, because
    merges always cover a CONTIGUOUS prefix extension
    ``(prev_covered, batch_id]``. Reclamation is delayed one merge
    (drop raw partitions below the PREVIOUS covered boundary), so a
    retried merge batch recomputes byte-identical output from raws a
    crash cannot have dropped yet — the same one-compaction-lag
    discipline as floor mode's ``< prev_floor`` drop.

    outputs: list of ``(table_name, build)`` where ``build`` maps the
    prepared frame to that table's rows. ``prepare=None`` means the
    micro-batch lands as-is.
    """
    if compact is not None and (
        len(outputs) != 1 or outputs[0][1] is not None
    ):
        # the compacting path lands the prepared frame directly and
        # would silently skip a per-output build callable
        raise ValueError(
            "compaction supports single-output loops with build=None "
            "(fold the transform into prepare)"
        )
    if compact_mode not in ("floor", "tiered"):
        raise ValueError(f"compact_mode must be floor|tiered: {compact_mode!r}")

    land = (
        land_tiered_partition if compact_mode == "tiered" else land_floor_partition
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        base = prepare(batch_df) if prepare is not None else batch_df
        if compact is not None:
            land(base, outputs[0][0], batch_id, compact, compact_every)
            return
        fan_out = len(outputs) > 1
        if fan_out:
            base.persist()
        try:
            for table, build in outputs:
                land_batch_partition(
                    build(base) if build is not None else base,
                    table,
                    batch_id,
                )
        finally:
            if fan_out:
                base.unpersist()

    tag = "-".join(t for t, _ in outputs)
    q = (
        stream_df.writeStream.foreachBatch(_ingest)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix=f"fss-ckpt-{tag}-"),
        )
        .start()
    )
    q.awaitTermination()
    # foreachBatch writes through a cloned session whose catalog refresh
    # does not reach the parent; invalidate the parent's relation cache
    # so readers of the tables see the new files immediately. A run that
    # landed no batch (empty source on first ingest) never created the
    # table, so there is nothing to refresh.
    for table, _ in outputs:
        try:
            stream_df.sparkSession.catalog.refreshTable(table)
        except AnalysisException as e:
            if e.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
                raise
    return q


def land_floor_partition(
    base: DataFrame,
    table: str,
    batch_id: int,
    compact,
    compact_every: int,
) -> None:
    """One micro-batch of the FLOOR-compacting ingest (module-level,
    like :func:`land_tiered_partition`, so the fold scale probe drives
    the identical code path the stream does): normal batches land with
    ``floor=0``; every ``compact_every``-th batch folds the live rows
    plus the current batch through ``compact`` and lands the result
    stamped ``floor = batch_id``. See :func:`ingest_stream_to_tables`'s
    COMPACTION section for the visibility/exactly-once argument."""
    spark = base.sparkSession
    out = base.withColumn("floor", F.lit(0).cast("long"))
    is_compaction = (
        batch_id > 0
        and batch_id % compact_every == 0
        and spark.catalog.tableExists(table)
    )
    prev_floor = 0
    if is_compaction:
        # Pre-floor state only, and NEVER this batch's own partition
        # (a retry may have left a partial/complete one — the
        # recompute must not read its own prior output).
        state = spark.table(table).filter(F.col("batch_id") < batch_id)
        # bounded driver fetch: one scalar (the current floor)
        prev_floor = state.agg(F.max("floor")).collect()[0][0] or 0
        live = (
            state.filter(F.col("batch_id") >= prev_floor)
            .drop("batch_id", "floor")
        )
        out = compact(live.unionByName(base)).withColumn(
            "floor", F.lit(batch_id).cast("long")
        )
    land_batch_partition(out, table, batch_id)
    if is_compaction:
        # lazy space reclamation of partitions no reader can see
        # (floor is now batch_id; anything below prev_floor was
        # already invisible before this compaction committed)
        for row in spark.sql(f"SHOW PARTITIONS {table}").collect():
            pid = int(row[0].split("=", 1)[1])
            if pid < prev_floor:
                spark.sql(
                    f"ALTER TABLE {table} DROP IF EXISTS "
                    f"PARTITION (batch_id={pid})"
                )


def land_tiered_partition(
    base: DataFrame,
    table: str,
    batch_id: int,
    compact,
    compact_every: int,
) -> None:
    """One micro-batch of the TIERED ingest (module-level so the fold
    scale probe and the retry tests drive the identical code path the
    stream does): normal batches land raw (``covered_to=0``); every
    ``compact_every``-th batch folds the raw partitions landed since
    the previous merge plus the current batch through ``compact`` and
    lands the merged result stamped ``covered_to = batch_id``. See
    :func:`ingest_stream_to_tables`'s TIERED COMPACTION section for
    the visibility/exactly-once argument."""
    spark = base.sparkSession
    out = base.withColumn("covered_to", F.lit(0).cast("long"))
    is_merge = (
        batch_id > 0
        and batch_id % compact_every == 0
        and spark.catalog.tableExists(table)
    )
    prev_cov = 0
    if is_merge:
        # Pre-batch state only, NEVER this batch's own partition (a
        # retry may have left a partial/complete one — the recompute
        # must not read its own prior output).
        state = spark.table(table).filter(F.col("batch_id") < batch_id)
        # bounded driver fetch: one scalar (previous merge boundary).
        # Merges only ever land at multiples of compact_every, so the
        # boundary scan partition-prunes to those candidate ids instead
        # of reading the whole log (an O(age) scan per merge would make
        # total landing cost quadratic in stream age).
        # covered_to=0 marks RAW rows, so "no merge yet" also reads 0 —
        # normalize to -1 so the first merge's (prev_cov, batch_id]
        # window includes batch 0.
        candidates = list(range(compact_every, batch_id, compact_every))
        prev_cov = (
            state.filter(F.col("batch_id").isin(candidates))
            .agg(F.max("covered_to"))
            .collect()[0][0]
            if candidates
            else None
        ) or -1
        prev_cov = prev_cov if prev_cov > 0 else -1
        raws = state.filter(
            (F.col("covered_to") == 0) & (F.col("batch_id") > prev_cov)
        ).drop("batch_id", "covered_to")
        out = compact(raws.unionByName(base)).withColumn(
            "covered_to", F.lit(batch_id).cast("long")
        )
    land_batch_partition(out, table, batch_id)
    if is_merge and prev_cov > 0:
        # Delayed space reclamation (one merge of lag): raw partitions
        # below the PREVIOUS boundary were superseded by the merge
        # that committed prev_cov — no reader and no future recompute
        # (which only reads > prev_cov) can need them. Merged
        # partitions live at their covered_to id and stay visible
        # forever; everything else below prev_cov is raw and dead. A
        # crash mid-drop leaves invisible rows only.
        merged_ids = {
            int(r[0])
            for r in spark.table(table)
            # merges only land at multiples of compact_every: prune the
            # id scan to those partitions (bounded: one per merge ever)
            .filter(
                F.col("batch_id").isin(candidates)
                & (F.col("covered_to") > 0)
            )
            .select("batch_id")
            .distinct()
            .collect()
        }
        for row in spark.sql(f"SHOW PARTITIONS {table}").collect():
            pid = int(row[0].split("=", 1)[1])
            if pid < prev_cov and pid not in merged_ids:
                spark.sql(
                    f"ALTER TABLE {table} DROP IF EXISTS "
                    f"PARTITION (batch_id={pid})"
                )


def read_state_table(spark, table: str) -> DataFrame:
    """Open an ingest-loop state table for folding: strips the
    ``batch_id`` lineage column and, when the loop compacts (``floor``
    column present), keeps only the live rows ``batch_id >=
    max(floor)`` — the partitions at or after the latest compaction.
    For TIERED loops (``covered_to`` column present) the live rows are
    every merged row (``covered_to > 0``) plus the raw rows newer than
    the latest merge boundary (``batch_id > max(covered_to)``). Either
    scalar is a broadcast one-row aggregate joined into the scan, not
    a driver collect, so the read stays one distributed plan. Tables
    from non-compacting loops pass through unfiltered — same behavior
    as the plain ``drop``."""
    df = spark.table(table)
    if "covered_to" in df.columns:
        # plain max() so the subquery stays parquet-aggregate-pushdown
        # eligible (footer stats answer it without reading rows);
        # covered_to=0 marks raws, so max()==0 means "no merge yet" —
        # normalized to -1 POST-join so every raw partition stays live
        mc = df.groupBy().agg(F.max("covered_to").alias("_mc"))
        boundary = F.when(F.col("_mc") > 0, F.col("_mc")).otherwise(
            F.lit(-1)
        )
        return (
            df.join(F.broadcast(mc))
            .filter(
                (F.col("covered_to") > 0)
                | (F.col("batch_id") > F.coalesce(boundary, F.lit(-1)))
            )
            .drop("batch_id", "covered_to", "_mc")
        )
    if "floor" not in df.columns:
        return df.drop("batch_id")
    fl = df.groupBy().agg(F.max("floor").alias("_fl"))
    return (
        df.join(F.broadcast(fl))
        .filter(F.col("batch_id") >= F.coalesce(F.col("_fl"), F.lit(0)))
        .drop("batch_id", "floor", "_fl")
    )


def stream_to_table(
    df: DataFrame, table: str, checkpoint: str | None = None
) -> StreamingQuery:
    """The stream→OLAP-table continuous loop (SURVEY.md §2.6 last row):
    every micro-batch landed in a queryable catalog table via
    foreachBatch — the Flink→SnappyData write path the reference's title
    promises but never implements. Rides
    :func:`ingest_stream_to_tables`, so the landed table carries a
    ``batch_id`` lineage/partition column and retried micro-batches
    overwrite (never duplicate) their own partition."""
    return ingest_stream_to_tables(
        df, [(table, None)], checkpoint=checkpoint
    )
