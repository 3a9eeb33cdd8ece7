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


def land_batch_partition(
    df: DataFrame,
    table: str,
    batch_id: int,
    stamp: tuple[str, int] | None = None,
) -> None:
    """Idempotently land one micro-batch's rows as partition
    ``batch_id=N`` of a managed catalog table. First write creates the
    table partitioned by ``batch_id``; later writes use dynamic
    partition-overwrite ``insertInto``, which replaces ONLY the
    partitions present in the frame — so re-landing the same batch_id
    (a foreachBatch retry) rewrites its own partition instead of
    appending a duplicate copy. The dynamic-overwrite conf is set on
    the frame's own session (inside foreachBatch that is the per-batch
    cloned session, so the setting cannot leak to the parent).

    ``stamp=(column, value)`` adds a second partition column after
    ``batch_id`` — the compaction marker of a compacting loop — so the
    table is laid out ``batch_id=N/<column>=<value>``. The stamp must be
    a deterministic function of the batch: a retry then rewrites the
    same ``(batch_id, stamp)`` partition."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    parts = {"batch_id": batch_id}
    if stamp:
        parts[stamp[0]] = stamp[1]
    out = df.select(
        "*", *(F.lit(v).cast("long").alias(k) for k, v in parts.items())
    )
    if spark.catalog.tableExists(table):
        out.write.mode("overwrite").insertInto(table)
    else:
        out.write.partitionBy(*parts).saveAsTable(table)


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
    The table is partitioned by ``(batch_id, floor)``: normal batches
    land at ``floor=0``; every ``compact_every``-th micro-batch
    (:func:`land_floor_partition`) folds the live rows plus the current
    batch through ``compact`` and lands the result at ``batch_id=N/
    floor=N``. The compaction boundary is therefore partition
    METADATA: the live rows are the partitions ``batch_id >= max(floor)``
    and one ``SHOW PARTITIONS`` listing (a catalog command, no Spark
    job) yields it, the way Structured Streaming reads its committed
    epoch from its logs rather than from the data. A compaction
    supersedes everything before it ATOMICALLY with its own landing —
    one dynamic-partition write is the only state mutation. The stamp
    is a deterministic function of the batch (a batch compacts iff its
    id is a multiple of ``compact_every`` and an earlier partition
    exists; a first landed batch stamps 0 even at a multiple), so a
    retried batch rewrites its own ``(batch_id, floor)`` partition, and
    a retried compaction recomputes byte-identical output from the
    untouched pre-floor partitions (the exactly-once argument above,
    unchanged). Superseded partitions are dropped AFTER the landing
    commits, in one ``ALTER TABLE … DROP`` with full partition specs —
    pure space reclamation; a crash mid-drop leaves rows every reader
    and every future compaction already ignores.

    TIERED COMPACTION (``compact_mode="tiered"``): the floor mode
    above rewrites the ENTIRE live state every ``compact_every``
    batches — O(corpus) write amplification per compaction, the wrong
    trade for loops whose live state is corpus-sized (the dedup
    partials log: one row per distinct text, carrying the text).
    Tiered mode instead merges only the RAW batch partitions landed
    since the previous merge. The table is partitioned by
    ``(batch_id, covered_to)``: normal batches land raw at
    ``covered_to=0``; every ``compact_every``-th micro-batch
    (:func:`land_tiered_partition`) folds those raws plus the current
    batch through ``compact`` and lands the result at ``batch_id=N/
    covered_to=N``. Each row is therefore rewritten exactly ONCE ever
    (raw → its window's merged partition) — total write amplification
    2x, independent of stream age — while the read fold opens
    O(age / compact_every) merged partitions plus <= compact_every
    trailing raws instead of O(age) raw partitions. The live rows are
    the merged partitions (``covered_to > 0``) plus the raw partitions
    with ``batch_id > max(covered_to)``, all read from the same
    partition listing. The one-write atomic-supersede and
    deterministic-stamp arguments of the floor mode hold unchanged,
    because merges always cover a CONTIGUOUS prefix extension
    ``(prev_covered, batch_id]``. Reclamation is delayed one merge
    (drop raw partitions below the PREVIOUS covered boundary), so a
    retried merge batch recomputes byte-identical output from raws a
    crash cannot have dropped yet — the same one-compaction-lag
    discipline as floor mode's ``< prev_floor`` drop.

    outputs: list of ``(table_name, build)`` where ``build`` maps the
    prepared frame to that table's rows. ``prepare=None`` means the
    micro-batch lands as-is. ``prepare`` runs on the micro-batch at its
    source partitioning: a prepare calls its kernel on the batch
    directly, never through ``util.spread`` (batch-only), whose
    round-robin shuffle of a few-row batch would cost a Spark job of
    its own in every trigger.
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


def _check_layout(table: str, columns: list[str], stamp: str) -> None:
    """A compacting loop's state table is laid out
    ``batch_id=N/<stamp>=M``, so its partition columns close its schema
    in that order. A table that carries the stamp column in any other
    place (written before the stamp became a partition column) cannot
    answer its compaction boundary from the partition listing, and
    guessing would return superseded rows: raise instead."""
    if columns[-2:] != ["batch_id", stamp]:
        raise ValueError(
            f"state table {table} is not partitioned by (batch_id, {stamp}),"
            " the layout of compacting ingest loops: drop and re-ingest it"
        )


def _stamped_partitions(spark, table: str, stamp: str) -> list[tuple[int, int]]:
    """``(batch_id, stamp)`` of every partition of a compacting loop's
    state table, from one ``SHOW PARTITIONS`` listing — a catalog
    command, so it launches no Spark job."""
    out = []
    for (spec,) in spark.sql(f"SHOW PARTITIONS {table}").collect():
        kv = dict(p.split("=", 1) for p in spec.split("/"))
        out.append((int(kv["batch_id"]), int(kv[stamp])))
    return out


def _earlier_partitions(
    spark, table: str, stamp: str, batch_id: int, compact_every: int
) -> list[tuple[int, int]]:
    """The ``(batch_id, stamp)`` partitions landed before ``batch_id``
    when ``batch_id`` is a multiple of ``compact_every`` (only those
    batches compact, so only they pay the listing); ``[]`` for every
    other batch and before the table exists. Never this batch's own
    partition: a retry may have left a complete one, and the recompute
    must neither read its own prior output nor move its boundary."""
    if not spark.catalog.tableExists(table):
        return []
    _check_layout(table, spark.table(table).columns, stamp)
    if batch_id % compact_every:
        return []
    return [p for p in _stamped_partitions(spark, table, stamp) if p[0] < batch_id]


def _drop_partitions(spark, table: str, stamp: str, dead) -> None:
    """Drop the listed ``(batch_id, stamp)`` partitions in ONE statement.
    Each spec names both partition columns: a partial spec such as
    ``PARTITION (batch_id=N)`` matches nothing on the two-column layout
    and ``IF EXISTS`` would drop nothing without a word."""
    if dead:
        specs = ", ".join(
            f"PARTITION (batch_id={b}, {stamp}={s})" for b, s in dead
        )
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")


def land_floor_partition(
    base: DataFrame,
    table: str,
    batch_id: int,
    compact,
    compact_every: int,
) -> None:
    """One micro-batch of the FLOOR-compacting ingest (module-level,
    like :func:`land_tiered_partition`, so the fold scale probe drives
    the identical code path the stream does): normal batches land at
    ``batch_id=N/floor=0``; every ``compact_every``-th batch that has
    earlier state folds the live rows plus the current batch through
    ``compact`` and lands the result at ``batch_id=N/floor=N``. The
    previous floor and the drop list come from the partition listing,
    not from a scan. See :func:`ingest_stream_to_tables`' COMPACTION
    section for the visibility/exactly-once argument."""
    spark = base.sparkSession
    earlier = _earlier_partitions(spark, table, "floor", batch_id, compact_every)
    prev_floor = max((s for _, s in earlier), default=0)
    stamp = batch_id if earlier else 0
    if stamp:
        live = (
            spark.table(table)
            .filter(F.col("batch_id").between(prev_floor, batch_id - 1))
            .drop("batch_id", "floor")
        )
        base = compact(live.unionByName(base))
    land_batch_partition(base, table, batch_id, ("floor", stamp))
    if stamp:
        # space reclamation of partitions no reader can see (the floor
        # is now batch_id; anything below prev_floor was already
        # invisible before this compaction committed)
        _drop_partitions(
            spark, table, "floor", [p for p in earlier if p[0] < prev_floor]
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
    stream does): normal batches land raw at ``batch_id=N/
    covered_to=0``; every ``compact_every``-th batch that has earlier
    state folds the raw partitions landed since the previous merge plus
    the current batch through ``compact`` and lands the merged result
    at ``batch_id=N/covered_to=N``. The previous boundary, the merged
    ids and the drop list come from the partition listing. See
    :func:`ingest_stream_to_tables`' TIERED COMPACTION section for the
    visibility/exactly-once argument."""
    spark = base.sparkSession
    earlier = _earlier_partitions(
        spark, table, "covered_to", batch_id, compact_every
    )
    # merged partitions are the ones with covered_to > 0; -1 when no
    # merge committed yet, so the first window includes batch 0
    prev_cov = max((c for _, c in earlier if c > 0), default=-1)
    stamp = batch_id if earlier else 0
    if stamp:
        raws = (
            spark.table(table)
            .filter(
                (F.col("covered_to") == 0)
                & F.col("batch_id").between(prev_cov + 1, batch_id - 1)
            )
            .drop("batch_id", "covered_to")
        )
        base = compact(raws.unionByName(base))
    land_batch_partition(base, table, batch_id, ("covered_to", stamp))
    if stamp and prev_cov > 0:
        # Delayed space reclamation (one merge of lag): raw partitions
        # below the PREVIOUS boundary were superseded by the merge
        # that committed prev_cov — no reader and no future recompute
        # (which only reads > prev_cov) can need them. Merged
        # partitions stay visible forever. A crash mid-drop leaves
        # invisible rows only.
        _drop_partitions(
            spark,
            table,
            "covered_to",
            [(b, c) for b, c in earlier if c == 0 and b < prev_cov],
        )


def read_state_table(spark, table: str) -> DataFrame:
    """Open an ingest-loop state table for folding: strips the
    ``batch_id`` lineage column and, for compacting loops, the stamp
    partition column, keeping only the live rows. FLOOR loops (``floor``
    partition column) keep the partitions ``batch_id >= max(floor)``;
    TIERED loops (``covered_to`` partition column) keep every merged
    partition (``covered_to > 0``) plus the raw partitions newer than
    the latest merge (``batch_id > max(covered_to)``). The boundary is
    read from one ``SHOW PARTITIONS`` listing when the frame is built
    and enters the plan as a literal partition filter, so building the
    reader launches no Spark job and the scan prunes superseded
    partitions with no aggregate and no join. Build the reader after
    the ingest it should see: a frame built earlier keeps its boundary.
    Tables from non-compacting loops pass through unfiltered — same
    behavior as the plain ``drop``."""
    df = spark.table(table)
    stamp = next((c for c in ("covered_to", "floor") if c in df.columns), None)
    if stamp is None:
        return df.drop("batch_id")
    _check_layout(table, df.columns, stamp)
    top = max((s for _, s in _stamped_partitions(spark, table, stamp)), default=0)
    if top > 0:
        df = df.filter(
            F.col("batch_id") >= top
            if stamp == "floor"
            else (F.col("covered_to") > 0) | (F.col("batch_id") > top)
        )
    return df.drop("batch_id", stamp)


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
