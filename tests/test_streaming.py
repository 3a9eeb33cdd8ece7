"""True Structured-Streaming execution smoke + streaming-vs-batch
equivalence for the windowed agg, stream-stream join, count window, and
the stream→table loop (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import pandas as pd
import pytest

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.streaming import runtime
from flink_snappydata_spark.streaming.count_window import (
    count_window_sums,
    streaming_count_window,
)
from flink_snappydata_spark.streaming.joins import windowed_stream_join
from flink_snappydata_spark.streaming.windows import tumbling_window_counts

from tests.conftest import SF_SMOKE


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def test_streaming_tumbling_window_matches_batch(spark):
    stream = runtime.events_file_stream(spark, SF_SMOKE)
    # complete mode: all windows re-emitted, comparable to batch result
    agg = tumbling_window_counts(stream, watermark="0 seconds")
    runtime.run_to_memory_sink(agg, "tumbling_smoke", output_mode="complete")
    got = _sorted(spark.table("tumbling_smoke").toPandas())
    want = _sorted(
        tumbling_window_counts(load_table(spark, SF_SMOKE, "events")).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_count_window_matches_batch(spark):
    stream = runtime.events_file_stream(spark, SF_SMOKE)
    sized = streaming_count_window(stream, size=100, slide=10)
    runtime.run_to_memory_sink(sized, "cw_smoke", output_mode="append")
    got = _sorted(spark.table("cw_smoke").toPandas())
    want = _sorted(
        count_window_sums(load_table(spark, SF_SMOKE, "events")).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_stream_stream_join_matches_batch(spark):
    stream = runtime.events_file_stream(spark, SF_SMOKE)
    clicks = stream.filter(stream.event_type == "click")
    views = stream.filter(stream.event_type == "view")
    joined = windowed_stream_join(clicks, views, watermark="0 seconds")
    runtime.run_to_memory_sink(joined, "ssj_smoke", output_mode="append")
    got = _sorted(spark.table("ssj_smoke").toPandas())

    batch = load_table(spark, SF_SMOKE, "events")
    want = _sorted(
        windowed_stream_join(
            batch.filter(batch.event_type == "click"),
            batch.filter(batch.event_type == "view"),
        ).toPandas()
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_stream_to_table_loop(spark):
    """foreachBatch → saveAsTable: the stream→queryable-OLAP-table loop."""
    spark.sql("DROP TABLE IF EXISTS events_live")
    stream = runtime.events_file_stream(spark, SF_SMOKE)
    runtime.stream_to_table(stream, "events_live")
    n_stream = spark.table("events_live").count()
    n_batch = load_table(spark, SF_SMOKE, "events").count()
    assert n_stream == n_batch
    # and it is queryable SQL like any catalog table
    agg = spark.sql(
        "SELECT event_type, COUNT(*) AS n FROM events_live GROUP BY event_type"
    ).count()
    assert agg == 5
    spark.sql("DROP TABLE IF EXISTS events_live")


def test_streaming_wordcount_smoke(spark):
    """KafkaWindowWordCount shape on a text stream built from documents."""
    import tempfile

    from flink_snappydata_spark.streaming.windows import streaming_wordcount

    tmp = tempfile.mkdtemp(prefix="fss-lines-")
    docs = load_table(spark, SF_SMOKE, "documents").select("text")
    docs.limit(50).write.mode("overwrite").text(tmp)
    lines = (
        spark.readStream.text(tmp)
        .withColumnRenamed("value", "value")
        .withColumn("timestamp", __import__("pyspark.sql.functions", fromlist=["f"]).current_timestamp())
    )
    wc = streaming_wordcount(lines)
    runtime.run_to_memory_sink(wc, "wc_smoke", output_mode="append")
    # watermark 0 s + single availableNow batch → counts may land in the
    # sink only after window close; smoke = query ran and schema stable
    assert list(spark.table("wc_smoke").columns) == ["window_start", "word", "cnt"]


def test_streaming_sliding_window_matches_batch(spark):
    from flink_snappydata_spark.streaming.windows import sliding_window_counts

    stream = runtime.events_file_stream(spark, SF_SMOKE)
    agg = sliding_window_counts(stream, watermark="0 seconds")
    runtime.run_to_memory_sink(agg, "sliding_smoke", output_mode="complete")
    got = _sorted(spark.table("sliding_smoke").toPandas())
    want = _sorted(
        sliding_window_counts(load_table(spark, SF_SMOKE, "events")).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill a file stream mid-corpus, restart from the same checkpoint:
    every input row lands exactly once (offset tracking + idempotent
    batch commits — the recovery contract the reference has no answer
    to; its jobs restart from scratch)."""
    import pyspark.sql.functions as F

    import shutil

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.sql("DROP TABLE IF EXISTS ckpt_sink")
    # a previously-failed run can leave the managed-table location behind
    shutil.rmtree(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        + "/ckpt_sink",
        ignore_errors=True,
    )

    events = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    # two file batches
    events.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").saveAsTable("ckpt_sink")
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_once()  # consumes the first file set
    spark.catalog.refreshTable("ckpt_sink")
    n_first = spark.table("ckpt_sink").count()
    assert n_first == events.filter(F.col("event_id") % 2 == 0).count()

    # second half arrives; restart from the same checkpoint
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    run_once()

    # foreachBatch writes through a cloned session; refresh the parent
    # session's relation cache before reading (see stream_to_table)
    spark.catalog.refreshTable("ckpt_sink")
    total = spark.table("ckpt_sink").count()
    assert total == events.count(), "restart must deliver new rows only"
    dupes = (
        spark.table("ckpt_sink").groupBy("event_id").count().filter("count > 1").count()
    )
    assert dupes == 0, "no row delivered twice across restarts"
    spark.sql("DROP TABLE IF EXISTS ckpt_sink")


def test_streaming_session_window_matches_batch(spark):
    from flink_snappydata_spark.streaming.windows import session_window_counts

    stream = runtime.events_file_stream(spark, SF_SMOKE)
    agg = session_window_counts(stream, watermark="0 seconds")
    runtime.run_to_memory_sink(agg, "session_smoke", output_mode="complete")
    got = _sorted(spark.table("session_smoke").toPandas())
    want = _sorted(
        session_window_counts(load_table(spark, SF_SMOKE, "events")).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def _shuffled_events_stream(spark, tmp_path, n_files: int = 8):
    """Events rewritten into n hash-shuffled files and streamed one file
    per micro-batch: arrival order is decorrelated from event time, so
    every micro-batch delivers rows 'late' relative to earlier batches —
    the disorder case the in-order file stream never exercises."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "shuffled_events")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(n_files, F.xxhash64("event_id")).write.mode(
        "overwrite"
    ).parquet(src)
    return runtime.ensure_event_time(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def test_streaming_session_funnel_matches_batch_shuffled_arrival(
    spark, tmp_path
):
    """Session-funnel equivalence under shuffled arrival: rows arrive in
    hash order across 8 micro-batches, watermark wide enough that none
    are dropped — merged session state must equal the batch result."""
    from flink_snappydata_spark.streaming.windows import session_funnel

    stream = _shuffled_events_stream(spark, tmp_path)
    out = session_funnel(stream, watermark="3650 days")
    runtime.run_to_memory_sink(out, "funnel_shuffled", output_mode="complete")
    got = _sorted(spark.table("funnel_shuffled").toPandas())
    want = _sorted(
        session_funnel(load_table(spark, SF_SMOKE, "events")).toPandas()
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_streaming_sliding_window_matches_batch_shuffled_arrival(
    spark, tmp_path
):
    from flink_snappydata_spark.streaming.windows import sliding_window_counts

    stream = _shuffled_events_stream(spark, tmp_path)
    agg = sliding_window_counts(stream, watermark="3650 days")
    runtime.run_to_memory_sink(agg, "sliding_shuffled", output_mode="complete")
    got = _sorted(spark.table("sliding_shuffled").toPandas())
    want = _sorted(
        sliding_window_counts(load_table(spark, SF_SMOKE, "events")).toPandas()
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_socket_text_source_live(spark):
    """Drive the socket source against a real localhost TCP server
    (reference ``SocketWindowWordCount.scala`` — ``env.socketTextStream``
    feeding the tokenize→count chain). No external infra: the test owns
    the server socket and keeps the connection open until the query has
    drained both lines."""
    import socket
    import threading
    import time

    from pyspark.sql import functions as F

    from flink_snappydata_spark.operators.wordcount import TOKEN_SPLIT_PATTERN

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    lines = ["to be or not to be", "that is the question"]
    done = threading.Event()

    def serve() -> None:
        conn, _ = srv.accept()
        try:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(timeout=60)  # hold the connection open until drained
        finally:
            conn.close()

    thread = threading.Thread(target=serve, daemon=True)
    thread.start()
    try:
        raw = runtime.socket_text_stream(spark, "127.0.0.1", port)
        # flatMap-tokenize parity (WordCount.scala:30); spread() is a
        # batch-only guard, so explode directly on the stream.
        words = raw.select(
            F.explode(
                F.split(F.lower(F.col("value")), TOKEN_SPLIT_PATTERN)
            ).alias("word")
        ).filter(F.col("word") != "")
        q = (
            words.writeStream.format("memory")
            .queryName("socket_words")
            .outputMode("append")
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            expected = sum(len(ln.split()) for ln in lines)
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.table("socket_words").count() >= expected:
                    break
                time.sleep(0.3)
        finally:
            done.set()
            q.stop()
    finally:
        done.set()
        srv.close()
    got = (
        spark.table("socket_words")
        .groupBy("word")
        .count()
        .toPandas()
        .set_index("word")["count"]
        .to_dict()
    )
    assert got["to"] == 2 and got["be"] == 2
    assert got["question"] == 1 and got["that"] == 1


def test_streaming_stateless_curation_ops(spark):
    """The stateless pipeline operators (quality scoring, PII
    redaction) apply unchanged to a streaming documents source —
    curation-at-ingest: same column expressions, same results as the
    batch run over the same data."""
    from pyspark.sql import types as T

    from flink_snappydata_spark.pipeline.text import pii_redaction, quality_scores

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMOKE)
    )
    batch = load_table(spark, SF_SMOKE, "documents")

    out = quality_scores(stream)
    runtime.run_to_memory_sink(out, "stream_quality", output_mode="append")
    got = _sorted(spark.table("stream_quality").toPandas())
    want = _sorted(quality_scores(batch).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)

    # pii_redaction ends with a presentation orderBy (batch-only); the
    # streaming form drops it, results compared order-insensitively.
    red = pii_redaction(stream, synthesize=True, sort=False)
    runtime.run_to_memory_sink(red, "stream_pii", output_mode="append")
    got = _sorted(spark.table("stream_pii").toPandas())
    want = _sorted(pii_redaction(batch, synthesize=True).toPandas())
    pd.testing.assert_frame_equal(got, want)

    # the hashed-linear quality model is likewise per-row stateless —
    # the same expressions score documents at ingest (sort=False form).
    from flink_snappydata_spark.pipeline.text import quality_model_scores

    qm = quality_model_scores(stream, sort=False)
    runtime.run_to_memory_sink(qm, "stream_qm", output_mode="append")
    got = _sorted(spark.table("stream_qm").toPandas())
    want = _sorted(quality_model_scores(batch).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_kafka_source_spec_options(spark):
    """The options dict IS what reader() feeds Spark — asserting it
    asserts the built plan's source options; only .load() needs a
    broker/connector (reference KafkaWindowWordCount.scala:18-23)."""
    spec = runtime.KafkaSourceSpec(
        "broker1:9092,broker2:9092", "events-topic", starting_offsets="earliest"
    )
    opts = spec.options()
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "events-topic"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "true"
    # builds a configured reader without touching any broker
    assert spec.reader(spark) is not None


def test_kafka_json_projection_via_file_twin(spark, tmp_path):
    """The ParquetTableJoin.scala:32-43 path — JSON payloads projected
    into declared typed columns — executed end-to-end through a
    file-stream twin carrying the Kafka wire shape (value, timestamp)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "wire"
    src.mkdir()
    rows = [
        {"user_id": 1, "event_type": "click", "value": 2.5},
        {"user_id": 2, "event_type": "view", "value": 0.5},
        {"user_id": 1, "event_type": "buy", "value": 9.0},
    ]
    (src / "batch0.txt").write_text("\n".join(json.dumps(r) for r in rows))
    raw = (
        spark.readStream.format("text")
        .load(str(src))
        .withColumn("timestamp", F.current_timestamp())
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    typed = runtime.decode_kafka_json(raw, schema)
    runtime.run_to_memory_sink(typed, "kafka_twin_smoke")
    got = spark.table("kafka_twin_smoke").toPandas()
    assert sorted(got.columns) == ["event_type", "timestamp", "user_id", "value"]
    assert sorted(
        (int(r.user_id), r.event_type, float(r.value)) for r in got.itertuples()
    ) == [(1, "buy", 9.0), (1, "click", 2.5), (2, "view", 0.5)]


def test_encode_kafka_output_wire_format(spark):
    df = spark.createDataFrame([(1,), (2,)], "value int")
    out = runtime.encode_kafka_output(df)
    assert out.schema.fieldNames() == ["value"]
    assert out.schema["value"].dataType.simpleString() == "string"
    assert sorted(r.value for r in out.collect()) == ["1", "2"]


def test_ensure_event_time_type_matrix(spark):
    """ensure_event_time: NTZ → TIMESTAMP (watermarkable), while long
    and already-TIMESTAMP columns pass through untouched."""
    from pyspark.sql import types as T

    ntz = spark.sql("SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    out = runtime.ensure_event_time(ntz)
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    # wall-clock preserved (session tz pinned UTC)
    assert str(out.collect()[0].ts) == str(ntz.collect()[0].ts)

    ts = spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts")
    assert runtime.ensure_event_time(ts) is ts

    lng = spark.range(1).selectExpr("id AS ts")
    assert runtime.ensure_event_time(lng) is lng


def test_streaming_novelty_ingest_matches_batch(spark):
    """Streaming-ingest twin of novelty_scores: documents arrive over
    multiple micro-batches (maxFilesPerTrigger=1 over a 4-file copy of
    the fixture), each batch appends its shingle index + partial DF
    counts, and the queryable state scores row-identically to the
    one-shot batch op once the bounded stream drains."""
    import tempfile
    import uuid

    from flink_snappydata_spark.pipeline import text as textops

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="fss-docs-stream-")
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    # unique names: managed-table locations in the shared warehouse dir
    # outlive a crashed previous session's catalog
    tag = uuid.uuid4().hex[:8]
    idx_t, cnt_t = f"nov_idx_{tag}", f"nov_cnt_{tag}"

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    textops.streaming_novelty_ingest(stream, idx_t, cnt_t)

    # the log-structured merge was actually exercised: at least one
    # shingle accumulated partial counts from more than one micro-batch
    cnt = spark.table(cnt_t)
    assert cnt.count() > cnt.select("sh").distinct().count()

    got = _sorted(textops.novelty_from_state(spark, idx_t, cnt_t).toPandas())
    want = _sorted(textops.novelty_scores(docs).toPandas())
    pd.testing.assert_frame_equal(got, want)
    for t in (idx_t, cnt_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_mix_ingest_matches_batch(spark):
    """Streaming-ingest twin of token_budget_mix: documents arrive over
    4 micro-batches, each appending per-doc mixing features + per-source
    token-total partials; rating the accumulated state is row-identical
    to the one-shot batch op once the bounded stream drains."""
    import tempfile
    import uuid

    from flink_snappydata_spark.pipeline import sampling

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    )
    tmp = tempfile.mkdtemp(prefix="fss-mix-stream-")
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    tag = uuid.uuid4().hex[:8]
    docs_t, tot_t = f"mix_docs_{tag}", f"mix_tot_{tag}"

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    sampling.streaming_mix_ingest(stream, docs_t, tot_t)

    # the cross-batch fold is actually exercised: at least one source
    # accumulated total partials from more than one micro-batch
    tot = spark.table(tot_t)
    assert tot.count() > tot.select("source").distinct().count()

    got = _sorted(sampling.mix_from_state(spark, docs_t, tot_t).toPandas())
    want = _sorted(sampling.token_budget_mix(docs).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)
    for t in (docs_t, tot_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_centroid_ingest_matches_batch(spark):
    """Streaming-ingest twin of label_centroids: embeddings arrive over
    4 micro-batches, each appending per-(label, pos) int64 partial
    sums; folding the accumulated state is exactly row-identical to
    the one-shot batch op once the bounded stream drains."""
    import tempfile
    import uuid

    from flink_snappydata_spark.pipeline import similarity

    vecs = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    tmp = tempfile.mkdtemp(prefix="fss-cent-stream-")
    vecs.repartition(4).write.mode("overwrite").parquet(tmp)
    tag = uuid.uuid4().hex[:8]
    part_t = f"cent_part_{tag}"

    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    similarity.streaming_centroid_ingest(stream, part_t)

    # the cross-batch fold is actually exercised: at least one
    # (label, pos) key accumulated partials from >1 micro-batch
    part = spark.table(part_t)
    assert part.count() > part.select("label", "pos").distinct().count()

    got = _sorted(similarity.centroids_from_state(spark, part_t).toPandas())
    want = _sorted(similarity.label_centroids(vecs).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)
    spark.sql(f"DROP TABLE IF EXISTS {part_t}")


def test_land_batch_partition_retry_is_idempotent(spark):
    """The exactly-once mechanism under foreachBatch's at-least-once
    contract: re-landing the same batch_id (a retried micro-batch)
    must REPLACE that batch's partition, not append a second copy."""
    import uuid

    t = f"land_idem_{uuid.uuid4().hex[:8]}"
    b0 = spark.range(0, 5).withColumnRenamed("id", "k")
    b1 = spark.range(100, 103).withColumnRenamed("id", "k")
    runtime.land_batch_partition(b0, t, 0)
    runtime.land_batch_partition(b1, t, 1)
    # retry of batch 0 (e.g. crash after a partial write elsewhere)
    runtime.land_batch_partition(b0, t, 0)
    got = sorted(r.k for r in spark.table(t).collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 102]
    # and the batch lineage column partitions the log
    assert sorted(
        r.batch_id for r in spark.table(t).select("batch_id").distinct().collect()
    ) == [0, 1]
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_to_table_checkpoint_resume_appends_nothing(spark):
    """Exactly-once across RESTARTS, the other half of the idempotency
    story: re-running a drained availableNow ingest with the SAME
    checkpoint processes zero new files, so the landed table is
    unchanged — no duplicate batches on restart."""
    import tempfile
    import uuid

    t = f"resume_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="fss-resume-ckpt-")
    stream = runtime.events_file_stream(spark, SF_SMOKE)
    runtime.stream_to_table(stream, t, checkpoint=ckpt)
    n1 = spark.table(t).count()
    stream2 = runtime.events_file_stream(spark, SF_SMOKE)
    runtime.stream_to_table(stream2, t, checkpoint=ckpt)
    n2 = spark.table(t).count()
    assert n1 == n2 > 0
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_wordcount_ingest_matches_batch(spark):
    """Streaming-ingest twin of word_count: documents arrive over 4
    micro-batches, each appending per-word count partials; folding the
    accumulated state is exactly row-identical to the one-shot batch
    op once the bounded stream drains."""
    import tempfile
    import uuid

    from flink_snappydata_spark.operators import wordcount

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="fss-wc-stream-")
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    tag = uuid.uuid4().hex[:8]
    cnt_t = f"wc_cnt_{tag}"

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    wordcount.streaming_wordcount_ingest(stream, cnt_t)

    # cross-batch fold exercised: some word got partials from >1 batch
    cnt = spark.table(cnt_t)
    assert cnt.count() > cnt.select("word").distinct().count()

    got = _sorted(wordcount.wordcount_from_state(spark, cnt_t).toPandas())
    want = _sorted(wordcount.word_count(docs).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)
    spark.sql(f"DROP TABLE IF EXISTS {cnt_t}")


def test_ingest_of_empty_source_lands_nothing(spark, tmp_path):
    """A first availableNow ingest that finds no input lands no batch
    and so never creates the table; it must return without raising."""
    import uuid

    from flink_snappydata_spark.operators import wordcount

    src = tmp_path / "docs"
    src.mkdir()
    table = f"wc_empty_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    wordcount.streaming_wordcount_ingest(
        stream, table, checkpoint=str(tmp_path / "ckpt")
    )
    assert not spark.catalog.tableExists(table)


def test_streaming_dedup_ingest_matches_batch(spark):
    """Streaming-ingest twin of exact_dedup: documents arrive over 4
    micro-batches, each appending per-digest (min doc_id, copy count,
    representative) partials; folding the accumulated state is exactly
    row-identical to the one-shot batch op — including copy counts for
    duplicate texts SPLIT ACROSS different micro-batches."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from flink_snappydata_spark.pipeline import dedup

    base = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    # Plant cross-batch duplicates: re-id'd copies land in their own
    # stream file (separate micro-batch under maxFilesPerTrigger=1).
    copies = base.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)
    tmp = tempfile.mkdtemp(prefix="fss-dd-stream-")
    base.repartition(3).write.mode("overwrite").parquet(tmp)
    copies.coalesce(1).write.mode("append").parquet(tmp)
    tag = uuid.uuid4().hex[:8]
    parts_t = f"dd_parts_{tag}"

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    dedup.streaming_dedup_ingest(stream, parts_t)

    # cross-batch fold exercised: some digest got partials from >1 batch
    parts = spark.table(parts_t)
    assert parts.count() > parts.select("digest").distinct().count()

    got = _sorted(dedup.dedup_from_state(spark, parts_t).toPandas())
    want = _sorted(dedup.exact_dedup(docs).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)
    spark.sql(f"DROP TABLE IF EXISTS {parts_t}")


def test_state_tables_are_opened_only_by_the_runtime():
    """Every ``*_from_state`` reader opens its state through
    ``runtime.read_state_table``, which strips the ``batch_id`` lineage
    and applies compaction visibility. A direct ``.table(`` call
    anywhere else in the package would read superseded partitions of a
    compacting loop. Only the runtime module, which lands and reads the
    state tables, may call it."""
    import pathlib

    import flink_snappydata_spark

    pkg = pathlib.Path(flink_snappydata_spark.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "streaming" / "runtime.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".table(" in line
    ]
    assert hits == []


def test_only_count_window_keeps_per_key_state():
    """Stream operators run as batch queries over a stream-landed table
    (``ingest_stream_to_tables`` plus a ``*_from_state`` reader). The
    one exception is ``streaming_count_window``, the reference's
    ``countWindow(100, 10)``, which has no built-in. No other package
    module may grow a second model on ``applyInPandasWithState``."""
    import pathlib

    import flink_snappydata_spark

    pkg = pathlib.Path(flink_snappydata_spark.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "streaming" / "count_window.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "applyInPandasWithState" in line or "GroupState" in line
    ]
    assert hits == []
