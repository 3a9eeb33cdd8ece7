"""Event-time window aggregations — tumbling and sliding.

Parity: tumbling time windows (reference ``KafkaWindowWordCount.scala:28``
5 s processing-time; ``ParquetTableJoin.scala:52`` 1 s event-time under
IngestionTime). Our windows are event-time on ``events.ts`` — the
reference's 0-lateness max-timestamp watermark
(``ParquetTableJoin.scala:132-142``) is exactly Spark's
``withWatermark(ts, "0 seconds")``.

Window widths default to 1 hour / (1 day, 6 hours) because the fixture's
events are minutes apart; the operator is identical at any width.

Scale: streaming windowed aggregation keeps one state row per
(key, window); tumbling windows expire at watermark so state is bounded
by (keys x windows-in-flight). Sliding windows multiply rows by
window/slide (4x here) *before* partial aggregation — acceptable because
the expansion happens map-side and partial aggs collapse it again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_snappydata_spark.functions.exact import cents
from flink_snappydata_spark.streaming.runtime import (
    ingest_stream_to_tables,
    read_state_table,
)
from flink_snappydata_spark.util import top_k


def tumbling_window_counts(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window: per (window, event_type) count + exact
    value sum. Works unchanged on batch or streaming input."""
    df = events
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def sliding_window_counts(
    events: DataFrame,
    width: str = "1 day",
    slide: str = "6 hours",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding event-time window (width/slide), Flink
    ``SlidingEventTimeWindows`` analog. Each row lands in width/slide
    windows; epoch-aligned starts match the SQL oracle's arithmetic."""
    df = events
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Session windows per user (gap-based) — beyond-reference built-in
    (SURVEY.md §2.6 lists it as free coverage). Batch-checkable: a
    session closes when consecutive events are further apart than gap.
    Pass ``watermark`` on streaming input (session merging needs one).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def streaming_wordcount(lines: DataFrame, ts_col: str = "timestamp",
                        width: str = "5 seconds") -> DataFrame:
    """The reference's Kafka windowed word count
    (``KafkaWindowWordCount.scala:25-29``): tokenize → filter → window →
    incremental sum, on any (line, timestamp) stream."""
    return (
        lines.select(
            F.explode(F.split(F.lower(F.col("value")), r"\W+")).alias("word"),
            F.col(ts_col).alias("ts"),
        )
        .filter(F.col("word") != "")
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", width).alias("w"), "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "word", "cnt")
    )


def session_funnel(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Sessionized click→purchase funnel: per (user, session window),
    counts of clicks and purchases plus whether a purchase happened
    at-or-after the first click — the composition of session windows
    with conversion logic (one shuffle on the session grouping).
    Pass ``watermark`` on streaming input (session merging needs one);
    out-of-order arrival within the watermark merges identically to
    batch (session state is order-independent, pinned by test).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    return (
        events.filter(is_click | is_purchase)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.sum(is_click.cast("long")).alias("n_clicks"),
            F.sum(is_purchase.cast("long")).alias("n_purchases"),
            F.min(F.when(is_click, F.col("ts"))).alias("first_click_ts"),
            F.max(F.when(is_purchase, F.col("ts"))).alias("last_purchase_ts"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_clicks",
            "n_purchases",
            (
                F.col("first_click_ts").isNotNull()
                & F.col("last_purchase_ts").isNotNull()
                & (F.col("last_purchase_ts") >= F.col("first_click_ts"))
            ).alias("converted"),
        )
        .orderBy("user_id", "session_start")
    )


def rollup_multires(events: DataFrame) -> DataFrame:
    """Hypertable-style multi-resolution continuous aggregate: the same
    (bucket, event_type) count + exact value sum at hour, day, and week
    grain in ONE output frame — the TimescaleDB/Druid rollup shape a
    monitoring or analytics pipeline materializes so dashboards never
    re-scan raw events. Grains are tagged (``grain`` ∈ hour/day/week);
    ``bucket_start`` is the ``date_trunc`` boundary (ISO Monday weeks,
    identical in Spark and ANSI engines).

    Scale: raw events are scanned ONCE — the hourly aggregate is
    computed first (partial aggs combine map-side), and the day and
    week grains FOLD THE HOURLY ROLLUP, not the raw table: counts add
    and cent-sums add, so every grain comes out of ONE aggregation over
    (hours × types) × 3 rows, and the hourly rollup is read once (no
    persist). At 100 TB the raw scan dominates and happens exactly
    once; the fold touches data three orders of magnitude smaller. The
    exact cent sums make the fold lossless (double sums would drift
    between the direct and folded spellings).
    """
    return _multires_from_hourly(_hourly_rollup(events))


def _hourly_rollup(events: DataFrame) -> DataFrame:
    """(bucket_start, event_type, n_events, sum_cents) at hour grain —
    the finest-grain sufficient statistic every coarser grain folds."""
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents("value")).alias("sum_cents"),
    )


def _multires_from_hourly(hourly: DataFrame) -> DataFrame:
    """Fold an hourly rollup into the tagged hour/day/week frame —
    shared by the batch op and the streaming state fold. Each hourly
    row explodes into its three ``(grain, date_trunc(grain))`` buckets
    and ONE aggregation sums them (``date_trunc('hour')`` of an hour
    bucket is itself). The hourly rollup is bounded by hours × types,
    so the fold runs on one partition (``util.small_sorted``'s idiom,
    applied before the aggregation instead of after it): the
    aggregation and the presentation sort then need no exchange of
    their own."""
    buckets = F.explode(
        F.array(
            *(
                F.struct(
                    F.lit(g).alias("grain"),
                    F.date_trunc(g, F.col("bucket_start")).alias("bucket_start"),
                )
                for g in ("hour", "day", "week")
            )
        )
    )
    return (
        hourly.repartition(1)
        .select(buckets.alias("b"), "event_type", "n_events", "sum_cents")
        .groupBy("b.grain", "b.bucket_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum("sum_cents") / F.lit(100.0)).alias("sum_value"),
        )
        .sortWithinPartitions("grain", "bucket_start", "event_type")
    )


def streaming_rollup_ingest(
    stream_events: DataFrame,
    hourly_table: str,
    checkpoint: str | None = None,
    compact_every: int = 8,
):
    """Streaming-ingest twin of :func:`rollup_multires` — the
    stream→queryable-table loop (``ParquetTableJoin.scala:32-43``
    shape) on the EVENTS side: each micro-batch lands its hourly
    rollup partials ``(bucket_start, event_type, n_events,
    sum_cents)``; the multi-resolution fold happens at query time over
    the accumulated state (:func:`rollup_from_state`). Exact cent sums
    make the fold batching-insensitive, so after a bounded stream
    drains the result is row-identical to the batch op — the batch
    oracle applies verbatim.

    Scale: the per-batch shuffle carries only (hour, type)-keyed int64
    partials (map-side combined); state grows by ≤ hours-in-batch ×
    types rows per micro-batch regardless of event volume, and every
    ``compact_every``-th batch folds the live partials back to one row
    per (hour, type) (:func:`compact_rollup_partials`, exact sum of
    sums — the round-12 floor discipline on the mergeable-partial
    loops), bounding reader folds by LIVE bucket count, not stream
    age. Rides :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting.
    """
    return ingest_stream_to_tables(
        stream_events,
        [(hourly_table, None)],
        prepare=_hourly_rollup,
        checkpoint=checkpoint,
        compact=compact_rollup_partials,
        compact_every=compact_every,
    )


def compact_rollup_partials(parts: DataFrame) -> DataFrame:
    """Exact compaction for the hourly rollup partials: one row per
    (hour, type) — sum of int64 sums equals the sum, so compaction is
    invisible to every downstream fold."""
    return parts.groupBy("bucket_start", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
    )


def rollup_from_state(spark, hourly_table: str) -> DataFrame:
    """Multi-resolution rollup from the hourly partials accumulated by
    :func:`streaming_rollup_ingest`: fold partials per (hour, type)
    through the loop's own merge (:func:`compact_rollup_partials`,
    exact int64 cent sums — batching order irrelevant), then the same
    coarsening as the batch op."""
    return _multires_from_hourly(
        compact_rollup_partials(read_state_table(spark, hourly_table))
    )


def session_paths(
    events: DataFrame, gap: str = "30 minutes", k: int = 20
) -> DataFrame:
    """Top-k session paths: the ordered event-type sequence of each
    session window (``>``-joined), counted across sessions — the
    product-analytics "what do users actually do" query (path mining
    feeds funnel design; the ordered funnel then measures one chosen
    path).

    Order within a session is (ts, event_id) — fully deterministic.
    Returns ``(path, n_sessions)``, the ``k`` most common paths with
    path-string tiebreak.

    Scale: the per-session ``collect_list`` is bounded by the session
    itself (the gap closes runaway sessions — a session is a burst of
    human activity, not a corpus-sized group), and sessionization is
    the same one-shuffle session_window aggregation the funnel uses;
    the path histogram is vocabulary-sized and the top-k is
    TakeOrdered (per-partition heaps, no global sort).
    """
    sess = (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        sess.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(k)
    )


def streaming_ohlc_ingest(
    stream_events: DataFrame,
    partials_table: str,
    checkpoint: str | None = None,
):
    """Streaming-ingest twin of :func:`operators.analytic.ohlc_bars` —
    the stream→queryable-table loop (``ParquetTableJoin.scala:32-43``
    shape) on the time-series/candle side: each micro-batch lands its
    (type, hour) OHLC partials — open/close values WITH their
    (ts, event_id) argmin/argmax keys, plus min/max/count/sum — and the
    fold happens at query time (:func:`ohlc_from_state`). Because the
    partials are exact sufficient statistics keyed by a unique order
    key, the fold is batching-insensitive: after a bounded stream
    drains, the result is row-identical to the batch op and the batch
    oracle applies verbatim — even for an hour bucket whose events were
    split across micro-batches.

    Scale: the per-batch shuffle carries only (hour, type)-keyed int64
    partials (map-side combined); state grows by ≤ hours-in-batch ×
    types rows per micro-batch regardless of event volume. Rides
    :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting.
    """
    from flink_snappydata_spark.operators.analytic import _ohlc_partials

    return ingest_stream_to_tables(
        stream_events,
        [(partials_table, None)],
        prepare=_ohlc_partials,
        checkpoint=checkpoint,
    )


def ohlc_from_state(spark, partials_table: str) -> DataFrame:
    """Final OHLC candles from the per-batch partials accumulated by
    :func:`streaming_ohlc_ingest`: one argmin/argmax + min/max/sum fold
    per (type, hour) — batching order irrelevant."""
    from flink_snappydata_spark.operators.analytic import _ohlc_finalize

    return _ohlc_finalize(read_state_table(spark, partials_table))


def streaming_drift_ingest(
    stream_events: DataFrame,
    partials_table: str,
    checkpoint: str | None = None,
):
    """Streaming-ingest twin of
    :func:`operators.analytic.ks_drift` — the stream→queryable-table
    loop (``ParquetTableJoin.scala:32-43`` shape) as a continuous
    DRIFT MONITOR: each micro-batch lands its two-type value-histogram
    partials ``(v, ca, cb)`` (int64 count sums — KS drift's mergeable
    sufficient statistic), and the CDF compare happens at query time
    (:func:`drift_from_state`). Count sums are batching-insensitive,
    so after a bounded stream drains the statistic is row-identical to
    the batch op and the batch oracle applies verbatim.

    Scale: the per-batch shuffle carries only (value-cent)-keyed int64
    partials (map-side combined, only the two compared types' rows);
    state grows by ≤ distinct-cents-in-batch rows per micro-batch
    regardless of event volume. Rides
    :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting.
    """
    from flink_snappydata_spark.operators.analytic import _drift_partials

    return ingest_stream_to_tables(
        stream_events,
        [(partials_table, None)],
        prepare=_drift_partials,
        checkpoint=checkpoint,
    )


def drift_from_state(spark, partials_table: str) -> DataFrame:
    """KS drift statistic from the histogram partials accumulated by
    :func:`streaming_drift_ingest`: fold per value (exact int64 count
    sums — batching order irrelevant), then the same two-phase-prefix
    CDF compare as the batch op."""
    from flink_snappydata_spark.operators.analytic import _ks_from_merged

    merged = (
        read_state_table(spark, partials_table)
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    return _ks_from_merged(merged)


def streaming_event_log_ingest(
    stream_events: DataFrame,
    events_table: str,
    checkpoint: str | None = None,
    columns: tuple[str, ...] = ("user_id", "event_id", "ts", "event_type"),
    tiered_every: int = 8,
):
    """Column-pruned raw event-log ingest — the minimal sufficient
    state of the order-sensitive readers (:func:`scd2_from_state`, the
    CEP ``*_from_state`` monitors), which fold the log at read; pass
    ``columns`` when a fold needs a different projection (e.g. the
    multi-stage pattern matcher's ``value`` predicate). Rides
    :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition — idempotent.

    RETENTION (``tiered_every``, default 8 — the r14 512-batch probe's
    answer): raw logs are not aggregable (the whole point of landing
    them), but their fold cost grows with PARTITION COUNT, not just
    rows — the 512-pseudo-batch probe read ~1.9x slower than at 64 on
    identical data. Every ``tiered_every``-th batch therefore
    consolidates the raw partitions landed since the previous merge
    into ONE log segment (``compact`` = identity: pure file/partition
    consolidation, rows byte-identical, LSM log-segment style), so the
    fold opens O(age/tiered_every) segments + a bounded raw tail."""
    # identity merge + coalesce(1): without the coalesce the segment
    # write inherits one task per input file and re-shards K one-file
    # raw partitions into K+1 files — no consolidation at all (measured
    # r14: 64-batch tiered fold 0.85 s vs raw 0.62 s). One file per
    # segment is the point; segment SIZE is bounded by tiered_every,
    # the deployment knob (a 100 TB stream shards the log by key-range
    # upstream of this loop, so a segment is one shard's window).
    return ingest_stream_to_tables(
        stream_events,
        [(events_table, None)],
        prepare=lambda b: b.select(*columns),
        checkpoint=checkpoint,
        compact=lambda f: f.coalesce(1),
        compact_every=tiered_every,
        compact_mode="tiered",
    )


def scd2_from_state(spark, events_table: str) -> DataFrame:
    """Current SCD2 dimension — the streaming twin of
    :func:`operators.analytic.scd2_state_intervals` — from the event
    log accumulated by :func:`streaming_event_log_ingest` (default
    columns): exactly the batch interval build over the folded state.
    Batching order is irrelevant because the build sorts per user by
    (ts, event_id), so after a bounded stream drains the result is
    row-identical to the batch op and the batch oracle applies
    verbatim.

    State choice (why raw events, not per-batch runs): SCD2 intervals
    are NOT incrementally mergeable under cross-batch event-time
    interleaving — a later micro-batch can land an event BETWEEN two
    already-merged same-state events, splitting their run, so
    run-level partials are not a sufficient statistic. The minimal
    sufficient state is the COLUMN-PRUNED event log: each batch lands
    only ``(user_id, event_id, ts, event_type)`` (value/props never
    ingested), and the interval build runs at read over the user-keyed
    fold."""
    from flink_snappydata_spark.operators.analytic import (
        scd2_state_intervals,
    )

    return scd2_state_intervals(read_state_table(spark, events_table))


def streaming_sessions_ingest(
    stream_events: DataFrame,
    fragments_table: str,
    checkpoint: str | None = None,
    gap: str = "30 minutes",
    compact_every: int = 8,
):
    """Streaming-ingest twin of :func:`session_window_counts` — the
    stream→queryable-table loop as a continuously-maintained SESSION
    table: each micro-batch lands its per-user session FRAGMENTS
    ``(user_id, frag_start, max_ts, n_events, sum_cents)`` (the batch's
    own gap-merged runs), and :func:`sessions_from_state` folds the
    accumulated fragments into the exact global session set at read.

    State choice (why fragments ARE a mergeable sufficient statistic,
    unlike SCD2's intervals): sessions are connected components of the
    "within gap" relation on the time line. Each fragment is a chain
    (its internal consecutive gaps are < gap by construction), so the
    true components over the union of batches are determined entirely
    by fragment BOUNDARIES: two fragments belong to one session iff
    ``later.start − earlier.max_end < gap`` (overlapping fragments
    always qualify — an overlapped start falls between two chain
    points that are themselves < gap apart), and transitive bridges
    are exactly what the sorted sweep with a running max-end computes.
    Counts and value-cent sums are additive, session_start is a min,
    session_end is ``max(max_ts) + gap`` — all mergeable. State is
    therefore O(sessions per batch), NOT O(events) — the raw-log
    fallback SCD2 needs is unnecessary here.

    Rides :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition — idempotent.
    """
    return ingest_stream_to_tables(
        stream_events,
        [(fragments_table, None)],
        prepare=lambda b: session_fragments(b, gap),
        checkpoint=checkpoint,
        compact=lambda frags: compact_session_fragments(frags, gap),
        compact_every=compact_every,
    )


def session_fragments(batch_df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """One micro-batch's session fragments — the mergeable state unit
    of :func:`streaming_sessions_ingest` (module-level so the
    cross-batch merge semantics are directly unit-testable)."""
    return (
        batch_df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_cents"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("frag_start"),
            "max_ts",
            "n_events",
            "sum_cents",
        )
    )


def compact_session_fragments(
    frags: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Fold a session-fragment frame onto itself: sweep-merge and
    collapse each session's fragments to ONE fragment. The output is
    a valid fragment frame — the merge rule only reads boundaries
    (frag_start, max_ts), and a
    merged run's boundaries are exactly min(start)/max(max_ts) of its
    members, so ``sweep(compact(A) ∪ B) == sweep(A ∪ B)`` for any
    later batch B (pinned by the compaction-equivalence tests). The
    loop's one merge: the ingest's periodic compaction (bounding a
    long-running stream's fold cost by LIVE sessions instead of stream
    age) and the fold of :func:`sessions_from_state`."""
    swept = _sweep_fragments(
        frags, gap, ["frag_start", "max_ts", "n_events", "sum_cents"]
    )
    return swept.groupBy("user_id", "sid").agg(
        F.min("frag_start").alias("frag_start"),
        F.max("max_ts").alias("max_ts"),
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
    ).select("user_id", "frag_start", "max_ts", "n_events", "sum_cents")


def compact_funnel_fragments(
    frags: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Funnel analog of :func:`compact_session_fragments`: every
    funnel metric is a sum/min/max, so the collapsed fragment carries
    the exact merged statistics (column order matches
    :func:`funnel_fragments` — the landing write is positional)."""
    swept = _sweep_fragments(
        frags,
        gap,
        [
            "frag_start",
            "max_ts",
            "n_clicks",
            "n_purchases",
            "first_click_ts",
            "last_purchase_ts",
        ],
    )
    return swept.groupBy("user_id", "sid").agg(
        F.min("frag_start").alias("frag_start"),
        F.max("max_ts").alias("max_ts"),
        F.sum("n_clicks").alias("n_clicks"),
        F.sum("n_purchases").alias("n_purchases"),
        F.min("first_click_ts").alias("first_click_ts"),
        F.max("last_purchase_ts").alias("last_purchase_ts"),
    ).select(
        "user_id",
        "frag_start",
        "max_ts",
        "n_clicks",
        "n_purchases",
        "first_click_ts",
        "last_purchase_ts",
    )


def _sweep_fragments(frags: DataFrame, gap: str, order_cols) -> DataFrame:
    """Attach a per-user session id (``sid``) to a fragment frame by
    the sorted boundary sweep: a fragment starts a new session iff its
    start is more than ``gap`` past the running max end of its user's
    earlier fragments (STRICT >, matching Spark's session_window —
    see the note in :func:`sessions_from_state`). ``order_cols`` must
    totally order each user's fragments by (frag_start, ...) so the
    running max is deterministic. Shared by the session and funnel
    merges."""
    w_ord = Window.partitionBy("user_id").orderBy(*order_cols)
    prev_max = F.max("max_ts").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_s = F.when(
        prev_max.isNull()
        | (F.col("frag_start") > prev_max + F.expr(f"INTERVAL {gap}")),
        1,
    ).otherwise(0)
    sid = F.sum("new_s").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    return frags.withColumn("new_s", new_s).withColumn("sid", sid)


def sessions_from_state(
    spark, fragments_table: str, gap: str = "30 minutes"
) -> DataFrame:
    """Global session windows from the fragments accumulated by
    :func:`streaming_sessions_ingest`: per user, sort fragments by
    start and sweep-merge runs whose start is within ``gap`` of the
    running max end (gaps-and-islands over intervals — one user-keyed
    shuffle, same shape as the batch op's session_window aggregation).
    After a bounded stream drains the result is row-identical to
    :func:`session_window_counts` (the fragment-boundary merge rule
    reconstructs exactly the event-level components — see the ingest
    docstring), so the batch oracle applies verbatim. The fold is the
    loop's own merge (:func:`compact_session_fragments`): one fragment
    per session, whose boundaries are the session's."""
    # STRICT >: Spark's session_window merges events spaced EXACTLY gap
    # apart (a new session needs silence strictly longer than gap), so
    # the fragment sweep must too — pinned by the exact-boundary case in
    # tests/test_round11_ops.py. The DuckDB oracle spells the same rule
    # ("> gap starts a session" — aligned in round 12 per ADVICE, so a
    # future fixture with events landing exactly on the gap boundary
    # cannot split the two; tests/test_round12_ops.py pins the boundary
    # case against DuckDB directly).
    return (
        compact_session_fragments(read_state_table(spark, fragments_table), gap)
        .select(
            F.col("frag_start").alias("session_start"),
            (F.col("max_ts") + F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "user_id",
            "n_events",
            (F.col("sum_cents") / F.lit(100.0)).alias("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )


def streaming_hll_ingest(
    stream_events: DataFrame,
    sketch_table: str,
    checkpoint: str | None = None,
):
    """Streaming-ingest distinct-count monitor — the stream→table loop
    with BINARY-SKETCH state: each micro-batch lands one Apache
    DataSketches HLL sketch per event_type (``hll_sketch_agg`` over
    user_id — a few KB regardless of batch size), and
    :func:`hll_distinct_from_state` union-folds them at read
    (``hll_union_agg``: register-wise max, so the union of per-batch
    sketches is EXACTLY the sketch of the union — the textbook
    mergeable sketch, the smallest state of any twin in this repo:
    O(types) rows per batch vs the drift twin's O(distinct values)).

    Rides :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition — idempotent (re-landing the same
    batch's sketch cannot inflate the union).
    """
    return ingest_stream_to_tables(
        stream_events,
        [(sketch_table, None)],
        prepare=lambda b: b.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        ),
        checkpoint=checkpoint,
    )


def hll_distinct_from_state(spark, sketch_table: str) -> DataFrame:
    """(event_type, approx) from the sketch state accumulated by
    :func:`streaming_hll_ingest`: one ``hll_union_agg`` per type over
    the per-batch sketches, estimated to a count. Batching-insensitive
    by the register-max merge property. The estimate is
    engine-specific (DataSketches internals), so registered queries
    wrap it in the bound-verdict pattern against the exact distinct —
    at scale you serve this estimate alone."""
    return (
        read_state_table(spark, sketch_table)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
        )
    )


def topn_partials(batch_df: DataFrame, n: int = 10) -> DataFrame:
    """One micro-batch's per-group top-N partial — the mergeable state
    unit of :func:`streaming_topn_ingest`: any row in the GLOBAL
    top-N under the total order (value desc, event_id asc) ranks at
    most N inside its own batch, so the union of per-batch top-Ns
    provably contains the global top-N — re-ranking the union at read
    is exact. State is N rows per (group, batch), corpus-independent."""
    return top_k(
        batch_df.select("event_type", "event_id", "value"),
        ["event_type"],
        [F.col("value").desc(), F.col("event_id").asc()],
        n,
    )


def streaming_topn_ingest(
    stream_events: DataFrame,
    partials_table: str,
    checkpoint: str | None = None,
    n: int = 10,
):
    """Streaming-ingest exact TOP-N monitor — the stream→table loop
    with the textbook mergeable summary: per-batch per-group top-N
    partials land (see :func:`topn_partials` for the containment
    proof), :func:`topn_from_state` re-ranks the union at read.
    Flink's continuous Top-N query shape, exact at any batch count.
    Rides the shared idempotent foreachBatch loop."""
    return ingest_stream_to_tables(
        stream_events,
        [(partials_table, None)],
        prepare=lambda b: topn_partials(b, n),
        checkpoint=checkpoint,
    )


def topn_from_state(spark, partials_table: str, n: int = 10) -> DataFrame:
    """(event_type, rank, event_id, value) — the exact global top-N
    per group from the accumulated partials, identical to ranking the
    raw stream (containment argument in :func:`topn_partials`)."""
    return (
        top_k(
            read_state_table(spark, partials_table),
            ["event_type"],
            [F.col("value").desc(), F.col("event_id").asc()],
            n,
            rank="rank",
        )
        .select("event_type", "rank", "event_id", "value")
        .orderBy("event_type", "rank")
    )


def quantile_partials(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's value histogram in exact integer cents — the
    mergeable state unit of :func:`streaming_quantiles_ingest`.
    Counts are additive, so the merged histogram is exactly the
    histogram of the union; per-batch state is bounded by the DISTINCT
    cent values seen (the value domain, not the event count)."""
    return (
        batch_df.select(cents("value").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def streaming_quantiles_ingest(
    stream_events: DataFrame,
    hist_table: str,
    checkpoint: str | None = None,
):
    """Streaming-ingest EXACT quantile monitor: per-batch cent-value
    histograms land (mergeable by addition), and
    :func:`quantiles_from_state` reads quantiles off the merged
    cumulative distribution — exact inverse-CDF quantiles of the
    2-decimal value domain, no sketch error to argue about. The
    continuous analog of the batch percentile ops. Rides the shared
    idempotent foreachBatch loop."""
    return ingest_stream_to_tables(
        stream_events,
        [(hist_table, None)],
        prepare=quantile_partials,
        checkpoint=checkpoint,
    )


#: Inverse-CDF probe points for the quantile monitor.
QUANTILE_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def quantiles_from_state(spark, hist_table: str) -> DataFrame:
    """(q, value): the smallest value whose cumulative count reaches
    ``q * total`` — the standard inverse-CDF (lower) quantile, exact
    over the merged integer histogram. ``q * total`` is one double
    product of a literal and an exact integer, bit-identical in any
    engine, so the oracle hash-matches.

    Scale: the fold is one histogram-sized aggregation plus a running
    sum over the value DOMAIN (distinct cents), not the event count —
    a window over thousands of rows at any corpus size."""
    hist = (
        read_state_table(spark, hist_table)
        .groupBy("v")
        .agg(F.sum("n").alias("n"))
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "v",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )
    qs = F.array(*[F.lit(q) for q in QUANTILE_QS])
    probes = cum.select(
        "v", "cum", "tot", F.explode(qs).alias("q")
    ).filter(F.col("cum") >= F.col("q") * F.col("tot"))
    return (
        probes.groupBy("q")
        .agg((F.min("v") / F.lit(100.0)).alias("value"))
        .orderBy("q")
    )


def streaming_funnel_ingest(
    stream_events: DataFrame,
    fragments_table: str,
    checkpoint: str | None = None,
    gap: str = "30 minutes",
    compact_every: int = 8,
):
    """Streaming-ingest twin of :func:`session_funnel` — the
    stream→table loop as a continuously-maintained CONVERSION-FUNNEL
    table: each micro-batch lands per-user funnel FRAGMENTS over its
    click/purchase events (gap-merged runs carrying click/purchase
    counts, first-click min, last-purchase max, and the merge
    boundaries), and :func:`funnel_from_state` sweep-merges them into
    the exact sessionized funnel at read. Same mergeable-sufficiency
    argument as :func:`streaming_sessions_ingest` (the sweep operates
    on the click/purchase point set — filtering commutes with
    batching); every funnel metric is a sum/min/max, so the merged
    ``converted`` flag is exact. State is O(funnel sessions per
    batch). Rides the shared idempotent foreachBatch loop.
    """
    return ingest_stream_to_tables(
        stream_events,
        [(fragments_table, None)],
        prepare=lambda b: funnel_fragments(b, gap),
        checkpoint=checkpoint,
        compact=lambda frags: compact_funnel_fragments(frags, gap),
        compact_every=compact_every,
    )


def funnel_fragments(batch_df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """One micro-batch's funnel fragments — the mergeable state unit
    of :func:`streaming_funnel_ingest` (module-level so the merge
    semantics are directly unit-testable, like
    :func:`session_fragments`)."""
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    return (
        batch_df.filter(is_click | is_purchase)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.sum(is_click.cast("long")).alias("n_clicks"),
            F.sum(is_purchase.cast("long")).alias("n_purchases"),
            F.min(F.when(is_click, F.col("ts"))).alias("first_click_ts"),
            F.max(F.when(is_purchase, F.col("ts"))).alias("last_purchase_ts"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("frag_start"),
            "max_ts",
            "n_clicks",
            "n_purchases",
            "first_click_ts",
            "last_purchase_ts",
        )
    )


def funnel_from_state(
    spark, fragments_table: str, gap: str = "30 minutes"
) -> DataFrame:
    """Sessionized click→purchase funnel from the fragments
    accumulated by :func:`streaming_funnel_ingest`: the shared
    boundary sweep assigns session ids, then counts sum, the first
    click takes the min, the last purchase the max — after a bounded
    stream drains the result is row-identical to
    :func:`session_funnel`, so the batch oracle applies verbatim. The
    fold is the loop's own merge (:func:`compact_funnel_fragments`)."""
    return (
        compact_funnel_fragments(read_state_table(spark, fragments_table), gap)
        .select(
            F.col("frag_start").alias("session_start"),
            "user_id",
            "n_clicks",
            "n_purchases",
            (
                F.col("first_click_ts").isNotNull()
                & F.col("last_purchase_ts").isNotNull()
                & (F.col("last_purchase_ts") >= F.col("first_click_ts"))
            ).alias("converted"),
        )
        .orderBy("user_id", "session_start")
    )
