"""Estimate-safety plan pins: corpus-sized joins must never ride a
statically-planned broadcast.

On a memory-sourced input (range-derived frames, foreachBatch
backfills) Catalyst's size estimates run far under the true sizes; the
static planner then broadcasts corpus-sized join sides and dies
building GB-scale hash relations once the real data arrives ("Not
enough memory to build and broadcast the table" — observed at the
round-9 100× synthdocs probe, BASELINE.md). The pair machinery
therefore pins every corpus × corpus join with an explicit
shuffle_hash/merge hint. These tests construct the physical plans on
EXACTLY the hazardous input shape — a range-derived corpus whose
estimate is tiny — and assert no BroadcastExchange appears where none
is intended, so a future refactor that drops a hint fails here
instead of at scale.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from pyspark.sql import functions as F

from flink_snappydata_spark.pipeline import dedup as D
from flink_snappydata_spark.pipeline import similarity as S
from flink_snappydata_spark.pipeline import text as T


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def mem_docs(spark):
    """Range-derived corpus: Catalyst estimates ~8 bytes/row, far under
    the true text size — the exact shape that used to trigger static
    corpus-side broadcasts."""
    word = F.concat(
        F.lit("w"),
        F.pmod(F.xxhash64(F.col("id") * F.lit(1_000_003)), F.lit(30_000)),
    )
    return spark.range(50_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[word.alias(f"w{j}") for j in range(12)]
        ).alias("text"),
        F.concat(F.lit("src"), F.pmod("id", F.lit(20))).alias("source"),
    )


@pytest.fixture(scope="module")
def mem_emb(spark):
    return spark.range(50_000).select(
        F.col("id").alias("vec_id"),
        F.concat(F.lit("lbl"), F.pmod("id", F.lit(10))).alias("label"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id") * F.lit(97) + i), F.lit(1000))
                / F.lit(500.0)
                - 1.0
            ).cast("float"),
        ).alias("embedding"),
    )


def test_jaccard_pair_path_never_broadcasts(mem_docs):
    """The whole prefix-filter path (prefix posting lists, packed
    verify joins) has no intentionally-broadcast side, so ZERO
    BroadcastExchange nodes may appear — each one would be a
    corpus-sized build. max_set_size=None skips the giant-doc probe so
    this is pure planning, no execution."""
    plan = _physical_plan(
        D.ngram_jaccard_pairs(mem_docs, threshold=0.8, max_set_size=None)
    )
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_containment_pair_path_never_broadcasts(mem_docs):
    plan = _physical_plan(
        D.containment_pairs(mem_docs, threshold=0.9, max_set_size=None)
    )
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_simhash_band_join_never_broadcasts(mem_docs):
    plan = _physical_plan(D.simhash_dedup_pairs(mem_docs))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_typo_pairs_key_join_never_broadcasts(mem_docs):
    plan = _physical_plan(D.typo_pairs(mem_docs))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_winnowing_pairs_df_join_never_broadcasts(mem_docs):
    plan = _physical_plan(T.winnowing_pairs(mem_docs, sort=False))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_lsh_neardup_corpus_joins_are_shuffled(mem_emb):
    """lsh_neardup has no bounded side at all: the signature ⋈ vector
    join is corpus × corpus and the bucket posting lists are a
    shuffle, so no broadcast may appear anywhere in its plan."""
    plan = _physical_plan(S.lsh_neardup_pairs(mem_emb))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_merge_upsert_corpus_joins_are_shuffled(mem_docs):
    """MERGE's anti-join + full-outer join are snapshot × changeset —
    both corpus-sized, so no BroadcastHashJoin may appear. (The 1-row
    summary aggregates still crossJoin via BroadcastNestedLoop — those
    are bounded by construction and stay.)"""
    from flink_snappydata_spark.pipeline import curation as C

    plan = _physical_plan(C.merge_upsert(mem_docs))
    assert "BroadcastHashJoin" not in plan, plan[:4000]
    assert "FullOuter, BuildRight" in plan or "SortMergeJoin" in plan


def test_snapshot_diff_corpus_join_is_shuffled(mem_docs):
    from flink_snappydata_spark.pipeline import curation as C

    plan = _physical_plan(C.snapshot_diff(mem_docs))
    assert "BroadcastHashJoin" not in plan, plan[:4000]


def test_novelty_df_join_never_broadcasts(mem_docs):
    """novelty's shingle ⋈ document-frequency join is corpus × corpus
    and is also the streaming twin's state-fold shape — memory-sourced
    by construction there."""
    plan = _physical_plan(T.novelty_scores(mem_docs))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_per_source_cap_offsets_join_is_shuffled(mem_docs):
    from flink_snappydata_spark.pipeline import sampling as SA

    plan = _physical_plan(SA.per_source_cap(mem_docs, sort=False))
    assert "BroadcastExchange" not in plan, plan[:4000]


@pytest.fixture(scope="module")
def mem_events(spark):
    """Range-derived events: the memory-sourced shape a foreachBatch
    backfill feeds the OLAP operators — Catalyst estimates ~8
    bytes/row, so any unpinned corpus-sized join side gets statically
    broadcast (the round-9 OOM class, now swept across operators/)."""
    return spark.range(100_000).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(secs=F.col("id") % 864000)
        ).alias("ts"),
        F.pmod(F.col("id"), F.lit(5000)).alias("user_id"),
        F.element_at(
            F.array(
                F.lit("view"), F.lit("click"), F.lit("purchase"),
                F.lit("error"), F.lit("signup"),
            ),
            (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.col("id"), F.lit(9999)) / 100.0).alias("value"),
    )


def _no_user_keyed_broadcast(plan: str) -> None:
    """Corpus frames in the events ops are always user_id-keyed; a
    BroadcastHashJoin on user_id is therefore a corpus-sized build."""
    for line in plan.splitlines():
        if "BroadcastHashJoin [user_id" in line:
            raise AssertionError(f"corpus join broadcast: {line.strip()[:200]}")


def test_retention_cohorts_user_join_never_broadcasts(mem_events):
    """active ⋈ first is per-user × per-user — corpus both sides; the
    only join in the op, so the whole plan must be broadcast-free."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.retention_cohorts(mem_events))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_ordered_funnel_stage_joins_never_broadcast(mem_events):
    """All four stage joins are corpus × corpus per-user frames —
    Catalyst statically broadcast FIVE of them on range-derived input
    before the pin."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.ordered_funnel(mem_events))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_funnel_latency_user_join_never_broadcasts(mem_events):
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.funnel_latency(mem_events))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_itemset_pairs_has_no_user_keyed_join(mem_events):
    """Pairs come from each user's type list, so no join is keyed on
    user_id at all (no corpus × corpus join to broadcast); the per-item
    lift sides stay vocabulary-bounded explicit broadcasts."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.itemset_pairs(mem_events))
    _no_user_keyed_broadcast(plan)
    user_joins = [ln for ln in plan.splitlines() if "Join [user_id" in ln]
    assert not user_joins, user_joins


def test_rolling_active_users_broadcasts_only_day_grid(mem_events):
    """The corpus-sized frames here are (day, user)-keyed; every
    broadcast join must be keyed on the calendar-bounded day_s grid."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.rolling_active_users(mem_events))
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "[day_s" not in line:
            raise AssertionError(f"non-grid broadcast: {line.strip()[:200]}")


def test_timeline_gapfill_broadcasts_only_hour_grid(mem_events):
    """grid ⋈ hourly is grid-bounded both sides (hours × types), so a
    broadcast is safe at any corpus size — but it must be keyed on the
    grid, never on a corpus key."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.timeline_gapfill(mem_events))
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "[bucket_start" not in line:
            raise AssertionError(f"non-grid broadcast: {line.strip()[:200]}")


def test_type_lag_correlation_broadcasts_only_type_day_grid(mem_events):
    """Every join runs on the (types × days) calendar-bounded grid;
    broadcast keys must be grid keys (t/d/db), never corpus keys."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.type_lag_correlation(mem_events))
    _no_user_keyed_broadcast(plan)
    assert "BroadcastHashJoin [event_id" not in plan


def test_stream_join_batch_twins_pin_only_on_blind_estimates(mem_events, spark):
    """windowed_stream_join / interval_join are generic binary joins:
    on ESTIMATE-BLIND inputs (range-derived — the foreachBatch/backfill
    shape) Catalyst statically broadcast the corpus-sized right side
    before the pin, so there the plan must be broadcast-free; on
    file-backed inputs the stats are honest and size-proportional —
    the planner's broadcast of a genuinely-small side is correct at
    every scale and MUST be left alone (pinning it cost 2× the bench
    anchor for zero safety)."""
    from flink_snappydata_spark.streaming import joins as J

    other = mem_events.select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        "ts", "user_id", "event_type", "value",
    )
    for df in (
        J.windowed_stream_join(mem_events, other),
        J.interval_join(mem_events, other),
    ):
        plan = _physical_plan(df)
        assert "BroadcastExchange" not in plan, plan[:4000]

    from flink_snappydata_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    a = ev.filter(F.col("event_type") == "view")
    b = ev.filter(F.col("event_type") == "purchase")
    plan = _physical_plan(J.windowed_stream_join(a, b))
    assert "BroadcastHashJoin" in plan, plan[:4000]


def test_estimate_blind_classifies_leaf_sources(mem_events, spark):
    """The hazard detector behind the scoped pins: range/local/RDD
    leaves are blind (stats never scale with true size), file-backed
    scans are honest."""
    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.util import estimate_blind

    assert estimate_blind(mem_events)
    assert estimate_blind(spark.createDataFrame([(1, "x")], ["id", "t"]))
    ev = load_table(spark, SF_SMOKE, "events")
    assert not estimate_blind(ev.filter(F.col("value") > 1))
    # a join mixing file and memory sides is blind (the memory side
    # can be arbitrarily larger than its estimate)
    assert estimate_blind(ev.join(mem_events.select("event_id"), "event_id"))


def test_scd2_interval_build_has_no_joins(mem_events):
    """scd2_state_intervals is a pure user-keyed window build — the
    streaming twin's fold shape. Pin: no join machinery at all may
    appear, so estimate garbage has nothing to misplan."""
    from flink_snappydata_spark.operators import analytic as A

    plan = _physical_plan(A.scd2_state_intervals(mem_events))
    for marker in ("BroadcastExchange", "CartesianProduct", "HashJoin"):
        assert marker not in plan, plan[:4000]


def test_kmeans_corpus_assignment_join_is_shuffled(mem_emb):
    """kmeans broadcasts its bounded centroid frame by design; the
    corpus × assignment join must still be a shuffle join — assert the
    vec_id join is ShuffledHashJoin, never BroadcastHashJoin."""
    plan = _physical_plan(S.kmeans_train(mem_emb))
    for line in plan.splitlines():
        if "Join [vec_id" in line and "BroadcastHashJoin" in line:
            raise AssertionError(f"corpus join broadcast: {line.strip()[:200]}")
    assert "ShuffledHashJoin [vec_id" in plan or "SortMergeJoin [vec_id" in plan


def test_stream_static_join_builds_without_batch_optimizing_stream(spark):
    """Round-11 regression (ADVICE r10 high): the hazard guard used to
    check only the RIGHT side's isStreaming, then call
    estimate_blind(left) — which forces batch optimization
    (optimizedPlan()) and raises AnalysisException when LEFT is a
    streaming frame joined to a static one. Both builders must accept
    every Structured-Streaming-supported shape: stream-stream,
    stream-static, static-stream."""
    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.streaming import joins as J
    from flink_snappydata_spark.streaming import runtime

    stream = runtime.events_file_stream(spark, SF_SMOKE)
    batch = load_table(spark, SF_SMOKE, "events")
    for left, right in ((stream, batch), (batch, stream)):
        for build in (J.windowed_stream_join, J.interval_join):
            df = build(left, right, watermark="1 hour")
            assert df.isStreaming
    # stream-stream still builds too (the original shape)
    assert J.windowed_stream_join(stream, stream, watermark="1 hour").isStreaming


def test_estimate_blind_short_circuits_on_streaming_frames(spark):
    """estimate_blind must never force batch planning on a streaming
    frame: it returns False immediately (stream joins never consult the
    static auto-broadcast estimate anyway)."""
    from flink_snappydata_spark.streaming import runtime
    from flink_snappydata_spark.util import estimate_blind

    assert estimate_blind(runtime.events_file_stream(spark, SF_SMOKE)) is False


def test_estimate_blind_ignores_plan_rendered_string_literals(spark):
    """The classifier walks leaf nodeName()s, not the rendered plan
    text — a filter literal spelling a blind leaf's name must not
    reclassify an honest file-backed scan."""
    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.util import estimate_blind

    docs = load_table(spark, SF_SMOKE, "documents")
    trapped = docs.filter(
        F.col("text").contains("LocalRelation LogicalRDD Range (")
    )
    assert estimate_blind(trapped) is False


def test_window_funnel_stage_joins_never_broadcast(mem_events):
    """Both sides of each banded stage join are corpus-proportional
    per-user frames (anchors x stage events) — the same class as
    ordered_funnel's pinned joins; the whole plan must be
    broadcast-free on estimate-blind input."""
    from flink_snappydata_spark.operators import cep

    plan = _physical_plan(cep.window_funnel(mem_events))
    assert "BroadcastExchange" not in plan, plan[:4000]


def test_temporal_table_join_has_no_joins(mem_events):
    """The sort-based temporal join must stay join-free (union + one
    per-user window) — a regression to the quadratic interval-
    containment join would show up as a Join node here. (The synthetic
    fixture carries no props payload; derive one, as the scale probe
    does.)"""
    from flink_snappydata_spark.operators import cep

    ev = mem_events.withColumn(
        "props", F.concat(F.lit("p"), F.col("event_id").cast("string"))
    )
    plan = _physical_plan(cep.temporal_table_join(ev))
    assert "Join" not in plan, plan[:4000]
