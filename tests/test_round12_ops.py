"""Round-12 operators: the FULL OUTER windowed stream-stream join,
the IVFADC build/query split (prebuilt-index path), and the
session/funnel fragment compaction.

Oracle parity for ``stream_join_full_outer`` is covered by
test_oracle_parity; the tests here pin what the oracle can't see —
the streaming watermark-gated emission contract (mirroring the
left-outer pin in test_round11_ops.py), prebuilt-index equivalence,
and compaction exactness.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401 (fixtures below)

from flink_snappydata_spark.catalog import load_table

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


# --------------------------------------- IVFADC build/query split


def test_ivfpq_saved_index_query_matches_inline(spark, tmp_path):
    """ivf_pq_topk against a saved-then-reloaded IvfPqIndex must be
    row-identical to the inline-trained registered query — the
    amortized production path (build once, persist, query many) cannot
    diverge from the oracle-checked shape. Also pins that the reloaded
    query plan is training-free: it must reference no more than the
    four index scans plus the corpus, i.e. contain no kmeans iteration
    joins (exchange count well below the inline plan's)."""
    from flink_snappydata_spark.pipeline import similarity
    from flink_snappydata_spark.util import release_caches

    emb = load_table(spark, SF_SMOKE, "embeddings")
    inline = [tuple(r) for r in similarity.ivf_pq_topk(emb).collect()]
    base = str(tmp_path / "ivfpq")
    similarity.ivf_pq_index(emb).save(base)
    release_caches()
    idx = similarity.ivf_pq_index_load(spark, base)
    reloaded = similarity.ivf_pq_topk(emb, index=idx)
    assert [tuple(r) for r in reloaded.collect()] == inline
    plan = reloaded._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join")
    assert n_joins <= 8, f"reloaded plan still carries training ({n_joins} joins)"


# ---------------------------- CEP / window funnel / temporal join


def test_cep_matches_are_disjoint_maximal_runs(spark):
    """AFTER MATCH SKIP PAST LAST ROW semantics: matched runs within a
    user never overlap, every run really is >= min_run consecutive
    clicks (no other event type inside [run_start, run_end]), and the
    trigger purchase lies within the window after run_end."""
    from flink_snappydata_spark.operators.cep import cep_pattern_match

    ev = load_table(spark, SF, "events")
    rows = cep_pattern_match(ev).collect()
    assert rows, "fixture must produce matches (non-vacuous)"
    by_user = {}
    audited = False
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
        assert r.n_run >= 2
        assert r.run_start <= r.run_end < r.trigger_ts
        if not audited:
            # one full collect-based membership audit is enough; the
            # cheap per-row asserts above still run for EVERY row
            inside = ev.filter(
                (ev.user_id == r.user_id)
                & (ev.ts >= r.run_start)
                & (ev.ts <= r.run_end)
            )
            types = {x.event_type for x in inside.collect()}
            assert types == {"click"}, (r, types)
            audited = True
    for user_rows in by_user.values():
        user_rows.sort(key=lambda r: r.run_start)
        for a, b in zip(user_rows, user_rows[1:]):
            # <= (not <): two disjoint runs may legally share a
            # boundary TIMESTAMP (ties ordered by event_id); genuine
            # overlap means a.run_end strictly after b.run_start
            assert a.run_end <= b.run_start, "matches must be disjoint"


def test_cep_absence_partitions_the_run_set(spark):
    """matches ∪ alerts must be EXACTLY the set of maximal runs of
    >= min_run clicks, disjointly — absence is the true complement
    (wrong event, too late, or silence), nothing dropped or doubled."""
    from flink_snappydata_spark.operators.cep import (
        cep_absence_alerts,
        cep_pattern_match,
    )

    ev = load_table(spark, SF, "events")
    matches = {
        (r.user_id, r.run_start, r.run_end, r.n_run)
        for r in cep_pattern_match(ev).collect()
    }
    alert_rows = cep_absence_alerts(ev).collect()
    alerts = {
        (r.user_id, r.run_start, r.run_end, r.n_run) for r in alert_rows
    }
    assert alerts, "fixture must produce absence alerts (non-vacuous)"
    assert not matches & alerts, "a run cannot both match and alert"
    # every alert row must carry its diagnosis: silence (both null)
    # or a real next event (both non-null)
    for r in alert_rows:
        assert (r.next_type is None) == (r.next_ts is None)
    # complement totals: count all maximal >= min_run click runs
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("event_type") == "click")
        .withColumn(
            "grp",
            F.col("rn")
            - F.row_number().over(W.partitionBy("user_id").orderBy("rn")),
        )
    )
    n_runs = (
        seq.groupBy("user_id", "grp")
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert len(matches) + len(alerts) == n_runs


def test_window_funnel_stage_semantics(spark):
    """Stages are reachable (fixture yields users at every depth 1-3)
    and each user's reported depth is witnessed by an actual
    strictly-increasing chain inside the window."""
    from flink_snappydata_spark.operators.cep import window_funnel

    ev = load_table(spark, SF, "events")
    rows = window_funnel(ev).collect()
    depths = {r.max_stage for r in rows}
    assert depths == {1, 2, 3}, depths
    # spot-audit one stage-3 user with raw SQL logic
    u3 = next(r.user_id for r in rows if r.max_stage == 3)
    seq = sorted(
        (r.ts, r.event_type)
        for r in ev.filter(ev.user_id == u3).collect()
        if r.event_type in ("view", "click", "purchase")
    )
    import datetime

    day = datetime.timedelta(days=1)
    ok = any(
        v[1] == "view" and c[1] == "click" and p[1] == "purchase"
        and v[0] < c[0] < p[0] <= v[0] + day
        for v in seq for c in seq for p in seq
    )
    assert ok, f"user {u3} reported stage 3 without a witnessing chain"


def test_temporal_join_versions_are_point_in_time(spark):
    """Every joined version must be the signup interval containing the
    purchase ts; purchases before the user's first signup null-extend;
    row count equals the purchase count (temporal joins never fan out
    — versions partition time)."""
    from flink_snappydata_spark.operators.cep import temporal_table_join

    ev = load_table(spark, SF, "events")
    out = temporal_table_join(ev).collect()
    n_purchases = ev.filter(ev.event_type == "purchase").count()
    assert len(out) == n_purchases
    assert any(r.version_ts is None for r in out), "pre-version facts"
    signups = {}
    for r in ev.filter(ev.event_type == "signup").collect():
        signups.setdefault(r.user_id, []).append(r.ts)
    for r in out:
        ts_list = sorted(signups.get(r.user_id, []))
        valid = [t for t in ts_list if t <= r.ts]
        want = valid[-1] if valid else None
        assert r.version_ts == want, (r, want)


def test_cep_streamed_equals_batch_after_4_batch_drain(spark):
    """The CEP monitor over the raw-log loop must be row-identical to
    the batch pattern match after a 4-batch hash-interleaved replay —
    deeper than the registered 2-batch twin, exercising runs split
    and re-joined across batch boundaries."""
    from flink_snappydata_spark.operators.cep import (
        cep_from_state,
        cep_pattern_match,
    )
    from flink_snappydata_spark.streaming import windows as stream_windows

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    want = sorted(tuple(r) for r in cep_pattern_match(ev).collect())
    assert want, "fixture must produce matches (non-vacuous)"
    got, _state = _replay_ingest(
        spark,
        ev,
        4,
        stream_windows.streaming_event_log_ingest,
        cep_from_state,
        "cepstream",
    )
    assert got == want


def test_topn_streamed_equals_batch_after_4_batch_drain(spark):
    """Per-batch top-N partials must merge to the exact global top-N
    (containment: a global top-N row ranks <= N in its own batch)."""
    from pyspark.sql import Window

    from flink_snappydata_spark.streaming import windows as stream_windows

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    want = sorted(
        tuple(r)
        for r in ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("event_type", "rank", "event_id", "value")
        .collect()
    )
    got, state = _replay_ingest(
        spark,
        ev,
        4,
        stream_windows.streaming_topn_ingest,
        stream_windows.topn_from_state,
        "topn",
    )
    assert got == want
    # state is N x groups x batches, corpus-independent
    assert len(state) <= 10 * 5 * 4


def test_quantiles_streamed_equals_batch_after_4_batch_drain(spark):
    """Merged cent histograms must yield the exact inverse-CDF
    quantiles of the full value column."""
    from flink_snappydata_spark.functions.exact import cents
    from flink_snappydata_spark.streaming import windows as stream_windows

    ev = load_table(spark, SF_SMOKE, "events").select("value")
    vals = sorted(r[0] for r in ev.select(cents("value")).collect())
    n = len(vals)
    want = []
    for q in stream_windows.QUANTILE_QS:
        idx = next(i for i in range(n) if i + 1 >= q * n)
        want.append((q, vals[idx] / 100.0))
    got, _state = _replay_ingest(
        spark,
        ev,
        4,
        stream_windows.streaming_quantiles_ingest,
        stream_windows.quantiles_from_state,
        "qtl",
    )
    assert got == sorted(want)


# ------------------------------------------- fragment compaction


def _replay_ingest(spark, df, n_batches, ingest, score, tag):
    """Replay ``df`` as an n_batches file stream through ``ingest``,
    return (scored rows, raw state-table rows) and tear down."""
    import shutil
    import tempfile
    import uuid

    tmp = tempfile.mkdtemp(prefix=f"fss-{tag}-replay-")
    table = f"fss_{tag}_{uuid.uuid4().hex[:8]}"
    try:
        df.repartition(n_batches).write.mode("overwrite").parquet(tmp)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        ingest(stream, table)
        scored = sorted(tuple(r) for r in score(spark, table).collect())
        state = spark.table(table).collect()
        return scored, state
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(tmp, ignore_errors=True)


def test_session_compaction_drain_equals_batch(spark):
    """4-batch replay with compact_every=2: after the bounded stream
    drains, the folded sessions are row-identical to the batch op
    (compaction is exact, not approximate), the state table carries a
    non-zero compaction floor, and the LIVE fragment set the reader
    folds is no larger than one compaction window — fold cost bounded
    by live sessions, not stream age."""
    from flink_snappydata_spark.streaming import windows as stream_windows

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    want = sorted(
        tuple(r) for r in stream_windows.session_window_counts(ev).collect()
    )
    got, state = _replay_ingest(
        spark,
        ev,
        4,
        lambda s, t: stream_windows.streaming_sessions_ingest(
            s, t, compact_every=2
        ),
        stream_windows.sessions_from_state,
        "sesscomp",
    )
    assert got == want
    floor = max(r["floor"] for r in state)
    assert floor > 0, "4-batch replay with compact_every=2 must compact"
    live = [r for r in state if r["batch_id"] >= floor]
    n_sessions = len(want)
    # live state after the floor batch: the compacted fragment set
    # (<= one fragment per session) plus at most (batches since
    # compaction) extra fragment sets
    assert len(live) <= n_sessions + 2 * len(
        {r["user_id"] for r in state}
    ), "live fragment set should be session-bounded after compaction"


def test_funnel_compaction_drain_equals_batch(spark):
    from flink_snappydata_spark.streaming import windows as stream_windows

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    want = sorted(
        tuple(r) for r in stream_windows.session_funnel(ev).collect()
    )
    got, state = _replay_ingest(
        spark,
        ev,
        4,
        lambda s, t: stream_windows.streaming_funnel_ingest(
            s, t, compact_every=2
        ),
        stream_windows.funnel_from_state,
        "fnlcomp",
    )
    assert got == want
    assert max(r["floor"] for r in state) > 0


def test_compact_fragments_is_sweep_invariant(spark):
    """The algebraic heart of compaction: for seeded random event
    splits, sweeping ``compact(frags(A) ∪ frags(B)) ∪ frags(C)``
    equals sweeping the three raw fragment frames — a compacted run
    is a valid fragment whose boundaries subsume its members'."""
    import uuid

    from flink_snappydata_spark.streaming import windows as stream_windows

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    want = sorted(
        tuple(r) for r in stream_windows.session_window_counts(ev).collect()
    )
    for seed in (5, 23):
        part = F.pmod(F.hash("event_id", F.lit(seed)), F.lit(3))
        frags = [
            stream_windows.session_fragments(
                ev.filter(part == b).drop("event_id")
            )
            for b in range(3)
        ]
        compacted = stream_windows.compact_session_fragments(
            frags[0].unionByName(frags[1])
        )
        name = f"fss_ci_{uuid.uuid4().hex[:8]}"
        compacted.unionByName(frags[2]).withColumn(
            "batch_id", F.lit(0)
        ).createOrReplaceTempView(name)
        try:
            got = sorted(
                tuple(r)
                for r in stream_windows.sessions_from_state(
                    spark, name
                ).collect()
            )
        finally:
            spark.catalog.dropTempView(name)
        assert got == want, f"seed {seed} diverged after compaction"


# ----------------------------- session-window boundary / oracle rule


def test_session_oracle_merges_exact_gap_events(spark):
    """Spark's session_window MERGES events spaced exactly ``gap``
    apart (verified empirically: two events 30 min apart under a
    30-min gap form ONE session). The shared DuckDB gaps-and-islands
    oracle must spell the same rule ('> gap starts a session', not
    '>='), so a fixture with events landing exactly on the boundary
    cannot split the engine from its oracle (round-12 ADVICE item)."""
    import duckdb
    import pandas as pd

    from flink_snappydata_spark import registry
    from flink_snappydata_spark.streaming import windows as stream_windows

    rows = [
        ("u1", "2024-01-01 00:00:00", 1, 1.0),   # session A start
        ("u1", "2024-01-01 00:30:00", 2, 2.0),   # exactly gap later: merges
        ("u1", "2024-01-01 01:00:01", 3, 3.0),   # gap+1s later: new session
    ]
    sdf = spark.createDataFrame(
        rows, "user_id string, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = [
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in stream_windows.session_window_counts(sdf)
        .orderBy("session_start")
        .collect()
    ]
    assert [(u, n) for u, _s, _e, n in got] == [("u1", 2), ("u1", 1)]

    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            rows, columns=["user_id", "ts", "event_id", "value"]
        ).astype({"ts": "datetime64[us]"}),
    )
    oracle = con.execute(
        registry.QUERIES["events_session_window"].oracle
    ).fetchall()
    assert [
        (u, s, e, n) for s, e, u, n, _v in oracle
    ] == got, "oracle and session_window diverge on the exact-gap boundary"


def test_full_outer_stream_join_streaming_behavior(spark):
    """The full-outer windowed stream-stream join must RUN as a
    streaming query (Structured Streaming accepts the shape only with
    watermarks on both sides) and emit a watermark-gated PREFIX of the
    batch result: every emitted row appears in the batch full-outer
    result, all inner (matched) rows are emitted, and null-extended
    rows appear on BOTH sides for windows the advancing watermark
    closed mid-stream — clicks with no same-window purchase
    (right-null) and purchases with no same-window click (left-null).
    The bounded replay's final batch legitimately withholds its
    unmatched rows (no later batch advances the watermark past them),
    so exact equality is NOT the contract — subset + inner-completeness
    + nonempty two-sided null-extension is."""
    from flink_snappydata_spark.streaming import runtime
    from flink_snappydata_spark.streaming.joins import windowed_stream_join

    stream = runtime.events_file_stream(spark, SF_SMOKE)
    joined = windowed_stream_join(
        stream.filter(stream.event_type == "click"),
        stream.filter(stream.event_type == "purchase"),
        watermark="0 seconds",
        how="full_outer",
    )
    runtime.run_to_memory_sink(joined, "fo_smoke", output_mode="append")
    got = {tuple(r) for r in spark.table("fo_smoke").collect()}

    batch = load_table(spark, SF_SMOKE, "events")
    clicks = batch.filter(batch.event_type == "click")
    purchases = batch.filter(batch.event_type == "purchase")
    want_outer = {
        tuple(r)
        for r in windowed_stream_join(
            clicks, purchases, how="full_outer"
        ).collect()
    }
    want_inner = {
        tuple(r) for r in windowed_stream_join(clicks, purchases).collect()
    }
    assert got <= want_outer, "streamed rows must all be batch-valid"
    assert want_inner <= got, "every matched row must be emitted"
    # Column order: user_id, window_start, l_event_id, r_event_id, ...
    assert any(r[3] is None for r in got), (
        "watermark-closed windows must emit right-null-extended clicks"
    )
    assert any(r[2] is None for r in got), (
        "watermark-closed windows must emit left-null-extended purchases"
    )


def test_full_outer_batch_shape(spark):
    """Batch sanity independent of the DuckDB oracle: the full-outer
    result is exactly inner ∪ right-null-extended ∪ left-null-extended,
    and the two null-extension sets are both nonempty on the fixture
    (so the streaming test above cannot vacuously pass)."""
    from flink_snappydata_spark.streaming.joins import windowed_stream_join

    batch = load_table(spark, SF_SMOKE, "events")
    clicks = batch.filter(batch.event_type == "click")
    purchases = batch.filter(batch.event_type == "purchase")
    full = [tuple(r) for r in windowed_stream_join(
        clicks, purchases, how="full_outer"
    ).collect()]
    inner = {tuple(r) for r in windowed_stream_join(clicks, purchases).collect()}
    r_null = [r for r in full if r[3] is None]
    l_null = [r for r in full if r[2] is None]
    assert r_null and l_null
    assert {r for r in full if r[2] is not None and r[3] is not None} == inner
    assert len(full) == len(inner) + len(r_null) + len(l_null)
    # extended rows keep key/window non-null (the coalesce projection)
    assert all(r[0] is not None and r[1] is not None for r in full)
