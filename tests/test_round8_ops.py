"""Behavior + scale-discipline tests for the round-8 operator additions
(multi-resolution rollup, JL projection, hard-negative mining, PQ ADC
search, sharded inverted index, CMS heavy hitters, integer PageRank,
and the later batches: analytics/profiling/drift/sampling operators
through zipf_fit, embedding_top_pc, and the drift/OHLC stream twins).
Oracle parity is covered by test_oracle_parity; these pin the semantic
claims the docstrings make."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.operators import wordcount
from flink_snappydata_spark.pipeline import graph as graphops
from flink_snappydata_spark.pipeline import similarity, text as textops
from flink_snappydata_spark.streaming.windows import rollup_multires

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


# ---------------------------------------------------------------------------
# rollup_multires
# ---------------------------------------------------------------------------

def test_rollup_fold_is_lossless(events):
    """The day grain folded from the hourly rollup must equal the day
    grain aggregated directly from raw events — the lossless-fold claim
    (exact cent sums make the two spellings identical)."""
    from flink_snappydata_spark.functions.exact import cents

    folded = (
        rollup_multires(events)
        .filter(F.col("grain") == "day")
        .select("bucket_start", "event_type", "n_events", "sum_value")
    )
    direct = (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("sum_value"),
        )
    )
    assert folded.exceptAll(direct).count() == 0
    assert direct.exceptAll(folded).count() == 0


def test_rollup_grain_totals_agree(events):
    """Every grain partitions the same events: the event count summed
    over any one grain equals the raw row count."""
    out = rollup_multires(events).groupBy("grain").agg(
        F.sum("n_events").alias("n")
    )
    n_raw = events.count()
    for row in out.collect():
        assert row.n == n_raw, row


# ---------------------------------------------------------------------------
# random_projection
# ---------------------------------------------------------------------------

def test_rp_sign_rows_are_not_degenerate():
    """Regression for the affine-hash trap: with a multiplicative hash
    the sign matrix came out rank-degenerate (rows equal or negated).
    The md5-derived matrix must have all 8 rows pairwise distinct and
    not pairwise negated."""
    rows = [
        tuple(similarity._rp_sign(j, d) for d in range(similarity.DIM))
        for j in range(similarity.RP_OUT_DIM)
    ]
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            assert rows[a] != rows[b], (a, b)
            assert rows[a] != tuple(-x for x in rows[b]), (a, b)


def test_rp_projection_is_linear_in_signs(embeddings):
    """Spot-check the kernel: for one vector, proj_j must equal the
    driver-side dot of the quantized components with the sign row."""
    emb = embeddings.filter(F.col("vec_id") == 7).collect()[0]
    q = [round(float(x) * 1e6) for x in emb.embedding]
    expected = {
        j: sum(
            q[d] * similarity._rp_sign(j, d) for d in range(similarity.DIM)
        )
        for j in range(similarity.RP_OUT_DIM)
    }
    out = {
        r.j: r.proj_q
        for r in similarity.random_projection(embeddings, sort=False)
        .filter(F.col("vec_id") == 7)
        .collect()
    }
    assert out == expected


def test_rp_plan_has_no_shuffle(embeddings):
    """Map-only claim: no shuffle Exchange may appear after the initial
    spread repartition (the projection itself must not shuffle). Count
    genuine shuffle exchanges only — `ReusedExchange` / broadcast
    variants that session state (AQE reuse from earlier tests) may
    splice in are not data shuffles of this plan."""
    import re

    # drop any InMemoryRelation left by earlier tests: a cache hit
    # splices the cached plan's own Exchange into this plan string,
    # making the count order-dependent across the suite.
    embeddings.sparkSession.catalog.clearCache()
    plan = similarity.random_projection(embeddings, sort=False)._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        m
        for m in re.findall(r"\w*Exchange\w*", plan)
        if "Reused" not in m and "Broadcast" not in m
    ]
    # the one allowed exchange is spread()'s round-robin repartition
    assert len(shuffles) <= 1, plan


# ---------------------------------------------------------------------------
# hard_negatives
# ---------------------------------------------------------------------------

def test_hard_negatives_semantics(embeddings):
    out = similarity.hard_negatives(embeddings).collect()
    labels = {
        r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()
    }
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.query_id, []).append(r)
    assert set(by_probe) == set(range(8))
    for probe, rows in by_probe.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [
            1, 2, 3, 4,
        ]
        for r in rows:
            assert r.label != labels[probe], r
            assert r.vec_id != probe
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_hard_negatives_matches_bruteforce_filtered(embeddings):
    """The per-probe top-k window must equal a naive Python sort of
    the different-label candidates by (cosine desc, vec_id asc)."""
    out = {
        (r.query_id, r.rank): r.vec_id
        for r in similarity.hard_negatives(embeddings, n_probes=3, k=4).collect()
    }
    labels = {
        r.vec_id: int(r.label)
        for r in embeddings.select("vec_id", "label").collect()
    }
    qs = {
        r.vec_id: [round(float(x) * 1e6) for x in r.embedding]
        for r in embeddings.collect()
    }
    import math

    for probe in range(3):
        scored = []
        for vid, q in qs.items():
            if vid == probe or labels[vid] == labels[probe]:
                continue
            dot = sum(a * b for a, b in zip(qs[probe], q))
            na = sum(a * a for a in qs[probe])
            nb = sum(b * b for b in q)
            cos = (dot / 1e12) / math.sqrt((na / 1e12) * (nb / 1e12))
            scored.append((-cos, vid))
        scored.sort()
        for rank, (_, vid) in enumerate(scored[:4], start=1):
            assert out[(probe, rank)] == vid, (probe, rank)


# ---------------------------------------------------------------------------
# pq_adc_topk
# ---------------------------------------------------------------------------

def test_pq_adc_matches_driver_replay(embeddings):
    """ADC distances must equal the sum of per-subspace LUT entries
    computed driver-side from the same trained codebook."""
    subv, cents, assigned = similarity._pq_train(embeddings, n_iters=2)
    codes = {
        (r.vec_id, r.m): r.cent_id
        for r in assigned.select("vec_id", "m", "cent_id").collect()
    }
    cb = {(r.m, r.cent_id): list(r.ce) for r in cents.collect()}
    queries = {
        (r.vec_id, r.m): list(r.sq)
        for r in subv.filter(F.col("vec_id") < 3).collect()
    }
    out = similarity.pq_adc_topk(embeddings).collect()
    assert len(out) == 15
    for r in out:
        expected = 0
        for m in range(similarity.PQ_SUBSPACES):
            qsub = queries[(r.query_id, m)]
            csub = cb[(m, codes[(r.vec_id, m)])]
            expected += sum((a - b) * (a - b) for a, b in zip(qsub, csub))
        assert r.adc_dist == expected, r
        assert r.vec_id != r.query_id


# ---------------------------------------------------------------------------
# inverted_index
# ---------------------------------------------------------------------------

def test_inverted_index_postings_consistent(documents):
    out = textops.inverted_index(documents, sort=False).collect()
    for r in out:
        entries = r.postings.split(",")
        assert len(entries) == r.df, r
        ids = [int(e.split(":")[0]) for e in entries]
        tfs = [int(e.split(":")[1]) for e in entries]
        assert ids == sorted(ids)
        assert all(i % 32 == r.shard for i in ids), r
        assert sum(tfs) == r.tf_sum


def test_inverted_index_covers_all_occurrences(documents):
    """Σ tf_sum over the index equals the corpus token count."""
    total = (
        textops.inverted_index(documents, sort=False)
        .agg(F.sum("tf_sum").alias("t"))
        .collect()[0]
        .t
    )
    n_tokens = (
        documents.select(
            F.explode(wordcount.words(F.col("text"))).alias("w")
        ).count()
    )
    assert total == n_tokens


# ---------------------------------------------------------------------------
# cms_heavy_hitters
# ---------------------------------------------------------------------------

def test_cms_one_sided_error_and_no_false_negatives(documents):
    out = textops.cms_heavy_hitters(documents).collect()
    assert out, "fixture corpus has heavy hitters"
    for r in out:
        assert r.overcount >= 0, r
        assert r.est_cnt >= r.exact_cnt
    # no false negatives: every exactly-heavy word must be reported
    # (CMS estimates never undercount)
    counts = (
        documents.select(F.explode(wordcount.words(F.col("text"))).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in counts)
    exact_heavy = {
        r.w for r in counts if r["count"] * textops.CMS_SUPPORT >= total
    }
    reported = {r.word for r in out}
    assert exact_heavy <= reported


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def test_pagerank_mass_and_positivity(documents):
    ranks = graphops.pagerank(documents, sort=False).collect()
    n = len(ranks)
    total = sum(r.rank for r in ranks)
    assert all(r.rank > 0 for r in ranks)
    # damped mass: truncation only ever drops fractions, so total mass
    # stays within [0.95, 1.0] x n*SCALE for a no-dangling graph
    assert total <= n * graphops.PR_SCALE
    assert total >= int(0.95 * n * graphops.PR_SCALE)


def test_pagerank_iterates_beyond_uniform(documents):
    """One iteration must already break uniformity (in-degrees differ),
    and a further iteration must keep moving ranks — i.e. the loop is
    actually running, not replaying the init."""
    r1 = {r.doc_id: r.rank for r in graphops.pagerank(documents, n_iters=1, sort=False).collect()}
    r3 = {r.doc_id: r.rank for r in graphops.pagerank(documents, n_iters=3, sort=False).collect()}
    assert len(set(r1.values())) > 1
    assert r1 != r3


# ---------------------------------------------------------------------------
# batch 2: analytics + sketches + cross-table ops
# ---------------------------------------------------------------------------

def test_retention_day0_equals_cohort_size(events):
    from flink_snappydata_spark.operators.analytic import retention_cohorts

    out = retention_cohorts(events).collect()
    day0 = {r.cohort_day: r.n_users for r in out if r.day_offset == 0}
    sizes = {
        r.cohort_day: r.n
        for r in events.groupBy("user_id")
        .agg(F.min(F.date_trunc("day", F.col("ts"))).alias("cohort_day"))
        .groupBy("cohort_day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # every user is active on their first day by definition
    assert day0 == sizes
    assert all(r.day_offset >= 0 for r in out)


def test_ordered_funnel_is_strictly_ordered(events):
    from flink_snappydata_spark.operators.analytic import ordered_funnel

    rows = ordered_funnel(events).collect()
    assert rows
    for r in rows:
        if r.reached_stage >= 2:
            assert r.t_click > r.t_view
        else:
            assert r.t_click is None
        if r.reached_stage == 3:
            assert r.t_purchase > r.t_click
        else:
            assert r.t_purchase is None


def test_mad_outliers_sane(events):
    from flink_snappydata_spark.operators.analytic import mad_outliers

    rows = mad_outliers(events).collect()
    assert rows
    for r in rows:
        assert r.mad_value >= 0
        assert 0 <= r.n_outliers < r.n_events
        assert r.max_abs_dev >= r.mad_value


def test_source_centroids_counts(documents, embeddings):
    out = similarity.source_centroids(documents, embeddings).collect()
    per_source = {}
    for r in out:
        per_source.setdefault(r.source, set()).add((r.pos, r.n_vectors))
    truth = {
        r.source: r.n
        for r in embeddings.join(
            documents.select(F.col("doc_id").alias("vec_id"), "source"),
            "vec_id",
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for src, pairs in per_source.items():
        assert len(pairs) == similarity.DIM
        assert all(n == truth[src] for _, n in pairs)


def test_embedding_dim_stats_invariants(embeddings):
    rows = similarity.embedding_dim_stats(embeddings).collect()
    n_vecs = embeddings.count()
    assert len(rows) == similarity.DIM
    for r in rows:
        assert r.n == n_vecs
        assert r.variance >= 0
        assert r.min_q <= r.sum_q / r.n <= r.max_q


def test_bloom_membership_guarantees(spark):
    from flink_snappydata_spark.pipeline.sampling import bloom_membership

    customer = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    r = bloom_membership(customer, orders).collect()[0]
    assert r.n_missed == 0  # Bloom never has false negatives
    assert r.n_bloom_positive >= r.n_true_members
    assert r.n_false_positives == r.n_bloom_positive - r.n_true_members
    assert 0.0 <= r.fp_rate <= 1.0


def test_rollup_streaming_is_batching_insensitive(spark, events, tmp_path):
    """Landing the same events in 2 micro-batches must fold to the
    exact batch rollup (cent sums are order- and batching-free)."""
    import uuid

    from flink_snappydata_spark.streaming.windows import (
        rollup_from_state,
        rollup_multires,
        streaming_rollup_ingest,
    )

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    table = f"fss_test_roll_{uuid.uuid4().hex[:8]}"
    ev = events.select("event_id", "ts", "event_type", "value")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        streaming_rollup_ingest(stream, table, checkpoint=ckpt)
        got = rollup_from_state(spark, table)
        want = rollup_multires(ev)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# batch 3: CDC snapshot, gap-fill, bands, vocab growth, kNN, MMR
# ---------------------------------------------------------------------------

def test_latest_snapshot_matches_window_spelling(events):
    from pyspark.sql import Window

    from flink_snappydata_spark.operators.analytic import latest_snapshot

    got = latest_snapshot(events)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    assert got.count() == events.select("user_id").distinct().count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_timeline_gapfill_is_dense_and_consistent(events):
    from flink_snappydata_spark.operators.analytic import timeline_gapfill

    out = timeline_gapfill(events)
    n_types = events.select("event_type").distinct().count()
    hours = out.select("bucket_start").distinct().count()
    assert out.count() == hours * n_types  # dense grid
    # gap rows are exactly the zero rows
    assert (
        out.filter(F.col("is_gap") != (F.col("n_events") == 0)).count() == 0
    )
    # non-gap totals reproduce the raw event count
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()


def test_percentile_bands_ordered(events):
    from flink_snappydata_spark.operators.analytic import percentile_bands

    rows = percentile_bands(events).collect()
    assert rows
    for r in rows:
        assert r.p50 <= r.p95 <= r.p99


def test_vocab_growth_conserves_vocabulary(documents):
    out = textops.vocab_growth(documents).collect()
    vocab = (
        documents.select(F.explode(wordcount.words(F.col("text"))).alias("w"))
        .distinct()
        .count()
    )
    assert out[-1].vocab_size == vocab
    assert sum(r.new_words for r in out) == vocab
    sizes = [r.vocab_size for r in out]
    assert sizes == sorted(sizes)


def test_knn_accuracy_consistent(embeddings):
    r = similarity.knn_accuracy(embeddings).collect()[0]
    assert r.n_eval == 64
    assert r.k == 5
    assert 0 <= r.n_correct <= r.n_eval
    assert abs(r.accuracy - r.n_correct / r.n_eval) < 1e-12


def test_mmr_select_matches_python_greedy(embeddings):
    """The distributed argmax+union loop must replay the greedy MMR
    definition exactly (λ=0.5, lowest-vec_id ties)."""
    import math

    out = {
        r.pick_rank: (r.vec_id, r.mmr_score)
        for r in similarity.mmr_select(embeddings).collect()
    }
    qs = {
        r.vec_id: [round(float(x) * 1e6) for x in r.embedding]
        for r in embeddings.collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(qs[a], qs[b]))
        na = sum(x * x for x in qs[a])
        nb = sum(y * y for y in qs[b])
        return (dot / 1e12) / math.sqrt((na / 1e12) * (nb / 1e12))

    rel = sorted(
        ((-cos(0, v), v) for v in qs if v != 0)
    )[:8]
    cand = [(v, -negc) for negc, v in rel]
    selected = []
    for _ in range(3):
        best = None
        for v, r in cand:
            if v in {s for s, _ in selected}:
                continue
            if not selected:
                score = r
            else:
                score = 0.5 * r - 0.5 * max(cos(v, s) for s, _ in selected)
            key = (score, -v)
            if best is None or key > best[0]:
                best = (key, v, score)
        selected.append((best[1], best[2]))
    for rank, (vid, score) in enumerate(selected, start=1):
        got_vid, got_score = out[rank]
        assert got_vid == vid, (rank, got_vid, vid)
        assert abs(got_score - score) < 1e-12


# ---------------------------------------------------------------------------
# batch 4: fuzzy matching, z-order, streamed CMS
# ---------------------------------------------------------------------------

def test_typo_pairs_finds_all_planted_typos(documents):
    """Every synthesized deletion typo must match its source word (it
    is by construction at edit distance 1), and every reported pair
    must verify at exactly distance 1."""
    from flink_snappydata_spark.pipeline.dedup import typo_pairs

    out = typo_pairs(documents).collect()
    assert out
    planted = {
        (r.typo, r.w)
        for r in documents.filter(F.col("doc_id") % 7 == 0)
        .select(
            F.element_at(wordcount.words(F.col("text")), 1).alias("w")
        )
        .filter(F.length("w") >= 4)
        .select(
            F.concat(
                F.substring("w", 1, 1), F.expr("substring(w, 3)")
            ).alias("typo"),
            "w",
        )
        .collect()
    }
    got = {(r.typo, r.word) for r in out}
    assert planted <= got  # every planted (typo, source) recovered

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    for r in out:
        assert lev(r.typo, r.word) == 1, r


def test_zorder_key_locality(events):
    """Sorting by zkey must give better 2-D locality than sorting by
    event_id: the mean Manhattan step between consecutive rows in
    (user, cents) space shrinks."""
    from flink_snappydata_spark.pipeline.packing import zorder_key

    rows = zorder_key(events, sort=False).collect()

    def mean_step(seq):
        s = 0
        for a, b in zip(seq, seq[1:]):
            s += abs(a[0] - b[0]) + abs(a[1] - b[1])
        return s / (len(seq) - 1)

    by_z = sorted(rows, key=lambda r: (r.zkey, r.event_id))
    by_id = sorted(rows, key=lambda r: r.event_id)
    pts_z = [(r.user_id, r.value_cents) for r in by_z]
    pts_id = [(r.user_id, r.value_cents) for r in by_id]
    assert mean_step(pts_z) < mean_step(pts_id) / 2


def test_zorder_bit_interleave_golden():
    """Driver-side golden for the interleave: x=0b101, y=0b011 →
    z = 1·1 + 1·2 + 0·4 + 1·8 + 1·16 + 0·32 = 0b011011."""
    from flink_snappydata_spark.pipeline.packing import zorder_sql

    import duckdb

    z = duckdb.sql(
        "SELECT " + zorder_sql("5", "3", div="//") + " AS z"
    ).fetchone()[0]
    assert z == 0b011011


def test_cms_streamed_equals_batch(spark, documents, tmp_path):
    """Word-count partials landed in 2 micro-batches must fold to the
    exact batch CMS output."""
    import uuid

    from flink_snappydata_spark.operators.wordcount import (
        streaming_wordcount_ingest,
    )

    docs = documents.select("doc_id", "text")
    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    table = f"fss_test_cms_{uuid.uuid4().hex[:8]}"
    docs.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        streaming_wordcount_ingest(stream, table, checkpoint=ckpt)
        got = textops.cms_from_state(spark, table)
        want = textops.cms_heavy_hitters(docs)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# batch 5: spikes, equi-depth histogram, readability
# ---------------------------------------------------------------------------

def test_event_rate_spikes_trailing_window(events):
    """First bucket per type has no trailing context; one hand-checked
    trailing mean must match the RANGE-frame computation."""
    from flink_snappydata_spark.operators.analytic import event_rate_spikes

    rows = event_rate_spikes(events).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r.bucket_start)
        assert rs[0].trailing_mean is None
        assert not rs[0].is_spike
        # hand-check bucket 25 (a full 24h of history behind it)
        if len(rs) > 25:
            target = rs[25]
            lo = target.bucket_start.timestamp() - 86400
            hi = target.bucket_start.timestamp() - 3600
            ctx = [
                r.n_events
                for r in rs
                if lo <= r.bucket_start.timestamp() <= hi
            ]
            assert ctx
            assert abs(target.trailing_mean - sum(ctx) / len(ctx)) < 1e-9


def test_equidepth_histogram_is_equal_depth(spark):
    from flink_snappydata_spark.operators.relational import (
        equidepth_histogram,
    )

    orders = load_table(spark, SF, "orders")
    rows = equidepth_histogram(orders).collect()
    n = orders.count()
    assert sum(r.n_orders for r in rows) == n
    # near-continuous values: every decile within 1% of n/10
    for r in rows:
        assert abs(r.n_orders - n / 10) <= max(2, 0.01 * n), r
    # bucket ranges are ordered and non-overlapping
    for a, b in zip(rows, rows[1:]):
        assert a.hi_value <= b.lo_value


def test_readability_scores_formula(documents):
    rows = textops.readability_scores(documents, sort=False).collect()
    for r in rows:
        assert r.n_syllables >= r.n_words  # every word has ≥1 syllable
        want = (
            206.835
            - 1.015 * (r.n_words / r.n_sentences)
            - 84.6 * (r.n_syllables / r.n_words)
        )
        assert abs(r.flesch - want) < 1e-9


# ---------------------------------------------------------------------------
# batch 6: session paths, snapshot diff
# ---------------------------------------------------------------------------

def test_session_paths_counts_conserve_sessions(events):
    from flink_snappydata_spark.streaming.windows import (
        session_paths,
        session_window_counts,
    )

    # with k large enough to keep every path, session counts conserve
    paths = session_paths(events, k=10_000)
    n_sessions = session_window_counts(events).count()
    assert paths.agg(F.sum("n_sessions")).collect()[0][0] == n_sessions
    top = session_paths(events).collect()
    assert len(top) <= 20
    counts = [r.n_sessions for r in top]
    assert counts == sorted(counts, reverse=True)
    types = {
        r.event_type for r in events.select("event_type").distinct().collect()
    }
    for r in top:
        assert r.path
        assert set(r.path.split(">")) <= types


def test_snapshot_diff_statuses(documents):
    from flink_snappydata_spark.pipeline.curation import snapshot_diff

    rows = snapshot_diff(documents).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r.status, set()).add(r.doc_id)
    n = documents.count()
    removed_truth = {
        r.doc_id for r in documents.filter(F.col("doc_id") % 17 == 0).collect()
    }
    added_truth = {
        r.doc_id + 1_000_000
        for r in documents.filter(F.col("doc_id") % 19 == 0).collect()
    }
    changed_truth = {
        r.doc_id
        for r in documents.filter(
            (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 17 != 0)
        ).collect()
    }
    assert by_status.get("removed", set()) == removed_truth
    assert by_status.get("added", set()) == added_truth
    assert by_status.get("changed", set()) == changed_truth


# ---------------------------------------------------------------------------
# batch 7: merge upsert, event transitions, zone maps, weighted sample
# ---------------------------------------------------------------------------

def test_merge_upsert_summary_arithmetic(documents):
    from flink_snappydata_spark.pipeline.curation import merge_upsert

    r = merge_upsert(documents).collect()[0]
    n = documents.count()
    n_del = documents.filter(F.col("doc_id") % 23 == 0).count()
    n_upd = documents.filter(
        (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 23 != 0)
    ).count()
    n_ins = documents.filter(F.col("doc_id") % 29 == 0).count()
    assert r.n_base == n
    assert r.n_deleted == n_del
    assert r.n_updated == n_upd
    assert r.n_inserted == n_ins
    # merge row accounting: survivors + inserts, updates replace in place
    assert r.n_rows == n - n_del + n_ins
    assert r.content_checksum > 0


def test_merge_upsert_checksum_moves_on_any_change(spark):
    from flink_snappydata_spark.pipeline.curation import merge_upsert

    base = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 6) for i in range(1, 60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tweaked = base.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.lit("text 3!")).otherwise(
            F.col("text")
        ),
    )
    a = merge_upsert(base).collect()[0]
    b = merge_upsert(tweaked).collect()[0]
    assert a.n_rows == b.n_rows
    assert a.content_checksum != b.content_checksum


def test_event_transitions_is_row_stochastic(events):
    from flink_snappydata_spark.operators.analytic import event_transitions

    rows = event_transitions(events).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, []).append(r)
    for prev, rs in by_prev.items():
        assert abs(sum(r.p for r in rs) - 1.0) < 1e-9, prev
    # conservation: total transitions = total events - one per user
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert sum(r.n_transitions for r in rows) == n_events - n_users


def test_zonemap_clustered_prunes_unclustered_does_not(events):
    from flink_snappydata_spark.pipeline.packing import zonemap_skip_stats

    r = zonemap_skip_stats(events).collect()[0]
    assert r.n_rows == events.count()
    # event_id order correlates with ts: the last-10%-of-time predicate
    # must prune most blocks; the uncorrelated value predicate prunes
    # (essentially) none.
    assert r.ts_blocks_skipped >= r.n_blocks * 7 // 10
    assert r.val_blocks_skipped <= r.n_blocks // 10
    assert r.ts_rows_skipped <= r.n_rows


def test_weighted_sample_matches_naive_and_favors_weight(documents):
    from flink_snappydata_spark.pipeline.packing import portable_hash
    from flink_snappydata_spark.pipeline.sampling import weighted_sample

    got = weighted_sample(documents, k=5).collect()
    # naive reference: full sort per source
    pri = F.col("n_chars").cast("double") / (
        portable_hash(F.col("doc_id")) + F.lit(1)
    ).cast("double")
    naive = {}
    for r in (
        documents.select("source", "doc_id", "n_chars", pri.alias("p"))
        .collect()
    ):
        naive.setdefault(r.source, []).append(r)
    for src, rs in naive.items():
        rs.sort(key=lambda r: (-r.p, r.doc_id))
    for r in got:
        want = naive[r.source][r.rank - 1]
        assert r.doc_id == want.doc_id, (r.source, r.rank)
    # weight bias: sampled docs are longer than the corpus average
    import statistics

    corpus_mean = statistics.mean(
        r.n_chars for rs in naive.values() for r in rs
    )
    sample_mean = statistics.mean(r.n_chars for r in got)
    assert sample_mean > corpus_mean


# ---------------------------------------------------------------------------
# batch 8: OHLC, regression, attribution, profiling, BPE
# ---------------------------------------------------------------------------

def test_ohlc_invariants_and_one_bucket(events):
    from flink_snappydata_spark.operators.analytic import ohlc_bars

    bars = ohlc_bars(events).collect()
    assert bars
    for b in bars:
        assert b.low_cents <= b.open_cents <= b.high_cents
        assert b.low_cents <= b.close_cents <= b.high_cents
    assert sum(b.n_events for b in bars) == events.count()
    # spot-check the first bucket against a naive per-row replay
    b0 = bars[0]
    rows = (
        events.select(
            "event_type", "ts", "event_id",
            F.unix_seconds(
                F.date_trunc("hour", F.col("ts")).cast("timestamp")
            ).alias("bk"),
            (F.round(F.col("value") * 100)).cast("long").alias("v"),
        )
        .filter(
            (F.col("event_type") == b0.event_type)
            & (F.col("bk") == b0.bucket_s)
        )
        .collect()
    )
    rows.sort(key=lambda r: (r.ts, r.event_id))
    assert rows[0].v == b0.open_cents
    assert rows[-1].v == b0.close_cents
    assert max(r.v for r in rows) == b0.high_cents
    assert sum(r.v for r in rows) == b0.volume_cents


def test_trend_regression_recovers_exact_line(spark):
    from flink_snappydata_spark.operators.analytic import trend_regression
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 1, "a",
         (500 + 2 * i) / 100.0, "{}")
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = trend_regression(ev).collect()[0]
    # y = 500 + 2x cents over x seconds -> slope 2 cents/s = 172800/day
    assert abs(r.slope_cents_per_day - 2 * 86400) < 1e-6
    assert abs(r.intercept_cents - 500.0) < 1e-6
    assert abs(r.r2 - 1.0) < 1e-12


def test_conversion_attribution_known_timeline(spark):
    from flink_snappydata_spark.operators.analytic import (
        conversion_attribution,
    )
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def ev(i, u, t, v=1.0):
        return (i, t0 + datetime.timedelta(minutes=i), u, t, v, "{}")

    rows = [
        ev(1, 1, "click"), ev(2, 1, "purchase", 2.0),   # click
        ev(3, 1, "purchase", 3.0),                       # still click
        ev(4, 2, "purchase", 4.0),                       # direct
        ev(5, 2, "view"), ev(6, 2, "purchase", 5.0),     # view
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.channel: r for r in conversion_attribution(df).collect()}
    assert got["click"].n_purchases == 2
    assert got["click"].revenue_cents == 500
    assert got["direct"].n_purchases == 1
    assert got["view"].revenue_cents == 500
    assert abs(sum(r.purchase_share for r in got.values()) - 1.0) < 1e-12


def test_table_profile_counts_nulls_and_distincts(spark):
    from flink_snappydata_spark.operators.profiling import table_profile
    import datetime

    rows = [
        (i, i % 3 if i % 5 else None, "F", "1-URGENT", 10.0 + i,
         datetime.datetime(2024, 1, 1 + i % 4))
        for i in range(40)
    ]
    od = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double, o_orderdate timestamp",
    )
    prof = {r.column: r for r in table_profile(od).collect()}
    assert prof["o_custkey"].n_nulls == 8
    assert prof["o_custkey"].n_distinct == 3
    assert prof["o_orderkey"].n_distinct == 40
    assert prof["o_orderkey"].min_repr == "0"
    assert prof["o_orderkey"].max_repr == "39"
    assert prof["o_orderdate_us"].n_distinct == 4


def test_key_skew_profile_exact_on_hot_key(spark):
    from flink_snappydata_spark.operators.profiling import key_skew_profile

    # key 0 has 60 rows, keys 1..20 have 2 rows each -> 100 rows total
    data = [(0,)] * 60 + [(k,) for k in range(1, 21) for _ in range(2)]
    li = spark.createDataFrame(data, "l_suppkey long")
    r = key_skew_profile(li).collect()[0]
    assert r.n_rows == 100 and r.n_keys == 21
    assert r.max_key_rows == 60
    assert abs(r.top1_share - 0.60) < 1e-12
    # top10 = hot key + 9 of the 2-row keys = 60 + 18
    assert abs(r.top10_share - 0.78) < 1e-12
    assert abs(r.hhi - (60 * 60 + 20 * 4) / 10000.0) < 1e-12


def test_bpe_merges_matches_naive_python(documents):
    from flink_snappydata_spark.pipeline.text import bpe_merges
    import re
    from collections import Counter

    got = bpe_merges(documents, n_merges=5).collect()

    wf = Counter()
    for r in documents.select("text").collect():
        for w in re.split(r"\W+", r.text.lower()):
            if w and len(w) <= 24 and re.fullmatch(r"[a-z]+", w):
                wf[" " + " ".join(w) + " "] += 1
    merges = []
    for _ in range(5):
        pc = Counter()
        for sym, c in wf.items():
            parts = sym.split()
            for a, b in zip(parts, parts[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, c))
        pat, rep = f" {l} {r} ", f" {l}{r} "
        nwf = Counter()
        for sym, cnt in wf.items():
            nwf[sym.replace(pat, rep).replace(pat, rep)] += cnt
        wf = nwf
    assert [(g.left_sym, g.right_sym, g.pair_count) for g in got] == merges


# ---------------------------------------------------------------------------
# batch 9: OHLC partial refold, temperature mix, growth, itemsets, RI audit
# ---------------------------------------------------------------------------

def test_ohlc_partials_refold_is_batching_insensitive(events):
    from flink_snappydata_spark.operators.analytic import (
        _ohlc_finalize, _ohlc_partials, ohlc_bars,
    )

    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    refolded = _ohlc_finalize(
        _ohlc_partials(half_a).unionByName(_ohlc_partials(half_b))
    ).collect()
    assert refolded == ohlc_bars(events).collect()


def test_temperature_mix_sqrt_law(spark):
    from flink_snappydata_spark.pipeline.sampling import temperature_mix

    # big source: 3000 docs x 5 tokens; small source: 20 docs x 5 tokens
    rows = [(i, "a b c d e", "en", "big", 9) for i in range(3000)]
    rows += [(10_000 + i, "a b c d e", "en", "small", 9) for i in range(20)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.source: r for r in temperature_mix(docs, scale_tokens=30).collect()}
    # small source: 30/sqrt(100) = 3 > 1 -> keeps everything
    assert got["small"].keep_prob == 1.0
    assert got["small"].n_kept == 20
    # big source: 30/sqrt(15000) ~ 0.245 -> strict downsample
    big = got["big"]
    assert abs(big.keep_prob - 30.0 / (15000.0 ** 0.5)) < 1e-12
    assert 0 < big.n_kept < big.n_docs
    assert big.tokens_kept == 5 * big.n_kept


def test_user_growth_conserves_users(events):
    from flink_snappydata_spark.operators.analytic import user_growth

    rows = user_growth(events).collect()
    assert [r.day_s for r in rows] == sorted(r.day_s for r in rows)
    assert rows[-1].cum_users == events.select("user_id").distinct().count()
    cum = 0
    for r in rows:
        cum += r.new_users
        assert r.cum_users == cum


def test_itemset_pairs_known_support(spark):
    from flink_snappydata_spark.operators.analytic import itemset_pairs
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    # u1: {a,b}; u2: {a,b}; u3: {a}; u4: {b,c}
    data = [(1, "a"), (1, "b"), (1, "a"), (2, "a"), (2, "b"), (3, "a"),
            (4, "b"), (4, "c")]
    rows = [
        (i, t0, u, t, 1.0, "{}") for i, (u, t) in enumerate(data)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {(r.item_a, r.item_b): r for r in itemset_pairs(ev).collect()}
    ab = got[("a", "b")]
    assert ab.n_users == 2 and abs(ab.support - 0.5) < 1e-12
    # lift = (2 * 4) / (3 * 3)
    assert abs(ab.lift - 8.0 / 9.0) < 1e-12
    assert got[("b", "c")].n_users == 1


def test_referential_audit_counts_orphans(spark):
    from flink_snappydata_spark.operators.profiling import referential_audit
    import datetime

    d = datetime.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(1, 10, "F", 5.0, d, "1-URGENT"), (2, 99, "F", 5.0, d, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    customer = spark.createDataFrame([(10,)], "c_custkey long")
    lineitem = spark.createDataFrame(
        [(1,), (1,), (7,)], "l_orderkey long"
    )
    r = referential_audit(orders, customer, lineitem).collect()[0]
    assert (r.n_orders, r.n_order_orphans) == (2, 1)
    assert (r.n_lineitems, r.n_lineitem_orphans) == (3, 1)


# ---------------------------------------------------------------------------
# batch 10: triangles, KS drift, A/B report, heatmap
# ---------------------------------------------------------------------------

def test_graph_triangles_matches_naive(spark):
    from flink_snappydata_spark.pipeline.graph import (
        doc_link_edges, graph_triangles,
    )
    from itertools import combinations

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = graph_triangles(docs).collect()[0]
    edges = {
        (min(e.src, e.dst), max(e.src, e.dst))
        for e in doc_link_edges(docs, 60).collect()
        if e.src != e.dst
    }
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = sum(
        1
        for u, v in edges
        for w in adj[u] & adj[v]
        if u < v < w
    )
    wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    assert r.n_edges == len(edges)
    assert r.n_triangles == tri
    assert r.n_wedges == wedges


def test_ks_drift_identical_and_disjoint(spark):
    from flink_snappydata_spark.operators.analytic import ks_drift
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, t0, 1, t, v, "{}")
                for i, (t, v) in enumerate(rows)
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    same = mk([("click", float(v)) for v in range(10)]
              + [("error", float(v)) for v in range(10)])
    assert ks_drift(same).collect()[0].ks_stat == 0.0
    apart = mk([("click", float(v)) for v in range(10)]
               + [("error", 100.0 + v) for v in range(10)])
    r = ks_drift(apart).collect()[0]
    assert r.ks_stat == 1.0
    assert r.at_value == 900  # largest click value, in cents


def test_ab_test_report_shares_and_sign(events):
    from flink_snappydata_spark.operators.analytic import ab_test_report

    r = ab_test_report(events).collect()[0]
    assert r.n_a + r.n_b == events.select("user_id").distinct().count()
    assert 0.0 <= r.rate_a <= 1.0 and 0.0 <= r.rate_b <= 1.0
    assert abs(r.uplift - (r.rate_b - r.rate_a)) < 1e-12
    if r.uplift != 0:
        assert (r.z_score > 0) == (r.uplift > 0)


def test_activity_heatmap_chi2_identity(events):
    from flink_snappydata_spark.operators.analytic import activity_heatmap

    rows = activity_heatmap(events).collect()
    n = events.count()
    assert sum(r.n_events for r in rows) == n
    # expected counts also sum to N (within float tolerance)
    assert abs(sum(r.expected for r in rows) - n) < 1e-6
    for r in rows:
        assert 0 <= r.hour <= 23
        assert r.chi2_contrib >= 0.0


# ---------------------------------------------------------------------------
# batch 11: repeat purchases, session conversion, quantile transform, drift
# ---------------------------------------------------------------------------

def test_repeat_purchase_known_gaps(spark):
    from flink_snappydata_spark.operators.analytic import (
        repeat_purchase_stats,
    )
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1: purchases at 0s, 100s, 400s -> gaps 100, 300
        (1, t0, 1, "purchase", 1.0, "{}"),
        (2, t0 + datetime.timedelta(seconds=100), 1, "purchase", 1.0, "{}"),
        (3, t0 + datetime.timedelta(seconds=400), 1, "purchase", 1.0, "{}"),
        # user 2: one purchase -> no gap
        (4, t0, 2, "purchase", 1.0, "{}"),
        # user 3: clicks only -> not a purchaser
        (5, t0, 3, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = repeat_purchase_stats(ev).collect()[0]
    assert r.n_purchasers == 2
    assert r.n_repeat_purchasers == 1
    assert r.n_gaps == 2
    assert r.mean_gap_s == 200.0
    assert (r.min_gap_s, r.max_gap_s) == (100, 300)


def test_session_conversion_known_sessions(spark):
    from flink_snappydata_spark.operators.analytic import session_conversion
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def ev(i, u, mins, t):
        return (i, t0 + datetime.timedelta(minutes=mins), u, t, 1.0, "{}")

    rows = [
        # user 1 session 1: view -> purchase (entry view, converted)
        ev(1, 1, 0, "view"), ev(2, 1, 5, "purchase"),
        # user 1 session 2 (40 min gap): click only (entry click, not)
        ev(3, 1, 45, "click"),
        # user 2 session: error -> click (entry error, not converted)
        ev(4, 2, 0, "error"), ev(5, 2, 10, "click"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.channel: r for r in session_conversion(df).collect()}
    assert got["view"].n_sessions == 1 and got["view"].n_converted == 1
    assert got["click"].n_sessions == 1 and got["click"].n_converted == 0
    assert got["error"].n_sessions == 1 and got["error"].n_converted == 0


def test_quantile_transform_cdf_properties(events):
    from flink_snappydata_spark.operators.profiling import quantile_transform

    rows = quantile_transform(events).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    n_total = 0
    for t, rs in by_type.items():
        assert [r.v for r in rs] == sorted(r.v for r in rs)
        qs = [r.q for r in rs]
        assert all(q1 <= q2 for q1, q2 in zip(qs, qs[1:]))
        assert abs(qs[-1] - 1.0) < 1e-12
        n_total += sum(r.n for r in rs)
    assert n_total == events.count()


def test_quantile_transform_two_phase_equals_naive_window(events):
    """The bounds-derived cell prefix must equal the naive
    single-window-per-type cumulative spelling bit-for-bit (q is the
    same int64 rational either way), including with a cell count small
    enough that every cell actually holds multiple distinct values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_snappydata_spark.functions.exact import cents
    from flink_snappydata_spark.operators.profiling import (
        quantile_transform,
    )

    hist = events.groupBy("event_type", cents("value").alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("v")
    tot = Window.partitionBy("event_type")
    naive = {
        (r.event_type, r.v): (r.n, r.q)
        for r in hist.select(
            "event_type",
            "v",
            "n",
            (
                F.sum("n").over(w).cast("double")
                / F.sum("n").over(tot).cast("double")
            ).alias("q"),
        ).collect()
    }
    got = {
        (r.event_type, r.v): (r.n, r.q)
        for r in quantile_transform(events, n_cells=7).collect()
    }
    assert got == naive


def test_token_drift_flags_planted_token(spark):
    from flink_snappydata_spark.pipeline.text import token_drift_topk

    rows = [(i, "common words here", "en", "src0", 17) for i in range(200)]
    rows += [(1000 + i, "common words zebra", "en", "src1", 18)
             for i in range(200)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = token_drift_topk(docs, k=3).collect()
    # 'zebra' (only in src1) and 'here' (only in src0) dominate drift
    top2 = {got[0].token, got[1].token}
    assert top2 == {"zebra", "here"}
    assert got[0].chi2 >= got[1].chi2 >= got[2].chi2


# ---------------------------------------------------------------------------
# rfm_segments / funnel_latency / activity_gini
# ---------------------------------------------------------------------------

def test_rfm_segments_conserves_purchasers_and_scores(events):
    from flink_snappydata_spark.operators.analytic import rfm_segments

    rows = rfm_segments(events).collect()
    n_purchasers = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_purchasers
    for r in rows:
        assert 1 <= r.r_q <= 4 and 1 <= r.f_q <= 4 and 1 <= r.m_q <= 4
        assert r.n_purchases >= r.n_users  # every purchaser bought >=1
    n_total_purchases = events.filter(
        F.col("event_type") == "purchase"
    ).count()
    assert sum(r.n_purchases for r in rows) == n_total_purchases


def test_rfm_segments_known_quartiles(spark):
    """8 users with frequencies 1..8: quartile boundaries are exact
    interpolated percentiles (2.75 / 4.5 / 6.25), so the f_q split of
    1..8 is exactly 2/2/2/2."""
    from flink_snappydata_spark.operators.analytic import rfm_segments

    rows = []
    eid = 0
    for u in range(8):
        for k in range(u + 1):
            rows.append((eid, u, "purchase", float(u + 1), f"2024-01-0{u+1} 00:00:0{k}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_s string"
    ).select(
        "event_id", "user_id", "event_type", "value",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    got = rfm_segments(ev).collect()
    from collections import Counter
    f_hist = Counter()
    for r in got:
        f_hist[r.f_q] += r.n_users
    assert f_hist == {1: 2, 2: 2, 3: 2, 4: 2}


def test_funnel_latency_strictly_after_and_exact(spark):
    from flink_snappydata_spark.operators.analytic import funnel_latency

    rows = [
        # user 0: view at t=0, purchase at t=100 -> latency 100
        (0, 0, "view", 1.0, "2024-01-01 00:00:00"),
        (1, 0, "purchase", 1.0, "2024-01-01 00:01:40"),
        # user 1: purchase BEFORE view only -> excluded
        (2, 1, "purchase", 1.0, "2024-01-01 00:00:00"),
        (3, 1, "view", 1.0, "2024-01-01 00:10:00"),
        # user 2: purchase AT the first-view second -> excluded (strict)
        (4, 2, "view", 1.0, "2024-01-01 00:00:00"),
        (5, 2, "purchase", 1.0, "2024-01-01 00:00:00"),
        # user 3: view t=0, purchases at 300 and 500 -> latency 300
        (6, 3, "view", 1.0, "2024-01-01 00:00:00"),
        (7, 3, "purchase", 1.0, "2024-01-01 00:05:00"),
        (8, 3, "purchase", 1.0, "2024-01-01 00:08:20"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_s string"
    ).select(
        "event_id", "user_id", "event_type", "value",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    r = funnel_latency(ev).collect()[0]
    assert r.n_converted == 2
    assert r.max_s == 300
    assert r.mean_s == 200.0
    assert r.p50_s == 200.0  # interpolated midpoint of {100, 300}


def test_activity_gini_matches_python_replay(events):
    from flink_snappydata_spark.operators.analytic import activity_gini

    counts = sorted(
        r.c
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    n = len(counts)
    s = sum(counts)
    w = sum((i + 1) * c for i, c in enumerate(counts))
    expected = float(2 * w - (n + 1) * s) / float(n * s)
    r = activity_gini(events).collect()[0]
    assert r.n_users == n and r.n_events == s
    assert r.gini == pytest.approx(expected, abs=1e-15)


def test_activity_gini_uniform_is_zero(spark):
    ev = spark.createDataFrame(
        [(i, i % 5, "click", 1.0) for i in range(25)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn("ts", F.current_timestamp())
    from flink_snappydata_spark.operators.analytic import activity_gini

    r = activity_gini(ev).collect()[0]
    assert r.n_users == 5 and r.n_events == 25
    assert r.gini == 0.0


# ---------------------------------------------------------------------------
# embedding_top_pc
# ---------------------------------------------------------------------------

def test_top_pc_rayleigh_brackets_spectrum(embeddings):
    """The Rayleigh quotient after 3 rounds must sit strictly between
    the spectrum's mean (where the all-ones start expects to land on a
    near-isotropic corpus — the fixture's lambda2/lambda1 is ~0.98, so
    DIRECTIONAL convergence is deliberately not asserted here; the
    planted-direction test covers the anisotropic case) and lambda_1,
    computed with numpy from the SAME integer Gram matrix."""
    import numpy as np

    rows = similarity.embedding_gram(embeddings).select(
        "i", "j", "gram"
    ).collect()
    g = np.zeros((64, 64))
    for r in rows:
        g[r.i][r.j] = r.gram
        g[r.j][r.i] = r.gram
    evals = np.linalg.eigvalsh(g)
    eig = similarity.embedding_top_pc(embeddings).collect()[0].eigenvalue
    assert evals.mean() < eig <= evals[-1] * (1 + 1e-12), (
        eig, evals.mean(), evals[-1],
    )


def test_top_pc_rayleigh_is_monotone(embeddings):
    """Power iteration on a PSD matrix: the Rayleigh quotient must be
    non-decreasing in the iteration count (the docstring claim)."""
    eigs = [
        similarity.embedding_top_pc(embeddings, n_iters=k)
        .collect()[0]
        .eigenvalue
        for k in (1, 2, 3, 4)
    ]
    assert all(a <= b * (1 + 1e-12) for a, b in zip(eigs, eigs[1:])), eigs


def test_top_pc_recovers_planted_direction(spark):
    """Vectors concentrated on axis 5 (plus small deterministic noise
    elsewhere) must yield a PC dominated by component 5, positive after
    sign canonicalization."""
    data = []
    for k in range(50):
        vec = [0.001 * ((k * 7 + d) % 5 - 2) for d in range(64)]
        vec[5] = 1.0 if k % 2 == 0 else 0.9
        data.append((k, vec, 0))
    emb = spark.createDataFrame(
        data, "vec_id long, embedding array<double>, label long"
    )
    out = {r.pos: r.pc_q for r in similarity.embedding_top_pc(emb).collect()}
    assert out[5] == max(out.values())
    assert out[5] > 0
    assert all(abs(q) < out[5] // 10 for p, q in out.items() if p != 5)


def test_ohlc_streaming_splits_hours_across_batches(spark, events, tmp_path):
    """Landing the same events in 2 random micro-batches must fold to
    the exact batch candles, INCLUDING hour buckets whose events were
    split across batches (the argmin/argmax-keyed partials refold
    exactly) — asserted by checking at least one (type, hour) key
    accumulated partials from more than one batch."""
    import uuid

    from flink_snappydata_spark.operators.analytic import ohlc_bars
    from flink_snappydata_spark.streaming.windows import (
        ohlc_from_state,
        streaming_ohlc_ingest,
    )

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    table = f"fss_test_ohlc_{uuid.uuid4().hex[:8]}"
    ev = events.select("event_id", "ts", "event_type", "value")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        streaming_ohlc_ingest(stream, table, checkpoint=ckpt)
        part = spark.table(table)
        assert (
            part.count()
            > part.select("event_type", "bucket_s").distinct().count()
        ), "no hour bucket was split across micro-batches"
        got = ohlc_from_state(spark, table)
        want = ohlc_bars(ev)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# zipf_fit
# ---------------------------------------------------------------------------

def test_zipf_fit_matches_per_token_replay(documents):
    """The band closed form + tie grouping must equal the naive
    per-token enumeration: assign every token its individual rank,
    take (floor(log2 rank), floor(log2 freq)) points, run plain OLS."""
    from flink_snappydata_spark.pipeline.text import zipf_fit

    freqs = sorted(
        (
            r.f
            for r in documents.select(
                F.explode(
                    F.filter(
                        F.split(F.lower("text"), r"\W+"),
                        lambda w: w != F.lit(""),
                    )
                ).alias("w")
            )
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f"))
            .collect()
        ),
        reverse=True,
    )
    xs = [(rank).bit_length() - 1 for rank in range(1, len(freqs) + 1)]
    ys = [f.bit_length() - 1 for f in freqs]
    n = len(freqs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    den = n * sxx - sx * sx
    slope = float(n * sxy - sx * sy) / float(den)
    intercept = float(sy * sxx - sx * sxy) / float(den)
    r2 = (
        float(n * sxy - sx * sy) ** 2
        / (float(den) * float(n * syy - sy * sy))
    )
    r = zipf_fit(documents).collect()[0]
    assert r.vocab_size == n
    assert r.slope == pytest.approx(slope, rel=1e-12)
    assert r.intercept == pytest.approx(intercept, rel=1e-12)
    assert r.r2 == pytest.approx(r2, rel=1e-12)


def test_zipf_fit_recovers_planted_zipf(spark):
    """A corpus built with freq(rank r) = 4096 // r — an exact Zipf
    law, so log2 f = 12 - log2 r — must fit slope near -1 with high
    r2 despite the integer-bits quantization."""
    from flink_snappydata_spark.pipeline.text import zipf_fit

    words = []
    for r in range(1, 65):
        words.extend([f"w{r:02d}"] * (4096 // r))
    docs = spark.createDataFrame(
        [(0, " ".join(words), "src0", "en")],
        "doc_id long, text string, source string, lang string",
    )
    row = zipf_fit(docs).collect()[0]
    assert row.vocab_size == 64
    assert -1.3 < row.slope < -0.7, row.slope
    assert row.r2 > 0.9, row.r2


def test_drift_streaming_splits_values_across_batches(spark, events, tmp_path):
    """Landing the same events in 2 random micro-batches must fold to
    the exact batch KS statistic, INCLUDING value cells whose counts
    were split across batches — asserted by checking at least one
    value accumulated partials from more than one batch."""
    import uuid

    from flink_snappydata_spark.operators.analytic import ks_drift
    from flink_snappydata_spark.streaming.windows import (
        drift_from_state,
        streaming_drift_ingest,
    )

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    table = f"fss_test_drift_{uuid.uuid4().hex[:8]}"
    ev = events.select("event_id", "ts", "event_type", "value")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        streaming_drift_ingest(stream, table, checkpoint=ckpt)
        part = spark.table(table)
        assert part.count() > part.select("v").distinct().count(), (
            "no value cell was split across micro-batches"
        )
        got = drift_from_state(spark, table)
        want = ks_drift(ev)
        assert got.collect() == want.collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# html_clean
# ---------------------------------------------------------------------------

def test_html_clean_known_markup(spark):
    """A crafted document (doc_id=1 so the synthetic wrapper stays
    off) must strip tags, unescape entities in the fixed order, and
    collapse whitespace — pinned against a hashlib replay of the
    expected cleaned text."""
    import hashlib

    from flink_snappydata_spark.pipeline.text import html_clean

    raw = '<div id="x">Hello &amp; <b>world</b>!\n\n  &lt;tag&gt;&nbsp;end</div>'
    expected = "Hello & world ! <tag> end"
    docs = spark.createDataFrame(
        [(1, raw, "src0", "en")],
        "doc_id long, text string, source string, lang string",
    )
    r = html_clean(docs).collect()[0]
    assert r.was_html == 1 and r.n_tags == 4
    assert r.clean_chars == len(expected)
    want_sig = int(hashlib.md5(expected.encode()).hexdigest()[:15], 16)
    assert r.clean_sig == want_sig


def test_html_clean_plain_text_is_stable(spark):
    """A markup-free document (non-multiple-of-3 id) passes through
    with zero tags and a signature equal to its whitespace-collapsed
    self."""
    import hashlib

    from flink_snappydata_spark.pipeline.text import html_clean

    docs = spark.createDataFrame(
        [(2, "plain  text   here", "src0", "en")],
        "doc_id long, text string, source string, lang string",
    )
    r = html_clean(docs).collect()[0]
    assert r.was_html == 0 and r.n_tags == 0
    expected = "plain text here"
    assert r.clean_chars == len(expected)
    assert r.clean_sig == int(
        hashlib.md5(expected.encode()).hexdigest()[:15], 16
    )


def test_html_clean_plan_has_no_exchange(documents):
    """The no-shuffle claim: the unsorted form must contain zero
    shuffle exchanges (pure per-row map, the gopher_rules shape)."""
    import re

    from flink_snappydata_spark.pipeline.text import html_clean

    documents.sparkSession.catalog.clearCache()
    plan = (
        html_clean(documents, sort=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = [
        m
        for m in re.findall(r"\w*Exchange\w*", plan)
        if "Reused" not in m and "Broadcast" not in m
    ]
    assert not shuffles, plan


# ---------------------------------------------------------------------------
# leakage_safe_split
# ---------------------------------------------------------------------------

def test_leakage_safe_split_never_straddles_neardup_pairs(documents):
    """The op's whole point: no near-dup pair may cross the train/eval
    boundary, and there must BE boundary-crossing pairs under the plain
    doc_id hash split (otherwise the test proves nothing)."""
    from flink_snappydata_spark.pipeline.curation import leakage_safe_split
    from flink_snappydata_spark.pipeline.dedup import ngram_jaccard_pairs
    from flink_snappydata_spark.pipeline.sampling import hash_split

    pairs = ngram_jaccard_pairs(documents, sorted_output=False)
    # Wider eval fraction so the fixture's ~50 pairs have real odds of
    # straddling under the naive split (98/1/1 would need luck).
    weights = {"train": 0.5, "val": 0.25, "test": 0.25}

    def straddles(split_df):
        s = split_df.select("doc_id", "split")
        return (
            pairs.join(
                s.withColumnRenamed("doc_id", "doc_a")
                .withColumnRenamed("split", "split_a"), "doc_a")
            .join(
                s.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("split", "split_b"), "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .count()
        )

    naive = hash_split(documents.select("doc_id"), "doc_id", weights)
    assert straddles(naive) > 0, "fixture has no straddling pairs to fix"
    safe = leakage_safe_split(documents, pairs=pairs, weights=weights)
    assert straddles(safe) == 0
    assert safe.count() == documents.count()


def test_leakage_safe_split_matches_plain_split_for_unclustered(documents):
    """Documents outside every near-dup cluster must get exactly the
    assignment plain hash_split over doc_id would give them — the op
    only re-routes clustered documents."""
    from flink_snappydata_spark.pipeline.curation import leakage_safe_split
    from flink_snappydata_spark.pipeline.sampling import hash_split

    safe = leakage_safe_split(documents)
    plain = hash_split(documents.select("doc_id"), "doc_id").select(
        "doc_id", F.col("split").alias("plain_split")
    )
    diff = (
        safe.filter(F.col("rep_id") == F.col("doc_id"))
        .join(plain, "doc_id")
        .filter(F.col("split") != F.col("plain_split"))
        .count()
    )
    assert diff == 0


# ---------------------------------------------------------------------------
# seasonal_anomaly / benford_audit
# ---------------------------------------------------------------------------

def test_seasonal_anomaly_flags_planted_spike(spark):
    """A slot with stable counts for weeks and one 10x day must flag
    exactly the spike cell; the stable cells must not flag."""
    import datetime

    from flink_snappydata_spark.operators.analytic import seasonal_anomaly

    rows = []
    eid = 0
    # Six Mondays-alike (same epoch-weekday), hour 9: 5 events each,
    # except week 3 which gets 50.
    for week in range(6):
        n = 50 if week == 3 else 5
        day = week * 7  # same day % 7 slot every week
        for i in range(n):
            ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                days=day, hours=9, seconds=i
            )
            rows.append((eid, ts, 1, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r.day, r.hour): r.is_anomaly
        for r in seasonal_anomaly(ev, z=2).collect()
    }
    assert out[(21, 9)] is True          # the planted 10x day
    flagged = [k for k, v in out.items() if v]
    assert flagged == [(21, 9)]          # and nothing else
    assert len(out) == 6


def test_benford_audit_planted_digits(spark):
    """Known leading digits in, exact counts and Benford expectations
    out — all nine digits present even when unobserved."""
    import math

    from flink_snappydata_spark.operators.profiling import benford_audit

    prices = [1.23, 19.99, 123.00, 2.50, 29.0, 9.99, 0.0, -5.0]
    orders = spark.createDataFrame(
        [(i, i, "O", p, None, "x") for i, p in enumerate(prices)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    got = {r.digit: r for r in benford_audit(orders).collect()}
    # cents: 123, 1999, 12300, 250, 2900, 999 -> digits 1,1,1,2,2,9
    # (0.0 and -5.0 are excluded: no leading digit for non-positive)
    assert sorted(got) == list(range(1, 10))
    assert {d: got[d].n_obs for d in got} == {
        1: 3, 2: 2, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0, 8: 0, 9: 1,
    }
    for d in range(1, 10):
        assert got[d].expected == 6 * math.log10(1 + 1 / d)
    assert got[3].chi2_contrib == (0 - got[3].expected) ** 2 / got[3].expected


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------

def test_containment_pairs_matches_naive_python(documents):
    """Recall + values: the prefix-filtered candidate join must find
    exactly the all-pairs overlap-coefficient result a naive Python
    replay computes over the same shingle sets."""
    from flink_snappydata_spark.pipeline.dedup import containment_pairs
    from tests.dedup_reference import naive_shingle_set

    sets = {
        r.doc_id: naive_shingle_set(r.text)
        for r in documents.select("doc_id", "text").collect()
    }
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            c = inter / min(len(sets[a]), len(sets[b]))
            if c >= 0.9:
                want[(a, b)] = c
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(documents, threshold=0.9).collect()
    }
    assert got == want
    assert want, "fixture corpus has no containment pairs to find"


def test_containment_catches_jaccard_invisible_subset(spark):
    """The metric's point: a short doc quoted whole inside a much
    longer one scores containment 1.0 but Jaccard far below any dedup
    threshold — containment_pairs must flag it, the Jaccard op not."""
    from flink_snappydata_spark.pipeline.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )

    quote = " ".join(f"quoted sentence w{i}" for i in range(5))
    host = quote + " " + " ".join(f"host body word x{i}" for i in range(60))
    other = " ".join(f"unrelated filler y{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, host), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    jac = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) not in jac


# ---------------------------------------------------------------------------
# bpe_encode_stats
# ---------------------------------------------------------------------------

def test_bpe_encode_stats_short_merge_guard_is_opt_out(spark):
    """The merge-shortfall ValueError protects the SQL-oracle parity
    contract (an under-filled merge table empties the oracle's
    cross-joined encode frame); a genuinely small corpus is a VALID
    library input, so allow_short_merge_table=True must encode with
    the shorter trained table instead of raising (ADVICE r9)."""
    import pytest as _pytest

    from flink_snappydata_spark.pipeline.text import bpe_encode_stats

    tiny = spark.createDataFrame(
        [(1, "aa ab aa ab"), (2, "aa aa")], ["doc_id", "text"]
    )
    with _pytest.raises(ValueError, match="too few mergeable"):
        bpe_encode_stats(tiny, n_merges=50)
    rows = bpe_encode_stats(
        tiny, n_merges=50, allow_short_merge_table=True
    ).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.n_bpe_tokens >= 1 for r in rows)


def test_bpe_encode_stats_matches_naive_python(documents):
    """Encoding with the trained table must equal a naive per-word
    Python replay of the same two-pass replace semantics."""
    import re

    from flink_snappydata_spark.pipeline.text import (
        bpe_encode_stats, bpe_merges,
    )

    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_merges(documents, n_merges=5).collect()
    ]
    got = {
        r.doc_id: (r.n_words, r.n_alpha_chars, r.n_bpe_tokens)
        for r in bpe_encode_stats(documents, merges=merges).collect()
    }

    def encode_len(word: str) -> int:
        s = " " + " ".join(word) + " "
        for left, right in merges:
            pat, rep = f" {left} {right} ", f" {left}{right} "
            s = s.replace(pat, rep).replace(pat, rep)
        return len(s.split())

    for row in documents.select("doc_id", "text").collect():
        n_words = n_chars = n_tok = 0
        for w in re.split(r"\W+", row.text.lower()):
            if w and len(w) <= 24 and re.fullmatch(r"[a-z]+", w):
                n_words += 1
                n_chars += len(w)
                n_tok += encode_len(w)
        assert got[row.doc_id] == (n_words, n_chars, n_tok), row.doc_id
    assert len(got) == documents.count()


def test_tokenizer_fertility_consistent_with_encode_sums(documents):
    """Per-language fertility must equal the ratio of the encode
    stats' own per-language sums, and every language with words must
    land in [1, chars/words] (a word is at least one token, at most
    its letters)."""
    from flink_snappydata_spark.pipeline.text import (
        bpe_encode_stats, bpe_merges, tokenizer_fertility,
    )

    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_merges(documents, n_merges=5).collect()
    ]
    enc = bpe_encode_stats(
        documents, merges=merges, keep_cols=("lang",)
    ).toPandas()
    fert = tokenizer_fertility(documents, merges=merges).collect()
    by_lang = enc.groupby("lang").sum(numeric_only=True)
    assert len(fert) == len(by_lang)
    for r in fert:
        row = by_lang.loc[r.lang]
        assert r.n_words == row["n_words"]
        assert r.n_bpe_tokens == row["n_bpe_tokens"]
        assert r.fertility == row["n_bpe_tokens"] / row["n_words"]
        assert 1.0 <= r.fertility <= row["n_alpha_chars"] / row["n_words"]


def test_bpe_encode_stats_plan_is_map_only(documents):
    """The map-only claim: with an explicit merge table the encode
    plan must contain zero shuffle exchanges — one corpus scan, all
    work in per-row higher-order-function expressions."""
    import re

    from flink_snappydata_spark.pipeline.text import bpe_encode_stats

    documents.sparkSession.catalog.clearCache()
    plan = (
        bpe_encode_stats(documents, merges=[("t", "h"), ("th", "e")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = [
        m
        for m in re.findall(r"\w*Exchange\w*", plan)
        if "Reused" not in m and "Broadcast" not in m
    ]
    assert not shuffles, plan


def test_rolling_active_users_matches_naive_window(events):
    """WAU must equal the brute-force 'distinct users with any event
    in [d-6, d] days' for every emitted day, DAU the day's own
    distinct count, and the invariants dau <= wau <= sum of the
    window's DAUs must hold."""
    from flink_snappydata_spark.operators.analytic import (
        rolling_active_users,
    )

    got = {r.day_s: r for r in rolling_active_users(events).collect()}
    pdf = events.select(
        F.unix_seconds(
            F.date_trunc("day", F.col("ts")).cast("timestamp")
        ).alias("day_s"),
        "user_id",
    ).toPandas()
    by_day = pdf.groupby("day_s")["user_id"].agg(set).to_dict()
    assert set(got) == set(by_day)
    for d, users in by_day.items():
        win = [
            u
            for dd, uu in by_day.items()
            if d - 6 * 86400 <= dd <= d
            for u in uu
        ]
        assert got[d].dau == len(users)
        assert got[d].wau == len(set(win))
        assert got[d].dau <= got[d].wau <= len(win)


def test_rolling_active_users_plan_has_no_self_join(events):
    """The scale claim: rolling distinct comes from the bounded
    explode of the deduped (day, user) frame — the executed plan must
    contain no sort-merge join and at most broadcast joins against the
    days-sized frames (one Generate, no per-day rescans of events)."""
    from flink_snappydata_spark.operators.analytic import (
        rolling_active_users,
    )

    events.sparkSession.catalog.clearCache()
    plan = (
        rolling_active_users(events)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Generate") == 1, plan


def test_pareto_frontier_matches_naive_domination(spark):
    """Frontier on a seeded synthetic catalog (with deliberate price
    and size ties, including duplicate points) must equal the O(n²)
    domination scan, and the frontier sorted by price must have
    strictly increasing sizes (the defining sweep invariant)."""
    import random

    from flink_snappydata_spark.operators.relational import (
        pareto_frontier,
    )

    rng = random.Random(8)
    rows = [
        (i, float(rng.randrange(50) * 25) / 10.0, rng.randrange(20))
        for i in range(400)
    ]
    part = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    )
    got = {
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in pareto_frontier(part, n_cells=16).collect()
    }
    naive = {
        (i, p, s)
        for i, p, s in rows
        if not any(
            (q <= p and t >= s and (q < p or t > s))
            for _, q, t in rows
        )
    }
    assert got == naive
    front = sorted({(p, s) for _, p, s in got})
    assert all(
        front[i][1] < front[i + 1][1] for i in range(len(front) - 1)
    )


def test_pareto_frontier_plan_has_no_self_join_of_catalog(spark):
    """The scale claim: no quadratic self-join — the executed plan
    must contain no CartesianProduct, and the only nested-loop joins
    are broadcast crosses against the one-row bounds frame (the
    cell_prefix_sums idiom); the join back to the catalog is a plain
    equi-join on price."""
    import re

    from flink_snappydata_spark.operators.relational import (
        pareto_frontier,
    )

    part = load_table(spark, SF, "part")
    spark.catalog.clearCache()
    plan = (
        pareto_frontier(part)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    for m in re.findall(r"BroadcastNestedLoopJoin [^\n]*", plan):
        assert "BuildRight, Cross" in m, plan


def test_ngram_diversity_matches_naive_python(documents):
    """Per-source totals and distincts must equal the naive python
    trigram count over the same tokenization (also pins md5-digest
    collision-freedom at fixture scale), and diversity must be their
    ratio in (0, 1]."""
    import re as _re
    from collections import defaultdict

    from flink_snappydata_spark.pipeline.text import ngram_diversity

    rows = documents.select("source", "text").collect()
    tot, dis = defaultdict(int), defaultdict(set)
    for r in rows:
        w = [x for x in _re.split(r"\W+", r.text.lower()) if x]
        for i in range(len(w) - 2):
            tot[r.source] += 1
            dis[r.source].add(" ".join(w[i : i + 3]))
    got = ngram_diversity(documents).collect()
    assert {r.source for r in got} == set(tot)
    for r in got:
        assert r.n_ngrams == tot[r.source]
        assert r.n_distinct == len(dis[r.source])
        assert r.diversity == r.n_distinct / r.n_ngrams
        assert 0.0 < r.diversity <= 1.0


def test_ngram_diversity_flags_template_spam(spark):
    """A source of near-identical template documents must score far
    lower diversity than an organic source of the same size."""
    from flink_snappydata_spark.pipeline.text import ngram_diversity

    spam = [
        (
            i,
            "you have been specially selected click here "
            f"to win a great prize number {i} now",
            "spam",
        )
        for i in range(50)
    ]
    organic = [
        (
            100 + i,
            " ".join(f"w{i}x{j}" for j in range(8)),
            "organic",
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in spam + organic],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    d = {r.source: r.diversity for r in ngram_diversity(df).collect()}
    assert d["spam"] < 0.25
    assert d["organic"] > 0.9


def test_scd2_intervals_tile_each_user_timeline(events):
    """SCD2 invariants: versions are 1..k dense per user, intervals
    tile the timeline (valid_to == next valid_from, exactly one open
    interval per user), adjacent states differ, n_events sums to the
    user's event count, and the total change count equals 1 + the
    user's transition count from the lag scan."""
    from collections import defaultdict

    from flink_snappydata_spark.operators.analytic import (
        scd2_state_intervals,
    )

    ivs = defaultdict(list)
    for r in scd2_state_intervals(events).collect():
        ivs[r.user_id].append(r)
    raw = defaultdict(list)
    for r in events.select("user_id", "ts", "event_id", "event_type").collect():
        raw[r.user_id].append(r)
    assert set(ivs) == set(raw)
    for uid, rows in ivs.items():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r.n_events for r in rows) == len(raw[uid])
        assert rows[-1].valid_to_us is None
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.state != b.state
        seq = [
            r.event_type
            for r in sorted(raw[uid], key=lambda r: (r.ts, r.event_id))
        ]
        n_runs = 1 + sum(1 for x, y in zip(seq, seq[1:]) if x != y)
        assert len(rows) == n_runs


def test_scd2_plan_has_single_user_shuffle(events):
    """The sessionization claim: every window and the run groupBy
    share the user partitioning — the executed plan must contain at
    most one non-broadcast shuffle exchange (plus the sort gate's
    range exchange when sort=True, so test unsorted)."""
    import re

    from flink_snappydata_spark.operators.analytic import (
        scd2_state_intervals,
    )

    events.sparkSession.catalog.clearCache()
    plan = (
        scd2_state_intervals(events, sort=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = [
        m
        for m in re.findall(r"\w*Exchange\w*", plan)
        if "Reused" not in m and "Broadcast" not in m
    ]
    assert len(shuffles) <= 1, plan


def _winnow_py(text, k=8, w=4):
    import hashlib

    n = max(len(text) - (k - 1), 1)
    hs = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]
    return hs, {
        min(hs[j : j + w]) for j in range(max(len(hs) - w, 0) + 1)
    }


def test_winnowing_matches_naive_python(documents):
    """Window counts, selection-set sizes, and densities must equal
    the naive python winnowing over the same md5-prefix hashes."""
    from flink_snappydata_spark.pipeline.text import (
        winnowing_fingerprints,
    )

    texts = {
        r.doc_id: r.text
        for r in documents.limit(200).select("doc_id", "text").collect()
    }
    got = {
        r.doc_id: r
        for r in winnowing_fingerprints(documents).collect()
        if r.doc_id in texts
    }
    assert len(got) == len(texts)
    for did, text in texts.items():
        hs, sel = _winnow_py(text)
        assert got[did].n_windows == len(hs)
        assert got[did].n_fingerprints == len(sel)
        assert got[did].density == len(sel) / len(hs)


def test_winnowing_guarantee_planted_copy(spark):
    """The SIGMOD'03 guarantee: two documents sharing a substring of
    length >= k + w - 1 = 11 chars must share at least one selected
    fingerprint — checked via the python selection sets on texts that
    are otherwise disjoint."""
    shared = "xqzjvwkpfyt"  # 11 chars, appears in both
    a = "aaaa bbbb cccc " + shared + " dddd eeee"
    b = "1111 2222 " + shared + " 3333 4444 5555"
    _, sa = _winnow_py(a)
    _, sb = _winnow_py(b)
    assert sa & sb
    from flink_snappydata_spark.pipeline.text import (
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    rows = {r.doc_id: r for r in winnowing_fingerprints(df).collect()}
    assert rows[1].n_fingerprints == len(sa)
    assert rows[2].n_fingerprints == len(sb)


def test_winnowing_density_near_guarantee(documents):
    """On organic text the expected selection density is ~2/(w+1) =
    0.4 for w=4; corpus-wide it must land in a sane band around that
    (repetitive or short texts push it down or up, hence the slack)."""
    from flink_snappydata_spark.pipeline.text import (
        winnowing_fingerprints,
    )

    d = (
        winnowing_fingerprints(documents, sort=False)
        .agg(F.avg("density"))
        .first()[0]
    )
    assert 0.15 < d < 0.65


def test_source_tv_distance_matches_naive_python(documents):
    """Every pair's TV must equal the naive python ½Σ|p_a − p_b| over
    the same tokenization, and live in [0, 1]."""
    import re as _re
    from collections import Counter, defaultdict
    from itertools import combinations

    from flink_snappydata_spark.pipeline.text import source_tv_distance

    cnt = defaultdict(Counter)
    for r in documents.select("source", "text").collect():
        cnt[r.source].update(
            x for x in _re.split(r"\W+", r.text.lower()) if x
        )
    got = {
        (r.source_a, r.source_b): r
        for r in source_tv_distance(documents).collect()
    }
    for a, b in combinations(sorted(cnt), 2):
        ca, cb = cnt[a], cnt[b]
        if not set(ca) & set(cb):
            assert (a, b) not in got
            continue
        na, nb = sum(ca.values()), sum(cb.values())
        tv = sum(
            abs(ca[w] * nb - cb[w] * na) for w in set(ca) | set(cb)
        ) / (2 * na * nb)
        r = got[(a, b)]
        assert r.n_common == len(set(ca) & set(cb))
        assert abs(r.tv - tv) < 1e-12
        assert 0.0 <= r.tv <= 1.0


def test_source_tv_distance_extremes(spark):
    """Disjoint-vocabulary sources score TV = 1; identically
    distributed sources score TV = 0."""
    from flink_snappydata_spark.pipeline.text import source_tv_distance

    rows = [
        (1, "aa bb cc aa", "en", "s1", 11),
        (2, "aa bb cc aa", "en", "s2", 11),  # same distribution as s1
        (3, "xx yy zz", "en", "s3", 8),  # disjoint from s1/s2
        (4, "aa xx", "en", "s4", 5),  # bridges so all pairs emit
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        (r.source_a, r.source_b): r.tv
        for r in source_tv_distance(df).collect()
    }
    assert got[("s1", "s2")] == 0.0
    assert ("s1", "s3") not in got  # disjoint: no common word
    assert got[("s1", "s4")] >= 0.5
    assert got[("s3", "s4")] >= 0.5


def test_winnowing_postings_plan_keeps_hash_array_named(documents):
    """The Catalyst hazard pinned: in the postings plan the md5 hash
    transform must appear ONLY in a Project (computed once per row),
    never inside the Generate's selection lambda — CollapseProject
    substituting it into the per-element slice lambda makes the op
    O(len²) per document (measured 87 s vs 2.5 s at sf0.01)."""
    from flink_snappydata_spark.pipeline.text import (
        WINNOW_WINDOW,
        _winnow_pre,
    )

    pre, sel = _winnow_pre(documents, WINNOW_WINDOW)
    plan = (
        pre.select("doc_id", F.explode(sel).alias("fp"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    gen = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert gen and all("md5" not in ln for ln in gen), plan


def test_winnowing_pairs_planted_partial_copy(spark):
    """A paragraph copied between two otherwise-unrelated long
    documents must surface as a pair; documents with no shared
    passage must not pair; a boilerplate passage present in MANY
    documents must be suppressed by the df cap."""
    import random

    from flink_snappydata_spark.pipeline.text import winnowing_pairs

    rng = random.Random(42)

    def prose(n):
        return " ".join(
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randrange(3, 9))
            )
            for _ in range(n)
        )

    passage = prose(30)
    boiler = prose(30)
    rows = [
        (1, prose(100) + " " + passage + " " + prose(100)),
        (2, prose(100) + " " + passage + " " + prose(100)),
        (3, prose(200)),
    ]
    rows += [
        (10 + i, prose(60) + " " + boiler + " " + prose(60))
        for i in range(25)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_pairs(df, max_df=16).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    boiler_ids = set(range(10, 35))
    assert not any(
        a in boiler_ids and b in boiler_ids for a, b in pairs
    )


def test_audio_silence_stats_known_values(spark):
    """Hand-computed gated-WAV cases: even doc starts loud (lead 0),
    odd doc starts silent (lead 1); ratios and frame counts follow
    n = 16 + doc_id % 8 with 4-sample gates."""
    from flink_snappydata_spark.pipeline.multimodal import (
        audio_silence_stats,
        synthesize_wav_gated,
    )

    df = spark.createDataFrame(
        [(0,), (1,), (4,)], "doc_id long"
    )
    got = {
        r.doc_id: r
        for r in audio_silence_stats(
            synthesize_wav_gated(df)
        ).collect()
    }
    # doc 0: n=16, 4 frames, gates L S L S -> silent 2, lead 0, tail 2
    assert (got[0].n_frames, got[0].n_silent) == (4, 2)
    assert (got[0].lead_trim, got[0].tail_trim) == (0, 2)
    assert got[0].silence_ratio == 0.5
    # doc 1: n=17, 5 frames (last has 1 sample), gates S L S L S
    assert (got[1].n_frames, got[1].n_silent) == (5, 3)
    assert (got[1].lead_trim, got[1].tail_trim) == (1, 3)
    # doc 4: n=20, 5 frames, gates L S L S L -> silent 2, tail 4
    assert (got[4].n_frames, got[4].n_silent) == (5, 2)
    assert (got[4].lead_trim, got[4].tail_trim) == (0, 4)


def test_audio_silence_all_silent_clip(spark):
    """A fully-silent payload must report ratio 1.0 and -1 trims —
    exercised through the real WAV container, not the synth gate."""
    import struct

    from flink_snappydata_spark.pipeline.multimodal import (
        audio_silence_stats,
    )

    pcm = struct.pack("<8h", *([0] * 8))
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    df = spark.createDataFrame(
        [(7, bytearray(wav))], "doc_id long, content binary"
    )
    r = audio_silence_stats(df).collect()[0]
    assert (r.n_frames, r.n_silent) == (2, 2)
    assert r.silence_ratio == 1.0
    assert (r.lead_trim, r.tail_trim) == (-1, -1)


def test_scd2_streamed_equals_batch_after_drain(spark, events):
    """The streamed SCD2 dimension must be row-identical to the batch
    interval build once the bounded 4-micro-batch stream drains —
    the fixture replay hash-distributes rows, so user runs interleave
    across batches and the raw-log-state claim is actually
    exercised."""
    from flink_snappydata_spark.operators.analytic import (
        scd2_state_intervals,
    )
    from flink_snappydata_spark.specs.profiling_analytics import (
        _scd2_streamed,
    )

    got = sorted(
        tuple(r) for r in _scd2_streamed(spark, SF).collect()
    )
    want = sorted(
        tuple(r) for r in scd2_state_intervals(events).collect()
    )
    assert got == want


def test_type_lag_correlation_matches_numpy(events):
    """Every (pair, lag) r must match numpy's Pearson over the dense
    zero-filled daily-count grid, lag-0 self-correlation must be
    exactly 1, and symmetric pairs must satisfy r(a,b,0) ==
    r(b,a,0)."""
    import numpy as np

    from flink_snappydata_spark.operators.analytic import (
        type_lag_correlation,
    )

    pdf = events.select(
        F.col("event_type").alias("t"),
        (
            F.unix_seconds(
                F.date_trunc("day", F.col("ts")).cast("timestamp")
            )
            / 86400
        )
        .cast("long")
        .alias("d"),
    ).toPandas()
    d0, d1 = pdf.d.min(), pdf.d.max()
    days = np.arange(d0, d1 + 1)
    series = {
        t: np.array(
            [((pdf.t == t) & (pdf.d == d)).sum() for d in days],
            dtype=np.int64,
        )
        for t in sorted(pdf.t.unique())
    }
    got = {
        (r.type_a, r.type_b, r.lag): r
        for r in type_lag_correlation(events).collect()
    }
    for ta, x in series.items():
        for tb, y in series.items():
            for lag in range(4):
                xx = x[: len(days) - lag] if lag else x
                yy = y[lag:] if lag else y
                r = got[(ta, tb, lag)]
                assert r.n_days == len(xx)
                if xx.std() == 0 or yy.std() == 0:
                    assert r.r == 0.0
                else:
                    want = np.corrcoef(xx, yy)[0, 1]
                    assert abs(r.r - want) < 1e-12
    for ta in series:
        assert abs(got[(ta, ta, 0)].r - 1.0) < 1e-12
        for tb in series:
            assert got[(ta, tb, 0)].r == got[(tb, ta, 0)].r


def test_source_token_entropy_matches_naive_and_bounds(documents):
    """bits_sum must equal the naive python fold of
    c·(⌊log2 N⌋ − ⌊log2 c⌋) over the same tokenization; quantized
    entropy must sit within 1 bit of true Shannon entropy and inside
    [0, ⌊log2 N⌋]."""
    import math
    import re as _re
    from collections import Counter, defaultdict

    from flink_snappydata_spark.pipeline.text import (
        source_token_entropy,
    )

    cnt = defaultdict(Counter)
    for r in documents.select("source", "text").collect():
        cnt[r.source].update(
            x for x in _re.split(r"\W+", r.text.lower()) if x
        )
    got = {r.source: r for r in source_token_entropy(documents).collect()}
    assert set(got) == set(cnt)
    for s, c in cnt.items():
        n = sum(c.values())
        want_bits = sum(
            v * (n.bit_length() - 1 - (v.bit_length() - 1))
            for v in c.values()
        )
        r = got[s]
        assert r.n_tokens == n
        assert r.n_distinct == len(c)
        assert r.bits_sum == want_bits
        assert r.entropy_bits == want_bits / n
        true_h = -sum(
            (v / n) * math.log2(v / n) for v in c.values()
        )
        assert abs(r.entropy_bits - true_h) <= 1.0
        assert 0.0 <= r.entropy_bits <= n.bit_length() - 1


def test_source_token_entropy_separates_template_from_organic(spark):
    """A looping-template source must score materially lower entropy
    than an organic source of the same token volume."""
    from flink_snappydata_spark.pipeline.text import (
        source_token_entropy,
    )

    rows = [
        (i, "the same ten words repeat here again and again ok fine",
         "template")
        for i in range(40)
    ] + [
        (100 + i, " ".join(f"tok{i}n{j}" for j in range(10)), "organic")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    e = {r.source: r.entropy_bits
         for r in source_token_entropy(df).collect()}
    assert e["organic"] - e["template"] >= 3.0


def test_weighted_median_matches_naive_python(spark):
    """The weighted median must equal the naive expand-and-sort
    definition (repeat each price w times, take the lower median) on
    the fixture, per flag."""
    from flink_snappydata_spark.operators.relational import (
        weighted_median_price,
    )

    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    pdf = li.toPandas()
    pdf["v"] = (pdf.l_extendedprice * 100).round().astype("int64")
    pdf["w"] = pdf.l_quantity.astype("int64")
    got = {
        r.l_returnflag: r
        for r in weighted_median_price(li.sparkSession.createDataFrame(pdf))
        .collect()
    }
    for flag, g in pdf.groupby("l_returnflag"):
        tw = int(g.w.sum())
        cum = 0
        med = None
        for v, w in sorted(
            g.groupby("v").w.sum().items(), key=lambda kv: kv[0]
        ):
            cum += int(w)
            if 2 * cum >= tw:
                med = int(v)
                break
        r = got[flag]
        assert r.total_weight == tw
        assert r.median_cents == med
        assert r.median_price == med / 100.0


def test_email_domain_stats_known_corpus(spark):
    """Hand-built corpus: mention counts, exact distinct-doc counts,
    domain normalization to lowercase, and non-email text ignored."""
    from flink_snappydata_spark.pipeline.text import email_domain_stats

    rows = [
        (1, "write A@Corp.COM and b@corp.com plus x@other.org"),
        (2, "again a@corp.com; not-an-email @nope bare@x"),
        (3, "nothing here"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        r.domain: (r.n_mentions, r.n_docs)
        for r in email_domain_stats(df, synthesize=False).collect()
    }
    assert got["corp.com"] == (3, 2)
    assert got["other.org"] == (1, 1)
    assert set(got) == {"corp.com", "other.org"}


def test_full_outer_join_exercises_both_null_sides(spark):
    """The full-outer claim: on the fixtures the result must contain
    nations with premium customers but NO premium suppliers AND
    nations with premium suppliers but NO premium customers, and
    matched rows must agree with the per-side aggregates."""
    from flink_snappydata_spark.operators.relational import (
        full_outer_nation_balance,
    )

    cust = load_table(spark, SF, "customer")
    supp = load_table(spark, SF, "supplier")
    rows = full_outer_nation_balance(cust, supp).collect()
    c_only = [r for r in rows if r.n_supp is None]
    s_only = [r for r in rows if r.n_cust is None]
    assert c_only and s_only
    assert all(r.n_cust is not None for r in c_only)
    n_c = (
        cust.filter(F.col("c_acctbal") > 9800)
        .select("c_nationkey")
        .distinct()
        .count()
    )
    n_s = (
        supp.filter(F.col("s_acctbal") > 5000)
        .select("s_nationkey")
        .distinct()
        .count()
    )
    both = [r for r in rows if r.n_cust is not None and r.n_supp is not None]
    assert len(rows) == n_c + n_s - len(both)


def test_agg_mode_matches_naive_and_breaks_ties_low(spark, events):
    """Mode must equal the naive Counter most-common value per type
    with ties broken toward the SMALLEST value; tie census verified
    on a planted all-tied frame."""
    from collections import Counter, defaultdict

    from flink_snappydata_spark.operators.relational import (
        mode_per_type,
    )

    cnt = defaultdict(Counter)
    for r in events.select("event_type", "value").collect():
        cnt[r.event_type][round(r.value * 100)] += 1
    got = {r.event_type: r for r in mode_per_type(events).collect()}
    assert set(got) == set(cnt)
    for t, c in cnt.items():
        top = max(c.values())
        tied = [v for v, n in c.items() if n == top]
        assert got[t].mode_count == top
        assert got[t].mode_cents == min(tied)
        assert got[t].n_tied == len(tied)
    planted = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", 1, "x", float(v), "{}")
         for i, v in enumerate([3.0, 1.0, 2.0])],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = mode_per_type(planted).collect()[0]
    assert (r.mode_cents, r.mode_count, r.n_tied) == (100, 1, 3)
