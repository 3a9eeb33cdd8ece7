"""Sampling/splitting ops and the skew-salted join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.pipeline import sampling
from flink_snappydata_spark.util import salted_join
from tests.conftest import SF_CORRECT


def test_hash_split_proportions_and_determinism(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    counts = {r.split: r.n_docs for r in sampling.split_counts(docs).collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] / n > 0.9, "train share near 98%"
    # deterministic: identical assignment on recomputation
    again = {r.split: r.n_docs for r in sampling.split_counts(docs).collect()}
    assert counts == again


def test_hash_split_stable_under_growth(spark):
    """A document's split never changes when more rows are added."""
    docs = load_table(spark, SF_CORRECT, "documents")
    half = docs.filter(F.col("doc_id") < 250)
    full_map = {
        r.doc_id: r.split
        for r in sampling.hash_split(docs, "doc_id").select("doc_id", "split").collect()
    }
    half_map = {
        r.doc_id: r.split
        for r in sampling.hash_split(half, "doc_id").select("doc_id", "split").collect()
    }
    assert all(full_map[k] == v for k, v in half_map.items())


def test_hash_split_bad_weights(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    with pytest.raises(ValueError):
        sampling.hash_split(docs, "doc_id", {"train": 0.5, "val": 0.1})


def test_stratified_sample_fractions(spark):
    events = load_table(spark, SF_CORRECT, "events")
    sampled = sampling.stratified_sample(
        events, "event_type", {"click": 0.1, "purchase": 1.0}, seed=42
    )
    got = {r.event_type: r.n for r in
           sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r.event_type: r.n for r in
            events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) == {"click", "purchase"}, "unlisted classes dropped"
    assert got["purchase"] == base["purchase"]
    assert 0.05 * base["click"] < got["click"] < 0.15 * base["click"]


def test_approx_distinct_error_bound(spark):
    orders = load_table(spark, SF_CORRECT, "orders")
    approx = {
        r.o_orderpriority: r.approx_distinct
        for r in sampling.approx_distinct_by(orders, "o_orderpriority", "o_custkey").collect()
    }
    exact = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.1, f"{k}: {approx[k]} vs exact {e}"


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_CORRECT, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = load_table(spark, SF_CORRECT, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(part, "l_partkey").groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    )
    salted = salted_join(li, part, "l_partkey", n_salts=8).groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_approx_percentile_error_bound(spark):
    from flink_snappydata_spark.operators.relational import (
        agg_approx_percentile,
        agg_percentile,
    )

    orders = load_table(spark, SF_CORRECT, "orders")
    cents = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    approx = {
        r.o_orderpriority: (r.p50_cents, r.p90_cents)
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.expr(f"approx_percentile({cents}, 0.5, 10000)").alias("p50_cents"),
            F.expr(f"approx_percentile({cents}, 0.9, 10000)").alias("p90_cents"),
        )
        .collect()
    }
    exact = {r.o_orderpriority: (r.p50_cents, r.p90_cents)
             for r in agg_percentile(orders).collect()}
    assert set(approx) == set(exact)
    for k, (p50, p90) in exact.items():
        assert abs(approx[k][0] - p50) / p50 < 0.01
        assert abs(approx[k][1] - p90) / p90 < 0.01
    # the registry query's in-query verdict agrees
    verdicts = agg_approx_percentile(orders).collect()
    assert len(verdicts) == len(exact)
    assert all(r.p50_within_bound and r.p90_within_bound for r in verdicts)

def test_salted_join_on_pathological_skew(spark):
    """90% of fact rows share ONE key — the scenario salting exists
    for; results must equal the plain join exactly."""
    fact = spark.range(0, 20_000).selectExpr(
        "id AS row_id", "CASE WHEN id % 10 < 9 THEN 7 ELSE id % 100 END AS k"
    )
    dim = spark.range(0, 100).selectExpr("id AS k", "concat('v', id) AS label")
    plain = (
        fact.join(dim, "k").groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(fact, dim, "k", n_salts=16)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


@pytest.fixture
def _skew_confs(spark):
    """Force shuffled joins + save/restore the AQE skew knobs."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


def _skew_fixture(spark):
    """~95% of 400k fact rows share ONE key, with a payload wide enough
    that the hot reducer partition is MBs, not KBs."""
    fact = spark.range(0, 400_000).selectExpr(
        "id AS row_id",
        "CASE WHEN id % 20 < 19 THEN 7 ELSE id % 100 END AS k",
        "repeat('x', 100) AS payload",
    )
    dim = spark.range(0, 100).selectExpr("id AS k", "concat('v', id) AS label")
    return fact, dim


def _executed_plan(df) -> str:
    """Run the frame's OWN QueryExecution to completion and return the
    final adaptive plan (a noop write would execute a fresh QE and
    leave this one isFinalPlan=false)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_split_fires_when_tuned(spark, _skew_confs):
    """With thresholds sized to the data, AQE's runtime skew split marks
    the sort-merge join `skew=true` — the 'AQE suffices' half of the
    salted_join decision rule (hot key merely oversizes a shuffle
    partition of an eligible shuffled join)."""
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512KB"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
    fact, dim = _skew_fixture(spark)
    plan = _executed_plan(fact.join(dim, "k"))
    assert "skew=true" in plan, plan


def test_aqe_skew_split_misses_at_default_thresholds(spark, _skew_confs):
    """The same pathological join at stock thresholds (256 MB): AQE sees
    nothing to split and the hot key rides one reducer — the 'salting
    needed' half of the decision rule. salted_join spreads it by
    construction, no skewed-partition detection involved."""
    fact, dim = _skew_fixture(spark)
    plan = _executed_plan(fact.join(dim, "k"))
    assert "SortMergeJoin" in plan and "skew=true" not in plan, plan
    salted_plan = _executed_plan(salted_join(fact, dim, "k", n_salts=16))
    assert "skew=true" not in salted_plan


def test_bound_verdicts_hold_at_smoke_scale(spark):
    """The three bound-verdict queries must stay all-true at the tiny
    smoke SF too (the driver only oracle-checks sf0.01; this pins the
    verdicts against scale-down edge cases like sparse-mode HLL and
    single-element percentile groups)."""
    from tests.conftest import SF_SMOKE
    from flink_snappydata_spark import registry

    qs = registry.queries()
    ad = qs["agg_approx_distinct"](spark, SF_SMOKE).collect()
    assert ad and all(r.within_bound for r in ad)
    ap = qs["agg_approx_percentile"](spark, SF_SMOKE).collect()
    assert ap and all(r.p50_within_bound and r.p90_within_bound for r in ap)
    iv = qs["ann_ivf_topk"](spark, SF_SMOKE).collect()
    assert iv and all(r.recall_ok for r in iv)


def test_token_budget_mix_budget_and_extremes(spark):
    """Kept tokens land near the budget for every source (whole-document
    granularity + hash variance bounded loosely); a huge budget keeps
    everything, a zero budget keeps nothing."""
    docs = load_table(spark, SF_CORRECT, "documents")
    out = sampling.token_budget_mix(docs).collect()
    assert len(out) == 20
    for r in out:
        assert 0 < r.tokens_kept <= r.total_tokens
        assert r.tokens_kept < 3 * sampling.MIX_BUDGET_TOKENS
    assert sum(r.n_docs_kept for r in out) < docs.count()

    all_kept = sampling.token_budget_mix(docs, budget_tokens=10**9).collect()
    for r in all_kept:
        assert r.threshold == 10_000 and r.tokens_kept == r.total_tokens

    none = sampling.token_budget_mix(docs, budget_tokens=0).collect()
    for r in none:
        assert r.threshold == 0 and r.n_docs_kept == 0 and r.tokens_kept == 0


def test_token_budget_assign_independent_across_sources(spark):
    """A document's keep decision depends only on its own source's
    totals: adding documents to OTHER sources never flips it (no
    cross-source coupling, so sources can be mixed incrementally)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    one = sampling.token_budget_assign(docs.filter(F.col("source") == "src1"))
    both = sampling.token_budget_assign(
        docs.filter(F.col("source").isin("src1", "src2"))
    )
    a = {r.doc_id: r.keep for r in one.collect()}
    b = {
        r.doc_id: r.keep
        for r in both.filter(F.col("source") == "src1").collect()
    }
    assert a == b and len(a) > 0


def test_token_budget_thresholds_broadcast(spark):
    """The per-source threshold table must come back as a broadcast
    join — at 100 TB the corpus side never shuffles for the mix."""
    from flink_snappydata_spark.plans.inspect import broadcast_join_count

    docs = load_table(spark, SF_CORRECT, "documents")
    assert broadcast_join_count(sampling.token_budget_assign(docs)) >= 1


def test_unigram_surprisal_stopword_skew(spark, _skew_confs):
    """Pin the skew story the unigram_surprisal docstring tells, both
    halves. (1) Ineligibility: on a corpus where one stopword appears
    in EVERY document, the NAIVE tf⋈vocabulary join cannot be rescued
    by AQE even with thresholds tuned way down — the vocabulary side is
    an aggregate output, not a bare shuffle stage, so
    OptimizeSkewedJoin never marks it skew=true. (2) The shipped
    operator therefore splits the join by construction: the hot
    vocabulary slice rides a BroadcastHashJoin (hot tf rows never
    shuffle), and the result is row-identical to the naive formula."""
    from pyspark.sql import functions as F

    from flink_snappydata_spark.operators.wordcount import words
    from flink_snappydata_spark.pipeline import text as textops
    from flink_snappydata_spark.pipeline.text import (
        _floor_log2,
        _join_word_stats_skew_safe,
    )

    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512KB"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
    docs = spark.range(0, 60_000).selectExpr(
        "id AS doc_id",
        "concat('thequickbrownfoxjumpedoverthelazydog u', id) AS text",
    )

    # (1) the naive join shape: AQE skew split is structurally ineligible
    tf = (
        docs.select("doc_id", F.explode(words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = tf.groupBy("word").agg(F.sum("tf").alias("c"))
    naive_plan = _executed_plan(tf.join(counts, "word"))
    assert "SortMergeJoin" in naive_plan and "skew=true" not in naive_plan, (
        naive_plan
    )

    # (2) the shipped split: hot slice broadcasts, values identical
    total = counts.agg(F.sum("c").alias("n"))
    safe = _join_word_stats_skew_safe(tf, counts, "c", total, "n")
    safe_plan = _executed_plan(safe)
    assert "BroadcastHashJoin" in safe_plan, safe_plan
    got = {(r.doc_id, r.word): r.c for r in safe.collect()}
    want = {(r.doc_id, r.word): r.c for r in tf.join(counts, "word").collect()}
    assert got == want and len(got) == 120_000


def test_per_source_cap_matches_naive_window(spark):
    """The two-phase bucket-histogram rank must equal the naive
    per-source row_number over the portable hash, and keep exactly
    min(k, source size) documents per source."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_snappydata_spark.pipeline.packing import portable_hash

    docs = load_table(spark, SF_CORRECT, "documents")
    out = sampling.per_source_cap(docs, k=7)
    naive = (
        docs.select(
            "doc_id", "source", portable_hash(F.col("doc_id")).alias("hk")
        )
        .withColumn(
            "cap_rank",
            F.row_number().over(
                Window.partitionBy("source").orderBy("hk", "doc_id")
            )
            - 1,
        )
        .withColumn("kept", F.col("cap_rank") < 7)
        .select("doc_id", "cap_rank", "kept")
    )
    a = {r.doc_id: (r.cap_rank, r.kept) for r in out.collect()}
    b = {r.doc_id: (r.cap_rank, r.kept) for r in naive.collect()}
    assert a == b
    kept = (
        out.filter("kept").groupBy("source").count().collect()
    )
    sizes = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    for r in kept:
        assert r["count"] == min(7, sizes[r.source])
