"""Round-13 operators and fixes: the gated presentation sort on
temporal_table_join, fixed-width interval parsing for the banded-join
family, and the general CEP pattern builder.

Oracle parity for the registered queries is covered by
test_oracle_parity; the tests here pin the library-path behaviors the
oracle can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401 (fixtures below)

from flink_snappydata_spark.catalog import load_table

SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


# ----------------------------------- interval parsing (banded joins)


def test_window_seconds_fixed_width_units():
    """Every fixed-width Spark interval unit the streaming path accepts
    must parse in the batch banding path too (ADVICE r12: '90 seconds'
    raised KeyError after interval_join started routing lookback
    through _window_seconds)."""
    from flink_snappydata_spark.operators.cep import _window_seconds

    assert _window_seconds("90 seconds") == 90
    assert _window_seconds("1 second") == 1
    assert _window_seconds("15 minutes") == 900
    assert _window_seconds("2 hours") == 7200
    assert _window_seconds("1 day") == 86400
    assert _window_seconds("1 week") == 604800
    assert _window_seconds("2 Weeks") == 1209600  # case-insensitive


def test_window_seconds_rejects_calendar_units():
    """Calendar units have no fixed width — banding on an approximated
    width silently drops matches near month boundaries, so the parse
    must fail loudly, naming the offending interval."""
    from flink_snappydata_spark.operators.cep import _window_seconds

    for bad in ("1 month", "3 years", "1", "day", "x day"):
        with pytest.raises(ValueError, match="unsupported interval"):
            _window_seconds(bad)


def test_interval_join_batch_accepts_seconds_lookback(spark):
    """The batch twin of interval_join must accept any fixed-width
    lookback the streaming twin accepts — '90 seconds' used to raise
    KeyError only in batch mode (silent mode divergence)."""
    from flink_snappydata_spark.streaming.joins import interval_join

    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.filter(ev.event_type == "click")
    purchases = ev.filter(ev.event_type == "purchase")
    out = interval_join(clicks, purchases, lookback="90 seconds")
    # no assertion on rows beyond non-crash + schema: the semantic
    # contract is pinned at '1 hour' by the oracle-backed query
    assert out.columns and out.count() >= 0


# ------------------------------- temporal join: gated presentation sort


def test_temporal_table_join_sort_gate(spark):
    """sort=False must (a) drop the corpus-sized global orderBy from
    the plan — no top-level Sort/Exchange rangepartitioning above the
    window stage — and (b) return exactly the same row SET as the
    spec path (sort is presentation only)."""
    from flink_snappydata_spark.operators.cep import temporal_table_join

    ev = load_table(spark, SF_SMOKE, "events")
    sorted_rows = temporal_table_join(ev).collect()
    unsorted = temporal_table_join(ev, sort=False)
    assert {tuple(r) for r in unsorted.collect()} == {
        tuple(r) for r in sorted_rows
    }
    plan = unsorted._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(event_id" not in plan, (
        "sort=False must not range-exchange on the presentation key"
    )


# --------------------------- IVFADC prebuilt path, registered query


def test_ivf_pq_prebuilt_topk_registered(spark, tmp_path, monkeypatch):
    """The driver-stamped production ANN path: the registered
    ivf_pq_prebuilt_topk query must (a) return rows identical to the
    inline-training ivf_pq_topk (same oracle applies), (b) carry a
    training-free plan — file-backed index scans, <= 8 joins and
    <= 15 exchanges (the inline DAG optimizes to ~60) — and (c) keep
    the index in the store: a new session opens the same directory
    and launches at most the one job that infers the embeddings
    schema, never a rebuild. The store is redirected into ``tmp_path``
    so every run builds, saves and publishes a fresh index."""
    import os

    from flink_snappydata_spark.plans.inspect import exchange_count
    from flink_snappydata_spark.registry import QUERIES, queries
    from flink_snappydata_spark.specs import embeddings_quality as eq

    spec = QUERIES["ivf_pq_prebuilt_topk"]
    assert spec.oracle == QUERIES["ivf_pq_topk"].oracle
    real_dir = eq.ivfpq_store_dir
    other = spark.newSession()
    assert real_dir(other, SF_SMOKE) == real_dir(spark, SF_SMOKE)
    store = tmp_path / "ivfpq"
    monkeypatch.setattr(
        eq, "ivfpq_store_dir",
        lambda s, d: str(store / os.path.basename(real_dir(s, d))),
    )
    qs = queries()
    prebuilt = qs["ivf_pq_prebuilt_topk"](spark, SF_SMOKE)
    published = os.listdir(store)
    assert published == [os.path.basename(real_dir(spark, SF_SMOKE))]
    inline = qs["ivf_pq_topk"](spark, SF_SMOKE)
    rows = [tuple(r) for r in prebuilt.collect()]
    assert rows == [tuple(r) for r in inline.collect()]
    plan = prebuilt._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join")
    assert n_joins <= 8, f"prebuilt plan still carries training ({n_joins} joins)"
    n_ex = exchange_count(prebuilt)  # shuffle exchanges, gauge metric
    assert n_ex <= 15, f"prebuilt plan still carries training ({n_ex} exchanges)"

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    reopened = qs["ivf_pq_prebuilt_topk"](other, SF_SMOKE)
    n_jobs = dag.numTotalJobs() - before
    assert n_jobs <= 1, f"new session rebuilt the stored index ({n_jobs} jobs)"
    assert os.listdir(store) == published
    assert [tuple(r) for r in reopened.collect()] == rows


def test_ivfpq_store_dir_fingerprint(spark, tmp_path, monkeypatch):
    """The stored index's directory is a pure function of its inputs:
    the same inputs name the same dir, and each input that can change
    the index (a file's mtime or size, the build parameters, the
    fixture dir) names a different one. The build parameters are the
    trainer's defaults, so a trainer whose defaults differ names a
    different dir too. A warehouse that is not a local path is
    refused."""
    import os
    import shutil
    from pathlib import Path
    from types import SimpleNamespace

    from flink_snappydata_spark.pipeline import similarity
    from flink_snappydata_spark.specs import embeddings_quality as eq

    def fixture(name):
        d = tmp_path / name
        d.mkdir()
        shutil.copy2(f"{SF_SMOKE}/embeddings.parquet", d / "embeddings.parquet")
        return str(d)

    sf_a, sf_b = fixture("a"), fixture("b")
    emb = os.path.join(sf_a, "embeddings.parquet")

    def touch_mtime():
        st = os.stat(emb)
        os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))

    def grow():  # same mtime, one byte longer
        st = os.stat(emb)
        with open(emb, "ab") as f:
            f.write(b"\0")
        os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns))

    base = eq.ivfpq_store_dir(spark, sf_a)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.dirname(base) == os.path.join(warehouse, "ivfpq")
    assert eq.ivfpq_store_dir(spark, sf_a) == base, "same inputs, same dir"
    assert eq.ivfpq_store_dir(spark, sf_b) != base, "different sf_dir"
    trainer = tmp_path / "similarity.py"
    src = Path(similarity.__file__).read_text()
    sig = "n_pq_centroids: int = 8,\n    n_iters: int = 2,\n) -> IvfPqIndex:"
    assert src.count(sig) == 1, "ivf_pq_index's signature moved"
    trainer.write_text(src.replace(sig, sig.replace("n_iters: int = 2", "n_iters: int = 3")))
    with monkeypatch.context() as m:
        m.setattr(similarity, "__file__", str(trainer))
        assert eq.ivfpq_store_dir(spark, sf_a) != base, "different build parameters"
    assert eq.ivfpq_store_dir(spark, sf_a) == base
    seen = {base}
    for change, label in ((touch_mtime, "changed mtime"), (grow, "changed size")):
        change()
        d = eq.ivfpq_store_dir(spark, sf_a)
        assert d not in seen, label
        seen.add(d)

    remote = SimpleNamespace(conf=SimpleNamespace(get=lambda key: "hdfs://nn/wh"))
    with pytest.raises(ValueError, match="needs a local warehouse"):
        eq.ivfpq_store_dir(remote, sf_a)


def test_ivfpq_failed_or_lost_build_leaves_no_tmp_dir(spark, tmp_path, monkeypatch):
    """A build whose save raises deletes its tmp sibling and re-raises;
    a build that loses the publish race to a concurrent one deletes its
    tmp sibling and opens the winner's directory. Training, saving and
    reopening are stubbed, so only the publish protocol runs."""
    import os

    from flink_snappydata_spark.pipeline import similarity
    from flink_snappydata_spark.specs import embeddings_quality as eq

    store = tmp_path / "ivfpq"
    base = str(store / "fp")
    one = spark.range(1)
    monkeypatch.setattr(eq, "ivfpq_store_dir", lambda s, d: base)
    monkeypatch.setattr(
        similarity, "ivf_pq_index", lambda emb: similarity.IvfPqIndex(one, one, one, one)
    )
    monkeypatch.setattr(similarity, "ivf_pq_index_load", lambda s, b: b)

    def failing_save(self, path):
        os.makedirs(f"{path}/qv")
        raise OSError("disk full")

    monkeypatch.setattr(similarity.IvfPqIndex, "save", failing_save)
    with pytest.raises(OSError, match="disk full"):
        eq.ivfpq_prebuilt_index(spark, SF_SMOKE)
    assert os.listdir(store) == []

    def racing_save(self, path):
        os.makedirs(f"{path}/qv")
        os.makedirs(f"{base}/qv")  # a concurrent build publishes first

    monkeypatch.setattr(similarity.IvfPqIndex, "save", racing_save)
    assert eq.ivfpq_prebuilt_index(spark, SF_SMOKE) == base
    assert os.listdir(store) == ["fp"]


def test_ivfpq_publish_sweeps_stale_entries_of_its_fixture_dir(
    spark, tmp_path, monkeypatch
):
    """A successful publish deletes the other entries of its own
    fixture dir — an older fingerprint and the tmp sibling of a build
    killed mid-save — and keeps another fixture dir's index. Training,
    saving and reopening are stubbed, so only the store protocol runs."""
    import os

    from flink_snappydata_spark.pipeline import similarity
    from flink_snappydata_spark.specs import embeddings_quality as eq

    real_dir = eq.ivfpq_store_dir
    store = tmp_path / "ivfpq"
    monkeypatch.setattr(
        eq, "ivfpq_store_dir",
        lambda s, d: str(store / os.path.basename(real_dir(s, d))),
    )
    one = spark.range(1)
    monkeypatch.setattr(
        similarity, "ivf_pq_index", lambda emb: similarity.IvfPqIndex(one, one, one, one)
    )
    monkeypatch.setattr(similarity, "ivf_pq_index_load", lambda s, b: b)
    monkeypatch.setattr(
        similarity.IvfPqIndex, "save", lambda self, path: os.makedirs(f"{path}/qv")
    )
    name = os.path.basename(eq.ivfpq_store_dir(spark, SF_SMOKE))
    key, _ = name.split("-", 1)
    other = os.path.basename(real_dir(spark, SF))
    assert not other.startswith(key)
    for stale in (f"{key}-{'0' * 32}", f"{name}.tmp-deadbeef", other):
        os.makedirs(store / stale / "qv")

    assert eq.ivfpq_prebuilt_index(spark, SF_SMOKE) == str(store / name)
    assert sorted(os.listdir(store)) == sorted([name, other])


def test_ivfpq_save_rejects_undeclared_schema(spark, tmp_path):
    """The reopen trusts IVF_PQ_SCHEMAS instead of reading footers, so
    save must refuse a frame whose schema differs from its declared
    one, before anything is written."""
    import os

    from flink_snappydata_spark.pipeline.similarity import IvfPqIndex

    qv = spark.range(2).selectExpr(
        "id AS vec_id", "array(id) AS qe", "CAST(id AS INT) AS norm_sq"
    )
    bad = IvfPqIndex(qv=qv, cents=qv, pq_cents=qv, codes=qv)
    with pytest.raises(ValueError, match="IvfPqIndex.qv is"):
        bad.save(str(tmp_path / "idx"))
    assert not os.path.exists(tmp_path / "idx")


# ------------------- mergeable-partial compaction (wordcount loop)


def test_wordcount_compaction_drain_equals_batch(spark):
    """The round-12 session/funnel compaction floor extended to the
    mergeable-partial loops: 4-batch replay with compact_every=2 must
    (a) fold to exactly the batch word count (compaction is exact —
    sum of sums), (b) stamp a non-zero floor, and (c) leave the LIVE
    partial set bounded by ~vocabulary size, not stream age; the CMS
    twin reads the SAME table floor-aware and must also equal its
    single-pass sketch."""
    from flink_snappydata_spark.operators import wordcount
    from flink_snappydata_spark.pipeline import text as textops

    from tests.test_round12_ops import _replay_ingest

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = sorted(
        tuple(r) for r in wordcount.word_count(docs, col="text").collect()
    )
    got, state = _replay_ingest(
        spark,
        docs,
        4,
        lambda s, t: wordcount.streaming_wordcount_ingest(
            s, t, compact_every=2
        ),
        wordcount.wordcount_from_state,
        "wccomp",
    )
    assert got == want
    floor = max(r["floor"] for r in state)
    assert floor > 0, "4-batch replay with compact_every=2 must compact"
    vocab = len(want)
    live = [r for r in state if r["batch_id"] >= floor]
    # live partials: one compacted row per word + at most the batches
    # since compaction re-adding per-batch vocabulary partials
    assert len(live) <= 2 * vocab, "live partials must be vocab-bounded"
    # the CMS twin reads the same compacting table and must match its
    # own batch op (exact counts fold batching- and compaction-blind)
    cms_got, _ = _replay_ingest(
        spark,
        docs,
        4,
        lambda s, t: wordcount.streaming_wordcount_ingest(
            s, t, compact_every=2
        ),
        textops.cms_from_state,
        "cmscomp",
    )
    cms_want = sorted(
        tuple(r) for r in textops.cms_heavy_hitters(docs).collect()
    )
    assert cms_got == cms_want


def test_rollup_compaction_drain_equals_batch(spark):
    """Same floor discipline on the events-side hourly partials:
    4-batch replay with compact_every=2 must fold to exactly the batch
    multi-resolution rollup, stamp a non-zero floor, and leave the
    live partial set bucket-bounded."""
    from flink_snappydata_spark.streaming import windows as stream_windows

    from tests.test_round12_ops import _replay_ingest

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = sorted(
        tuple(r) for r in stream_windows.rollup_multires(ev).collect()
    )
    got, state = _replay_ingest(
        spark,
        ev,
        4,
        lambda s, t: stream_windows.streaming_rollup_ingest(
            s, t, compact_every=2
        ),
        stream_windows.rollup_from_state,
        "rollcomp",
    )
    assert got == want
    floor = max(r["floor"] for r in state)
    assert floor > 0, "4-batch replay with compact_every=2 must compact"
    n_buckets = len(
        {(r["bucket_start"], r["event_type"]) for r in state}
    )
    live = [r for r in state if r["batch_id"] >= floor]
    assert len(live) <= 2 * n_buckets, "live partials must be bucket-bounded"


# ------------------------------------ general CEP pattern builder


def _mk_events(spark, rows):
    """rows: (user_id, ts_offset_s, event_id, event_type, value)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (u, t0 + dt.timedelta(seconds=s), e, et, v)
            for u, s, e, et, v in rows
        ],
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double",
    )


def test_pattern_builder_strict_contiguity_and_quantifiers(spark):
    """STRICT contiguity: an interleaved non-stage event breaks the
    pattern; quantifiers bound the maximal run; the middle stage's
    non-type predicate (value >= 0.5) filters by value."""
    from flink_snappydata_spark.operators.cep import cep_funnel_pattern

    ev = _mk_events(
        spark,
        [
            # user 1: clean view click click purchase -> match
            (1, 0, 1, "view", 1.0),
            (1, 1, 2, "click", 0.9),
            (1, 2, 3, "click", 0.8),
            (1, 3, 4, "purchase", 5.0),
            # user 2: error interleaves the click run -> NO match
            (2, 0, 5, "view", 1.0),
            (2, 1, 6, "click", 0.9),
            (2, 2, 7, "error", 0.0),
            (2, 3, 8, "click", 0.8),
            (2, 4, 9, "purchase", 5.0),
            # user 3: only ONE qualifying click (other is value<0.5)
            (3, 0, 10, "view", 1.0),
            (3, 1, 11, "click", 0.1),
            (3, 2, 12, "click", 0.9),
            (3, 3, 13, "purchase", 5.0),
        ],
    )
    got = cep_funnel_pattern(ev).collect()
    assert [r.user_id for r in got] == [1]
    assert got[0].n_view == 1 and got[0].n_click == 2 and got[0].n_purchase == 1


def test_pattern_builder_bounded_max_count(spark):
    """Bounded max_count on an EDGE stage sub-run-matches an over-long
    maximal run (NFA semantics — the r13 run-quantified delta is
    closed in r14): user 2's click run of 3 matches its 2-event
    SUFFIX, so match_start moves to the run's second event and the
    emitted count caps at the bound. A bounded MIDDLE stage still
    fails on overrun (forced consumption — see
    tests/test_round14_ops.py for the NFA differential)."""
    from flink_snappydata_spark.operators.cep import (
        PatternStage,
        cep_match_pattern,
    )

    ev = _mk_events(
        spark,
        [
            (1, 0, 1, "click", 1.0),
            (1, 1, 2, "click", 1.0),
            (1, 2, 3, "purchase", 1.0),
            (2, 0, 4, "click", 1.0),
            (2, 1, 5, "click", 1.0),
            (2, 2, 6, "click", 1.0),  # run of 3 > max_count=2: suffix
            (2, 3, 7, "purchase", 1.0),
        ],
    )
    stages = [
        PatternStage("click", "click", min_count=2, max_count=2),
        PatternStage("buy", "purchase"),
    ]
    got = cep_match_pattern(ev, stages).collect()
    assert [r.user_id for r in got] == [1, 2]
    assert got[0].n_click == 2 and got[0].n_buy == 1
    # user 2: suffix of the 3-run — starts at the run's SECOND event
    u2 = got[1]
    assert u2.n_click == 2 and u2.n_buy == 1
    by_id = {r.event_id: r.ts for r in ev.collect()}
    assert u2.match_start == by_id[5], "match_start = suffix boundary"
    assert u2.match_end == by_id[7]

    # middle-stage overrun still has no match, engine and NFA alike
    mid = [
        PatternStage("view", "view"),
        PatternStage("click", "click", min_count=1, max_count=2),
        PatternStage("buy", "purchase"),
    ]
    ev2 = _mk_events(
        spark,
        [
            (3, 0, 1, "view", 1.0),
            (3, 1, 2, "click", 1.0),
            (3, 2, 3, "click", 1.0),
            (3, 3, 4, "click", 1.0),  # middle run of 3 > max 2
            (3, 4, 5, "purchase", 1.0),
        ],
    )
    assert cep_match_pattern(ev2, mid).collect() == []


def test_pattern_builder_validation_and_one_shuffle(spark):
    """Spec validation fails loudly; the compiled plan carries exactly
    ONE shuffle exchange (everything reuses the user_id hash
    partitioning) when sort=False."""
    import pytest as _pytest

    from flink_snappydata_spark.operators.cep import (
        PatternStage,
        cep_match_pattern,
        cep_funnel_pattern,
    )
    from flink_snappydata_spark.plans.inspect import exchange_count

    with _pytest.raises(ValueError, match="at least one stage"):
        cep_match_pattern(_mk_events(spark, []), [])
    with _pytest.raises(ValueError, match="unique"):
        cep_match_pattern(
            _mk_events(spark, []),
            [PatternStage("a", "view"), PatternStage("a", "click")],
        )
    ev = load_table(spark, SF_SMOKE, "events")
    from flink_snappydata_spark.operators.cep import PatternStage as PS

    df = cep_match_pattern(
        ev,
        [PS("view", "view"), PS("click", "click", 2), PS("buy", "purchase")],
        sort=False,
    )
    assert exchange_count(df) == 1, "islands + lead must reuse ONE shuffle"


def test_pattern_builder_matches_are_disjoint(spark):
    """With pairwise-disjoint stage predicates, matches never overlap
    per user (the skip-past-last-row guarantee the docstring derives)."""
    from flink_snappydata_spark.operators.cep import cep_funnel_pattern

    ev = load_table(spark, SF, "events")
    rows = cep_funnel_pattern(ev).collect()
    assert rows, "fixture must produce matches (non-vacuous)"
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user_rows in by_user.values():
        user_rows.sort(key=lambda r: r.match_start)
        for a, b in zip(user_rows, user_rows[1:]):
            assert a.match_end < b.match_start, "matches must be disjoint"


def test_pattern_builder_relaxed_contiguity_and_within(spark):
    """followedBy semantics: irrelevant events neither break a run nor
    separate stages, and same-stage bursts separated only by noise
    merge (greedy absorption); within bounds match_end - match_start."""
    from flink_snappydata_spark.operators.cep import (
        PatternStage,
        cep_match_pattern,
    )

    ev = _mk_events(
        spark,
        [
            # user 1: noise inside the click run and between stages —
            # relaxed matches (2 clicks absorb across the error), strict
            # does not
            (1, 0, 1, "view", 1.0),
            (1, 1, 2, "click", 0.9),
            (1, 2, 3, "error", 0.0),
            (1, 3, 4, "click", 0.8),
            (1, 4, 5, "error", 0.0),
            (1, 5, 6, "purchase", 5.0),
            # user 2: same shape but the purchase lands 3 days after
            # the view — the within='2 days' gate drops it
            (2, 0, 7, "view", 1.0),
            (2, 1, 8, "click", 0.9),
            (2, 2, 9, "click", 0.8),
            (2, 259200, 10, "purchase", 5.0),
        ],
    )
    stages = [
        PatternStage("view", "view"),
        PatternStage("click", "click", min_count=2),
        PatternStage("buy", "purchase"),
    ]
    strict = cep_match_pattern(ev, stages).collect()
    assert [r.user_id for r in strict] == [2], (
        "strict: noise breaks user 1; user 2 matches (no within)"
    )
    relaxed = cep_match_pattern(ev, stages, contiguity="relaxed").collect()
    assert [r.user_id for r in relaxed] == [1, 2]
    assert relaxed[0].n_click == 2, "bursts absorb across noise"
    bounded = cep_match_pattern(
        ev, stages, contiguity="relaxed", within="2 days"
    ).collect()
    assert [r.user_id for r in bounded] == [1], "within gates user 2"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strict|relaxed"):
        cep_match_pattern(ev, stages, contiguity="skip_till_next")
