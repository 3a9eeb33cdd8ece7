"""Round-14 additions: NFA-equivalent bounded-quantifier semantics for
the general CEP pattern builder, pinned differentially against a tiny
reference NFA implementing Flink's strict-contiguity greedy matching
with AFTER MATCH SKIP PAST LAST EVENT (the r13 verdict's task 2), plus
the candidate-disjointness invariant the reference fold's
skip-past-last history clearing relies on (ADVICE r13).

Reference semantics (FlinkCEP, public docs + NFA.java behavior for
``Pattern.begin(s1).next(s2)...`` with ``times(m, n)`` quantifiers and
``AfterMatchSkipStrategy.skipPastLastEvent()``): with strict contiguity
and pairwise-disjoint stage predicates — which first-match-wins labels
make true BY CONSTRUCTION for the label alphabet the engine feeds its
matcher — a stage must consume consecutive same-label events, so at any
start position the segmentation is forced except at the pattern's
edges: the first stage may start mid-run (the earliest surviving start
takes the run's suffix of length min(L, max)) and the last stage stops
greedily at min(L, max). The engine's islands compiler and pure fold
implement exactly that; this file proves it by enumeration and random
differential.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# Reference NFA (test-only; pure Python over (ts, label) rows)
# ---------------------------------------------------------------------------


def nfa_matches(
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
) -> list[tuple[int, int, tuple[int, ...]]]:
    """Flink-style strict-contiguity greedy NFA with SKIP PAST LAST
    EVENT over a pre-labeled sequence (label i+1 <=> only stage i's
    predicate matches; -1 = no stage). Scans starts left to right;
    at a start, each stage consumes consecutive events of its label —
    greedy (longest first) with backtracking, capped by max_count;
    the first completed match emits and the scan resumes after its
    last consumed event."""
    k = len(quants)
    n = len(rows)

    def try_from(s: int) -> tuple[int, int, tuple[int, ...], int] | None:
        # returns (start_ts, end_ts, counts, end_index) or None
        def go(pos: int, stage: int) -> tuple[tuple[int, ...], int] | None:
            lo, hi = quants[stage]
            avail = 0
            while pos + avail < n and rows[pos + avail][1] == stage + 1:
                avail += 1
            cap = avail if hi is None else min(avail, hi)
            if stage == k - 1:
                if cap >= lo:
                    return (cap,), pos + cap - 1
                return None
            for c in range(cap, lo - 1, -1):  # greedy: longest first
                rest = go(pos + c, stage + 1)
                if rest is not None:
                    counts, end_idx = rest
                    return (c, *counts), end_idx
            return None

        res = go(s, 0)
        if res is None:
            return None
        counts, end_idx = res
        return rows[s][0], rows[end_idx][0], counts, end_idx

    out: list[tuple[int, int, tuple[int, ...]]] = []
    i = 0
    while i < n:
        m = try_from(i)
        if m is not None:
            out.append((m[0], m[1], m[2]))
            i = m[3] + 1  # skip past last event
        else:
            i += 1
    return out


def engine_matches(
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
) -> list[tuple[int, int, tuple[int, ...]]]:
    """The engine's pure fold with the batch compiler's end-of-data
    close (a label no event carries closes the trailing run, exactly
    what bounded input does for the declarative compiler — their
    equivalence is pinned by test_cep_match_pattern_matches_machine)."""
    from tests.cep_reference import advance_pattern_state

    if not rows:
        return []
    closed = rows + [(rows[-1][0] + 1, -99)]
    matches, _ = advance_pattern_state(((), None), closed, quants)
    return matches


_QUANTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    ).map(lambda t: (t[0], None if t[1] is None else t[0] + t[1])),
    min_size=2,
    max_size=4,
)


@settings(max_examples=300, deadline=None)
@given(
    quants=_QUANTS,
    labels=st.lists(st.integers(min_value=-1, max_value=4), max_size=40),
)
def test_engine_equals_reference_nfa(quants, labels):
    """THE bounded-quantifier pin (r13 verdict task 2): over random
    stage specs (k in 2..4, min 1..3, bounded and unbounded maxes) and
    random label sequences, the engine's matcher is row-identical to
    the reference NFA — matches, boundaries, per-stage counts. The
    r13 engine failed any over-long run at a bounded stage; the NFA
    (and now the engine) sub-run-matches at the pattern's edges."""
    k = len(quants)
    rows = [
        (10 * (i + 1), lab if -1 <= lab <= k and lab != 0 else -1)
        for i, lab in enumerate(labels)
    ]
    assert engine_matches(rows, quants) == nfa_matches(rows, quants)


def test_engine_equals_nfa_exhaustive_small():
    """Exhaustive differential on every label sequence of length <= 7
    over alphabet {1, 2, -1} for the canonical bounded-edge spec
    A{1,2} B{1,} — no sampling gaps at the sizes where the r13 delta
    lived (over-long first runs)."""
    quants = [(1, 2), (1, None)]
    for n in range(8):
        for seq in itertools.product((1, 2, -1), repeat=n):
            rows = [(10 * (i + 1), lab) for i, lab in enumerate(seq)]
            assert engine_matches(rows, quants) == nfa_matches(rows, quants), seq


def test_bounded_edge_subrun_semantics_concrete():
    """Readable receipts for the three delta shapes: over-long FIRST
    run matches its suffix, over-long LAST run matches its prefix,
    over-long MIDDLE run never matches (forced consumption)."""
    # A{1,2} B{1,} C{1,1}: 1 1 1 2 2 3 3
    rows = [(10, 1), (20, 1), (30, 1), (40, 2), (50, 2), (60, 3), (70, 3)]
    quants = [(1, 2), (1, None), (1, 1)]
    want = [(20, 60, (2, 2, 1))]
    assert engine_matches(rows, quants) == want
    assert nfa_matches(rows, quants) == want
    # middle overrun: A B{1,2} C with B-run of 3
    rows = [(10, 1), (20, 2), (30, 2), (40, 2), (50, 3)]
    quants = [(1, None), (1, 2), (1, None)]
    assert engine_matches(rows, quants) == []
    assert nfa_matches(rows, quants) == []


def test_single_stage_bounded_rejected(spark):
    """Flink's skip-past-last chunking of one over-long run into
    floor(L/max) matches is a different operator: the compiler and the
    fold both reject k=1 bounded specs instead of silently diverging."""
    from flink_snappydata_spark.operators.cep import (
        PatternStage,
        cep_match_pattern,
    )
    from tests.cep_reference import advance_pattern_state

    with pytest.raises(ValueError, match="single-stage"):
        cep_match_pattern(
            spark.range(0).selectExpr(
                "id AS user_id", "CAST(NULL AS timestamp) AS ts",
                "id AS event_id", "'x' AS event_type",
            ),
            [PatternStage("a", "a", max_count=2)],
        )
    with pytest.raises(ValueError, match="single-stage"):
        advance_pattern_state(((), None), [(10, 1)], [(1, 2)])


def test_within_validated_before_interval_expr(spark):
    """ADVICE r13: the batch builder validates `within` through the
    fixed-width-unit contract (as the machine modes do) instead
    of interpolating it raw into F.expr."""
    from flink_snappydata_spark.operators.cep import (
        PatternStage,
        cep_match_pattern,
    )

    df = spark.range(0).selectExpr(
        "id AS user_id", "CAST(NULL AS timestamp) AS ts",
        "id AS event_id", "'x' AS event_type",
    )
    stages = [PatternStage("a", "a"), PatternStage("b", "b")]
    with pytest.raises(ValueError, match="unsupported interval"):
        cep_match_pattern(df, stages, within="1 month")
    with pytest.raises(ValueError, match="unsupported interval"):
        cep_match_pattern(df, stages, within="garbage")


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE front-end (r13 verdict task 5: Flink's SQL surface
# for CEP — parser to [PatternStage], compiled by the existing builder)
# ---------------------------------------------------------------------------


class TestMatchRecognizeParser:
    def _compile(self, sql):
        from flink_snappydata_spark.operators.match_recognize import (
            compile_match_recognize,
        )

        return compile_match_recognize(sql)

    def test_full_clause_parses(self):
        stages, within, _ = self._compile(
            """
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (V C{2,} P{1,3} X)
              WITHIN INTERVAL '2' DAY
              DEFINE
                V AS event_type = 'view',
                C AS event_type = 'click' AND value >= 0.5,
                P AS event_type = 'purchase'
            )
            """
        )
        assert [(s.name, s.min_count, s.max_count) for s in stages] == [
            ("v", 1, 1),
            ("c", 2, None),
            ("p", 1, 3),
            ("x", 1, 1),  # bare var: exactly one; no DEFINE -> TRUE
        ]
        assert within == "2 day"

    def test_quantifier_forms(self):
        stages, within, _ = self._compile(
            "PATTERN (A+ B{3} C{1,2}) DEFINE A AS x > 0, B AS y > 0, "
            "C AS z > 0"
        )
        assert [(s.min_count, s.max_count) for s in stages] == [
            (1, None), (3, 3), (1, 2),
        ]
        assert within is None

    def test_define_with_commas_inside_condition(self):
        stages, _, _ = self._compile(
            "PATTERN (A B) DEFINE A AS event_type IN ('view', 'click'), "
            "B AS coalesce(value, 0.0) >= 0.5"
        )
        assert len(stages) == 2

    @pytest.mark.parametrize(
        "sql, msg",
        [
            # optional quantifiers parse now, but only at INTERIOR
            # positions (strict-contiguity realization union)
            ("PATTERN (A*) DEFINE A AS x > 0", "interior"),
            ("PATTERN (A? B) DEFINE A AS x > 0", "interior"),
            ("PATTERN (A B{0,2}) DEFINE A AS x > 0", "interior"),
            ("PATTERN (A+?) DEFINE A AS x > 0", "reluctant"),
            ("PATTERN (A B?? C) DEFINE A AS x > 0", "reluctant"),
            ("PATTERN (A B*? C) DEFINE A AS x > 0", "reluctant"),
            ("PATTERN (A B{1,2}? C) DEFINE A AS x > 0", "reluctant"),
            ("PATTERN (A B{0} C) DEFINE A AS x > 0", "matches nothing"),
            # row-pattern navigation: only the top-level-conjunct forms
            (
                "PATTERN (A B+) DEFINE B AS value > PREV(value) + 1",
                "navigation is supported only",
            ),
            (
                "PATTERN (A B+) DEFINE B AS value > FIRST(Z.value)",
                "does not name a PATTERN variable",
            ),
            (
                "PATTERN (A B+) DEFINE B AS value > PREV(value) "
                "AND value < FIRST(A.value)",
                "at most one PREV",
            ),
            (
                "PATTERN (A B+) DEFINE B AS value > LAST(A.value)",
                "navigation is supported only",
            ),
            ("PATTERN (A{3,2} B) DEFINE A AS x > 0", "max < min"),
            ("PATTERN (A (B C)) DEFINE A AS x > 0", "grouping"),
            ("PATTERN (A | B) DEFINE A AS x > 0", "alternation|grouping"),
            ("PATTERN (A A) DEFINE A AS x > 0", "duplicate pattern"),
            ("DEFINE A AS x > 0", "missing PATTERN"),
            ("PATTERN (A) DEFINE B AS x > 0", "not a PATTERN variable"),
            (
                "PATTERN (A B) DEFINE A AS x > 0, A AS y > 0",
                "duplicate DEFINE",
            ),
            (
                "MEASURES A.ts AS t PATTERN (A) DEFINE A AS x > 0",
                "MEASURES",
            ),
            (
                "PARTITION BY region PATTERN (A B) DEFINE A AS x > 0",
                "user_id",
            ),
            (
                "ORDER BY event_id PATTERN (A B) DEFINE A AS x > 0",
                r"\(ts, event_id\)",
            ),
            (
                "AFTER MATCH SKIP TO NEXT ROW PATTERN (A B) "
                "DEFINE A AS x > 0",
                "SKIP PAST LAST ROW",
            ),
        ],
    )
    def test_rejections(self, sql, msg):
        from flink_snappydata_spark.operators.match_recognize import (
            MatchRecognizeError,
        )

        with pytest.raises(MatchRecognizeError, match=msg):
            self._compile(sql)

    def test_measures_parse(self):
        _, _, measures = self._compile(
            """
            MEASURES FIRST(b.value) AS lo, LAST(b.value) AS hi,
                     COUNT(b.*) AS n
            PATTERN (A B+) DEFINE B AS event_type = 'x'
            """
        )
        assert measures == [
            ("lo", "first", "b"),
            ("hi", "last", "b"),
            ("n", "count", "b"),
        ]

    @pytest.mark.parametrize(
        "sql, msg",
        [
            (
                "MEASURES SUM(B.value) AS s PATTERN (A B+) "
                "DEFINE B AS x > 0",
                "only",
            ),
            (
                "MEASURES FIRST(Z.value) AS z PATTERN (A B+) "
                "DEFINE B AS x > 0",
                "is not a PATTERN variable",
            ),
            (
                "MEASURES FIRST(B.value) AS n_b PATTERN (A B+) "
                "DEFINE B AS x > 0",
                "collides",
            ),
        ],
    )
    def test_measures_rejections(self, sql, msg):
        from flink_snappydata_spark.operators.match_recognize import (
            MatchRecognizeError,
        )

        with pytest.raises(MatchRecognizeError, match=msg):
            self._compile(sql)

    def test_navigation_parses_to_rel_specs(self, spark):
        """PREV()/FIRST() DEFINE conjuncts become per-branch rel specs
        and flip the compile target to the strict machine mode."""
        stages, within, _ = self._compile(
            """
            PATTERN (A B+ C)
            DEFINE A AS event_type = 'view',
                   B AS event_type = 'click'
                        AND B.value > PREV(B.value),
                   C AS event_type = 'purchase'
                        AND value >= FIRST(A.value)
            """
        )
        assert [s.rel for s in stages] == [
            None,
            ("prev", ">"),
            ("first", 1, ">="),
        ]
        assert stages[1].name == "b"

    def test_executes_same_as_builder(self, spark):
        """The registered clause and the hand-built stages produce the
        same rows (the spec shares cep_multi_stage's oracle; this pins
        the equivalence without DuckDB in the loop)."""
        from flink_snappydata_spark.catalog import load_table
        from flink_snappydata_spark.operators.cep import cep_funnel_pattern
        from flink_snappydata_spark.specs.streaming_ops import (
            _match_recognize_funnel,
        )
        from tests.conftest import SF_SMOKE

        ev = load_table(spark, SF_SMOKE, "events")
        got = _match_recognize_funnel(ev).collect()
        want = cep_funnel_pattern(ev).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert len(got) > 0


# ---------------------------------------------------------------------------
# Candidate-disjointness invariant (ADVICE r13: the reference fold clears
# its closed-run history on any quantifier-passing match BEFORE the
# JVM-side `within` post-filter — lossless only if candidates never
# overlap)
# ---------------------------------------------------------------------------


def _candidate_spans(
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
) -> list[tuple[int, int]]:
    """ALL candidate matches (no skip-past-last, no within): run-cut
    the sequence, then every window of k consecutive runs labeled
    1..k passing the quantifier check, as (first-run index, last-run
    index) spans over the RUN sequence."""
    runs: list[tuple[int, int]] = []  # (label, cnt)
    for ts, lab in rows:
        if runs and runs[-1][0] == lab:
            runs[-1] = (lab, runs[-1][1] + 1)
        else:
            runs.append([lab, 1])  # type: ignore[arg-type]
    k = len(quants)
    spans = []
    for i in range(len(runs) - k + 1):
        ok = True
        for j, (lo, hi) in enumerate(quants):
            lab, cnt = runs[i + j]
            if lab != j + 1 or cnt < lo:
                ok = False
                break
            if hi is not None and 0 < j < k - 1 and cnt > hi:
                ok = False
                break
        if ok:
            spans.append((i, i + k - 1))
    return spans


# ---------------------------------------------------------------------------
# Tiered compaction for corpus-sized state (r13 verdict task 4: the
# dedup partials log wants amortized-bounded rewrite, not the floor
# mode's O(corpus) full-state rewrite)
# ---------------------------------------------------------------------------


def _tiered_dedup_replay(spark, docs, n_batches, tiered_every, table, tmp):
    from flink_snappydata_spark.pipeline import dedup as D

    docs.repartition(n_batches).write.mode("overwrite").parquet(tmp)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    D.streaming_dedup_ingest(stream, table, tiered_every=tiered_every)


def test_dedup_tiered_drain_equals_batch(spark, tmp_path):
    """4-batch replay with tiered_every=2: (a) the fold is
    row-identical to batch exact_dedup (tiered merging is the same
    associative digest fold), (b) merged partitions exist
    (covered_to > 0) and cover a contiguous prefix, (c) raw partitions
    below the PREVIOUS merge boundary are reclaimed while everything a
    reader needs survives, and (d) the visible row count is bounded by
    merged windows + raw tail, not stream age."""
    import uuid

    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.pipeline import dedup as D
    from flink_snappydata_spark.streaming.runtime import read_state_table
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = sorted(tuple(r) for r in D.exact_dedup(docs).collect())
    table = f"fss_tdedup_{uuid.uuid4().hex[:8]}"
    try:
        _tiered_dedup_replay(
            spark, docs, 4, 2, table, str(tmp_path / "replay")
        )
        got = sorted(
            tuple(r) for r in D.dedup_from_state(spark, table).collect()
        )
        assert got == want, "tiered fold must equal batch exact_dedup"

        state = spark.table(table)
        merged = state.filter(F.col("covered_to") > 0)
        boundaries = sorted(
            r[0]
            for r in merged.select("covered_to").distinct().collect()
        )
        assert boundaries, "tiered replay must have committed a merge"
        # merges land at their boundary batch ids (2, 4 for 4 batches
        # at tiered_every=2, batch ids 0..3 -> merge at 2 covers 0..2)
        assert boundaries == [2]
        # reclamation is one merge delayed: with a single merge,
        # nothing is dropped yet — raws 0..2 still on disk but
        # invisible to the reader
        visible = read_state_table(spark, table)
        live_raws = state.filter(
            (F.col("covered_to") == 0) & (F.col("batch_id") > 2)
        )
        assert visible.count() == merged.count() + live_raws.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_dedup_tiered_reclaims_and_stays_exact_at_8_batches(spark, tmp_path):
    """8-batch replay with tiered_every=2 (3 merges: at 2, 4, 6):
    delayed reclamation must have dropped the raw-only partitions
    below the second-to-last boundary, merged partitions survive at
    their boundary ids, and the fold still equals the batch op."""
    import uuid

    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.pipeline import dedup as D
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = sorted(tuple(r) for r in D.exact_dedup(docs).collect())
    table = f"fss_tdedup_{uuid.uuid4().hex[:8]}"
    try:
        _tiered_dedup_replay(
            spark, docs, 8, 2, table, str(tmp_path / "replay")
        )
        got = sorted(
            tuple(r) for r in D.dedup_from_state(spark, table).collect()
        )
        assert got == want
        pids = sorted(
            int(r[0].split("/")[0].split("=", 1)[1])
            for r in spark.sql(f"SHOW PARTITIONS {table}").collect()
        )
        boundaries = sorted(
            r[0]
            for r in spark.table(table)
            .filter(F.col("covered_to") > 0)
            .select("covered_to")
            .distinct()
            .collect()
        )
        assert boundaries == [2, 4, 6]
        # raw partitions below the second-to-last boundary (4) are
        # dropped except the merge partitions themselves; raws 0 and 1
        # (covered by merge 2, reclaimed when merge 4 committed) and
        # raw 3 (covered by 4, reclaimed at merge 6) must be gone
        assert 0 not in pids and 1 not in pids and 3 not in pids
        assert {2, 4, 6} <= set(pids), "merged partitions must survive"
        assert 7 in pids, "live raw tail must survive"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_raw_log_tiered_segments_fold_identically(spark, tmp_path):
    """The r14 retention answer for raw-log twins (512-batch probe
    showed the fold cost ~1.9x from 64 to 512 partitions): the scd2 /
    CEP event-log ingest consolidates raw partitions into identity-
    merged segments every tiered_every batches. 8-batch replay with
    tiered_every=2: the SCD2 fold AND the CEP fold over the same log
    shape are row-identical to their batch ops, merges committed, and
    raw partitions below the second-to-last boundary reclaimed."""
    import uuid

    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.operators.analytic import (
        scd2_state_intervals,
    )
    from flink_snappydata_spark.operators.cep import (
        cep_from_state,
        cep_pattern_match,
    )
    from flink_snappydata_spark.streaming import windows as stream_windows
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    want_scd2 = sorted(tuple(r) for r in scd2_state_intervals(ev).collect())
    want_cep = sorted(tuple(r) for r in cep_pattern_match(ev).collect())
    table = f"fss_tlog_{uuid.uuid4().hex[:8]}"
    tmp = str(tmp_path / "replay")
    try:
        ev.repartition(8).write.mode("overwrite").parquet(tmp)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        stream_windows.streaming_event_log_ingest(stream, table, tiered_every=2)
        got_scd2 = sorted(
            tuple(r)
            for r in stream_windows.scd2_from_state(spark, table).collect()
        )
        got_cep = sorted(
            tuple(r) for r in cep_from_state(spark, table).collect()
        )
        assert got_scd2 == want_scd2, "tiered log: scd2 fold must be exact"
        assert got_cep == want_cep, "tiered log: cep fold must be exact"
        boundaries = sorted(
            r[0]
            for r in spark.table(table)
            .filter(F.col("covered_to") > 0)
            .select("covered_to")
            .distinct()
            .collect()
        )
        assert boundaries == [2, 4, 6]
        pids = {
            int(r[0].split("/")[0].split("=", 1)[1])
            for r in spark.sql(f"SHOW PARTITIONS {table}").collect()
        }
        assert not {0, 1, 3} & pids, "consolidated raws reclaimed"
        assert {2, 4, 6, 7} <= pids
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_tiered_merge_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the MERGE batch with
    the same batch_id (crash-after-commit replay) must leave state
    byte-identical — the recompute reads only raws a crash cannot have
    dropped (reclamation is one merge delayed) and overwrites its own
    partition."""
    import uuid

    from flink_snappydata_spark.catalog import load_table
    from flink_snappydata_spark.pipeline import dedup as D
    from flink_snappydata_spark.streaming.runtime import (
        ingest_stream_to_tables,
    )
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = sorted(tuple(r) for r in D.exact_dedup(docs).collect())
    table = f"fss_tdedup_{uuid.uuid4().hex[:8]}"
    parts = [
        docs.filter(F.pmod(F.hash("doc_id"), F.lit(4)) == b) for b in range(4)
    ]
    try:
        # drive the PRODUCTION tiered lander directly (module-level so
        # probe/retry tests and the stream share one code path) —
        # batches 0..3 with tiered_every=2, then REPLAY merge batch 2
        from flink_snappydata_spark.pipeline.dedup import (
            compact_dedup_partials,
            dedup_partials,
        )
        from flink_snappydata_spark.streaming.runtime import (
            land_tiered_partition,
        )

        def land(b, bid):
            land_tiered_partition(
                dedup_partials(b), table, bid, compact_dedup_partials, 2
            )

        for bid, b in enumerate(parts):
            land(b, bid)
        before = sorted(
            tuple(r)
            for r in spark.table(table).collect()
        )
        land(parts[2], 2)  # retry the merge batch
        after = sorted(tuple(r) for r in spark.table(table).collect())
        assert after == before, "merge retry must be byte-identical"
        got = sorted(
            tuple(r) for r in D.dedup_from_state(spark, table).collect()
        )
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@settings(max_examples=300, deadline=None)
@given(
    quants=_QUANTS,
    labels=st.lists(st.integers(min_value=-1, max_value=4), max_size=40),
)
def test_candidate_matches_always_disjoint(quants, labels):
    """For ANY stage spec (not just disjoint predicates): candidate
    matches occupy k consecutive runs labeled exactly 1..k, so two
    candidates can never overlap — clearing history on a match cannot
    drop a later batch-visible match even when `within` rejects the
    emitted one. This is the invariant that makes the reference fold's
    pre-within skip-past-last clearing exact."""
    k = len(quants)
    rows = [
        (10 * (i + 1), lab if -1 <= lab <= k and lab != 0 else -1)
        for i, lab in enumerate(labels)
    ]
    spans = _candidate_spans(rows, quants)
    for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
        assert b1 < a2, f"overlapping candidates {(a1, b1)} {(a2, b2)}"
