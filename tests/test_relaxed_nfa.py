"""Round-14 continuation: EXACT relaxed-contiguity NFA semantics
(``contiguity="relaxed_nfa"``) — closes the one remaining CEP-parity
edge the round-14 receipts scoped out: the merged-burst ``relaxed``
mode diverges from Flink's ``followedBy`` NFA when a stage assembles
its count across interior other-stage events, when a bounded stage
overruns (prefix-with-skip vs suffix/fail), or when an interior
other-stage event sits inside a match's span.

The reference here is deliberately structurally DIFFERENT from the
engine fold: per-start single-branch simulation plus a global
(earliest-completion, earliest-start) emission scan, keeping EVERY
candidate start alive — it does not assume the engine's dominance
invariant (earlier starts weakly dominate later seeds) or its
per-class branch dedup, so the differential proves both.

Reference semantics (modeled on FlinkCEP ``followedBy`` with greedy
quantifiers and AfterMatchSkipStrategy.skipPastLastEvent(), over
first-match-wins single labels): per branch, TAKE / PROCEED+TAKE /
IGNORE are mutually exclusive; a satisfiable final-stage run closes on
the next other-stage label or end-of-data (greedy-maximal within the
merged run — Flink's non-greedy trailing loop under skip-past-last
would emit at min-count, a policy expressible as max_count=min_count);
the first completion wins, earliest start breaking ties; the scan
resumes after the match's last consumed event."""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_snappydata_spark.operators.cep import (
    advance_relaxed_nfa_state,
    close_relaxed_nfa,
)
from tests.cep_reference import advance_pattern_state


# ---------------------------------------------------------------------------
# Reference: per-start simulation + earliest-completion emission scan
# ---------------------------------------------------------------------------


def _max_target(quants, s: int) -> int:
    """Furthest proceed target from stage ``s`` (0 = seeding): the
    first mandatory stage after s, inclusive (chained skips through
    min-0 stages)."""
    k = len(quants)
    t = s + 1
    while t < k and quants[t - 1][0] == 0:
        t += 1
    return t


_REL_OPS = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
}


def _simulate_from(
    rows: list[tuple[int, int]],
    s: int,
    quants: list[tuple[int, int | None]],
    within_us: int | None = None,
    rels=None,
    strict: bool = False,
) -> tuple[int, int, int, tuple[int, ...]] | None:
    """Run ONE branch seeded at index ``s`` (rows[s]'s label must be a
    seed target: a stage reachable through leading optional stages) to
    completion. Returns (completion_index, last_consumed_index,
    end_ts, counts) or None. completion_index is where the match
    becomes emittable: the consuming event for bound completions, the
    closing event for run closes (a non-consumable label on a
    pattern-satisfiable branch, OR window expiry of one), len(rows)
    for end-of-data. With ``within_us``, the branch dies at the first
    stage event its window cannot admit unless already satisfiable."""
    k = len(quants)
    n = len(rows)
    stage = rows[s][1]
    counts = [0] * k
    counts[stage - 1] = 1
    last = s
    val = (lambda j: rows[j][2]) if rels else (lambda j: 0.0)
    firsts: list = [None] * k
    firsts[stage - 1] = val(s)
    lasts: list = [None] * k
    lasts[stage - 1] = val(s)
    prev = val(s)
    if stage == k and quants[k - 1][1] == 1:
        return s, s, rows[s][0], tuple(counts)

    def satisf() -> bool:
        return counts[stage - 1] >= quants[stage - 1][0] and all(
            lo == 0 for lo, _ in quants[stage:]
        )

    def consumable(lab: int) -> bool:
        # BASE consumability (label/bound/min) — the close trigger
        lo, hi = quants[stage - 1]
        if lab == stage:
            return hi is None or counts[stage - 1] < hi
        return stage < lab <= _max_target(quants, stage) and (
            counts[stage - 1] >= lo
        )

    def rel_ok(lab: int, v) -> bool:
        r = rels[lab - 1] if rels else None
        if r is None:
            return True
        if r[0] == "prev":
            ref = prev
        elif r[0] == "last":
            ref = lasts[r[1] - 1]
        else:
            ref = firsts[r[1] - 1]
        if ref is None:
            return True
        return _REL_OPS[r[-1]](v, ref)

    for j in range(s + 1, n):
        lab = rows[j][1]
        if lab == -1 and not strict:
            continue
        ok = satisf()
        in_range = 1 <= lab <= k
        can = in_range and consumable(lab)
        if strict and can:
            can = rel_ok(lab, val(j))  # strict: rel failure breaks
        if within_us is not None and rows[j][0] - rows[s][0] > within_us:
            if ok:
                return j, last, rows[last][0], tuple(counts)
            return None  # timed-out partial match
        if ok and not can:
            return j, last, rows[last][0], tuple(counts)
        if strict and not can:
            return None  # strict-contiguity break
        if not in_range:
            continue
        if not can or not rel_ok(lab, val(j)):
            continue  # relaxed IGNORE (rel-failing events invisible)
        if lab == stage:
            counts[stage - 1] += 1
            if firsts[stage - 1] is None:
                firsts[stage - 1] = val(j)
        else:  # proceed (possibly chaining through optional stages)
            stage = lab
            counts[stage - 1] = 1
            firsts[stage - 1] = val(j)
        lasts[stage - 1] = val(j)
        prev = val(j)
        last = j
        lo, hi = quants[stage - 1]
        if stage == k and hi is not None and counts[k - 1] == hi:
            return j, j, rows[j][0], tuple(counts)
    if satisf():
        return n, last, rows[last][0], tuple(counts)
    return None


def reference_relaxed_nfa(
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
    within_us: int | None = None,
    rels=None,
    strict: bool = False,
) -> list[tuple[int, int, tuple[int, ...]]]:
    out: list[tuple[int, int, tuple[int, ...]]] = []
    i = 0
    n = len(rows)
    seed_max = _max_target(quants, 0)
    while i < n:
        best = None
        for s in range(i, n):
            if not 1 <= rows[s][1] <= seed_max:
                continue
            m = _simulate_from(rows, s, quants, within_us, rels, strict)
            if m is None:
                continue
            key = (m[0], s)  # earliest completion, then earliest start
            if best is None or key < best[0]:
                best = (key, s, m)
        if best is None:
            return out
        _, s, (_, last_idx, end_ts, counts) = best
        out.append((rows[s][0], end_ts, counts))
        i = last_idx + 1  # skip past last (consumed) event
    return out


def reference_skip_to_next(
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
    within_us: int | None = None,
    rels=None,
    strict: bool = False,
) -> list[tuple[int, int, tuple[int, ...]]]:
    """Flink AfterMatchSkipStrategy.skipToNext: every start position
    emits its own earliest completion; overlapping matches allowed.
    Each branch is independent, so the reference is simply every seed
    simulated to completion, ordered by (completion event, start)."""
    seed_max = _max_target(quants, 0)
    out = []
    for s in range(len(rows)):
        if 1 <= rows[s][1] <= seed_max:
            m = _simulate_from(rows, s, quants, within_us, rels, strict)
            if m is not None:
                out.append((m[0], rows[s][0], m[2], m[3]))
    out.sort(key=lambda t: (t[0], t[1]))
    return [(st, e, c) for _, st, e, c in out]


def engine_relaxed_nfa(
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
    within_us: int | None = None,
    after_match: str = "skip_past_last",
    rels=None,
    strict: bool = False,
) -> list[tuple[int, int, tuple[int, ...]]]:
    matches, state = advance_relaxed_nfa_state(
        (), rows, quants, within_us, after_match, rels, strict
    )
    return matches + close_relaxed_nfa(state, quants, after_match)


def _fix_quants(qs):
    # single-stage bounded patterns are rejected by the compiler and
    # the fold alike (Flink's skip-past-last chunking of one over-long
    # run is a different operator) — force k=1 specs unbounded and
    # mandatory; multi-stage specs need >= 1 mandatory stage
    if len(qs) == 1:
        return [(max(qs[0][0], 1), None)]
    if all(lo == 0 for lo, _ in qs):
        lo, hi = qs[0]
        qs = [(1, hi)] + qs[1:]
    return qs


_QUANTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    ).map(
        lambda t: (t[0], None if t[1] is None else max(1, t[0] + t[1]))
    ),
    min_size=1,
    max_size=4,
).map(_fix_quants)


_WITHIN = st.one_of(
    st.none(), st.sampled_from([15, 45, 95, 200, 400])
)


@settings(max_examples=400, deadline=None)
@given(
    quants=_QUANTS,
    labels=st.lists(st.integers(min_value=-1, max_value=5), max_size=40),
    within_us=_WITHIN,
)
def test_engine_equals_reference(quants, labels, within_us):
    """THE relaxed-NFA pin: over random stage specs (k in 1..4, min
    1..3, bounded and unbounded maxes), random label sequences
    (sentinels included), and random within windows (None and several
    widths against the 10-unit event spacing), the engine's
    multi-branch machine is row-identical to the keep-everything
    reference — matches, boundaries, per-stage counts."""
    k = len(quants)
    rows = [
        (10 * (i + 1), lab if -1 <= lab <= k and lab != 0 else -1)
        for i, lab in enumerate(labels)
    ]
    assert engine_relaxed_nfa(rows, quants, within_us) == (
        reference_relaxed_nfa(rows, quants, within_us)
    )


def _rels_strategy(k: int):
    one = st.one_of(
        st.none(),
        st.tuples(
            st.just("prev"), st.sampled_from([">", ">=", "<", "<="])
        ),
        st.tuples(
            st.sampled_from(["first", "last"]),
            st.integers(min_value=1, max_value=k),
            st.sampled_from([">", ">=", "<", "<="]),
        ),
    )
    return st.lists(one, min_size=k, max_size=k)


@settings(max_examples=300, deadline=None)
@given(
    quants=_QUANTS,
    data=st.data(),
    within_us=_WITHIN,
    after=st.sampled_from(["skip_past_last", "skip_to_next"]),
)
def test_iterative_conditions_equal_reference(
    quants, data, within_us, after
):
    """Flink IterativeCondition differential: per-stage relative
    predicates ((first, j, op) / (prev, op)) over random specs, label
    sequences with SMALL integer values (ties exercised), both skip
    strategies, with and without within — the engine's per-branch
    capture slots must match the keep-everything reference."""
    k = len(quants)
    rels = data.draw(_rels_strategy(k))
    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=-1, max_value=k + 1),
                st.integers(min_value=0, max_value=3),
            ),
            max_size=35,
        )
    )
    rows = [
        (10 * (i + 1), lab if lab != 0 else -1, float(v))
        for i, (lab, v) in enumerate(rows)
    ]
    if after == "skip_past_last":
        got = engine_relaxed_nfa(rows, quants, within_us, after, rels)
        want = reference_relaxed_nfa(rows, quants, within_us, rels)
    else:
        got = engine_relaxed_nfa(rows, quants, within_us, after, rels)
        want = reference_skip_to_next(rows, quants, within_us, rels)
    assert got == want


@settings(max_examples=300, deadline=None)
@given(
    quants=_QUANTS,
    labels=st.lists(st.integers(min_value=-1, max_value=5), max_size=40),
)
def test_strict_nfa_equals_islands_fold_and_backtracking_nfa(
    quants, labels
):
    """The strict machine mode (rel-free) is row-identical to BOTH the
    islands fold (advance_pattern_state + end-of-data close — the
    strict compiler's semantics, sub-run suffix/prefix included) and
    the round-14 backtracking reference NFA: seeding at every start
    position provides the suffix freedom, bound completion the prefix,
    and forced consumption makes backtracking structurally useless —
    so the deterministic machine is exact."""
    k = len(quants)
    rows = [
        (10 * (i + 1), lab if -1 <= lab <= k and lab != 0 else -1)
        for i, lab in enumerate(labels)
    ]
    got = engine_relaxed_nfa(
        rows, quants, None, "skip_past_last", None, True
    )
    from tests.test_round14_ops import engine_matches, nfa_matches

    assert got == nfa_matches(rows, quants)
    if not any(lo == 0 for lo, _ in quants):
        # the islands fold twin predates optional stages
        assert got == engine_matches(rows, quants)


@settings(max_examples=300, deadline=None)
@given(
    quants=_QUANTS,
    data=st.data(),
    within_us=_WITHIN,
)
def test_strict_nfa_with_rels_equals_reference(quants, data, within_us):
    """Strict mode WITH iterative conditions (the MATCH_RECOGNIZE
    PREV()/FIRST() semantics): rel failures BREAK the match (no
    skipping), pinned against the per-start deterministic reference."""
    k = len(quants)
    rels = data.draw(_rels_strategy(k))
    raw = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=-1, max_value=k + 1),
                st.integers(min_value=0, max_value=3),
            ),
            max_size=35,
        )
    )
    rows = [
        (10 * (i + 1), lab if lab != 0 else -1, float(v))
        for i, (lab, v) in enumerate(raw)
    ]
    got = engine_relaxed_nfa(
        rows, quants, within_us, "skip_past_last", rels, True
    )
    want = reference_relaxed_nfa(rows, quants, within_us, rels, True)
    assert got == want


@settings(max_examples=300, deadline=None)
@given(
    quants=_QUANTS,
    labels=st.lists(st.integers(min_value=-1, max_value=5), max_size=40),
    within_us=_WITHIN,
)
def test_skip_to_next_equals_reference(quants, labels, within_us):
    """AFTER MATCH SKIP TO NEXT differential: the engine's
    emit-every-completer mode equals per-start independent simulation
    (overlaps allowed, one match per start, (completion, start)
    emission order) over random specs, sequences, and windows."""
    k = len(quants)
    rows = [
        (10 * (i + 1), lab if -1 <= lab <= k and lab != 0 else -1)
        for i, lab in enumerate(labels)
    ]
    assert engine_relaxed_nfa(rows, quants, within_us, "skip_to_next") == (
        reference_skip_to_next(rows, quants, within_us)
    )


@settings(max_examples=150, deadline=None)
@given(
    quants=_QUANTS,
    data=st.data(),
    split=st.integers(min_value=0, max_value=30),
    within_us=_WITHIN,
)
def test_rel_fold_is_associative_over_splits(
    quants, data, split, within_us
):
    """Split-associativity WITH iterative conditions: folding in two
    chunks, the carried state holding captured float values, must
    equal one fold — the batch ``mapInPandas`` kernel carries (user,
    state) across Arrow chunk boundaries and relies on this."""
    k = len(quants)
    rels = data.draw(_rels_strategy(k))
    raw = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=-1, max_value=k),
                st.floats(
                    min_value=-4, max_value=4, allow_nan=False, width=32
                ),
            ),
            max_size=30,
        )
    )
    rows = [
        (10 * (i + 1), lab if lab != 0 else -1, float(v))
        for i, (lab, v) in enumerate(raw)
    ]
    cut = min(split, len(rows))
    m1, s1 = advance_relaxed_nfa_state(
        (), rows[:cut], quants, within_us, "skip_past_last", rels
    )
    m2, s2 = advance_relaxed_nfa_state(
        s1, rows[cut:], quants, within_us, "skip_past_last", rels
    )
    whole_m, whole_s = advance_relaxed_nfa_state(
        (), rows, quants, within_us, "skip_past_last", rels
    )
    assert m1 + m2 == whole_m
    assert tuple(s2) == tuple(whole_s)


@settings(max_examples=200, deadline=None)
@given(
    quants=_QUANTS,
    labels=st.lists(st.integers(min_value=-1, max_value=5), max_size=30),
    split=st.integers(min_value=0, max_value=30),
    within_us=_WITHIN,
)
def test_fold_is_associative_over_splits(quants, labels, split, within_us):
    """Split-associativity: folding rows in two chunks equals one fold,
    with and without a within window — the batch ``mapInPandas`` kernel
    carries (user, state) across Arrow chunk boundaries and relies on
    this."""
    k = len(quants)
    rows = [
        (10 * (i + 1), lab if -1 <= lab <= k and lab != 0 else -1)
        for i, lab in enumerate(labels)
    ]
    cut = min(split, len(rows))
    m1, s1 = advance_relaxed_nfa_state((), rows[:cut], quants, within_us)
    m2, s2 = advance_relaxed_nfa_state(s1, rows[cut:], quants, within_us)
    whole_m, whole_s = advance_relaxed_nfa_state((), rows, quants, within_us)
    assert m1 + m2 == whole_m
    assert tuple(s2) == tuple(whole_s)


def test_exhaustive_small_cross_gap_spec():
    """Exhaustive differential on every label sequence of length <= 7
    over {1, 2, -1} for A{2,2} followedBy B{1,1} — the spec whose
    cross-gap assembly (A B A B matching from the FIRST A) is exactly
    where merged-burst relaxed diverges from the NFA."""
    quants = [(2, 2), (1, 1)]
    for n in range(8):
        for seq in itertools.product((1, 2, -1), repeat=n):
            rows = [(10 * (i + 1), lab) for i, lab in enumerate(seq)]
            assert engine_relaxed_nfa(rows, quants) == reference_relaxed_nfa(
                rows, quants
            ), seq


def test_exhaustive_small_three_stage_funnel():
    """Exhaustive differential for the registered funnel's spec shape
    V{1,1} C{1,} P{1,1} on every sequence of length <= 6 over
    {1, 2, 3, -1}."""
    quants = [(1, 1), (1, None), (1, 1)]
    for n in range(7):
        for seq in itertools.product((1, 2, 3, -1), repeat=n):
            rows = [(10 * (i + 1), lab) for i, lab in enumerate(seq)]
            assert engine_relaxed_nfa(rows, quants) == reference_relaxed_nfa(
                rows, quants
            ), seq


def test_exhaustive_small_optional_stages():
    """Exhaustive differential for optional stages: A B{0,1} C (interior
    optional, skippable by a chained proceed) and A{0,1} B (leading
    optional — mid-pattern seeding) on every sequence of length <= 6
    over their label alphabets."""
    for quants, alpha in [
        ([(1, 1), (0, 1), (1, 1)], (1, 2, 3, -1)),
        ([(0, 1), (1, None)], (1, 2, -1)),
        ([(1, None), (0, None), (1, 1)], (1, 2, 3, -1)),
    ]:
        for n in range(7):
            for seq in itertools.product(alpha, repeat=n):
                rows = [(10 * (i + 1), lab) for i, lab in enumerate(seq)]
                assert engine_relaxed_nfa(rows, quants) == (
                    reference_relaxed_nfa(rows, quants)
                ), (quants, seq)


def test_exhaustive_small_with_within():
    """Exhaustive differential WITH a within window (25 units over
    10-unit spacing — partial matches expire after two hops) for
    A{1,} B{1,1} on every sequence of length <= 7 over {1, 2, -1} —
    the sizes where within-pruning (a later start winning after an
    earlier partial times out) actually bites."""
    quants = [(1, None), (1, 1)]
    for n in range(8):
        for seq in itertools.product((1, 2, -1), repeat=n):
            rows = [(10 * (i + 1), lab) for i, lab in enumerate(seq)]
            assert engine_relaxed_nfa(rows, quants, 25) == (
                reference_relaxed_nfa(rows, quants, 25)
            ), seq


class TestOptionalStages:
    """Optional stages (min_count=0 — Flink optional()/times(0,n)):
    chained proceeds in relaxed_nfa (any position, covered by the
    differentials above), realization union in the strict batch
    compiler (interior only). The strict ground truth is the
    round-14 reference NFA, whose greedy backtracking handles min-0
    natively."""

    def test_strict_realization_union_equals_reference_nfa(self, spark):
        """Exhaustive Spark differential: every label sequence of
        length <= 5 over {1, 2, 3, -1} for A{1,} B{0,1} C{1,1} becomes
        one user each in a SINGLE DataFrame; the strict compiler's
        realization union must match the reference NFA per user."""
        import datetime as dt

        from pyspark.sql import functions as F

        from flink_snappydata_spark.operators.cep import (
            PatternStage,
            cep_match_pattern,
        )
        from tests.test_round14_ops import nfa_matches

        quants = [(1, None), (0, 1), (1, 1)]
        t0 = dt.datetime(2024, 1, 1)
        rows, want = [], {}
        uid = 0
        for n in range(6):
            for seq in itertools.product((1, 2, 3, -1), repeat=n):
                labeled = [(10 * (i + 1), lab) for i, lab in enumerate(seq)]
                ref = nfa_matches(labeled, quants)
                if ref:
                    want[uid] = ref
                for i, lab in enumerate(seq):
                    et = {1: "a", 2: "b", 3: "c"}.get(lab, "zz")
                    rows.append(
                        (
                            uid,
                            t0 + dt.timedelta(seconds=10 * (i + 1)),
                            i,
                            et,
                            1.0,
                        )
                    )
                uid += 1
        ev = spark.createDataFrame(
            rows,
            "user_id long, ts timestamp, event_id long,"
            " event_type string, value double",
        )
        stages = [
            PatternStage("a", "a", min_count=1),
            PatternStage("b", "b", min_count=0, max_count=1),
            PatternStage("c", "c", min_count=1, max_count=1),
        ]
        got: dict[int, list] = {}
        for r in cep_match_pattern(ev, stages).collect():
            sec = lambda d: int((d - t0).total_seconds())  # noqa: E731
            got.setdefault(r.user_id, []).append(
                (
                    10 * (sec(r.match_start) // 10),
                    10 * (sec(r.match_end) // 10),
                    (r.n_a, r.n_b, r.n_c),
                )
            )
        for u in got:
            got[u].sort()
        want_cmp = {
            u: sorted((s, e, c) for s, e, c in ms) for u, ms in want.items()
        }
        assert got == want_cmp

    def test_compiler_rejections(self, spark):
        from flink_snappydata_spark.operators.cep import (
            PatternStage,
            cep_match_pattern,
        )

        ev = spark.range(0).selectExpr(
            "id AS user_id",
            "current_timestamp() AS ts",
            "id AS event_id",
            "'x' AS event_type",
            "0.0 AS value",
        )
        opt = PatternStage("o", "o", min_count=0)
        man = PatternStage("m", "m")
        with pytest.raises(ValueError, match="mandatory"):
            cep_match_pattern(ev, [opt, opt])
        with pytest.raises(ValueError, match="relaxed_nfa"):
            cep_match_pattern(ev, [man, opt, man], contiguity="relaxed")
        with pytest.raises(ValueError, match="interior"):
            cep_match_pattern(ev, [opt, man])
        with pytest.raises(ValueError, match="interior"):
            cep_match_pattern(ev, [man, opt])
        with pytest.raises(ValueError, match="max_count"):
            cep_match_pattern(
                ev, [man, PatternStage("z", "z", min_count=2, max_count=1)]
            )
        # optional EDGE stages are fine in relaxed_nfa (mid-pattern
        # seeding / satisfiable optional tails)
        cep_match_pattern(ev, [opt, man], contiguity="relaxed_nfa").collect()
        cep_match_pattern(ev, [man, opt], contiguity="relaxed_nfa").collect()


class TestDivergenceReceipts:
    """Readable receipts for exactly where relaxed_nfa differs from the
    merged-burst relaxed mode (and agrees with Flink's NFA)."""

    def test_cross_gap_assembly(self):
        # A{2,2} followedBy B{1,1} on A B A B: the NFA assembles the
        # A-count across the interior B (match from the FIRST A,
        # spanning it); merged-burst sees runs A|B|A|B and fails.
        rows = [(10, 1), (20, 2), (30, 1), (40, 2)]
        quants = [(2, 2), (1, 1)]
        assert engine_relaxed_nfa(rows, quants) == [(10, 40, (2, 1))]

        closed = rows + [(50, -99)]
        burst, _ = advance_pattern_state(((), None), closed, quants)
        assert burst == []

    def test_bounded_first_stage_prefix_not_suffix(self):
        # A{1,2} followedBy B on A A A B: the NFA consumes the PREFIX
        # (A1, A2) and skips the overflow A3 (match_start = first A);
        # merged-burst's sub-run rule takes the SUFFIX (A2, A3).
        rows = [(10, 1), (20, 1), (30, 1), (40, 2)]
        quants = [(1, 2), (1, None)]
        assert engine_relaxed_nfa(rows, quants) == [(10, 40, (2, 1))]

        closed = rows + [(50, -99)]
        burst, _ = advance_pattern_state(((), None), closed, quants)
        assert burst == [(20, 40, (2, 1))]

    def test_interior_other_stage_label_skipped(self):
        # V{1,1} C{1,} P{1,1} on V C V P: the NFA ignores the interior
        # second V (match spans it); merged-burst needs three
        # consecutive runs V|C|P and fails on V|C|V|P.
        rows = [(10, 1), (20, 2), (30, 1), (40, 3)]
        quants = [(1, 1), (1, None), (1, 1)]
        assert engine_relaxed_nfa(rows, quants) == [(10, 40, (1, 1, 1))]

    def test_trailing_run_closes_at_next_stage_label(self):
        # A fBy B+ on A B A B: the first match's B-run closes at the
        # second A (greedy-maximal within the MERGED run, not held open
        # across other-stage events), and the second A seeds the next
        # match — alternation gives two matches, same as merged-burst.
        rows = [(10, 1), (20, 2), (30, 1), (40, 2)]
        quants = [(1, 1), (1, None)]
        assert engine_relaxed_nfa(rows, quants) == [
            (10, 20, (1, 1)),
            (30, 40, (1, 1)),
        ]

    def test_min_count_emission_policy_via_bounds(self):
        # max_count == min_count expresses Flink's non-greedy trailing
        # loop under skip-past-last: A fBy B{1,1} on A B B B emits at
        # the first B; the unbounded greedy form absorbs all three.
        rows = [(10, 1), (20, 2), (30, 2), (40, 2)]
        assert engine_relaxed_nfa(rows, [(1, 1), (1, 1)]) == [
            (10, 20, (1, 1))
        ]
        assert engine_relaxed_nfa(rows, [(1, 1), (1, None)]) == [
            (10, 40, (1, 3))
        ]

    def test_spark_batch_op_matches_nfa_not_merged_burst(self, spark):
        """Spark-level receipt for the cross-gap divergence: the same
        A{2,2} followedBy B event fixture through cep_match_pattern —
        relaxed_nfa finds the match the NFA finds (from the FIRST A,
        spanning the interior B), merged-burst relaxed finds none."""
        import datetime as dt

        from pyspark.sql import functions as F

        from flink_snappydata_spark.operators.cep import (
            PatternStage,
            cep_match_pattern,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0 + dt.timedelta(minutes=m), i, et, 1.0)
            for i, (m, et) in enumerate(
                [(0, "view"), (1, "click"), (2, "view"), (3, "click")]
            )
        ]
        ev = spark.createDataFrame(
            rows,
            "user_id long, ts timestamp, event_id long,"
            " event_type string, value double",
        )
        stages = [
            PatternStage("a", "view", min_count=2, max_count=2),
            PatternStage("b", "click", min_count=1, max_count=1),
        ]
        nfa = cep_match_pattern(ev, stages, contiguity="relaxed_nfa")
        got = [
            (r.user_id, r.match_start, r.match_end, r.n_a, r.n_b)
            for r in nfa.collect()
        ]
        assert got == [
            (1, t0, t0 + dt.timedelta(minutes=3), 2, 1)
        ]
        burst = cep_match_pattern(ev, stages, contiguity="relaxed")
        assert burst.count() == 0
        # within prunes in-fold on the NFA path: the only candidate
        # start expires mid-pattern (minute 3 > start + 2), so no match
        assert (
            cep_match_pattern(
                ev, stages, contiguity="relaxed_nfa", within="2 minutes"
            ).count()
            == 0
        )

    def test_within_prunes_partials_so_later_starts_win(self):
        # A fBy B within 25: A1 at t=10 never reaches a B inside its
        # window; pruning the timed-out partial lets A2 (t=40) match
        # B (t=50). A post-filter would find (A1, B) first, reject it,
        # and emit NOTHING — the strictly-weaker contract the other
        # modes keep.
        rows = [(10, 1), (40, 1), (50, 2)]
        quants = [(1, 1), (1, None)]
        assert engine_relaxed_nfa(rows, quants, 25) == [(40, 50, (1, 1))]
        # without within, the earlier start wins the same B
        assert engine_relaxed_nfa(rows, quants, None) == [(10, 50, (1, 1))]

    def test_within_closes_satisfiable_final_run_at_expiry(self):
        # A fBy B+ within 25 on A B ... B(late): the late B falls
        # outside the first match's window, so the trailing run closes
        # at expiry with what it has — the match is valid, only its
        # greedy tail growth is cut.
        rows = [(10, 1), (20, 2), (100, 2)]
        quants = [(1, 1), (1, None)]
        assert engine_relaxed_nfa(rows, quants, 25) == [(10, 20, (1, 1))]

    def test_within_pruning_vs_postfilter_contract_on_real_data(
        self, spark
    ):
        """The two within contracts measurably disagree on the fixture:
        pruning (Flink) finds matches the post-filter (the other
        modes' contract) silently drops — at sf0.001, 60 pruned-mode
        matches vs 44 post-filtered ones, the 44 a strict subset."""
        import pandas as pd

        from flink_snappydata_spark.catalog import load_table
        from flink_snappydata_spark.operators.cep import (
            cep_funnel_relaxed_nfa,
            cep_funnel_relaxed_nfa_within,
        )

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        prune = cep_funnel_relaxed_nfa_within(ev).toPandas()
        post = cep_funnel_relaxed_nfa(ev).toPandas()
        post = post[
            post.match_end <= post.match_start + pd.Timedelta(days=5)
        ]
        key = ["user_id", "match_start", "match_end"]
        ps = set(map(tuple, prune[key].itertuples(index=False)))
        qs = set(map(tuple, post[key].itertuples(index=False)))
        assert len(ps) == 60 and len(qs) == 44
        assert qs < ps, "post-filter matches must be a strict subset here"
        # every pruned-mode match respects the window by construction
        assert (
            prune.match_end <= prune.match_start + pd.Timedelta(days=5)
        ).all()

    def test_skip_to_next_emits_overlapping_per_start_matches(self):
        # V V C P under skipToNext: BOTH views emit, sharing the same
        # click and purchase (overlap allowed); under skipPastLast only
        # the earliest view wins.
        rows = [(10, 1), (20, 1), (30, 2), (40, 3)]
        quants = [(1, 1), (1, None), (1, 1)]
        assert engine_relaxed_nfa(rows, quants, None, "skip_to_next") == [
            (10, 40, (1, 1, 1)),
            (20, 40, (1, 1, 1)),
        ]
        assert engine_relaxed_nfa(rows, quants) == [(10, 40, (1, 1, 1))]

    def test_iterative_condition_rel_failing_events_invisible(self):
        # A (B rel first(A) >) with A@v2: B@v1 fails the rel and is
        # INVISIBLE (neither consumed nor a run close); B@v3 passes.
        rows = [(10, 1, 2.0), (20, 2, 1.0), (30, 2, 3.0)]
        quants = [(1, 1), (1, None)]
        rels = [None, ("first", 1, ">")]
        assert engine_relaxed_nfa(rows, quants, None, "skip_past_last", rels) == [
            (10, 30, (1, 1))
        ]
        # ascending-run form: each B must beat the PREVIOUS consumed
        # event — B@v1(after B@v3) breaks the ascent and is skipped
        rows = [(10, 1, 0.0), (20, 2, 1.0), (30, 2, 0.5), (40, 2, 2.0)]
        rels = [None, ("prev", ">")]
        m, s = advance_relaxed_nfa_state((), rows, quants, None,
                                         "skip_past_last", rels)
        m += close_relaxed_nfa(s, quants)
        assert m == [(10, 40, (1, 2))]  # consumed B@1.0 and B@2.0 only

    def test_rel_invisible_seeds_survive_skip_past_last(self):
        # THE bug the 250k brute found: a rel-failing event seeds a
        # later branch the winner's emission must NOT discard (its
        # start is past the match end) — true skip-past-last filters
        # by start instead of clearing, and disjoint simultaneous
        # closers all emit.
        rows = [(10, 1, 0.0), (20, 1, 2.0), (30, 1, 3.0)]
        quants = [(1, None)]
        rels = [("prev", ">=")]
        # within 15: branch@10 takes 20 (2>=0), expires at 30; the
        # branch seeded at 20 was killed by the emission (start <=
        # match end 20), but the close event 30 seeds anew
        assert engine_relaxed_nfa(rows, quants, 15, "skip_past_last", rels) == [
            (10, 20, (2,)),
            (30, 30, (1,)),
        ]

    def test_close_and_consume_completions_compete_jointly(self):
        # THE bug the strict brute found: under strict contiguity with
        # a trailing optional stage and a rel, a LATER-started branch
        # can close on the very event an EARLIER branch completes by
        # consuming — A{1,}B{0,1} with B.value < first(A).value on
        # A/2 A/0 B/1: branch@A1 proceeds (1 < 2, bound-complete) while
        # branch@A2 closes (1 < 0 fails, satisfiable via the optional
        # tail). The earliest start must win the JOINT competition.
        rows = [(10, 1, 2.0), (20, 1, 0.0), (30, 2, 1.0)]
        quants = [(1, None), (0, 1)]
        rels = [None, ("first", 1, "<")]
        assert engine_relaxed_nfa(
            rows, quants, None, "skip_past_last", rels, True
        ) == [(10, 30, (2, 1))]

    def test_strict_mode_sentinels_break(self):
        # strict contiguity: a sentinel (or its collapsed
        # representative) kills partial matches and closes satisfiable
        # ones — the relaxed machine would skip it.
        rows = [(10, 1), (20, -1), (30, 2)]
        quants = [(1, 1), (1, None)]
        assert engine_relaxed_nfa(
            rows, quants, None, "skip_past_last", None, True
        ) == []
        assert engine_relaxed_nfa(rows, quants) == [(10, 30, (1, 1))]

    def test_sentinels_invisible_and_flush_closes(self):
        rows = [(10, 1), (20, -1), (30, 2), (40, -1)]
        quants = [(1, 1), (1, None)]
        # sentinel after the B does not close; end-of-data does
        m, s = advance_relaxed_nfa_state((), rows, quants)
        assert m == []
        assert close_relaxed_nfa(s, quants) == [(10, 30, (1, 1))]
        # a flush label (out of range, not -1) closes in-fold
        m2, _ = advance_relaxed_nfa_state((), rows + [(50, -99)], quants)
        assert m2 == [(10, 30, (1, 1))]
