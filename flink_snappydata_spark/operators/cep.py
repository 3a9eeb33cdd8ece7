"""Complex-event-processing operators — Flink CEP / MATCH_RECOGNIZE
parity, batch-checked on the bounded events table.

The reference runs on Flink, whose flagship beyond-SQL feature set is
the CEP library (pattern matching over keyed event sequences) and the
SQL MATCH_RECOGNIZE clause built on it. Spark has no MATCH_RECOGNIZE,
but the deterministic skip-past-last-row subset every funnel/alerting
pipeline actually uses — maximal runs of a predicate followed within a
time budget by a trigger event — is exactly expressible as
gaps-and-islands over a per-key ordered window plus a lead() lookahead:
one user-keyed shuffle, no UDFs, whole-stage-codegen throughout.

Scale notes shared by all ops here: the only shuffle is the per-user
window sort (same key every session/funnel op in the engine shuffles
on); islands/groupBy reuse that partitioning; per-user sequences are
human-activity-bounded, so no window partition is corpus-sized.
"""

from __future__ import annotations

from itertools import combinations as _combinations
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_snappydata_spark.streaming.runtime import read_state_table


def cep_pattern_match(
    events: DataFrame,
    run_type: str = "click",
    trigger_type: str = "purchase",
    min_run: int = 2,
    within: str = "1 day",
) -> DataFrame:
    """MATCH_RECOGNIZE ``PATTERN (C{min_run,} P)`` with skip-past-last
    semantics: MAXIMAL runs of >= ``min_run`` consecutive ``run_type``
    events (consecutive in the user's (ts, event_id) order — no other
    event type interleaves) whose immediately-next event is a
    ``trigger_type`` within ``within`` of the run's last event.
    Maximal runs are disjoint by construction, which is exactly the
    AFTER MATCH SKIP PAST LAST ROW contract of the SQL clause.

    Returns ``(user_id, run_start, run_end, n_run, trigger_ts)``
    sorted by (user_id, run_start). Every column is a min/max/count of
    deterministic inputs — bit-identical in any engine, so the DuckDB
    oracle checks values.

    Scale: one user-keyed window shuffle; the run groupBy reuses the
    hash partitioning; lookahead is lead(1), not a self-join.
    """
    matched = (
        _maximal_runs(_lookahead_seq(events, run_type))
        .filter(
            (F.col("n_run") >= min_run)
            & (F.col("next_type") == trigger_type)
            & (
                F.col("next_ts")
                <= F.col("run_end") + F.expr(f"INTERVAL {within}")
            )
        )
        .select(
            "user_id",
            "run_start",
            "run_end",
            "n_run",
            F.col("next_ts").alias("trigger_ts"),
        )
    )
    return matched.orderBy("user_id", "run_start")


def _lookahead_seq(events: DataFrame, run_type: str) -> DataFrame:
    """The shared upstream of both CEP ops: per-user (ts, event_id)
    sequence numbers plus a one-row lookahead, filtered to the
    run-type rows. One place to own the ordering key and lookahead
    columns — editing it in a single op would silently break the
    matches ∪ alerts partition invariant the tests pin."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    ).filter(F.col("event_type") == run_type)


def _maximal_runs(seq: DataFrame) -> DataFrame:
    """Collapse a filtered (user_id, ts, event_id, rn, next_type,
    next_ts) sequence into its maximal consecutive runs, carrying the
    LAST row's lookahead. classic islands: rn - row_number() among
    run-type rows is constant exactly on maximal runs. The last-row
    lookahead uses an is-last flag + max(when(...)) — NOT
    max_by/arg_max, whose null handling diverges between engines when
    the last row's lookahead is null (end of a user's stream): Spark's
    max_by keeps the max-key row's null value, DuckDB's arg_max skips
    it and falls back to an earlier row. max over a single
    possibly-null value is null-faithful in both."""
    w_runs = Window.partitionBy("user_id").orderBy("rn")
    runs = seq.withColumn("grp", F.col("rn") - F.row_number().over(w_runs))
    is_last = F.col("rn") == F.max("rn").over(
        Window.partitionBy("user_id", "grp")
    )
    return (
        runs.withColumn("is_last", is_last)
        .groupBy("user_id", "grp")
        .agg(
            F.min("ts").alias("run_start"),
            F.max("ts").alias("run_end"),
            F.count(F.lit(1)).alias("n_run"),
            F.max(F.when(F.col("is_last"), F.col("next_type"))).alias(
                "next_type"
            ),
            F.max(F.when(F.col("is_last"), F.col("next_ts"))).alias(
                "next_ts"
            ),
        )
    )


_WINDOW_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _window_seconds(window: str) -> int:
    """Width in seconds of a fixed-width Spark interval string like
    ``'90 seconds'`` / ``'1 day'``. Only fixed-width units are legal:
    the banded-join time buckets this feeds must be constant-width, so
    calendar units (month/year) — whose width varies by anchor — are
    rejected rather than approximated."""
    try:
        n, unit = window.split()
        return int(n) * _WINDOW_SECONDS[unit.lower()]
    except (ValueError, KeyError):
        raise ValueError(
            f"unsupported interval {window!r}: expected '<int> <unit>' with "
            f"a fixed-width unit in {sorted(set(_WINDOW_SECONDS))}"
        ) from None


def window_funnel(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    window: str = "1 day",
) -> DataFrame:
    """ClickHouse-style ``windowFunnel``: per user, the deepest funnel
    stage reachable through a strictly-increasing event chain
    ``stages[0] < stages[1] < ...`` that fits entirely inside
    ``window`` of the chain's FIRST event. Greedy-earliest chaining
    (each stage takes the MINIMUM qualifying timestamp) is used by
    both sides; greedy-earliest maximizes reachable depth for a fixed
    anchor, and every anchor is tried, so the per-user max is the true
    max. Returns ``(user_id, max_stage)`` for users with at least one
    stage-1 event, sorted by user_id.

    Scale: ``len(stages)-1`` BANDED interval joins. A plain
    user-keyed range join is quadratic in a user's lifetime history
    (every anchor × every stage event of that user — measured 22x at
    the 100x probe before banding); the band adds the window-width
    time bucket to the equi-key. Every qualifying stage event lies in
    ``[ts0, ts0+window]``, i.e. in one of the anchor's TWO buckets, so
    each round explodes the anchor to both buckets for the join and
    collapses back to the per-anchor min BEFORE the next stage — the
    collapse keeps chain state shared across bucket copies (a chain
    may start in one bucket and finish in the other). Candidate pairs
    are bounded by one user's activity inside ~2 windows — linear in
    the corpus at fixed per-user event density.
    """
    iv = F.expr(f"INTERVAL {window}")
    width = _window_seconds(window)
    bucket0 = (F.unix_timestamp("ts0") / width).cast("long")
    chain = events.filter(F.col("event_type") == stages[0]).select(
        "user_id", F.col("ts").alias("ts0"), "event_id"
    )
    prev = "ts0"
    for i, stage in enumerate(stages[1:], start=1):
        nxt = events.filter(F.col("event_type") == stage).select(
            F.col("user_id").alias("u"),
            F.col("ts").alias("t"),
            (F.unix_timestamp("ts") / width).cast("long").alias("tb"),
        )
        keep = [c for c in chain.columns]
        exploded = chain.withColumn(
            "b", F.explode(F.array(bucket0, bucket0 + F.lit(1)))
        )
        chain = (
            exploded.join(
                # corpus × corpus per-user frames: the estimate-
                # independence shuffle_hash pin (ordered_funnel
                # precedent, tests/test_estimate_safety.py) — a
                # stage side is corpus-proportional at every scale,
                # never a static broadcast candidate
                nxt.hint("shuffle_hash"),
                (F.col("user_id") == F.col("u"))
                & (F.col("b") == F.col("tb"))
                & (F.col("t") > F.col(prev))
                & (F.col("t") <= F.col("ts0") + iv),
                "left",
            )
            # collapse the two bucket copies immediately: the next
            # stage must chain off the TRUE greedy-earliest timestamp,
            # whichever bucket it fell in
            .groupBy(*keep)
            .agg(F.min("t").alias(f"ts{i}"))
        )
        prev = f"ts{i}"
    stage_expr = F.lit(0)
    for i in range(len(stages)):
        stage_expr = F.when(F.col(f"ts{i}").isNotNull(), i + 1).otherwise(
            stage_expr
        )
    # ts_i non-null implies ts_{i-1} non-null (the join chained off
    # it), so the deepest non-null column IS the reached stage
    per_anchor = chain.select(
        "user_id", stage_expr.cast("long").alias("stage")
    )
    return (
        per_anchor.groupBy("user_id")
        .agg(F.max("stage").alias("max_stage"))
        .orderBy("user_id")
    )


def cep_absence_alerts(
    events: DataFrame,
    run_type: str = "click",
    trigger_type: str = "purchase",
    min_run: int = 2,
    within: str = "1 day",
) -> DataFrame:
    """Flink CEP ``notFollowedBy`` — ABSENCE detection, the pattern
    class SQL is famously bad at: maximal runs of >= ``min_run``
    consecutive ``run_type`` events that are NOT followed by a
    ``trigger_type`` within ``within`` of the run's end (the trigger
    either never comes, comes too late, or a different event type
    intervenes — the "abandoned cart" alert). Exactly the complement
    of :func:`cep_pattern_match` over the same maximal-run set, which
    the absence-partition test pins: matches ∪ alerts = all runs of
    >= min_run, disjointly.

    Returns ``(user_id, run_start, run_end, n_run, next_type,
    next_ts)`` — the next event (if any) is carried so the consumer
    can distinguish "wrong event" from "silence". Same single
    user-keyed shuffle as the match op.
    """
    followed = (
        (F.col("next_type") == trigger_type)
        & (F.col("next_ts") <= F.col("run_end") + F.expr(f"INTERVAL {within}"))
    )
    alerts = (
        _maximal_runs(_lookahead_seq(events, run_type))
        .filter(
            (F.col("n_run") >= min_run)
            & ~F.coalesce(followed, F.lit(False))
        )
        .select(
            "user_id", "run_start", "run_end", "n_run", "next_type", "next_ts"
        )
    )
    return alerts.orderBy("user_id", "run_start")


def cep_from_state(spark, events_table: str) -> DataFrame:
    """Continuous CEP monitor over the stream→table loop: run
    :func:`cep_pattern_match` against the column-pruned event log a
    foreachBatch ingest accumulated (the SAME landed state
    ``streaming_event_log_ingest`` maintains for the SCD2 dimension —
    one raw log serves every order-sensitive reader).

    Raw events, not per-batch match fragments, are the minimal
    sufficient state: "consecutive" is defined against ALL events, so
    a later micro-batch can land an event INSIDE a previously-seen
    click run and break it — per-batch matches are not mergeable
    (same argument as SCD2's intervals). The match build sorts per
    user by (ts, event_id), so batching order is irrelevant and the
    bounded-drain result is row-identical to the batch op — the batch
    oracle applies verbatim."""
    return cep_pattern_match(read_state_table(spark, events_table))


def cep_absence_from_state(spark, events_table: str) -> DataFrame:
    """Continuous absence monitor over the stream→table loop: run
    :func:`cep_absence_alerts` against the accumulated raw event log
    (same minimal-sufficient-state argument as :func:`cep_from_state`
    — a later batch can land inside a seen run, so per-batch alert
    fragments are not mergeable). Row-identical to the batch op after
    a bounded drain; its oracle applies verbatim."""
    return cep_absence_alerts(read_state_table(spark, events_table))


def cep_multistage_from_state(spark, events_table: str) -> DataFrame:
    """Continuous multi-stage pattern monitor: the registered
    :func:`cep_funnel_pattern` over the accumulated raw log (landed
    WITH the ``value`` column — the middle stage's non-type predicate
    reads it). Same raw-log rationale and read-time row-identity as
    the other order-sensitive CEP loops."""
    return cep_funnel_pattern(read_state_table(spark, events_table))


def cep_nfa_from_state(spark, events_table: str) -> DataFrame:
    """Continuous EXACT-NFA pattern monitor: the registered
    :func:`cep_funnel_relaxed_nfa` over the accumulated raw log
    (landed WITH the ``value`` column, the same state shape the
    multi-stage loop rides — one value-carrying raw log serves both).
    Raw events are again the minimal sufficient state: a later batch
    can land an event BETWEEN a match's consumed events (relaxed
    skipping makes interior gaps first-class), which can change which
    branch completes first — per-batch match fragments are not
    mergeable. The mapInPandas kernel sorts per user by
    (ts, event_id), so batching order is irrelevant and the bounded-
    drain result is row-identical to the batch op; its recursive
    oracle applies verbatim."""
    return cep_funnel_relaxed_nfa(read_state_table(spark, events_table))


def temporal_table_join(
    events: DataFrame,
    version_type: str = "signup",
    fact_type: str = "purchase",
    sort: bool = True,
) -> DataFrame:
    """Flink temporal table join (``FOR SYSTEM_TIME AS OF fact.ts``):
    the ``version_type`` events form a VERSIONED per-user dimension —
    each signup opens a version valid until the user's next signup
    (half-open ``[valid_from, valid_to)``), carrying its ``props``
    payload — and each ``fact_type`` event joins the version valid at
    its own event time. Facts before a user's first version survive
    null-extended (LEFT join), matching Flink's outer temporal join.

    Returns ``(user_id, event_id, ts, version_ts, version_props)``
    sorted by event_id when ``sort=True`` (the spec/oracle path; the
    output is corpus-sized — every fact row — so library callers that
    feed the result into further joins/aggregations should pass
    ``sort=False`` and skip the global range-exchange presentation
    sort, the engine's standard gate).

    Implementation is SORT-BASED, not a range join: successive
    versions partition ``[first_version, ∞)`` per user, so "the
    version containing fact.ts" is exactly "the latest version with
    ``valid_from <= fact.ts``" — an as-of lookup. Versions and facts
    union into one per-user (ts, order)-sorted sequence and each fact
    reads the running last version via ``last(..., ignorenulls)`` —
    one user-keyed window shuffle, O(n log n) per user. The naive
    equi-key + interval-containment join is quadratic in a user's
    lifetime history (measured 14x at the 100x probe); this shape
    measured ~4x there — linear with fully-used cores. Ties (a fact
    at exactly a version's valid_from) resolve to that version: at
    equal ts, versions sort before facts, and among equal-ts versions
    the later event_id wins — identical to the half-open-interval
    oracle.
    """
    versions = events.filter(F.col("event_type") == version_type).select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_fact"),
        F.col("ts").alias("v_ts"),
        F.col("props").alias("v_props"),
        F.col("event_id").alias("order_id"),
    )
    facts = events.filter(F.col("event_type") == fact_type).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_fact"),
        F.lit(None).cast("timestamp").alias("v_ts"),
        F.lit(None).cast("string").alias("v_props"),
        F.col("event_id").alias("order_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_fact", "order_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = versions.unionByName(facts).select(
        "user_id",
        "event_id",
        "ts",
        "is_fact",
        F.last("v_ts", ignorenulls=True).over(w).alias("version_ts"),
        F.last("v_props", ignorenulls=True).over(w).alias("version_props"),
    )
    joined = merged.filter(F.col("is_fact") == 1).select(
        "user_id", "event_id", "ts", "version_ts", "version_props"
    )
    return joined.orderBy("event_id") if sort else joined


class PatternStage(NamedTuple):
    """One stage of a :func:`cep_match_pattern` spec.

    ``predicate``: a boolean Column over the event row, or a plain
    string shorthand for ``event_type == <s>``. ``min_count`` /
    ``max_count`` quantify the stage's maximal run (``max_count=None``
    = unbounded, Flink's ``oneOrMore``/``times(n,)``). ``rel``: an
    optional RELATIVE predicate (Flink IterativeCondition), evaluated
    per partial match at consumption time against the event's
    ``value`` — ``("first", j, op)`` compares with the FIRST value the
    match consumed for stage j, ``("prev", op)`` with its previously
    consumed event; op in ``> >= < <=``. Only
    ``contiguity="relaxed_nfa"`` can execute rels (per-branch
    consumability has no islands compilation)."""

    name: str
    predicate: Column | str
    min_count: int = 1
    max_count: int | None = None
    rel: tuple | None = None


def stage_label_expr(stages: list[PatternStage]) -> Column:
    """The FIRST-MATCH-WINS stage label (1..k, sentinel -1) shared by
    the islands compiler and the NFA kernel — one place owns the
    determinism rule for overlapping predicates. Validates the spec."""
    if not stages:
        raise ValueError("pattern needs at least one stage")
    names = [s.name for s in stages]
    if len(set(names)) != len(names):
        raise ValueError(f"stage names must be unique: {names}")
    label = None
    for i, st in enumerate(stages, start=1):
        cond = (
            F.col("event_type") == st.predicate
            if isinstance(st.predicate, str)
            else st.predicate
        )
        label = F.when(cond, i) if label is None else label.when(cond, i)
    return label.otherwise(-1)


# ---------------------------------------------------------------------------
# Relaxed-contiguity EXACT NFA (Flink followedBy) — the deterministic
# multi-branch machine behind ``contiguity="relaxed_nfa"``
# ---------------------------------------------------------------------------

#: A relaxed-NFA BRANCH: (stage, start_us, last_us, counts) — stage in
#: 1..k, ``counts`` a k-tuple of consumed-event counts per stage
#: (counts[stage-1] is the live count, later stages 0), start/last the
#: first/last CONSUMED event timestamps. The machine state is a tuple
#: of branches, deduplicated to one (earliest-start) branch per
#: transition class — see :func:`advance_relaxed_nfa_state`. With
#: iterative conditions (``rels``) a branch carries two extra slots:
#: (..., firsts, prev_val) — the FIRST consumed value per stage
#: (None = not captured) and the last consumed value.
NfaBranch = tuple[int, int, int, tuple[int, ...]]
NfaState = tuple[NfaBranch, ...]

#: A relative (iterative) condition on one stage, evaluated per BRANCH
#: at consumption time (Flink IterativeCondition / MATCH_RECOGNIZE
#: navigation): ("first", j, op) compares the candidate event's value
#: against the FIRST consumed value of stage j in this partial match,
#: ("last", j, op) against stage j's LAST consumed value, and
#: ("prev", op) against the previously consumed event's value — which
#: is always the CURRENT stage's last consumed value, so the capture
#: state is just two k-vectors (firsts, lasts). op in > >= < <=.
#: Unset references (stage j not consumed yet / no prior event) pass.
RelSpec = tuple

_REL_OPS = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
}


def _rel_ok(rel: RelSpec | None, firsts, lasts, cur_stage: int, v) -> bool:
    if rel is None:
        return True
    if rel[0] == "prev":
        # the previously consumed event always belongs to the branch's
        # current stage (stages only advance by consuming)
        ref = lasts[cur_stage - 1]
        op = rel[1]
    elif rel[0] == "last":
        ref = lasts[rel[1] - 1]
        op = rel[2]
    else:
        ref = firsts[rel[1] - 1]
        op = rel[2]
    if ref is None:
        return True  # unset reference: vacuously true (Flink: no
        # events accepted for that pattern yet)
    return _REL_OPS[op](v, ref)


def advance_relaxed_nfa_state(
    state: NfaState,
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
    within_us: int | None = None,
    after_match: str = "skip_past_last",
    rels: list[RelSpec | None] | None = None,
    strict: bool = False,
    capture: bool = False,
) -> tuple[list[tuple[int, int, tuple[int, ...]]], NfaState]:
    """Pure state transition for the EXACT relaxed-contiguity machine
    (Flink ``followedBy`` with AFTER MATCH SKIP PAST LAST EVENT): fold
    (ts_us, stage_label) rows — event-time ordered, labels pre-computed
    JVM-side by ``stage_label_expr`` — through a deterministic
    multi-branch NFA. Unlike the merged-burst ``relaxed`` mode (which
    drops sentinels and cuts maximal runs), this machine skips ANY
    non-consumable event per branch, so a stage can assemble its count
    across interior other-stage events (``A B A B`` matches
    ``A{2,2} followedBy B`` from the FIRST A, skipping the interior B)
    and a bounded stage consumes its run's PREFIX, skipping overflow
    (Flink's NFA), where merged-burst takes the suffix at the first
    stage and fails overrun middles.

    Transition rules per branch at (stage i, count c), on label l
    (first-match-wins labels make take/proceed/ignore MUTUALLY
    EXCLUSIVE, so the machine is deterministic — no backtracking):

    * TAKE: ``l == i`` and ``c < max_i`` — consume; completing the
      final stage's bound emits immediately;
    * PROCEED+TAKE: ``l == i+1`` and ``c >= min_i`` — finalize stage i,
      consume into stage i+1 (emits when i+1 == k with max_k == 1);
    * CLOSE: a branch at the FINAL stage with ``c >= min_k`` emits when
      any OTHER stage's label arrives — the merged maximal run closes
      (the run-quantified contract every mode of this builder shares;
      a NON-greedy Flink trailing loop under skip-past-last would emit
      at min-count instead — that policy is expressible here as
      ``max_count == min_count``). The closing event is NOT consumed:
      it is re-processed fresh (it may seed the next match);
    * IGNORE: anything else — the branch persists unchanged (relaxed
      contiguity; sentinel labels are invisible to every branch).

    SEEDING: every label-1 event seeds a new branch (Flink's
    always-live start state) unless the event completed a match
    (skip-past-last owns it). EMISSION: at the first event where any
    branch completes, the EARLIEST-START completing branch wins and
    every live branch is discarded — skip past last event, lossless
    because no branch can be seeded between the winner's last consumed
    event and its completion (any stage label in that gap would have
    closed the winner earlier), so every discarded branch started at or
    before the match end.

    STATE BOUND: branches whose (stage, capped count) transition class
    coincides advance in lockstep forever, and the earliest-start one
    wins every simultaneous completion (earlier starts weakly dominate
    later seeds in (stage, count) order — an invariant the reference
    differential in tests/test_relaxed_nfa.py does NOT assume), so the
    machine keeps one branch per class: state is O(sum of stage bounds)
    longs, independent of stream length.

    WITHIN (``within_us``): Flink's ``Pattern.within`` prunes PARTIAL
    matches — a branch whose window ``(start, start + within]`` cannot
    admit the current event is discarded, which lets a LATER start win
    a match a post-filter would silently drop (the post-filter contract
    the other modes keep is strictly weaker: it rejects the found match
    without re-searching). A satisfiable FINAL-stage branch whose
    window expires CLOSES (emits) instead — its consumed events all lie
    within the window, so the match is valid; only its greedy tail
    growth is cut. Expired branches necessarily started earlier than
    every in-window branch, so checking closers before consumption-
    completions preserves the earliest-start winner rule. Under within,
    branches of one transition class with different starts expire at
    different times, so the per-class dedup would be lossy — the
    machine keeps every live branch instead; state is then bounded by
    the key's event count inside one window (exactly Flink's
    partial-match state bound), and expiry reclaims it as the stream
    advances.

    AFTER MATCH (``after_match``): ``"skip_past_last"`` (the default,
    Flink skipPastLastEvent) emits the earliest-start completion and
    discards every live branch — matches are disjoint.
    ``"skip_to_next"`` (Flink skipToNext) emits EVERY completing
    branch — one match per start position (each deterministic branch's
    own earliest completion), overlapping matches allowed; only the
    completing branches are removed, and the per-class dedup is off
    (every start must emit separately), so live state is bounded by
    active starts (use ``within`` to bound it by one window's events,
    exactly as in Flink).

    STRICT mode (``strict=True``, the machine form of ``next``
    contiguity — MATCH_RECOGNIZE's row-pattern semantics): no event is
    ever skipped — an event a branch cannot consume (other label,
    bound full, rel failure, or the -1 sentinel, which must then REACH
    the fold) closes the branch if it is pattern-satisfiable and
    discards it otherwise. Seeding at every seed-target event still
    provides the bounded-first-stage SUFFIX freedom, and bound
    completion the LAST-stage prefix, so the rel-free strict machine
    is row-identical to the islands compiler (differentially pinned);
    rels make per-branch consumability real, which is exactly what
    SQL MATCH_RECOGNIZE's PREV()/FIRST() DEFINE clauses need — under
    strict contiguity PREV(row) == the match's previously consumed
    event, so the ("prev", op) spec IS the SQL-standard semantics.

    ITERATIVE CONDITIONS (``rels``, Flink IterativeCondition): an
    optional per-stage RELATIVE predicate evaluated per BRANCH at
    consumption time — ("first", j, op) compares the candidate event's
    ``value`` against the FIRST value this partial match consumed for
    stage j, ("prev", op) against its previously consumed event. Rows
    must then be (ts_us, label, value) triples, branches carry
    (firsts, prev) capture slots, and per-class dedup is off (captured
    values differentiate same-class branches). A rel-FAILING event is
    INVISIBLE to the branch (relaxed skip — it neither consumes nor
    closes; closes still fire on base-non-consumable stage labels),
    and unset references pass vacuously, so seeds always capture their
    first value. Only the base predicates are JVM-evaluated; the rel
    comparison is the one per-event Python operation the kernel adds.

    Returns ``(matches, new_state)`` with each match
    ``(start_us, end_us, per-stage counts)``. Associative over splits
    of an ordered sequence. Labels outside 1..k other than the -1
    sentinel act as a CLOSE-only flush (end-of-replay records)."""
    k = len(quants)
    if k == 1 and quants[0][1] is not None:
        raise ValueError(
            "single-stage bounded patterns are rejected by the compiler"
        )
    if all(lo == 0 for lo, _ in quants):
        raise ValueError(
            "pattern needs at least one mandatory stage (min_count >= 1)"
        )
    if any(hi is not None and hi < max(lo, 1) for lo, hi in quants):
        raise ValueError(f"invalid stage bounds: {quants}")
    if after_match not in ("skip_past_last", "skip_to_next"):
        raise ValueError(
            f"after_match must be skip_past_last|skip_to_next: "
            f"{after_match!r}"
        )
    past_last = after_match == "skip_past_last"
    use_rels = rels is not None and any(r is not None for r in rels)
    use_caps = use_rels or capture
    if use_rels:
        if len(rels) != k:
            raise ValueError("rels must have one entry per stage")
        for r in rels:
            if r is None:
                continue
            if r[0] == "prev":
                ok = len(r) == 2 and r[1] in _REL_OPS
            else:
                ok = (
                    len(r) == 3
                    and r[0] in ("first", "last")
                    and 1 <= r[1] <= k
                    and r[2] in _REL_OPS
                )
            if not ok:
                raise ValueError(f"invalid rel spec: {r!r}")
    branches = list(state)
    matches: list[tuple[int, int, tuple[int, ...]]] = []

    def _cls(b: NfaBranch) -> tuple[int, int]:
        stage = b[0]
        lo, hi = quants[stage - 1]
        cap = lo if hi is None else hi
        return (stage, min(b[3][stage - 1], cap))

    def _dedup(bs: list[NfaBranch]) -> list[NfaBranch]:
        best: dict[tuple[int, int], NfaBranch] = {}
        for b in bs:
            c = _cls(b)
            cur = best.get(c)
            if cur is None or b[1] < cur[1]:
                best[c] = b
        return sorted(best.values(), key=lambda b: (b[1], b[0]))

    # OPTIONAL stages (min_count == 0, Flink optional()/times(0,n)):
    # a proceed may CHAIN through consecutive optional stages —
    # from stage s the valid targets are s+1 .. max_target[s] (the
    # first mandatory stage after s, inclusive); seeds use s = 0, so
    # a pattern with optional leading stages can start mid-pattern.
    # A branch is pattern-SATISFIABLE at stage j once c >= min_j and
    # every later stage is optional; a satisfiable branch closes on
    # the first event it can neither take nor proceed with (or at
    # window expiry / end of data) — skipped stages emit count 0.
    max_target = [0] * k
    for s in range(k):
        t = s + 1
        while t < k and quants[t - 1][0] == 0:
            t += 1
        max_target[s] = t
    tail_opt = [False] * (k + 1)
    tail_opt[k] = True
    for j in range(k - 1, 0, -1):
        tail_opt[j] = tail_opt[j + 1] and quants[j][0] == 0

    def _satisf(b: NfaBranch) -> bool:
        j = b[0]
        return b[3][j - 1] >= quants[j - 1][0] and tail_opt[j]

    def _consumable(b: NfaBranch, lab: int) -> bool:
        stage = b[0]
        lo, hi = quants[stage - 1]
        c = b[3][stage - 1]
        if lab == stage:
            return hi is None or c < hi
        return stage < lab <= max_target[stage] and c >= lo

    def _emit(b: NfaBranch):
        if capture:
            return (b[1], b[2], b[3], b[4], b[5])
        return (b[1], b[2], b[3])

    for row in rows:
        ts_us, lab = row[0], row[1]
        v = row[2] if use_caps else 0.0
        if lab == -1 and not strict:
            continue  # relaxed contiguity: sentinels are invisible
        closers: list[NfaBranch] = []
        keep: list[NfaBranch] = []
        in_range = 1 <= lab <= k
        for b in branches:
            expired = within_us is not None and ts_us - b[1] > within_us
            can = in_range and _consumable(b, lab)
            if strict and can and use_rels:
                # strict contiguity: a rel failure IS a break, so full
                # consumability (base + rel) drives the close/discard
                target = b[0] if lab == b[0] else lab
                can = _rel_ok(rels[target - 1], b[4], b[5], b[0], v)
            if _satisf(b) and (expired or not can):
                closers.append(b)
            elif expired or (strict and not can):
                # discarded: timed-out partial (within), or a strict-
                # contiguity break (other label, bound full, rel fail,
                # sentinel)
                pass
            else:
                keep.append(b)
        branches = keep
        if not in_range:
            # flush record or (strict-mode) sentinel: close-only
            # trigger, no transitions or seeding
            if past_last:
                cut: int | None = None
                for b in sorted(closers, key=lambda b: b[1]):
                    if cut is None or b[1] > cut:
                        matches.append(_emit(b))
                        cut = b[2]
                if cut is not None:
                    branches = [b for b in keep if b[1] > cut]
            else:
                for b in sorted(closers, key=lambda b: b[1]):
                    matches.append(_emit(b))
            continue
        nxt: list[NfaBranch] = []
        done: list[NfaBranch] = []
        for b in branches:
            stage, start, counts = b[0], b[1], b[3]
            lo, hi = quants[stage - 1]
            c = counts[stage - 1]
            if lab == stage and (hi is None or c < hi):
                if use_rels and not _rel_ok(
                    rels[stage - 1], b[4], b[5], stage, v
                ):
                    nxt.append(b)  # rel-failing event: invisible
                    continue
                nc = counts[: stage - 1] + (c + 1,) + counts[stage:]
                if use_caps:
                    firsts = b[4]
                    if firsts[stage - 1] is None:
                        firsts = (
                            firsts[: stage - 1] + (v,) + firsts[stage:]
                        )
                    lasts = b[5][: stage - 1] + (v,) + b[5][stage:]
                    nb = (stage, start, ts_us, nc, firsts, lasts)
                else:
                    nb = (stage, start, ts_us, nc)
                if stage == k and hi is not None and c + 1 == hi:
                    done.append(nb)
                else:
                    nxt.append(nb)
            elif stage < lab <= max_target[stage] and c >= lo:
                if use_rels and not _rel_ok(
                    rels[lab - 1], b[4], b[5], stage, v
                ):
                    nxt.append(b)  # rel-failing event: invisible
                    continue
                nc = counts[:stage] + (0,) * (lab - stage - 1) + (1,)
                nc = nc + counts[lab:]
                if use_caps:
                    firsts = b[4][: lab - 1] + (v,) + b[4][lab:]
                    lasts = b[5][: lab - 1] + (v,) + b[5][lab:]
                    nb = (lab, start, ts_us, nc, firsts, lasts)
                else:
                    nb = (lab, start, ts_us, nc)
                if lab == k and quants[lab - 1][1] == 1:
                    done.append(nb)
                else:
                    nxt.append(nb)
            else:
                nxt.append(b)  # relaxed IGNORE: skip without consuming
        if lab <= max_target[0]:
            # seed (Flink's always-live start state; mid-pattern when
            # leading stages are optional); an immediately-complete
            # single-event seed competes like any consumption-completion
            # (it always has the latest start, so under skip-past-last
            # it only emits when disjoint from every earlier winner).
            # A rel on the seed stage passes vacuously (no captures).
            nc = (0,) * (lab - 1) + (1,) + (0,) * (k - lab)
            if use_caps:
                firsts = (None,) * (lab - 1) + (v,) + (None,) * (k - lab)
                nb = (lab, ts_us, ts_us, nc, firsts, firsts)
            else:
                nb = (lab, ts_us, ts_us, nc)
            if lab == k and quants[lab - 1][1] == 1:
                done.append(nb)
            else:
                nxt.append(nb)
        if past_last:
            # UNIFIED completion competition: close-completions (which
            # do not consume this event) and consumption-completions
            # compete in ONE greedy disjoint selection by start — each
            # emission discards everything started at or before its
            # match end (skip past last EVENT; the start filter also
            # suppresses this event's seed exactly when an emitted
            # match consumed the event). Without rels or optional
            # tails the candidate sets are label-disjoint and at most
            # one winner exists, reducing to the old two-phase rule;
            # with them, a later-started branch can close on the very
            # event an earlier branch completes by consuming, and only
            # a joint selection picks the true earliest start.
            if closers or done:
                cut2: int | None = None
                for b in sorted(closers + done, key=lambda b: b[1]):
                    if cut2 is None or b[1] > cut2:
                        matches.append(_emit(b))
                        cut2 = b[2]
                branches = [b for b in nxt if b[1] > cut2]
            else:
                branches = (
                    _dedup(nxt)
                    if within_us is None and not use_caps
                    else nxt
                )
        else:
            for b in sorted(closers + done, key=lambda b: b[1]):
                matches.append(_emit(b))
            branches = nxt
    return matches, tuple(branches)


def close_relaxed_nfa(
    state: NfaState,
    quants: list[tuple[int, int | None]],
    after_match: str = "skip_past_last",
    capture: bool = False,
) -> list[tuple[int, int, tuple[int, ...]]]:
    """End-of-data close for the relaxed-NFA machine: a pattern-
    satisfiable branch (its stage's min met, every later stage
    optional) emits exactly as a non-consumable label would have
    closed it. Under skip_past_last the earliest start wins (at most
    ONE match — every stage event after the winner's last consumed one
    was consumable by it, else it would have closed in-stream, so no
    later-starting candidate can exist past its end); under
    skip_to_next every satisfiable branch emits."""
    k = len(quants)
    tail_opt = True
    closers: list[NfaBranch] = []
    for j in range(k, 0, -1):
        for b in state:
            if b[0] == j and tail_opt and b[3][j - 1] >= quants[j - 1][0]:
                closers.append(b)
        tail_opt = tail_opt and quants[j - 1][0] == 0
    if not closers:
        return []

    def _emit(b):
        if capture:
            return (b[1], b[2], b[3], b[4], b[5])
        return (b[1], b[2], b[3])

    if after_match == "skip_to_next":
        return [_emit(b) for b in sorted(closers, key=lambda b: b[1])]
    # skip_past_last: greedy disjoint selection by start — without
    # iterative conditions at most one satisfiable branch can exist
    # past the winner's end (see above); with rel-invisible events,
    # later-started disjoint candidates are real and all emit.
    out: list = []
    cut: int | None = None
    for b in sorted(closers, key=lambda b: b[1]):
        if cut is None or b[1] > cut:
            out.append(_emit(b))
            cut = b[2]
    return out


def _matches_frame(pd, names, uids, matches, measure_specs=None):
    """Assemble one output chunk of the relaxed-NFA kernel (vectorized
    us→timestamp conversion once per chunk, not per group). With
    ``measure_specs`` ((alias, kind, stage_index) triples), matches
    carry (firsts, lasts) capture tuples and each measure projects out
    of them (None for stages a match skipped)."""
    out = {
        "user_id": uids,
        "match_start": pd.to_datetime([m[0] for m in matches], unit="us"),
        "match_end": pd.to_datetime([m[1] for m in matches], unit="us"),
    }
    for i, n in enumerate(names):
        out[f"n_{n}"] = [m[2][i] for m in matches]
    for alias, kind, idx in measure_specs or ():
        if kind == "count":
            out[alias] = [m[2][idx] for m in matches]
        elif kind == "first":
            out[alias] = [m[3][idx] for m in matches]
        else:  # last
            out[alias] = [m[4][idx] for m in matches]
    return pd.DataFrame(out)


def _cep_match_pattern_nfa(
    events: DataFrame,
    stages: list[PatternStage],
    sort: bool,
    within: str | None,
    after_match: str = "skip_past_last",
    strict: bool = False,
    measures: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """The ``contiguity="relaxed_nfa"`` execution path: EXACT Flink
    ``followedBy`` semantics via the deterministic multi-branch machine
    (:func:`advance_relaxed_nfa_state` — transition rules, emission
    policy, and the reference differential are documented there). Unlike the other
    modes this is inherently a sequential per-key scan (a branch may
    skip arbitrarily between consumed events, so no change-detection
    islands exist to compile to) — the NFA therefore runs in an
    Arrow-batched ``mapInPandas`` over the SAME user_id partitioning
    the declarative modes shuffle on (``repartition(user_id)`` +
    ``sortWithinPartitions``), NOT per-group ``applyInPandas``: Spark's
    per-group apply overhead (~2-3 ms/group: one pandas frame build +
    output coercion per key) dominates a funnel kernel whose per-user
    fold is microseconds — measured 3.8 s for a NO-OP apply over
    sf0.1's 1500 users vs ~0.3 s of chunk overhead this way. The
    kernel walks each Arrow chunk's numpy arrays group-by-group and
    carries (user, fold state) across chunk boundaries — exact, because
    the fold is split-associative (pinned by
    tests/test_relaxed_nfa.py::test_fold_is_associative_over_splits).

    Stage labels are still evaluated JVM-side (whole-stage codegen)
    and sentinel rows are filtered before Python, so Python sees only
    (ts, label) pairs of stage-relevant events. State per branch set is
    O(sum of stage bounds); per-user sequences are human-activity-
    bounded, so no group is corpus-sized. Scale shape: ONE shuffle,
    identical to the declarative paths.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    label = stage_label_expr(stages)
    quants = [(s.min_count, s.max_count) for s in stages]
    names = [s.name for s in stages]
    # Flink Pattern.within: PRUNE partial matches in-fold (a later
    # start can win a match a post-filter would drop) — the exact
    # semantics, stronger than the post-filter contract of the other
    # modes (documented in the builder docstring)
    within_us = (
        None if within is None else _window_seconds(within) * 1_000_000
    )
    rels = [s.rel for s in stages]
    use_rels = any(r is not None for r in rels)
    capture = measures is not None
    use_caps = use_rels or capture
    stage_idx = {s.name: i for i, s in enumerate(stages)}
    measure_specs = [
        (alias, kind, stage_idx[sn]) for alias, kind, sn in measures or ()
    ]
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("match_start", TimestampType()),
            StructField("match_end", TimestampType()),
            *[StructField(f"n_{n}", LongType()) for n in names],
            *[
                StructField(
                    alias, LongType() if kind == "count" else DoubleType()
                )
                for alias, kind, _ in measure_specs
            ],
        ]
    )
    cols = ["user_id", "ts", "event_id", label.alias("stage_id")] + (
        ["value"] if use_caps else []
    )
    if strict:
        # strict contiguity: sentinels BREAK runs, so they must reach
        # the fold — but consecutive sentinels are one break, so ship
        # only the FIRST sentinel of each sentinel run (the lag rides
        # the same user partitioning the kernel needs; the trailing
        # explicit sort is order-restating and planner-eliminated)
        w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # RANGE partition on user_id (not hash): equal keys still land
        # in one partition (all the kernel needs), the lag window reuses
        # the layout (RangePartitioning satisfies its clustered
        # distribution), and the final presentation order costs only a
        # sortWithinPartitions — the old global orderBy above the
        # kernel re-executed the whole NFA pass in the range exchange's
        # bound-sampling job. Sampling here reads the cheap labeled
        # input, not the kernel output.
        labeled = (
            events.repartitionByRange("user_id")
            .select(*cols)
            .withColumn("_prev_sid", F.lag("stage_id").over(w_seq))
            .filter(
                (F.col("stage_id") != -1)
                | F.col("_prev_sid").isNull()
                | (F.col("_prev_sid") != -1)
            )
            .drop("_prev_sid")
            .sortWithinPartitions("user_id", "ts", "event_id")
        )
    else:
        labeled = (
            events.select(*cols)
            .filter(F.col("stage_id") != -1)
            # range, not hash — see the strict_nfa branch note above
            .repartitionByRange("user_id")
            .sortWithinPartitions("user_id", "ts", "event_id")
        )

    def match_partition(
        pdfs: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        cur_uid: int | None = None
        state: tuple = ()
        for pdf in pdfs:
            if not len(pdf):
                continue
            uids = pdf["user_id"].to_numpy()
            ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(
                "int64"
            )
            labs = pdf["stage_id"].to_numpy()
            vals = pdf["value"].to_numpy() if use_caps else None
            # group boundaries in the (user-sorted) chunk
            cuts = np.flatnonzero(np.diff(uids)) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(uids)]))
            out_uid: list[int] = []
            out_m: list[tuple[int, int, tuple[int, ...]]] = []
            for a, b in zip(starts, ends):
                uid = int(uids[a])
                if uid != cur_uid:
                    if cur_uid is not None:
                        for m in close_relaxed_nfa(
                            state, quants, after_match, capture
                        ):
                            out_uid.append(cur_uid)
                            out_m.append(m)
                    cur_uid, state = uid, ()
                if use_caps:
                    rows = list(
                        zip(
                            ts_us[a:b].tolist(),
                            labs[a:b].tolist(),
                            vals[a:b].tolist(),
                        )
                    )
                else:
                    rows = list(
                        zip(ts_us[a:b].tolist(), labs[a:b].tolist())
                    )
                matches, state = advance_relaxed_nfa_state(
                    state, rows, quants, within_us, after_match,
                    rels if use_rels else None, strict, capture,
                )
                out_uid.extend([uid] * len(matches))
                out_m.extend(matches)
            yield _matches_frame(pd, names, out_uid, out_m, measure_specs)
        if cur_uid is not None:
            tail = close_relaxed_nfa(state, quants, after_match, capture)
            if tail:
                yield _matches_frame(
                    pd, names, [cur_uid] * len(tail), tail, measure_specs
                )

    out = labeled.mapInPandas(match_partition, out_schema)
    # no post-filter: within is enforced in-fold (every emitted match
    # already satisfies match_end <= match_start + within)
    # In-partition sort = the same total (user_id, match_start) order
    # the old global orderBy produced — the input is already RANGE
    # partitioned on user_id, so partitions are key-ordered and no
    # second exchange (with its kernel-re-running bound sampling) is
    # needed.
    return (
        out.sortWithinPartitions("user_id", "match_start") if sort else out
    )


def cep_match_pattern(
    events: DataFrame,
    stages: list[PatternStage],
    sort: bool = True,
    contiguity: str = "strict",
    within: str | None = None,
    after_match: str = "skip_past_last",
    measures: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """General multi-stage pattern matcher — the Flink CEP
    ``Pattern.begin(A).next(B).times(m,n).next(C)...`` builder class,
    compiled to the engine's islands machinery (no NFA, no UDFs, one
    user-keyed shuffle).

    Semantics — RUN-QUANTIFIED contiguity:

    * every event is labeled with the FIRST stage whose predicate it
      satisfies (first-match-wins priority, the determinism rule when
      predicates overlap), or a sentinel when none does;
    * ``contiguity="strict"`` (Flink ``next``): the per-user
      (ts, event_id)-ordered sequence is cut into maximal runs of
      constant label — any label change, including to the sentinel,
      ends a run (no skipping). ``contiguity="relaxed"`` (Flink
      ``followedBy``): sentinel events are dropped BEFORE the run cut,
      so non-stage events neither break a run nor separate stages —
      two same-stage bursts separated only by irrelevant events merge
      into one run (greedy quantifier absorption, exactly Flink's
      relaxed-contiguity greedy ``oneOrMore``).
      ``contiguity="relaxed_nfa"``: the EXACT Flink ``followedBy``
      NFA — each partial match additionally skips interior
      OTHER-STAGE events, so a stage can assemble its count across
      them and a bounded stage consumes its run's PREFIX (skipping
      overflow) instead of merged-burst's suffix/fail; executed as a
      deterministic multi-branch machine on the same user_id
      partitioning (see ``_cep_match_pattern_nfa`` and the transition
      rules in :func:`advance_relaxed_nfa_state`; the
      reference differential lives in tests/test_relaxed_nfa.py);
    * a match is ``len(stages)`` CONSECUTIVE runs whose labels are
      stage 1..k in order and whose run lengths lie within each
      stage's ``[min_count, max_count]``;
    * ``within`` (Flink ``Pattern.within``): when given, a match must
      fit inside the window — ``match_end <= match_start + within``.

    BOUNDED QUANTIFIERS — NFA-equivalent sub-run matching (closes the
    r13 delta): with first-match-wins labels and strict contiguity, a
    greedy NFA's stage segmentation at any start position is FORCED —
    a middle stage must consume its maximal run exactly (cutting early
    leaves a same-label next event that fails the next stage), so a
    middle run longer than its bound genuinely has no match, in the
    engine AND in Flink. Only the pattern's EDGES have sub-run
    freedom: the FIRST stage may start mid-run (the NFA's earliest
    surviving start consumes exactly the run's SUFFIX of length
    ``min(L, max)``) and the LAST stage may stop early (greedy
    consumes the run's PREFIX of length ``min(L, max)``, and AFTER
    MATCH SKIP PAST LAST ROW discards the overrun). The compiler
    implements exactly that: a bounded first/last stage passes with
    any run ``>= min_count``, its emitted count is ``min(L, max)``,
    and ``match_start``/``match_end`` are the suffix/prefix boundary
    timestamps (computed per run on the same user partitioning — no
    extra shuffle; patterns with no bounded edge compile to the
    identical plan as before). A single-stage pattern with a bounded
    quantifier is rejected: Flink's skip-past-last chunking of one
    over-long run into ``floor(L/max)`` matches is a different
    operator (tests/test_round14_ops.py pins the NFA equivalence
    differentially). The NFA-equivalence claim is for STRICT
    contiguity; under relaxed contiguity bounded edges follow the same
    sub-run rule (suffix/prefix of the MERGED run), while Flink's
    relaxed NFA may instead SKIP interior same-label events — e.g.
    ``A{1} followedBy B`` on ``A A B`` matches from the first A in
    Flink (skipping the second) but from the second here — so
    relaxed + bounded is the engine's documented merged-burst
    semantics, not an NFA-parity claim (unbounded relaxed, the
    registered shape, is greedy absorption = Flink's greedy
    ``oneOrMore``).

    Matches are provably disjoint FOR ANY stage spec (not just
    pairwise-disjoint predicates): a candidate match occupies k
    consecutive runs labeled exactly 1..k, so two candidates starting
    at run positions i < j < i+k would need run j to carry label
    j-i+1 > 1 and label 1 simultaneously — impossible; for k = 1,
    maximal runs of label 1 are separated by other labels. Clearing
    the closed-run history on a quantifier-passing match (skip past
    last row) therefore can never drop a later batch-visible match,
    even when a downstream ``within`` post-filter rejects the emitted
    one, pinned by
    tests/test_round14_ops.py::test_candidate_matches_always_disjoint.

    Returns ``(user_id, match_start, match_end, n_<stage.name>...)``
    sorted by (user_id, match_start) when ``sort=True``.

    Scale: ONE shuffle on user_id, reused end-to-end — the sequence
    window, the change-flag lag, the run groupBy (user_id, run_id),
    and the lead() window all share the same hash partitioning; runs
    are human-activity-bounded per user, so no window partition is
    corpus-sized. Label evaluation is per-row JVM expressions
    (whole-stage codegen).
    """
    if contiguity not in ("strict", "relaxed", "relaxed_nfa", "strict_nfa"):
        raise ValueError(
            "contiguity must be strict|relaxed|relaxed_nfa|strict_nfa: "
            f"{contiguity!r}"
        )
    if len(stages) == 1 and stages[0].max_count is not None:
        raise ValueError(
            "single-stage patterns with a bounded quantifier are not "
            "supported: Flink's skip-past-last chunking of one over-long "
            "run into floor(L/max) matches is a different operator — use "
            "an unbounded quantifier or add a stage"
        )
    if any(
        s.max_count is not None and s.max_count < max(1, s.min_count)
        for s in stages
    ):
        raise ValueError("stage max_count must be >= max(1, min_count)")
    optional = [s.name for s in stages if s.min_count == 0]
    if optional:
        # OPTIONAL stages (Flink optional()/times(0, n)): realization
        # union in strict mode (interior only — realized edges must
        # stay the original edges for the sub-run machinery and the
        # disjointness proof), chained proceeds in relaxed_nfa (any
        # position); merged-burst relaxed has no meaningful skipped-run
        # semantics, so it rejects.
        if len(optional) == len(stages):
            raise ValueError(
                "pattern needs at least one mandatory stage "
                "(min_count >= 1)"
            )
        if contiguity == "relaxed":
            raise ValueError(
                "optional stages (min_count=0) are not supported in "
                "merged-burst relaxed mode — use contiguity='relaxed_nfa' "
                "(exact followedBy) or 'strict'"
            )
        if contiguity == "strict" and (
            stages[0].min_count == 0 or stages[-1].min_count == 0
        ):
            raise ValueError(
                "strict mode supports optional stages only in the "
                "pattern interior (first and last stage must be "
                "mandatory) — use contiguity='relaxed_nfa' for optional "
                "edge stages"
            )
        if len(optional) > 4:
            raise ValueError(
                "at most 4 optional stages in strict mode (the "
                "realization union grows as 2^optional)"
            )
    if within is not None:
        # validate through the machine modes' fixed-width-unit
        # contract (_window_seconds) BEFORE handing the
        # string to F.expr — calendar units ('1 month') are rejected
        # here with a clear error instead of silently varying by anchor,
        # and malformed strings fail fast instead of as opaque Spark
        # parse errors at analysis time.
        _window_seconds(within)
    if after_match not in ("skip_past_last", "skip_to_next"):
        raise ValueError(
            f"after_match must be skip_past_last|skip_to_next: "
            f"{after_match!r}"
        )
    if after_match == "skip_to_next" and contiguity not in (
        "relaxed_nfa",
        "strict_nfa",
    ):
        raise ValueError(
            "after_match='skip_to_next' (one overlapping match per "
            "start) is supported only under the machine modes "
            "(relaxed_nfa/strict_nfa) — the islands compilers are "
            "inherently skip-past-last (disjoint maximal runs)"
        )
    if any(s.rel is not None for s in stages) and contiguity not in (
        "relaxed_nfa",
        "strict_nfa",
    ):
        raise ValueError(
            "relative predicates (PatternStage.rel — Flink "
            "IterativeCondition / MATCH_RECOGNIZE PREV()/FIRST()) are "
            "supported only under contiguity='relaxed_nfa' or "
            "'strict_nfa': per-branch consumability has no islands "
            "compilation"
        )
    if measures is not None:
        if contiguity not in ("relaxed_nfa", "strict_nfa"):
            raise ValueError(
                "measures (MATCH_RECOGNIZE MEASURES — per-match "
                "FIRST/LAST value captures) are supported only under "
                "the machine modes (relaxed_nfa/strict_nfa)"
            )
        names = {s.name for s in stages}
        for alias, kind, stage_name in measures:
            if kind not in ("first", "last", "count"):
                raise ValueError(f"unknown measure kind: {kind!r}")
            if stage_name not in names:
                raise ValueError(
                    f"measure {alias}: {stage_name!r} is not a stage"
                )
    if contiguity in ("relaxed_nfa", "strict_nfa"):
        return _cep_match_pattern_nfa(
            events, stages, sort, within, after_match,
            strict=contiguity == "strict_nfa",
            measures=measures,
        )
    label = stage_label_expr(stages)

    labeled = events.select(
        "user_id", "ts", "event_id", label.alias("stage_id")
    )
    if contiguity == "relaxed":
        # followedBy: irrelevant events vanish before the run cut —
        # filter BEFORE row_number so runs chain across the gaps
        labeled = labeled.filter(F.col("stage_id") != -1)
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = labeled.withColumn("rn", F.row_number().over(w_seq))
    # change-detection islands on the SAME user partitioning (no
    # second shuffle on (user_id, stage_id) — the lag/sum windows and
    # the run groupBy below all reuse the user_id hash partitioning)
    w_rn = Window.partitionBy("user_id").orderBy("rn")
    flagged = staged.withColumn(
        "new_run",
        F.when(
            F.col("stage_id")
            == F.lag("stage_id").over(w_rn),
            0,
        ).otherwise(1),
    )
    with_runs = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(
            w_rn.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    k = len(stages)
    # sub-run boundaries for bounded EDGE stages (see docstring): the
    # suffix start of a label-1 run capped at max_count events from the
    # end, and the prefix end of a label-k run capped at max_count from
    # the start. Computed per event over the (user_id, run_id) window —
    # hashpartitioning(user_id) already satisfies it, so this adds a
    # sort within the existing exchange, never a new shuffle. Skipped
    # entirely when no edge stage is bounded (identical plan to r13).
    first_max = stages[0].max_count
    last_max = stages[-1].max_count if k > 1 else None
    extra_aggs = []
    if first_max is not None or last_max is not None:
        w_run = Window.partitionBy("user_id", "run_id").orderBy("rn")
        w_run_all = w_run.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        with_runs = with_runs.withColumn(
            "pos", F.row_number().over(w_run)
        ).withColumn("run_cnt", F.count(F.lit(1)).over(w_run_all))
        if first_max is not None:
            extra_aggs.append(
                F.min(
                    F.when(
                        F.col("pos")
                        == F.greatest(
                            F.lit(1), F.col("run_cnt") - F.lit(first_max - 1)
                        ),
                        F.col("ts"),
                    )
                ).alias("sub_start_ts")
            )
        if last_max is not None:
            extra_aggs.append(
                F.max(
                    F.when(
                        F.col("pos")
                        == F.least(F.col("run_cnt"), F.lit(last_max)),
                        F.col("ts"),
                    )
                ).alias("sub_end_ts")
            )
    runs = with_runs.groupBy("user_id", "run_id").agg(
        F.min("stage_id").alias("stage_id"),  # constant per run
        F.count(F.lit(1)).alias("cnt"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.min("rn").alias("start_rn"),
        *extra_aggs,
    )
    w_runs = Window.partitionBy("user_id").orderBy("start_rn")

    def _realized(ids: list[int]) -> DataFrame:
        """The k-run window conjunction for ONE realization (the
        original stage indices actually present — interior optional
        stages may be skipped). Realized edges are always the original
        edges (optional stages are interior-only in this mode), so the
        sub-run boundary columns apply unchanged; a skipped interior
        stage is enforced automatically by strict run adjacency (the
        run after stage i must carry the NEXT realized stage's label),
        and at most one realization can hold at a given start run, so
        the realizations' union is disjoint by construction."""
        kr = len(ids)
        seq = runs.select(
            "user_id",
            F.col(
                "sub_start_ts" if first_max is not None else "start_ts"
            ).alias("_start"),
            *[
                F.lead("stage_id", i).over(w_runs).alias(f"_s{i}")
                for i in range(kr)
            ],
            *[
                F.lead("cnt", i).over(w_runs).alias(f"_c{i}")
                for i in range(kr)
            ],
            F.lead(
                "sub_end_ts" if last_max is not None else "end_ts", kr - 1
            ).over(w_runs).alias("_end"),
        )
        cond = F.lit(True)
        for pos, oi in enumerate(ids):
            st = stages[oi]
            cond = (
                cond
                & (F.col(f"_s{pos}") == oi + 1)
                & (F.col(f"_c{pos}") >= max(1, st.min_count))
            )
            # bounded EDGE stages match a sub-run (suffix/prefix of
            # length min(L, max)) instead of failing on overrun — the
            # NFA semantics; bounded MIDDLE stages keep the exact upper
            # bound (forced consumption: an overrun middle run has no
            # match)
            if st.max_count is not None and 0 < pos < kr - 1:
                cond = cond & (F.col(f"_c{pos}") <= st.max_count)

        def _n(pos: int, oi: int) -> Column:
            cap = stages[oi].max_count
            if cap is None or 0 < pos < kr - 1:
                return F.col(f"_c{pos}")
            return F.least(F.col(f"_c{pos}"), F.lit(cap))

        nonlocal_cond = cond
        if within is not None:
            nonlocal_cond = cond & (
                F.col("_end")
                <= F.col("_start") + F.expr(f"INTERVAL {within}")
            )
        pos_of = {oi: pos for pos, oi in enumerate(ids)}
        return seq.filter(nonlocal_cond).select(
            "user_id",
            F.col("_start").alias("match_start"),
            F.col("_end").alias("match_end"),
            *[
                (
                    _n(pos_of[i], i)
                    if i in pos_of
                    else F.lit(0).cast("long")
                ).alias(f"n_{st.name}")
                for i, st in enumerate(stages)
            ],
        )

    optional_idx = [i for i, s in enumerate(stages) if s.min_count == 0]
    out = _realized(list(range(k)))
    for r in range(1, len(optional_idx) + 1):
        for drop in _combinations(optional_idx, r):
            out = out.unionByName(
                _realized([i for i in range(k) if i not in drop])
            )
    return out.orderBy("user_id", "match_start") if sort else out


#: The shared registered pattern (strict and relaxed instances both
#: use it): a NON-TYPE predicate on the middle stage.
def _funnel_stages() -> list[PatternStage]:
    return [
        PatternStage("view", "view"),
        PatternStage(
            "click",
            (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            min_count=2,
        ),
        PatternStage("purchase", "purchase"),
    ]


def cep_funnel_pattern(events: DataFrame) -> DataFrame:
    """The registered :func:`cep_match_pattern` instance — a
    three-stage ``view{1,} (click & value>=0.5){2,} purchase{1,}``
    pattern with a NON-TYPE predicate on the middle stage (Flink:
    ``begin("view").oneOrMore().next("click").where(value>=0.5)
    .timesOrMore(2).next("purchase")``). Stage predicates are pairwise
    disjoint, so matches are disjoint (see the builder docstring)."""
    return cep_match_pattern(events, _funnel_stages())


def cep_funnel_bounded(events: DataFrame) -> DataFrame:
    """The BOUNDED-QUANTIFIER registered instance — exercises the
    NFA-equivalent sub-run semantics at both pattern edges (Flink:
    ``begin("view").times(1, 2).next("click").where(value>=0.5)
    .oneOrMore().next("purchase").times(1)``): an over-long view run
    matches its 2-event SUFFIX (match_start moves inside the run), an
    over-long purchase run matches its first event (match_end stops at
    the PREFIX), and emitted counts are capped at the bounds —
    bit-identical to the reference NFA per
    tests/test_round14_ops.py::test_engine_equals_reference_nfa."""
    return cep_match_pattern(
        events,
        [
            PatternStage("view", "view", min_count=1, max_count=2),
            PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            PatternStage("purchase", "purchase", min_count=1, max_count=1),
        ],
    )


def cep_funnel_relaxed_nfa(events: DataFrame) -> DataFrame:
    """The EXACT-NFA registered instance — ``view{1,1} followedBy
    (click & value>=0.5){1,} followedBy purchase{1,1}`` under
    ``contiguity="relaxed_nfa"`` (Flink: ``begin("view")
    .followedBy("click").where(value>=0.5).oneOrMore()
    .followedBy("purchase")`` with skipPastLastEvent): the classic
    noise-tolerant funnel where ANY event — including interior views
    and unqualified clicks — may sit between the matched stages. The
    DuckDB oracle expresses the same semantics independently as a
    recursive first-event-after chain; the general machine is pinned
    against a keep-everything reference NFA in
    tests/test_relaxed_nfa.py."""
    return cep_match_pattern(
        events,
        [
            PatternStage("view", "view", min_count=1, max_count=1),
            PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            PatternStage("purchase", "purchase", min_count=1, max_count=1),
        ],
        contiguity="relaxed_nfa",
    )


def cep_funnel_relaxed_nfa_all(events: DataFrame) -> DataFrame:
    """The SKIP TO NEXT registered instance — same stages as
    :func:`cep_funnel_relaxed_nfa` under Flink's
    ``AfterMatchSkipStrategy.skipToNext()``: EVERY view emits its own
    earliest completion (first qualifying click after it, every
    qualifying click until the first purchase after that), overlapping
    matches allowed. Because each deterministic branch is independent,
    the oracle needs NO recursion: one lateral chain per view."""
    return cep_match_pattern(
        events,
        [
            PatternStage("view", "view", min_count=1, max_count=1),
            PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            PatternStage("purchase", "purchase", min_count=1, max_count=1),
        ],
        contiguity="relaxed_nfa",
        after_match="skip_to_next",
    )


def cep_funnel_iterative(events: DataFrame) -> DataFrame:
    """The ITERATIVE-CONDITION registered instance (Flink
    IterativeCondition — a where() reading ctx.getEventsForPattern):
    ``view{1,1} followedBy (click & value>=0.5 & value >
    first(view).value){1,} followedBy purchase{1,1}`` under
    ``relaxed_nfa`` — every consumed click must beat ITS OWN match's
    view value, a per-branch comparison no precomputed label can
    express. Rel-failing clicks are invisible (relaxed skip). Because
    a low-valued view's branch may never complete while a later
    higher-potential view's does, the oracle picks the
    earliest-COMPLETING candidate per step (min by purchase then view
    position), exactly the machine's emission rule."""
    return cep_match_pattern(
        events,
        [
            PatternStage("view", "view", min_count=1, max_count=1),
            PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
                rel=("first", 1, ">"),
            ),
            PatternStage("purchase", "purchase", min_count=1, max_count=1),
        ],
        contiguity="relaxed_nfa",
    )


def cep_funnel_relaxed_nfa_within(events: DataFrame) -> DataFrame:
    """The EXACT-NFA + ``Pattern.within(5 days)`` registered instance —
    same stages as :func:`cep_funnel_relaxed_nfa`, with Flink's
    partial-match PRUNING semantics: a branch whose 5-day window
    expires mid-pattern is discarded, so a LATER view can win a match
    that a post-filter contract would silently drop (the receipt test
    in tests/test_relaxed_nfa.py: 16 of this instance's 60 sf0.001
    matches exist ONLY under pruning). The DuckDB oracle extends the
    recursive
    first-event-after chain with the window constraint and an
    earliest-completion-then-earliest-start winner per step."""
    return cep_match_pattern(
        events,
        [
            PatternStage("view", "view", min_count=1, max_count=1),
            PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            PatternStage("purchase", "purchase", min_count=1, max_count=1),
        ],
        contiguity="relaxed_nfa",
        within="5 days",
    )


def cep_funnel_pattern_relaxed(events: DataFrame) -> DataFrame:
    """The RELAXED-contiguity + windowed registered instance: the same
    three stages under Flink ``followedBy`` semantics (irrelevant
    events don't break the chain) with ``Pattern.within(2 days)`` —
    the alerting shape real funnels use (noise-tolerant, time-bounded).
    """
    return cep_match_pattern(
        events, _funnel_stages(), contiguity="relaxed", within="2 days"
    )
