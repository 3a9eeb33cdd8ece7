"""Pure-Python reference for the islands pattern compiler.

:func:`advance_pattern_state` folds one key's event-time-ordered
(ts_us, stage_label) rows through a run-quantified matcher with the
strict compiler's sub-run semantics for bounded edge stages. The
declarative :func:`~flink_snappydata_spark.operators.cep.
cep_match_pattern` (``contiguity="strict"``/``"relaxed"``) shares only
the stage spec with it, so the property and differential tests compare
the two. Fold a label no event carries after the last row to close the
trailing run, as end-of-data does for the batch compiler.
"""

from __future__ import annotations


#: a CLOSED maximal run: (label, cnt, start_us, end_us, sub_start_us,
#: sub_end_us) — sub_start is the suffix boundary a bounded FIRST
#: stage would match from (= start when the run fits the bound or the
#: bound doesn't apply), sub_end the prefix boundary a bounded LAST
#: stage would stop at (= end likewise).
ClosedRun = tuple[int, int, int, int, int, int]
#: the OPEN trailing run: (label, cnt, start_us, last_us, mark_us,
#: ring) — mark_us is the ts of the last-stage-bound'th event (0 until
#: reached); ring holds the last <= first_max event timestamps so the
#: suffix boundary is known at close (empty when not tracked).
OpenRun = tuple[int, int, int, int, int, tuple[int, ...]]
PatternState = tuple[tuple[ClosedRun, ...], OpenRun | None]


def advance_pattern_state(
    state: PatternState,
    rows: list[tuple[int, int]],
    quants: list[tuple[int, int | None]],
) -> tuple[list[tuple[int, int, tuple[int, ...]]], PatternState]:
    """Pure state transition for the GENERAL pattern machine: fold
    (ts_us, stage_label) rows — already in event-time order, labels
    pre-computed JVM-side by :func:`~flink_snappydata_spark.operators.
    cep.stage_label_expr` — through the run-quantified matcher with
    NFA-equivalent sub-run semantics for bounded EDGE stages (the
    batch compiler's contract — see ``cep_match_pattern``'s docstring
    for why only the first and last stages have sub-run freedom under
    strict contiguity).

    State is ``(closed_runs, open_run)``: the last <= k CLOSED maximal
    runs plus the open trailing run — everything a future match can
    still reference. Size is O(k + first_max) longs (the suffix ring
    is only kept on label-1 runs when the first stage is bounded),
    independent of stream length. A run closes when the label changes;
    the match check fires on close. On a match the closed history
    clears — AFTER MATCH SKIP PAST LAST ROW, which is lossless even
    when a downstream ``within`` filter rejects the match because
    candidate matches are provably disjoint for any stage spec (run
    positions pin stage labels; see the batch docstring). Returns
    ``(matches, new_state)`` with each match
    ``(match_start_us, match_end_us, per-stage effective counts)``
    where a bounded edge stage's count is capped at its bound.
    Associative over splits of an ordered sequence — pinned at every
    split point."""
    closed, open_run = state
    matches: list[tuple[int, int, tuple[int, ...]]] = []
    k = len(quants)
    first_max = quants[0][1]
    last_max = quants[-1][1] if k > 1 else None
    if k == 1 and first_max is not None:
        raise ValueError(
            "single-stage bounded patterns are rejected by the compiler"
        )

    def _ok(i: int, run: ClosedRun) -> bool:
        lo, hi = quants[i]
        if run[0] != i + 1 or run[1] < lo:
            return False
        # bounded EDGE stages absorb overrun via sub-run boundaries;
        # bounded MIDDLE stages keep the exact upper bound
        return hi is None or i == 0 or i == k - 1 or run[1] <= hi

    def _eff(i: int, run: ClosedRun) -> int:
        hi = quants[i][1]
        if hi is None or 0 < i < k - 1:
            return run[1]
        return min(run[1], hi)

    def close_and_eval(orun: OpenRun) -> None:
        nonlocal closed
        lab, cnt, start, last, mark, ring = orun
        sub_start = ring[0] if ring else start
        sub_end = mark if mark else last
        closed = (closed + ((lab, cnt, start, last, sub_start, sub_end),))[-k:]
        if len(closed) == k and all(
            _ok(i, r) for i, r in enumerate(closed)
        ):
            matches.append(
                (
                    closed[0][4],
                    closed[-1][5],
                    tuple(_eff(i, r) for i, r in enumerate(closed)),
                )
            )
            closed = ()  # skip past last row

    for ts_us, lab in rows:
        if open_run is not None and lab == open_run[0]:
            _, cnt, start, _, mark, ring = open_run
            cnt += 1
            if ring:
                ring = (ring + (ts_us,))[-first_max:]
            if lab == k and last_max is not None and cnt == last_max:
                mark = ts_us
            open_run = (lab, cnt, start, ts_us, mark, ring)
        else:
            if open_run is not None:
                close_and_eval(open_run)
            ring = (
                (ts_us,)
                if lab == 1 and first_max is not None
                else ()
            )
            mark = (
                ts_us if lab == k and last_max is not None and last_max == 1
                else 0
            )
            open_run = (lab, 1, ts_us, ts_us, mark, ring)
    return matches, (closed, open_run)
