"""Streaming operators checked batch-equivalently on the bounded events table (SURVEY.md §2.6).

Mechanically split from the original single-file registry; declaration
order is preserved by the import order in :mod:`flink_snappydata_spark.specs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.operators import cep
from flink_snappydata_spark.streaming import count_window as cw
from flink_snappydata_spark.streaming import joins as stream_joins
from flink_snappydata_spark.streaming import windows as stream_windows

from flink_snappydata_spark.specs.base import (
    QUERIES,
    _cents,
    _register,
)

# ---------------------------------------------------------------------------
# Streaming operators, checked batch-equivalently on the bounded events
# table (SURVEY.md §2.6, §5: streaming and batch share Catalyst plans)
# ---------------------------------------------------------------------------

_register(
    "events_tumbling_window",
    ["events"],
    stream_windows.tumbling_window_counts,
    f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           SUM({_cents('value')}) / 100.0 AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    doc="Tumbling event-time window agg (KafkaWindowWordCount parity).",
)

_register(
    "events_sliding_window",
    ["events"],
    stream_windows.sliding_window_counts,
    """
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM (
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                   + to_seconds(CAST(floor(epoch(ts)/21600) AS BIGINT)*21600
                                - 21600*g.g) AS window_start,
               event_type, ts
        FROM events, (SELECT unnest([0,1,2,3]) AS g) g
    ) t
    WHERE ts < window_start + INTERVAL 1 DAY AND ts >= window_start
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Sliding event-time window (1 day / 6 h), epoch-aligned starts.",
)

_register(
    "events_session_window",
    ["events"],
    stream_windows.session_window_counts,
    f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM seq
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events,
           SUM({_cents('value')}) / 100.0 AS sum_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Session windows (30 min gap) — gaps-and-islands oracle.",
)

_register(
    "session_funnel",
    ["events"],
    stream_windows.session_funnel,
    f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE event_type IN ('click', 'purchase')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM seq
    )
    SELECT MIN(ts) AS session_start, user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           (MIN(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL
            AND MAX(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
            AND MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                >= MIN(CASE WHEN event_type = 'click' THEN ts END))
               AS converted
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Sessionized click->purchase funnel: session windows composed "
        "with conversion logic (gaps-and-islands oracle).",
)

# rollup_multires oracle: each grain aggregated straight from raw
# events — the engine folds day/week FROM the hourly rollup instead,
# and the exact cent sums make the two spellings provably identical.
_register(
    "rollup_multires",
    ["events"],
    stream_windows.rollup_multires,
    f"""
    WITH g AS (
        SELECT grain FROM (VALUES ('hour'), ('day'), ('week')) t(grain)
    )
    SELECT grain, date_trunc(grain, ts) AS bucket_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS sum_value
    FROM events, g
    GROUP BY grain, date_trunc(grain, ts), event_type
    ORDER BY grain, bucket_start, event_type
    """,
    doc="Hypertable-style multi-resolution continuous aggregate: "
        "hour/day/week (bucket, type) rollups in one frame — raw "
        "events scanned once, coarser grains fold the persisted "
        "hourly aggregate (lossless under exact cent sums).",
)

_register(
    "stream_stream_join",
    ["events"],
    stream_joins.windowed_type_join,
    """
    WITH c AS (SELECT date_trunc('hour', ts) AS w, user_id, COUNT(*) AS n_click
               FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (SELECT date_trunc('hour', ts) AS w, user_id, COUNT(*) AS n_purchase
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT c.user_id AS user_id, c.w AS window_start, n_click, n_purchase
    FROM c JOIN p ON c.user_id = p.user_id AND c.w = p.w
    ORDER BY user_id, window_start
    """,
    doc="Windowed stream-stream join, aggregation-shaped (ParquetTableJoin parity).",
)


def _rowlevel_join(events: DataFrame) -> DataFrame:
    clicks = events.filter(events.event_type == "click")
    purchases = events.filter(events.event_type == "purchase")
    return stream_joins.windowed_stream_join(clicks, purchases)


_register(
    "stream_join_rowlevel",
    ["events"],
    _rowlevel_join,
    """
    SELECT l.user_id AS user_id, date_trunc('hour', l.ts) AS window_start,
           l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.value AS l_value, r.value AS r_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND date_trunc('hour', l.ts) = date_trunc('hour', r.ts)
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
    doc="Row-level windowed stream-stream inner join (same key + same "
        "tumbling window), reference JoinFunction projection.",
)

_register(
    "interval_join",
    ["events"],
    stream_joins.interval_join_events,
    """
    SELECT l.user_id AS user_id,
           r.event_id AS r_event_id, r.ts AS r_ts,
           l.event_id AS l_event_id, l.ts AS l_ts,
           l.value AS l_value, r.value AS r_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.ts <= r.ts AND l.ts >= r.ts - INTERVAL 30 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    ORDER BY user_id, r_event_id, l_event_id
    """,
    doc="Time-bounded interval join (clicks in the 30 min before each "
        "purchase) — the streaming time-interval join form, batch-checked.",
)

_register(
    "count_window",
    ["events"],
    cw.count_window_sums,
    f"""
    SELECT user_id, fire_seq, n_in_window, sum_value FROM (
        SELECT user_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS fire_seq,
               CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_in_window,
               SUM({_cents('value')}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) / 100.0
                   AS sum_value
        FROM events) t
    WHERE fire_seq % 10 = 0
    ORDER BY user_id, fire_seq
    """,
    doc="Sliding count window (size 100, slide 10) — WindowWordCount.scala:45 "
        "parity; streaming twin in streaming/count_window.py.",
)

# -- round 11: the outer windowed stream-stream join.


def _rowlevel_left_join(events: DataFrame) -> DataFrame:
    clicks = events.filter(events.event_type == "click")
    purchases = events.filter(events.event_type == "purchase")
    return stream_joins.windowed_stream_join(
        clicks, purchases, how="left_outer"
    )


_register(
    "stream_join_left_outer",
    ["events"],
    _rowlevel_left_join,
    """
    SELECT l.user_id AS user_id, date_trunc('hour', l.ts) AS window_start,
           l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.value AS l_value, r.value AS r_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND date_trunc('hour', l.ts) = date_trunc('hour', r.ts)
    """,
    doc="Row-level windowed LEFT OUTER stream-stream join — the "
        "watermark-gated null-extension shape Structured Streaming "
        "supports beyond the reference's inner join; clicks with no "
        "same-window purchase survive null-extended.",
)

# -- round 12: the FULL OUTER shape completes the outer family the
# builder already accepts (streaming/joins.py windowed_stream_join,
# how="full_outer"): null extension on BOTH sides once the watermark
# closes a window — clicks with no same-window purchase AND purchases
# with no same-window click each survive exactly once.


def _rowlevel_full_join(events: DataFrame) -> DataFrame:
    clicks = events.filter(events.event_type == "click")
    purchases = events.filter(events.event_type == "purchase")
    return stream_joins.windowed_stream_join(
        clicks, purchases, how="full_outer"
    )


_register(
    "stream_join_full_outer",
    ["events"],
    _rowlevel_full_join,
    """
    SELECT COALESCE(l.user_id, r.user_id) AS user_id,
           date_trunc('hour', COALESCE(l.ts, r.ts)) AS window_start,
           l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.value AS l_value, r.value AS r_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND date_trunc('hour', l.ts) = date_trunc('hour', r.ts)
    """,
    doc="Row-level windowed FULL OUTER stream-stream join — both-side "
        "null extension (ParquetTableJoin.scala:51-59 generalized): "
        "matched pairs once, unmatched clicks right-null-extended, "
        "unmatched purchases left-null-extended. COALESCE keeps "
        "key/window non-null on extended rows, matching the Spark "
        "builder's coalesce projection.",
)

# -- round 12: Flink CEP / MATCH_RECOGNIZE / temporal-join parity. The
# reference runs on Flink, whose signature beyond-SQL features are the
# CEP pattern library (SQL MATCH_RECOGNIZE), staged funnels, and the
# temporal table join (FOR SYSTEM_TIME AS OF) — re-expressed here as
# windows + interval joins (operators/cep.py).

_register(
    "cep_pattern_match",
    ["events"],
    cep.cep_pattern_match,
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               ROW_NUMBER() OVER w AS rn,
               LEAD(event_type) OVER w AS next_type,
               LEAD(ts) OVER w AS next_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), clicks AS (
        SELECT *,
               rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
                   AS grp
        FROM seq WHERE event_type = 'click'
    ), marked AS (
        SELECT *, rn = MAX(rn) OVER (PARTITION BY user_id, grp) AS is_last
        FROM clicks
    ), runs AS (
        SELECT user_id, MIN(ts) AS run_start, MAX(ts) AS run_end,
               CAST(COUNT(*) AS BIGINT) AS n_run,
               MAX(CASE WHEN is_last THEN next_type END) AS last_next_type,
               MAX(CASE WHEN is_last THEN next_ts END) AS last_next_ts
        FROM marked GROUP BY user_id, grp
    )
    SELECT user_id, run_start, run_end, n_run,
           last_next_ts AS trigger_ts
    FROM runs
    WHERE n_run >= 2 AND last_next_type = 'purchase'
      AND last_next_ts <= run_end + INTERVAL 1 DAY
    ORDER BY user_id, run_start
    """,
    doc="MATCH_RECOGNIZE PATTERN (C{2,} P) with AFTER MATCH SKIP PAST "
        "LAST ROW: maximal consecutive click runs whose next event is "
        "a purchase within 1 day — Flink CEP's core pattern shape "
        "as gaps-and-islands + lead(), one user-keyed shuffle. The "
        "last-row lookahead uses the null-faithful is_last spelling on "
        "both sides (max_by/arg_max diverge on null lookaheads).",
)

_register(
    "cep_absence_alerts",
    ["events"],
    cep.cep_absence_alerts,
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               ROW_NUMBER() OVER w AS rn,
               LEAD(event_type) OVER w AS next_type,
               LEAD(ts) OVER w AS next_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), clicks AS (
        SELECT *,
               rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
                   AS grp
        FROM seq WHERE event_type = 'click'
    ), marked AS (
        SELECT *, rn = MAX(rn) OVER (PARTITION BY user_id, grp) AS is_last
        FROM clicks
    ), runs AS (
        SELECT user_id, MIN(ts) AS run_start, MAX(ts) AS run_end,
               CAST(COUNT(*) AS BIGINT) AS n_run,
               MAX(CASE WHEN is_last THEN next_type END) AS next_type,
               MAX(CASE WHEN is_last THEN next_ts END) AS next_ts
        FROM marked GROUP BY user_id, grp
    )
    SELECT user_id, run_start, run_end, n_run, next_type, next_ts
    FROM runs
    WHERE n_run >= 2 AND NOT COALESCE(
        next_type = 'purchase' AND next_ts <= run_end + INTERVAL 1 DAY,
        FALSE)
    ORDER BY user_id, run_start
    """,
    doc="Flink CEP notFollowedBy — ABSENCE detection: maximal click "
        "runs NOT followed by a purchase within 1 day (wrong event, "
        "too late, or silence — next_type/next_ts carried so the "
        "consumer can tell which). Exact complement of "
        "cep_pattern_match over the same run set.",
)

_register(
    "window_funnel",
    ["events"],
    cep.window_funnel,
    """
    WITH a AS (
        SELECT user_id, event_id, ts AS ts0 FROM events
        WHERE event_type = 'view'
    ), c1 AS (
        SELECT a.user_id, a.event_id, a.ts0, MIN(e.ts) AS ts1
        FROM a LEFT JOIN events e
          ON e.user_id = a.user_id AND e.event_type = 'click'
         AND e.ts > a.ts0 AND e.ts <= a.ts0 + INTERVAL 1 DAY
        GROUP BY a.user_id, a.event_id, a.ts0
    ), c2 AS (
        SELECT c1.user_id, c1.event_id, c1.ts0, c1.ts1, MIN(e.ts) AS ts2
        FROM c1 LEFT JOIN events e
          ON e.user_id = c1.user_id AND e.event_type = 'purchase'
         AND e.ts > c1.ts1 AND e.ts <= c1.ts0 + INTERVAL 1 DAY
        GROUP BY c1.user_id, c1.event_id, c1.ts0, c1.ts1
    )
    SELECT user_id,
           CAST(MAX(CASE WHEN ts2 IS NOT NULL THEN 3
                         WHEN ts1 IS NOT NULL THEN 2
                         ELSE 1 END) AS BIGINT) AS max_stage
    FROM c2 GROUP BY user_id ORDER BY user_id
    """,
    doc="ClickHouse-style windowFunnel(view->click->purchase, 1 day): "
        "deepest strictly-ordered stage chain inside one day of the "
        "anchor event, greedy-earliest per stage, max over anchors per "
        "user — staged interval joins on the user key.",
)

def _cep_streamed(spark, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``cep_pattern_match`` under the
    full correctness gate — the continuous pattern monitor Flink CEP
    exists for: the events fixture arrives as a 2-file stream, each
    batch lands its column-pruned events via the SAME ingest the SCD2
    twin rides (one raw-log state table serves every order-sensitive
    reader), and the returned frame pattern-matches the accumulated
    log — row-identical to the batch op (per-user (ts, event_id) sort
    makes batching order irrelevant), so its oracle applies verbatim.
    State torn down via the shared harness."""
    from flink_snappydata_spark.specs.llm_pipeline import (
        _stream_state_scored,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return _stream_state_scored(
        spark,
        ev,
        "cep",
        ["events"],
        stream_windows.streaming_event_log_ingest,
        cep.cep_from_state,
    )


_register(
    "temporal_dim_join",
    ["events"],
    cep.temporal_table_join,
    """
    WITH v AS (
        SELECT user_id AS vu, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to,
               props AS version_props
        FROM events WHERE event_type = 'signup'
    ), f AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase'
    )
    SELECT f.user_id AS user_id, f.event_id AS event_id, f.ts AS ts,
           v.valid_from AS version_ts, v.version_props AS version_props
    FROM f LEFT JOIN v
      ON f.user_id = v.vu AND f.ts >= v.valid_from
     AND (v.valid_to IS NULL OR f.ts < v.valid_to)
    ORDER BY event_id
    """,
    doc="Flink temporal table join (FOR SYSTEM_TIME AS OF fact time): "
        "signup events form a versioned per-user dimension (half-open "
        "validity from lead()), purchases join the version valid at "
        "their own event time, pre-first-version facts null-extended.",
)

# round 13: the general pattern BUILDER (Flink's Pattern.begin/next/
# times class) — arbitrary staged patterns with per-stage predicates
# and quantifiers, compiled to change-detection islands + lead() on
# one user-keyed shuffle. Registered instance: a three-stage pattern
# with a NON-TYPE predicate on the middle stage (click & value>=0.5).
_register(
    "cep_multi_stage",
    ["events"],
    cep.cep_funnel_pattern,
    """
    WITH staged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN stage_id IS NOT DISTINCT FROM
                  LAG(stage_id) OVER (PARTITION BY user_id ORDER BY rn)
                  THEN 0 ELSE 1 END AS new_run
        FROM staged
    ), runs AS (
        SELECT user_id, run_id, MIN(stage_id) AS stage_id,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts, MIN(rn) AS start_rn
        FROM (SELECT *, SUM(new_run) OVER (PARTITION BY user_id
                                           ORDER BY rn) AS run_id
              FROM flagged) t
        GROUP BY user_id, run_id
    ), seq AS (
        SELECT user_id, start_ts, stage_id AS s0, cnt AS c0,
               LEAD(stage_id, 1) OVER w AS s1, LEAD(cnt, 1) OVER w AS c1,
               LEAD(stage_id, 2) OVER w AS s2, LEAD(cnt, 2) OVER w AS c2,
               LEAD(end_ts, 2) OVER w AS e2
        FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY start_rn)
    )
    SELECT user_id, start_ts AS match_start, e2 AS match_end,
           c0 AS n_view, c1 AS n_click, c2 AS n_purchase
    FROM seq
    WHERE s0 = 1 AND c0 >= 1 AND s1 = 2 AND c1 >= 2 AND s2 = 3 AND c2 >= 1
    ORDER BY user_id, match_start
    """,
    doc="General CEP pattern builder instance: view{1,} "
        "(click & value>=0.5){2,} purchase{1,} under strict contiguity "
        "(Flink Pattern.begin/next with a non-type where() predicate) "
        "— first-match-wins stage labels, change-detection islands, "
        "k-run lead() conjunction; one user-keyed shuffle end-to-end.",
)

_register(
    "cep_multi_stage_relaxed",
    ["events"],
    cep.cep_funnel_pattern_relaxed,
    """
    WITH staged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id
        FROM events
    ), kept AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
        FROM staged WHERE stage_id <> -1
    ), flagged AS (
        SELECT *, CASE WHEN stage_id IS NOT DISTINCT FROM
                  LAG(stage_id) OVER (PARTITION BY user_id ORDER BY rn)
                  THEN 0 ELSE 1 END AS new_run
        FROM kept
    ), runs AS (
        SELECT user_id, run_id, MIN(stage_id) AS stage_id,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts, MIN(rn) AS start_rn
        FROM (SELECT *, SUM(new_run) OVER (PARTITION BY user_id
                                           ORDER BY rn) AS run_id
              FROM flagged) t
        GROUP BY user_id, run_id
    ), seq AS (
        SELECT user_id, start_ts, stage_id AS s0, cnt AS c0,
               LEAD(stage_id, 1) OVER w AS s1, LEAD(cnt, 1) OVER w AS c1,
               LEAD(stage_id, 2) OVER w AS s2, LEAD(cnt, 2) OVER w AS c2,
               LEAD(end_ts, 2) OVER w AS e2
        FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY start_rn)
    )
    SELECT user_id, start_ts AS match_start, e2 AS match_end,
           c0 AS n_view, c1 AS n_click, c2 AS n_purchase
    FROM seq
    WHERE s0 = 1 AND c0 >= 1 AND s1 = 2 AND c1 >= 2 AND s2 = 3 AND c2 >= 1
      AND e2 <= start_ts + INTERVAL 2 DAY
    ORDER BY user_id, match_start
    """,
    doc="The same pattern under RELAXED contiguity (Flink followedBy: "
        "irrelevant events dropped before the run cut, so they "
        "neither break runs nor separate stages) with "
        "Pattern.within(2 days) — the noise-tolerant, time-bounded "
        "alerting shape.",
)

# round 14: MATCH_RECOGNIZE front-end (verdict task 5) — Flink's SQL
# surface for CEP. The clause text compiles to the SAME stages as
# cep_multi_stage, so its oracle applies verbatim; parser rejection
# cases are pinned in tests/test_round14_ops.py.
def _match_recognize_funnel(events):
    from flink_snappydata_spark.operators.match_recognize import (
        match_recognize,
    )

    return match_recognize(
        events,
        """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (view+ click{2,} purchase+)
          DEFINE
            view AS event_type = 'view',
            click AS event_type = 'click' AND value >= 0.5,
            purchase AS event_type = 'purchase'
        )
        """,
    )


# round 14: BOUNDED quantifiers with NFA-equivalent sub-run matching
# (closes the r13 verdict's documented delta vs Flink CEP): view{1,2}
# (click & value>=0.5){1,} purchase{1,1}. An over-long view run
# matches its 2-event SUFFIX (sub_start = ts at position
# max(1, L-1)), an over-long purchase run its 1-event PREFIX, and
# emitted counts cap at the bounds; a bounded MIDDLE stage would keep
# the exact upper bound (forced consumption — no sub-run exists, in
# the engine and in Flink's NFA). Differential pin:
# tests/test_round14_ops.py (300-example hypothesis + exhaustive
# length-7 enumeration vs a reference NFA).
_register(
    "cep_bounded_subrun",
    ["events"],
    cep.cep_funnel_bounded,
    """
    WITH staged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN stage_id IS NOT DISTINCT FROM
                  LAG(stage_id) OVER (PARTITION BY user_id ORDER BY rn)
                  THEN 0 ELSE 1 END AS new_run
        FROM staged
    ), posd AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run_id
                                     ORDER BY rn) AS pos,
               COUNT(*) OVER (PARTITION BY user_id, run_id) AS run_cnt
        FROM (SELECT *, SUM(new_run) OVER (PARTITION BY user_id
                                           ORDER BY rn) AS run_id
              FROM flagged) t
    ), runs AS (
        SELECT user_id, run_id, MIN(stage_id) AS stage_id,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(rn) AS start_rn,
               MIN(CASE WHEN pos = GREATEST(1, run_cnt - 1) THEN ts END)
                   AS sub_start_ts,
               MAX(CASE WHEN pos = LEAST(run_cnt, 1) THEN ts END)
                   AS sub_end_ts
        FROM posd
        GROUP BY user_id, run_id
    ), seq AS (
        SELECT user_id, sub_start_ts, stage_id AS s0, cnt AS c0,
               LEAD(stage_id, 1) OVER w AS s1, LEAD(cnt, 1) OVER w AS c1,
               LEAD(stage_id, 2) OVER w AS s2, LEAD(cnt, 2) OVER w AS c2,
               LEAD(sub_end_ts, 2) OVER w AS e2
        FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY start_rn)
    )
    SELECT user_id, sub_start_ts AS match_start, e2 AS match_end,
           CAST(LEAST(c0, 2) AS BIGINT) AS n_view, c1 AS n_click,
           CAST(LEAST(c2, 1) AS BIGINT) AS n_purchase
    FROM seq
    WHERE s0 = 1 AND c0 >= 1 AND s1 = 2 AND c1 >= 1 AND s2 = 3 AND c2 >= 1
    ORDER BY user_id, match_start
    """,
    doc="Bounded-quantifier pattern with NFA-equivalent sub-run "
        "matching at the edges: view{1,2} (click & value>=0.5){1,} "
        "purchase{1,1} — over-long edge runs match their suffix/prefix "
        "(match boundaries move inside the run, counts cap at the "
        "bound), over-long middle runs fail exactly; one user-keyed "
        "shuffle, the sub-run boundaries ride the same partitioning.",
)

# round 14 (continuation): EXACT relaxed-contiguity NFA (Flink
# followedBy) — closes the one scoped-out CEP-parity edge. The
# merged-burst `relaxed` mode cuts maximal runs after dropping
# sentinels; the NFA additionally skips interior OTHER-STAGE events
# per partial match, so view{1,1} (click&value>=0.5){1,}
# purchase{1,1} here means: earliest view, then the FIRST qualifying
# click after it, then every qualifying click until the FIRST
# purchase, with ANY events in between — and the next match resumes
# strictly after the purchase (skip past last event). The oracle
# expresses exactly that chain as a recursive first-event-after
# recursion (structurally independent of the engine's multi-branch
# machine, which tests/test_relaxed_nfa.py pins against a third,
# keep-everything reference NFA).
_register(
    "cep_relaxed_nfa",
    ["events"],
    cep.cep_funnel_relaxed_nfa,
    """
    WITH RECURSIVE lab AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id
        FROM events
    ), chain AS (
        SELECT u.user_id, lv.v_ts, lv.v_id, lc.c_ts, lc.c_id,
               lp.p_ts, lp.p_id
        FROM (SELECT DISTINCT user_id FROM lab) u
        CROSS JOIN LATERAL (
            SELECT ts AS v_ts, event_id AS v_id FROM lab
            WHERE lab.user_id = u.user_id AND stage_id = 1
            ORDER BY ts, event_id LIMIT 1) lv
        CROSS JOIN LATERAL (
            SELECT ts AS c_ts, event_id AS c_id FROM lab
            WHERE lab.user_id = u.user_id AND stage_id = 2
              AND (ts, event_id) > (lv.v_ts, lv.v_id)
            ORDER BY ts, event_id LIMIT 1) lc
        CROSS JOIN LATERAL (
            SELECT ts AS p_ts, event_id AS p_id FROM lab
            WHERE lab.user_id = u.user_id AND stage_id = 3
              AND (ts, event_id) > (lc.c_ts, lc.c_id)
            ORDER BY ts, event_id LIMIT 1) lp
        UNION ALL
        SELECT c0.user_id, nv.v_ts, nv.v_id, nc.c_ts, nc.c_id,
               np.p_ts, np.p_id
        FROM chain c0
        CROSS JOIN LATERAL (
            SELECT ts AS v_ts, event_id AS v_id FROM lab
            WHERE lab.user_id = c0.user_id AND stage_id = 1
              AND (ts, event_id) > (c0.p_ts, c0.p_id)
            ORDER BY ts, event_id LIMIT 1) nv
        CROSS JOIN LATERAL (
            SELECT ts AS c_ts, event_id AS c_id FROM lab
            WHERE lab.user_id = c0.user_id AND stage_id = 2
              AND (ts, event_id) > (nv.v_ts, nv.v_id)
            ORDER BY ts, event_id LIMIT 1) nc
        CROSS JOIN LATERAL (
            SELECT ts AS p_ts, event_id AS p_id FROM lab
            WHERE lab.user_id = c0.user_id AND stage_id = 3
              AND (ts, event_id) > (nc.c_ts, nc.c_id)
            ORDER BY ts, event_id LIMIT 1) np
    )
    SELECT c.user_id, c.v_ts AS match_start, c.p_ts AS match_end,
           CAST(1 AS BIGINT) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lab
            WHERE lab.user_id = c.user_id AND stage_id = 2
              AND (ts, event_id) >= (c.c_ts, c.c_id)
              AND (ts, event_id) < (c.p_ts, c.p_id)) AS n_click,
           CAST(1 AS BIGINT) AS n_purchase
    FROM chain c
    ORDER BY user_id, match_start
    """,
    doc="EXACT Flink followedBy NFA (contiguity='relaxed_nfa'): "
        "view{1,1} (click & value>=0.5){1,} purchase{1,1} where each "
        "partial match skips interior other-stage events too — "
        "deterministic multi-branch machine (take/proceed/ignore "
        "forced by first-match-wins labels), O(pattern) state per "
        "branch set, Arrow-batched applyInPandas on the same one "
        "user-keyed shuffle as the declarative modes; oracle is an "
        "independent recursive first-event-after chain.",
)

# round 14 (continuation): OPTIONAL quantifier through the
# MATCH_RECOGNIZE surface — PATTERN (view+ click{0,2} purchase+),
# strict contiguity. The compiler expands interior min-0 stages into a
# disjoint realization union (click present with 1..2 events, or the
# view run IMMEDIATELY followed by the purchase run); the oracle is
# the islands SQL with the same two realizations UNION ALL'd — at most
# one can hold at a given start run (the run after the view run is
# either click-labeled or purchase-labeled), so the union is exact.
def _match_recognize_optional(events):
    from flink_snappydata_spark.operators.match_recognize import (
        match_recognize,
    )

    return match_recognize(
        events,
        """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (view+ click{0,2} purchase+)
          DEFINE
            view AS event_type = 'view',
            click AS event_type = 'click' AND value >= 0.5,
            purchase AS event_type = 'purchase'
        )
        """,
    )


_register(
    "match_recognize_optional",
    ["events"],
    _match_recognize_optional,
    """
    WITH staged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN stage_id IS NOT DISTINCT FROM
                  LAG(stage_id) OVER (PARTITION BY user_id ORDER BY rn)
                  THEN 0 ELSE 1 END AS new_run
        FROM staged
    ), runs AS (
        SELECT user_id, run_id, MIN(stage_id) AS stage_id,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts, MIN(rn) AS start_rn
        FROM (SELECT *, SUM(new_run) OVER (PARTITION BY user_id
                                           ORDER BY rn) AS run_id
              FROM flagged) t
        GROUP BY user_id, run_id
    ), seq AS (
        SELECT user_id, start_ts, stage_id AS s0, cnt AS c0,
               LEAD(stage_id, 1) OVER w AS s1, LEAD(cnt, 1) OVER w AS c1,
               LEAD(stage_id, 2) OVER w AS s2, LEAD(cnt, 2) OVER w AS c2,
               LEAD(end_ts, 1) OVER w AS e1, LEAD(end_ts, 2) OVER w AS e2
        FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY start_rn)
    )
    SELECT user_id, start_ts AS match_start, e2 AS match_end,
           c0 AS n_view, c1 AS n_click, c2 AS n_purchase
    FROM seq
    WHERE s0 = 1 AND c0 >= 1 AND s1 = 2 AND c1 BETWEEN 1 AND 2
      AND s2 = 3 AND c2 >= 1
    UNION ALL
    SELECT user_id, start_ts AS match_start, e1 AS match_end,
           c0 AS n_view, CAST(0 AS BIGINT) AS n_click, c1 AS n_purchase
    FROM seq
    WHERE s0 = 1 AND c0 >= 1 AND s1 = 3 AND c1 >= 1
    ORDER BY user_id, match_start
    """,
    doc="MATCH_RECOGNIZE optional quantifier: PATTERN (view+ "
        "click{0,2} purchase+) under strict contiguity — the compiler "
        "expands the interior min-0 stage into a disjoint realization "
        "union (skipped stages emit count 0), sharing the runs frame "
        "and the single user-keyed shuffle; pinned exhaustively vs the "
        "reference NFA (tests/test_relaxed_nfa.py, 1365 label "
        "sequences in one differential frame).",
)

# MATCH_RECOGNIZE row-pattern NAVIGATION (SQL standard PREV()): the
# canonical ascending-run pattern every MATCH_RECOGNIZE tutorial
# opens with. Under strict contiguity PREV(row) == the match's
# previously consumed event, so the clause compiles to the strict
# MACHINE mode (contiguity="strict_nfa" — per-branch rel state; the
# islands compiler cannot express per-branch consumability). The
# oracle is pure islands SQL: run breaks wherever the event is not a
# click strictly above its predecessor, and a match is a run whose
# break row is a view with at least one continuation.
def _match_recognize_prev(events):
    from flink_snappydata_spark.operators.match_recognize import (
        match_recognize,
    )

    return match_recognize(
        events,
        """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v ascend+)
          DEFINE
            v AS event_type = 'view',
            ascend AS event_type = 'click'
                      AND ascend.value > PREV(ascend.value)
        )
        """,
    )


_register(
    "match_recognize_prev",
    ["events"],
    _match_recognize_prev,
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN event_type = 'click'
                         AND value > LAG(value) OVER w
                    THEN 0 ELSE 1 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
        FROM seq
    )
    SELECT user_id, MIN(ts) AS match_start, MAX(ts) AS match_end,
           CAST(1 AS BIGINT) AS n_v,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_ascend
    FROM runs
    GROUP BY user_id, run_id
    HAVING MIN(CASE WHEN brk = 1 THEN event_type END) = 'view'
       AND COUNT(*) >= 2
    ORDER BY user_id, match_start
    """,
    doc="SQL-standard MATCH_RECOGNIZE navigation: PATTERN (v ascend+) "
        "DEFINE ascend AS click AND value > PREV(value) — strictly "
        "ascending click runs right after a view. PREV() compiles to a "
        "per-branch ('prev', op) rel on the strict machine mode; the "
        "oracle is break-flag islands SQL (LAG over the full per-user "
        "sequence).",
)

# MATCH_RECOGNIZE MEASURES: per-match value captures (FIRST/LAST of a
# variable, COUNT(var.*)) appended as output columns — the same
# ascending pattern as match_recognize_prev, now also reporting the
# run's first/peak click values. Captures ride the machine's
# (firsts, lasts) per-branch state; the oracle reads them off the
# islands runs with positional CASE/arg_max.
def _match_recognize_measures(events):
    from flink_snappydata_spark.operators.match_recognize import (
        match_recognize,
    )

    return match_recognize(
        events,
        """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(ascend.value) AS first_up,
                   LAST(ascend.value) AS peak,
                   COUNT(ascend.*) AS n_up
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (v ascend+)
          DEFINE
            v AS event_type = 'view',
            ascend AS event_type = 'click'
                      AND ascend.value > PREV(ascend.value)
        )
        """,
    )


_register(
    "match_recognize_measures",
    ["events"],
    _match_recognize_measures,
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN event_type = 'click'
                         AND value > LAG(value) OVER w
                    THEN 0 ELSE 1 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
        FROM seq
    ), pos AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run_id
                                     ORDER BY ts, event_id) AS rn_in_run
        FROM runs
    )
    SELECT user_id, MIN(ts) AS match_start, MAX(ts) AS match_end,
           CAST(1 AS BIGINT) AS n_v,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_ascend,
           MAX(CASE WHEN rn_in_run = 2 THEN value END) AS first_up,
           ARG_MAX(value, rn_in_run) AS peak,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_up
    FROM pos
    GROUP BY user_id, run_id
    HAVING MIN(CASE WHEN brk = 1 THEN event_type END) = 'view'
       AND COUNT(*) >= 2
    ORDER BY user_id, match_start
    """,
    doc="MATCH_RECOGNIZE MEASURES (FIRST/LAST/COUNT captures as output "
        "columns) on the ascending-run navigation pattern — per-match "
        "value state the islands compiler cannot emit; oracle reads "
        "the captures off the break-flag runs positionally.",
)

# ITERATIVE CONDITION (Flink IterativeCondition — where() clauses that
# read ctx.getEventsForPattern): each consumed click must beat ITS OWN
# match's view value, a per-branch comparison no precomputed label can
# express. Rel-failing events are invisible (relaxed skip, not a run
# close). A low-valued view's branch may never complete while a later
# view's does, so the oracle picks the earliest-COMPLETING candidate
# per recursive step (min by purchase, then view position) — the
# machine's emission rule, NOT first-view-wins.
_register(
    "cep_iterative_condition",
    ["events"],
    cep.cep_funnel_iterative,
    """
    WITH RECURSIVE lab AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id
        FROM events
    ), chain AS (
        SELECT user_id,
               CAST(NULL AS TIMESTAMP) AS v_ts, CAST(NULL AS BIGINT) AS v_id,
               CAST(NULL AS DOUBLE) AS v_val,
               CAST(NULL AS TIMESTAMP) AS c_ts, CAST(NULL AS BIGINT) AS c_id,
               TIMESTAMP '1900-01-01' AS p_ts, CAST(-1 AS BIGINT) AS p_id
        FROM (SELECT DISTINCT user_id FROM lab)
        UNION ALL
        SELECT c0.user_id, m.v_ts, m.v_id, m.v_val, m.c_ts, m.c_id,
               m.p_ts, m.p_id
        FROM chain c0
        CROSS JOIN LATERAL (
            SELECT v.ts AS v_ts, v.event_id AS v_id, v.value AS v_val,
                   lc.c_ts, lc.c_id, lp.p_ts, lp.p_id
            FROM lab v
            CROSS JOIN LATERAL (
                SELECT ts AS c_ts, event_id AS c_id FROM lab
                WHERE lab.user_id = v.user_id AND stage_id = 2
                  AND lab.value > v.value
                  AND (ts, event_id) > (v.ts, v.event_id)
                ORDER BY ts, event_id LIMIT 1) lc
            CROSS JOIN LATERAL (
                SELECT ts AS p_ts, event_id AS p_id FROM lab
                WHERE lab.user_id = v.user_id AND stage_id = 3
                  AND (ts, event_id) > (lc.c_ts, lc.c_id)
                ORDER BY ts, event_id LIMIT 1) lp
            WHERE v.user_id = c0.user_id AND v.stage_id = 1
              AND (v.ts, v.event_id) > (c0.p_ts, c0.p_id)
            ORDER BY lp.p_ts, lp.p_id, v.ts, v.event_id LIMIT 1
        ) m
    )
    SELECT c.user_id, c.v_ts AS match_start, c.p_ts AS match_end,
           CAST(1 AS BIGINT) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lab
            WHERE lab.user_id = c.user_id AND stage_id = 2
              AND lab.value > c.v_val
              AND (ts, event_id) >= (c.c_ts, c.c_id)
              AND (ts, event_id) < (c.p_ts, c.p_id)) AS n_click,
           CAST(1 AS BIGINT) AS n_purchase
    FROM chain c WHERE c.v_ts IS NOT NULL
    ORDER BY user_id, match_start
    """,
    doc="Flink IterativeCondition on the exact followedBy NFA: "
        "view{1,1} (click & value>=0.5 & value > first(view).value){1,} "
        "purchase{1,1} — the rel comparison runs per BRANCH at "
        "consumption (rel-failing events invisible); oracle = the "
        "recursive chain with an earliest-completing-candidate winner "
        "per step.",
)

# AFTER MATCH SKIP TO NEXT (Flink AfterMatchSkipStrategy.skipToNext):
# every start position emits its own earliest completion, overlapping
# matches allowed. Deterministic branches are independent, so the
# oracle needs no recursion — one lateral chain per view.
_register(
    "cep_relaxed_nfa_skiptonext",
    ["events"],
    cep.cep_funnel_relaxed_nfa_all,
    """
    WITH lab AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id
        FROM events
    )
    SELECT v.user_id, v.ts AS match_start, lp.p_ts AS match_end,
           CAST(1 AS BIGINT) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lab x
            WHERE x.user_id = v.user_id AND x.stage_id = 2
              AND (x.ts, x.event_id) >= (lc.c_ts, lc.c_id)
              AND (x.ts, x.event_id) < (lp.p_ts, lp.p_id)) AS n_click,
           CAST(1 AS BIGINT) AS n_purchase
    FROM lab v
    CROSS JOIN LATERAL (
        SELECT ts AS c_ts, event_id AS c_id FROM lab
        WHERE lab.user_id = v.user_id AND stage_id = 2
          AND (ts, event_id) > (v.ts, v.event_id)
        ORDER BY ts, event_id LIMIT 1) lc
    CROSS JOIN LATERAL (
        SELECT ts AS p_ts, event_id AS p_id FROM lab
        WHERE lab.user_id = v.user_id AND stage_id = 3
          AND (ts, event_id) > (lc.c_ts, lc.c_id)
        ORDER BY ts, event_id LIMIT 1) lp
    WHERE v.stage_id = 1
    ORDER BY user_id, match_start
    """,
    doc="AFTER MATCH SKIP TO NEXT on the exact followedBy NFA: every "
        "view emits its own earliest completion (overlapping matches "
        "allowed — Flink skipToNext); branches are independent, so "
        "the oracle is one non-recursive lateral chain per view.",
)

# The within variant: Flink Pattern.within as PARTIAL-MATCH PRUNING
# (exact semantics — a branch whose window expires mid-pattern is
# discarded, so a later view can win a match the other modes'
# post-filter contract would drop). The oracle's recursive step picks
# the earliest-completing candidate (min by purchase ts, then view ts)
# among views after the previous match whose click AND purchase both
# land inside the view's 5-day window — exactly the machine's
# earliest-completion-earliest-start winner, valid here because stage
# predicates chain monotonically (first-click/first-purchase are
# non-decreasing in the view).
_register(
    "cep_relaxed_nfa_within",
    ["events"],
    cep.cep_funnel_relaxed_nfa_within,
    """
    WITH RECURSIVE lab AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 1
                    WHEN event_type = 'click' AND value >= 0.5 THEN 2
                    WHEN event_type = 'purchase' THEN 3
                    ELSE -1 END AS stage_id
        FROM events
    ), chain AS (
        SELECT user_id,
               CAST(NULL AS TIMESTAMP) AS v_ts, CAST(NULL AS BIGINT) AS v_id,
               CAST(NULL AS TIMESTAMP) AS c_ts, CAST(NULL AS BIGINT) AS c_id,
               TIMESTAMP '1900-01-01' AS p_ts, CAST(-1 AS BIGINT) AS p_id
        FROM (SELECT DISTINCT user_id FROM lab)
        UNION ALL
        SELECT c0.user_id, m.v_ts, m.v_id, m.c_ts, m.c_id, m.p_ts, m.p_id
        FROM chain c0
        CROSS JOIN LATERAL (
            SELECT v.ts AS v_ts, v.event_id AS v_id,
                   lc.c_ts, lc.c_id, lp.p_ts, lp.p_id
            FROM lab v
            CROSS JOIN LATERAL (
                SELECT ts AS c_ts, event_id AS c_id FROM lab
                WHERE lab.user_id = v.user_id AND stage_id = 2
                  AND (ts, event_id) > (v.ts, v.event_id)
                  AND ts <= v.ts + INTERVAL 5 DAY
                ORDER BY ts, event_id LIMIT 1) lc
            CROSS JOIN LATERAL (
                SELECT ts AS p_ts, event_id AS p_id FROM lab
                WHERE lab.user_id = v.user_id AND stage_id = 3
                  AND (ts, event_id) > (lc.c_ts, lc.c_id)
                  AND ts <= v.ts + INTERVAL 5 DAY
                ORDER BY ts, event_id LIMIT 1) lp
            WHERE v.user_id = c0.user_id AND v.stage_id = 1
              AND (v.ts, v.event_id) > (c0.p_ts, c0.p_id)
            ORDER BY lp.p_ts, lp.p_id, v.ts, v.event_id LIMIT 1
        ) m
    )
    SELECT c.user_id, c.v_ts AS match_start, c.p_ts AS match_end,
           CAST(1 AS BIGINT) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lab
            WHERE lab.user_id = c.user_id AND stage_id = 2
              AND (ts, event_id) >= (c.c_ts, c.c_id)
              AND (ts, event_id) < (c.p_ts, c.p_id)) AS n_click,
           CAST(1 AS BIGINT) AS n_purchase
    FROM chain c WHERE c.v_ts IS NOT NULL
    ORDER BY user_id, match_start
    """,
    doc="cep_relaxed_nfa + Pattern.within(5 days) with Flink's "
        "partial-match pruning (not a post-filter): a timed-out "
        "partial is discarded in-fold and a later start can win the "
        "match; the pruning doubles as live-state reclamation "
        "(per-key state bounded by one window's events). Oracle: the "
        "recursive chain with window constraints and an "
        "earliest-completion winner per step.",
)

_register(
    "match_recognize_funnel",
    ["events"],
    _match_recognize_funnel,
    QUERIES["cep_multi_stage"].oracle,
    doc="SQL MATCH_RECOGNIZE surface (Flink's CEP-to-SQL bridge): "
        "PATTERN (view+ click{2,} purchase+) with DEFINE conditions, "
        "parsed to the same PatternStage spec as cep_multi_stage and "
        "compiled by the same builder — clause text in, islands plan "
        "out; shares cep_multi_stage's oracle verbatim.",
)

from flink_snappydata_spark.specs.base import QUERIES, QuerySpec  # noqa: E402

QUERIES["cep_streamed"] = QuerySpec(
    fn=_cep_streamed,
    oracle=QUERIES["cep_pattern_match"].oracle,
    doc="Streaming CEP monitor (14th stream→table loop): column-pruned "
        "events land per micro-batch into the same raw-log state shape "
        "the SCD2 twin maintains (matches are order-sensitive, so the "
        "log is the minimal sufficient state), pattern match at read — "
        "the continuous alerting loop Flink CEP exists for.",
)


def _absence_streamed(spark, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``cep_absence_alerts``: the
    notFollowedBy ALERT set (wrong event, late trigger, or trailing
    silence of the bounded stream) over the accumulated raw log —
    row-identical to the batch op after the drain, so its oracle
    applies verbatim."""
    from flink_snappydata_spark.specs.llm_pipeline import (
        _stream_state_scored,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return _stream_state_scored(
        spark,
        ev,
        "absence",
        ["events"],
        stream_windows.streaming_event_log_ingest,
        cep.cep_absence_from_state,
    )


QUERIES["absence_streamed"] = QuerySpec(
    fn=_absence_streamed,
    oracle=QUERIES["cep_absence_alerts"].oracle,
    doc="Streaming absence monitor (17th stream→table loop): the "
        "notFollowedBy complement read off the same raw-log state "
        "shape as the CEP match twin.",
)


def _multistage_streamed(spark, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``cep_multi_stage``: the general
    pattern builder's registered instance over an accumulated raw log
    landed WITH the value column (the middle stage's non-type
    predicate needs it) — the one loop whose state projection differs
    from the SCD2 shape, exercising streaming_event_log_ingest's
    column parameter."""
    from flink_snappydata_spark.specs.llm_pipeline import (
        _stream_state_scored,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return _stream_state_scored(
        spark,
        ev,
        "mstage",
        ["events"],
        lambda stream, name, checkpoint: stream_windows.streaming_event_log_ingest(
            stream,
            name,
            checkpoint=checkpoint,
            columns=("user_id", "event_id", "ts", "event_type", "value"),
        ),
        cep.cep_multistage_from_state,
    )


QUERIES["multistage_streamed"] = QuerySpec(
    fn=_multistage_streamed,
    oracle=QUERIES["cep_multi_stage"].oracle,
    doc="Streaming multi-stage pattern monitor (18th stream→table "
        "loop): the general pattern builder's registered instance "
        "folded at read over a value-carrying raw log.",
)


def _nfa_streamed(spark, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``cep_relaxed_nfa`` (19th loop):
    the exact followedBy NFA folded at read over the same
    value-carrying raw log shape the multi-stage twin lands —
    relaxed skipping makes interior gaps first-class, so a later
    batch landing between consumed events can change the winning
    branch; raw events are the minimal sufficient state and the
    batch query's recursive oracle applies verbatim."""
    from flink_snappydata_spark.specs.llm_pipeline import (
        _stream_state_scored,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return _stream_state_scored(
        spark,
        ev,
        "nfa",
        ["events"],
        lambda stream, name, checkpoint: stream_windows.streaming_event_log_ingest(
            stream,
            name,
            checkpoint=checkpoint,
            columns=("user_id", "event_id", "ts", "event_type", "value"),
        ),
        cep.cep_nfa_from_state,
    )


QUERIES["nfa_streamed"] = QuerySpec(
    fn=_nfa_streamed,
    oracle=QUERIES["cep_relaxed_nfa"].oracle,
    doc="Streaming exact-NFA pattern monitor (19th stream→table "
        "loop): cep_relaxed_nfa folded at read over the "
        "value-carrying raw log.",
)


def _topn_streamed(spark, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of the continuous Top-N query
    (Flink SQL's streaming Top-N): per-batch per-group top-N partials
    land (mergeable — any global top-N row ranks <= N in its own
    batch), re-rank at read. State torn down via the shared harness."""
    from flink_snappydata_spark.specs.llm_pipeline import (
        _stream_state_scored,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return _stream_state_scored(
        spark,
        ev,
        "topn",
        ["partials"],
        stream_windows.streaming_topn_ingest,
        stream_windows.topn_from_state,
    )


QUERIES["topn_streamed"] = QuerySpec(
    fn=_topn_streamed,
    oracle="""
    SELECT event_type, rank, event_id, value FROM (
        SELECT event_type, event_id, value,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY value DESC, event_id)
                    AS BIGINT) AS rank
        FROM events) t
    WHERE rank <= 10 ORDER BY event_type, rank
    """,
    doc="Continuous exact Top-N per group (15th stream→table loop): "
        "per-batch top-N partials are a mergeable summary (containment "
        "proof in topn_partials), so the read-side re-rank equals "
        "ranking the raw stream — Flink's streaming Top-N shape.",
)


def _quantiles_streamed(spark, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of the percentile family: per-batch
    cent-value histograms land (counts add), inverse-CDF quantiles off
    the merged cumulative distribution at read — EXACT over the
    2-decimal value domain, no sketch bound to argue. State torn down
    via the shared harness."""
    from flink_snappydata_spark.specs.llm_pipeline import (
        _stream_state_scored,
    )

    ev = load_table(spark, sf_dir, "events").select("value")
    return _stream_state_scored(
        spark,
        ev,
        "qtl",
        ["hist"],
        stream_windows.streaming_quantiles_ingest,
        stream_windows.quantiles_from_state,
    )


QUERIES["quantiles_streamed"] = QuerySpec(
    fn=_quantiles_streamed,
    oracle=f"""
    WITH c AS (
        SELECT {_cents('value')} AS v, COUNT(*) AS n FROM events GROUP BY 1
    ), t AS (
        SELECT v, SUM(n) OVER (ORDER BY v) AS cum, SUM(n) OVER () AS tot
        FROM c
    ), qs AS (
        SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q
    )
    SELECT q, MIN(v) / 100.0 AS value
    FROM t, qs WHERE cum >= q * tot GROUP BY q ORDER BY q
    """,
    doc="Continuous exact quantile monitor (16th stream→table loop): "
        "mergeable cent-histogram state (domain-bounded, not "
        "event-bounded), standard inverse-CDF lower quantile at read — "
        "exact, so the oracle hash-checks values.",
)
