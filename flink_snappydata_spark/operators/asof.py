"""As-of (point-in-time) join — a training-pipeline staple Spark lacks
as a built-in.

The reference joins two event streams only within the *same* tumbling
window (reference ``ParquetTableJoin.scala:51-59``); an as-of join is
the stronger primitive: each right-side row matches the latest left-side
row at-or-before its timestamp. Implemented as a union + keyed window
scan — one shuffle on the key, no range cross-product:

1. tag both sides, union them (schema aligned by name);
2. total-order each key's timeline by (ts, left-first, event_id);
3. ``last(left_value, ignorenulls=True)`` over an unbounded-preceding
   frame carries the most recent left row forward;
4. keep right rows; matched left columns ride along.

Scale: one hash shuffle on the join key; state per row is O(1) (the
running "last left row"), versus the O(window²) buffering of an
interval-join formulation. Skewed keys can be salted upstream; the
window scan itself is a single ordered pass per key partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_events(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """For each ``right_type`` event: the latest ``left_type`` event of
    the same user at-or-before it (``>=`` semantics — a left event with
    the same timestamp matches, as it sorts first).

    Output: one row per right event, with the matched left event id /
    ts / value (nulls when no left event precedes it).
    """
    tagged = events.filter(F.col("event_type").isin(left_type, right_type)).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("event_type") == left_type).cast("int").alias("is_left"),
    )
    # Total order per user: time, left-before-right on ties, then the
    # unique event id — deterministic at any parallelism.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_left").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def carry(col: str, alias: str):
        return F.last(
            F.when(F.col("is_left") == 1, F.col(col)), ignorenulls=True
        ).over(w).alias(alias)

    return (
        tagged.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            "is_left",
            carry("event_id", "left_event_id"),
            carry("ts", "left_ts"),
            carry("value", "left_value"),
        )
        .filter(F.col("is_left") == 0)
        .select(
            "user_id",
            F.col("event_id").alias("right_event_id"),
            F.col("ts").alias("right_ts"),
            F.col("value").alias("right_value"),
            "left_event_id",
            "left_ts",
            "left_value",
        )
        .orderBy("user_id", "right_ts", "right_event_id")
    )

