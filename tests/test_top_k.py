"""``util.top_k`` — the engine's one per-group top-k — against a
pure-Python reference, plus the plan shapes its scale argument rests
on: a partial ``WindowGroupLimit`` below the exchange with a group, a
``TakeOrderedAndProject`` without one, and the plain window past
Spark's window-group-limit threshold.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from flink_snappydata_spark.plans.inspect import formatted_plan
from flink_snappydata_spark.util import top_k

SCHEMA = "g string, h int, s long, id long"
COLS = ["g", "h", "s", "id"]


def _reference(rows, group, k):
    """Rows of each group under (s desc, id asc), the first ``k`` of
    each, as {(group key, rank): id}."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(tuple(r[COLS.index(c)] for c in group), []).append(r)
    out = {}
    for key, rs in groups.items():
        rs.sort(key=lambda r: (-r[2], r[3]))
        for rank, r in enumerate(rs[:k], start=1):
            out[(key, rank)] = r[3]
    return out


_MIXED = [
    ("a", 1, 5, 10), ("a", 1, 9, 11), ("a", 2, 7, 12), ("a", 2, 1, 13),
    ("b", 1, 3, 20), ("b", 1, 8, 21), ("b", 1, 6, 22),
    ("c", 2, 4, 30),
]

CASES = {
    "several_groups": (_MIXED, ["g"], 2),
    "two_group_columns": (_MIXED, ["g", "h"], 1),
    "score_ties_break_on_id": (
        [("a", 1, 5, i) for i in (14, 3, 9, 1, 7)] + [("b", 1, 5, 2), ("b", 1, 5, 0)],
        ["g"],
        3,
    ),
    "k_at_least_group_size": (_MIXED, ["g"], 10),
    "empty_group_is_global": (_MIXED, [], 3),
    "empty_input": ([], ["g"], 2),
}


@pytest.mark.parametrize("rank", [None, "rnk"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_top_k_matches_reference(spark, case, rank):
    rows, group, k = CASES[case]
    df = spark.createDataFrame(rows, SCHEMA)
    got_df = top_k(df, group, [F.col("s").desc(), F.col("id").asc()], k, rank=rank)
    want = _reference(rows, group, k)
    got = got_df.collect()
    assert sorted(r.id for r in got) == sorted(want.values())
    if rank is None:
        assert got_df.columns == COLS
        return
    assert got_df.columns == COLS + ["rnk"]
    assert dict(got_df.dtypes)["rnk"] == "bigint"
    assert {
        (tuple(r[c] for c in group), r.rnk): r.id for r in got
    } == want


def _details(plan: str) -> dict[int, str]:
    """Node id → that node's detail block of a formatted plan."""
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    return {
        int(m.group(1)): b
        for b in blocks
        if (m := re.match(r"\((\d+)\) ", b))
    }


def _ranked(spark):
    return spark.range(0, 2000).select(
        (F.col("id") % 7).alias("g"), ((F.col("id") * 37) % 101).alias("s"), "id"
    )


def test_grouped_top_k_limits_before_the_exchange(spark):
    """Formatted-plan node ids number a chain leaf first, so the
    partial limit sits below the exchange when its id is smaller."""
    df = top_k(_ranked(spark), ["g"], [F.col("s").desc(), "id"], 3, rank="r")
    nodes = _details(formatted_plan(df))
    exchanges = [i for i, b in nodes.items() if b.startswith(f"({i}) Exchange")]
    limits = {
        mode: [
            i for i, b in nodes.items()
            if b.startswith(f"({i}) WindowGroupLimit") and f"3, {mode}" in b
        ]
        for mode in ("Partial", "Final")
    }
    assert len(exchanges) == 1, nodes
    assert len(limits["Partial"]) == 1 and len(limits["Final"]) == 1, nodes
    assert limits["Partial"][0] < exchanges[0] < limits["Final"][0]


def test_global_top_k_is_take_ordered(spark):
    df = top_k(_ranked(spark), [], [F.col("s").desc(), "id"], 3)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" not in plan
    assert len(df.collect()) == 3


@pytest.mark.parametrize(
    "threshold, limited", [("2", True), ("1", False), ("-1", False)]
)
def test_top_k_around_the_group_limit_threshold(spark, threshold, limited):
    """Up to ``windowGroupLimitThreshold`` (k = 2 here) a grouped top-k
    gets the partial limit; past it, and with the rule off at -1, it is
    the plain window, same rows. A global one stays
    ``TakeOrderedAndProject``."""
    rows, group, k = CASES["several_groups"]
    order = [F.col("s").desc(), F.col("id").asc()]
    df = spark.createDataFrame(rows, SCHEMA)
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    spark.conf.set(key, threshold)
    try:
        grouped = top_k(df, group, order, k, rank="r")
        plan = formatted_plan(grouped)
        assert (f"row_number(), {k}, Partial" in plan) == limited
        assert {
            ((r.g,), r.r): r.id for r in grouped.collect()
        } == _reference(rows, group, k)
        top = top_k(df, [], order, k, rank="r")
        assert "TakeOrderedAndProject" in formatted_plan(top)
        assert {((), r.r): r.id for r in top.collect()} == _reference(rows, [], k)
    finally:
        spark.conf.unset(key)
