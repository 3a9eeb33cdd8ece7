"""``util.block_pairs`` — the near-dup family's one in-block pair
emitter — against a pure-Python reference, plus the structural pin
that its callers pair rows inside blocks instead of self-joining a
persisted frame.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations

import pytest

from flink_snappydata_spark import registry
from flink_snappydata_spark.util import block_pairs, release_caches
from tests.conftest import SF_SMOKE

SCHEMA = "k1 int, k2 string, id long, x string, y double"


def _reference(rows, key_idx, id_idx, payload_idx, is_member=None):
    """Every pair of rows sharing a block key, lesser id first, as
    ((id, *payload), (id, *payload)) — one entry per shared block;
    with ``is_member``, only pairs whose greater-id row is a member."""
    blocks: dict = {}
    for r in rows:
        blocks.setdefault(tuple(r[i] for i in key_idx), []).append(
            (tuple(r[i] for i in (id_idx, *payload_idx)), r)
        )
    out = Counter()
    for rs in blocks.values():
        for x, y in combinations(rs, 2):
            (a, _), (b, rb) = sorted((x, y), key=lambda t: t[0][0])
            if is_member is None or is_member(rb):
                out[(a, b)] += 1
    return out


CASES = {
    "singleton_blocks_emit_nothing": (
        [(1, "u", 1, "p", 0.5), (2, "u", 2, "q", 1.5), (3, "v", 3, "r", 2.5)],
        ["k1"],
        (),
    ),
    "pair_sharing_two_keys_emitted_per_key": (
        [
            (1, "u", 1, "p", 0.5), (1, "u", 2, "q", 1.5),
            (2, "u", 1, "p", 0.5), (2, "u", 2, "q", 1.5),
            (3, "u", 3, "r", 2.5),
        ],
        ["k1"],
        (),
    ),
    "payload_arrives_on_both_ends": (
        [
            (1, "u", 7, "p", 0.5), (1, "u", 3, "q", 1.5),
            (1, "v", 5, "r", 2.5), (1, "v", 9, None, -1.0),
        ],
        ["k1", "k2"],
        ("x", "y"),
    ),
    "empty_input": ([], ["k1"], ("x",)),
    "members_only_on_the_b_side": (
        [(1, "u", i, "v" if i % 3 else "m", float(i)) for i in range(1, 9)]
        + [(2, "u", 1, "m", 1.0), (2, "u", 2, "v", 2.0), (2, "u", 3, "v", 3.0)],
        ["k1"],
        ("x",),
        "x.x = 'm'",
    ),
    "no_row_meets_itself": (
        [(0, "u", i, f"s{i}", float(i)) for i in (4, 1, 3, 2)]
        + [(1, "u", 2, "s2", 2.0)],
        ["k1", "k2"],
        ("x",),
    ),
}

COLS = ["k1", "k2", "id", "x", "y"]


@pytest.mark.parametrize("case", sorted(CASES))
def test_block_pairs_matches_reference(spark, case):
    rows, keys, payload, *members = CASES[case]
    got_df = block_pairs(
        spark.createDataFrame(rows, SCHEMA), keys, "id", *payload,
        members=members[0] if members else None,
    )
    assert got_df.columns == ["a", "b"]
    got = Counter((tuple(r.a), tuple(r.b)) for r in got_df.collect())
    want = _reference(
        rows,
        [COLS.index(k) for k in keys],
        COLS.index("id"),
        [COLS.index(p) for p in payload],
        (lambda r: r[COLS.index("x")] == "m") if members else None,
    )
    assert got == want
    assert all(a[0] < b[0] for a, b in got)
    if case in ("singleton_blocks_emit_nothing", "empty_input"):
        assert not got
    if case == "pair_sharing_two_keys_emitted_per_key":
        assert got[((1,), (2,))] == 2
    if members:
        assert got and all(b[1] == "m" for _, b in got)
        assert any(a[1] == "v" for a, _ in got)


def _join_sides_share_cache(spark, df) -> list[str]:
    """Joins in ``df``'s physical plan whose two children both scan the
    same cached relation (an ``InMemoryRelation``, i.e. a persisted
    frame) without an aggregate in between — a self-join of the
    persisted rows. A side that reaches the relation only through an
    aggregate (a posting list, a count) is not a self-join."""
    identity = spark._jvm.java.lang.System.identityHashCode

    def children(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def caches(node) -> set[int]:
        name = node.nodeName()
        if "Aggregate" in name:
            return set()
        if name == "InMemoryTableScan":
            return {identity(node.relation().cacheBuilder())}
        return set().union(*map(caches, children(node)))

    found = []

    def walk(node):
        kids = children(node)
        if "Join" in node.nodeName() or "CartesianProduct" in node.nodeName():
            if len(kids) == 2 and caches(kids[0]) & caches(kids[1]):
                found.append(node.simpleString(200))
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().sparkPlan())
    return found


#: ``dedup_minhash`` is not here: its band buckets stay on a self-join
#: of the persisted band table (most buckets are singletons, where a
#: posting list per bucket measured slower than the join).
BLOCK_PAIRS_QUERIES = [
    "ann_lsh_neardup",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "itemset_pairs",
    "source_contamination",
    "winnowing_pairs",
]


@pytest.mark.parametrize("name", BLOCK_PAIRS_QUERIES)
def test_block_pairs_callers_never_self_join_a_persist(spark, name):
    """Under AQE a subtree that reads a cached relation is never
    reused, so a join of a persisted frame with itself runs that
    frame's subtree on both sides. The callers of block_pairs pair
    rows inside posting lists instead; none of their plans may join a
    persisted frame's rows with themselves."""
    release_caches()
    spark.catalog.clearCache()
    try:
        df = registry.queries()[name](spark, SF_SMOKE)
        assert _join_sides_share_cache(spark, df) == []
    finally:
        release_caches()
        spark.catalog.clearCache()
