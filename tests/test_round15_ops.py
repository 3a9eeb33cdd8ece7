"""Round-15 (optimization round 2) equivalence pins.

Every optimization this round that adds a fast path or restructures an
operator's internals gets a direct equivalence test here: the fast
path and the original distributed path must produce IDENTICAL rows on
the same input — the oracle-contract discipline (a declared query's
hash may never move).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from flink_snappydata_spark.pipeline import dedup as D
from flink_snappydata_spark.pipeline import similarity as S
from flink_snappydata_spark.pipeline import text as T
from flink_snappydata_spark.util import cell_prefix_sums


# ---------------------------------------------------------------------------
# bpe_merges: driver-local merge fold == distributed vocab-frame loop
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcde", min_size=1, max_size=8)
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=8), st.integers(1, 6))
def test_bpe_driver_fold_matches_distributed_loop(spark, docs, n_merges):
    """The bounded-vocab driver fold must be bit-identical to the
    distributed merge loop: same winners, same tie-breaks, same
    two-pass replace semantics — on corpora tuned to produce heavy
    pair ties and same-letter runs (alphabet of 5, short words)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    # hypothesis reruns the body per example, so the function-scoped
    # monkeypatch fixture cannot be used; a context undoes each example.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(T, "BPE_DRIVER_VOCAB_MAX", 1 << 16)
        fast = [tuple(r) for r in T.bpe_merges(df, n_merges).collect()]
        mp.setattr(T, "BPE_DRIVER_VOCAB_MAX", 0)  # force the distributed loop
        slow = [tuple(r) for r in T.bpe_merges(df, n_merges).collect()]
    assert fast == slow


# ---------------------------------------------------------------------------
# cell_prefix_sums: the one probe -> naive window / value-cell prefix
# primitive behind quality_auc, ccnet_buckets and five more queries
# ---------------------------------------------------------------------------

# (group, DOUBLE order value, tiebreak id, summand): negative and
# fractional values, ties inside a group broken only by the id, a
# single-row group, and an all-equal group.
_PREFIX_ROWS = [
    ("en", -1.0, 7, 3),
    ("en", 0.25, 2, 5),
    ("en", 0.25, 1, 11),
    ("en", 0.125, 9, 1),
    ("en", 0.9990234375, 4, 2),
    ("en", 0.25, 8, 13),
    ("de", 3.5, 3, 4),
    ("de", -2.75, 5, 6),
    ("de", 3.5, 0, 8),
    ("fr", 1e-3, 6, 9),
    ("xx", 2.0, 11, 1),
    ("xx", 2.0, 10, 2),
    ("xx", 2.0, 12, 4),
]


@pytest.mark.parametrize("n_cells", [1, 3, 1 << 14])
def test_cell_prefix_sums_double_order_with_tiebreak(spark, n_cells):
    """n_cells=1 and 3 take the cell path (13 rows > n_cells), 1 << 14
    the naive window; all three must equal a Python running sum in
    (value, id) order within each group, and the group total."""
    df = spark.createDataFrame(
        _PREFIX_ROWS, "g string, v double, id long, x long"
    )
    got = {
        r.id: (r.cum_x, r.tot_x)
        for r in cell_prefix_sums(
            df, "v", ["x"], ("g",), n_cells=n_cells, then_by=("id",)
        ).collect()
    }
    want = {}
    for g in {r[0] for r in _PREFIX_ROWS}:
        rows = sorted(
            (r for r in _PREFIX_ROWS if r[0] == g), key=lambda r: (r[1], r[2])
        )
        run = 0
        for _, v, i, x in rows:
            run += x
            want[i] = (run, sum(r[3] for r in rows))
    assert got == want


def _rate_docs(spark):
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("doc_id"),
            F.lit("the quick brown fox").alias("text"),
            F.lit("en").alias("lang"),
        )
    )


def _rate_embeddings(spark):
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("vec_id"),
            F.array_repeat(F.lit(0.5), S.DIM).alias("embedding"),
        )
    )


@pytest.mark.parametrize(
    "build,error,match",
    [
        pytest.param(
            lambda s: cell_prefix_sums(
                _rate_docs(s).withColumn("one", F.lit(1)), "doc_id", ["one"]
            ),
            NotImplementedError,
            "batch-only",
            id="cell_prefix_sums",
        ),
        pytest.param(
            lambda s: T.quality_auc(_rate_docs(s)),
            NotImplementedError,
            "batch-only",
            id="quality_auc",
        ),
        # the surprisal stage rejects the stream before the rank is built
        pytest.param(
            lambda s: T.ccnet_buckets(_rate_docs(s)),
            AnalysisException,
            None,
            id="ccnet_buckets",
        ),
        # the all-pairs row-cap probe (_guard_all_pairs)
        pytest.param(
            lambda s: S.cosine_neardup_pairs(_rate_embeddings(s)),
            AnalysisException,
            "writeStream.start",
            id="cosine_neardup_pairs",
        ),
        # the shingling kernel's util.spread, the pipeline's first
        # construction-time action, names itself batch-only
        pytest.param(
            lambda s: D.ngram_jaccard_pairs(_rate_docs(s)),
            ValueError,
            "batch-only",
            id="ngram_jaccard_pairs",
        ),
    ],
)
def test_cell_prefix_sums_rejects_streaming_input(spark, build, error, match):
    """cell_prefix_sums is batch-only: its probe and persist are batch
    actions, and Spark rejects the non-time window a stream would need
    at start(). A streaming frame fails loudly at construction, also
    through a consumer, never later at start(). The other eager
    construction-time actions fail loudly too: Spark rejects a stream
    at the all-pairs row cap, and the Jaccard pipeline's first action,
    ``util.spread``, raises its own batch-only error."""
    with pytest.raises(error, match=match):
        build(spark)


# ---------------------------------------------------------------------------
# range-partition + sortWithinPartitions total-order invariant (ADVICE r14)
# ---------------------------------------------------------------------------

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name,keys",
    [
        ("cep_relaxed_nfa", ["user_id", "match_start"]),
        ("match_recognize_prev", ["user_id", "match_start"]),
        ("image_decode_stats", ["doc_id"]),
        ("multimodal_features", ["doc_id"]),
    ],
)
def test_range_sort_queries_are_globally_sorted(spark, name, keys):
    """The r14 sort-first rewrites rely on an indirect invariant: rows
    of a repartitionByRange + sortWithinPartitions pipeline arrive in
    global key order because range partitions are key-disjoint and
    read in order, with no intervening shuffle. A future edit that
    inserts any exchange between the range layout and the in-partition
    sort would silently break the declared global order — this pins it
    directly on the collected output."""
    from flink_snappydata_spark import registry

    rows = registry.queries()[name](spark, SF_SMOKE).collect()
    assert rows, f"{name} returned no rows at smoke scale"
    got = [tuple(r[k] for k in keys) for r in rows]
    assert got == sorted(got)


# ---------------------------------------------------------------------------
# kmeans centroid update: one-aggregation array sums == Lloyd's replay
# ---------------------------------------------------------------------------


def test_kmeans_train_matches_python_lloyds_replay(spark):
    """The no-explode centroid update (one groupBy(cent_id) with DIM
    component sums) must reproduce Lloyd's bit-exactly: assignment by
    max cosine with ties to the lowest cent_id, truncated integer
    mean, empty clusters carrying forward — replayed here in pure
    Python over the same quantized integers."""
    import math
    import random

    from flink_snappydata_spark.pipeline import similarity as S

    rng = random.Random(42)
    dim, n, k, iters = S.DIM, 40, 4, 3
    vecs = [
        [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )

    # Pure-Python replay over the SAME quantization (round half away
    # from zero on the float32-widened double, like Spark's round).
    def q(x):
        import struct

        x32 = struct.unpack("f", struct.pack("f", x))[0]
        v = x32 * 1e6
        return int(math.floor(v + 0.5)) if v >= 0 else -int(
            math.floor(-v + 0.5)
        )

    qv = [[q(x) for x in v] for v in vecs]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(y * y for y in b)
        return (d / 1e12) / math.sqrt((na / 1e12) * (nb / 1e12))

    cents = {c: qv[c][:] for c in range(k)}

    def assign():
        out = {}
        for i, v in enumerate(qv):
            best = max(
                cents.items(), key=lambda it: (cos(v, it[1]), -it[0])
            )[0]
            out[i] = best
        return out

    a = assign()
    for _ in range(iters - 1):
        new = {}
        for c in range(k):
            members = [qv[i] for i in a if a[i] == c]
            if not members:
                new[c] = cents[c]
                continue
            cnt = len(members)
            new[c] = [
                int((s - math.fmod(s, cnt)) / cnt)
                for s in (
                    sum(m[p] for m in members) for p in range(dim)
                )
            ]
        cents = new
        a = assign()
    from collections import defaultdict

    stats = defaultdict(list)
    for i, c in a.items():
        stats[c].append(i)
    expected = sorted(
        (c, len(ids), sum(ids), min(ids), max(ids))
        for c, ids in stats.items()
    )
    got = sorted(
        tuple(r)
        for r in S.kmeans_train(df, n_clusters=k, n_iters=iters).collect()
    )
    assert got == expected


def test_bpe_driver_fold_same_letter_runs(spark, monkeypatch):
    """The two-pass replace's same-letter-run semantics ('a a a a'
    merges pairwise left-to-right, leaving the odd tail) must agree
    between the paths — the exact case the docstring pins."""
    df = spark.createDataFrame(
        [(0, "aaaa aaa aa bbbb abab"), (1, "aaaa aaaa cc")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(T, "BPE_DRIVER_VOCAB_MAX", 1 << 16)
    fast = [tuple(r) for r in T.bpe_merges(df, 4).collect()]
    monkeypatch.setattr(T, "BPE_DRIVER_VOCAB_MAX", 0)
    slow = [tuple(r) for r in T.bpe_merges(df, 4).collect()]
    assert fast == slow
    assert len(fast) >= 1
