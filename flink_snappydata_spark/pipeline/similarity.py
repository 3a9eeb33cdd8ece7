"""Similarity search over embedding columns (north star, SURVEY.md §7
phase 5): brute-force cosine top-k baseline + LSH-bucketed ANN scale
path.

Exactness discipline: embeddings are float32; scores are defined over
*quantized* components ``round(x * 1e6)`` (int64), making every dot
product an exact integer sum — order-independent, bit-identical across
engines and cluster sizes, at a quantization error ≤1e-5 on cosine
(irrelevant for ranking at any realistic margin). The final cosine is a
deterministic double expression over those exact integers.

Scale strategy:

* brute-force top-k: O(|queries| x n) with broadcast queries — the
  correct *baseline*, linear in the corpus, no shuffle of the corpus;
* LSH ANN: random-hyperplane signatures bucket the corpus once;
  queries probe only their bucket (+ optional multiprobe), turning the
  scan into a bucket lookup — the 100 TB path;
* per-query top-k via :func:`~flink_snappydata_spark.util.top_k`, which
  Catalyst executes as a partial top-k per partition (no global sort of
  scores).
"""

from __future__ import annotations

import random
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_snappydata_spark.streaming.runtime import (
    ingest_stream_to_tables,
    read_state_table,
)
from flink_snappydata_spark.util import (
    block_pairs,
    presentation_sorted,
    spread,
    top_k,
    tracked_persist,
)

QUANT = 1_000_000.0  # 1e-6 component quantization
# LSH: OR over N_TABLES tables, AND over PLANES_PER_TABLE hyperplane sign
# bits per table — ≥0.9-cosine pairs collide in ≥1 table w.p. ~0.93.
N_TABLES = 8
PLANES_PER_TABLE = 8
DIM = 64

_rng = random.Random(1234)
#: Fixed random hyperplanes (seeded) — deterministic signatures anywhere.
_PLANES: list[list[list[float]]] = [
    [[_rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(PLANES_PER_TABLE)]
    for _ in range(N_TABLES)
]


def _qvec(col: Column) -> Column:
    """array<float> → exact int64 components (round(x*1e6))."""
    return F.transform(col, lambda x: F.round(x.cast("double") * F.lit(QUANT), 0).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cosine(dot: Column, na: Column, nb: Column) -> Column:
    """Deterministic double cosine from exact integer dot/norms."""
    return (dot.cast("double") / F.lit(QUANT * QUANT)) / F.sqrt(
        (na.cast("double") / F.lit(QUANT * QUANT))
        * (nb.cast("double") / F.lit(QUANT * QUANT))
    )


def quantized(embeddings: DataFrame) -> DataFrame:
    """(vec_id, qe array<long>, norm_sq long) — the exact-arithmetic view.

    Spread across cores first: every consumer (pair joins, top-k scans)
    does O(dim) integer work per row pair, which must parallelize."""
    embeddings = spread(embeddings, "vec_id")
    qe = _qvec(F.col("embedding"))
    return embeddings.select(
        "vec_id",
        qe.alias("qe"),
        _dot(qe, qe).alias("norm_sq"),
    )


def brute_force_cosine_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    qv: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query vector
    (queries = vec_id < n_queries, a deterministic stand-in for an
    external query set).

    Scale: queries broadcast; corpus scanned once, never shuffled;
    the per-query top-k is :func:`~flink_snappydata_spark.util.top_k`.
    Pass a persisted :func:`quantized` frame via ``qv`` when composing
    with other ops (e.g. the trained-IVF verdict) so the corpus is
    quantized once.
    """
    if qv is None:
        qv = quantized(embeddings)
    q = qv.filter(F.col("vec_id") < n_queries)
    t = qv
    queries = F.broadcast(
        q.select(
            F.col("vec_id").alias("query_id"),
            F.col("qe").alias("q_qe"),
            F.col("norm_sq").alias("q_norm"),
        )
    )
    scored = (
        t.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cosine(_dot(F.col("q_qe"), F.col("qe")), F.col("q_norm"), F.col("norm_sq")).alias("cosine"),
        )
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    return top_k(scored, ["query_id"], order, k, rank="rank").orderBy(
        "query_id", "rank"
    )


#: Row cap for the deliberately-quadratic oracle baselines. All-pairs
#: scoring is O(n²) by definition — it exists to judge the ANN paths at
#: fixture scale, never to run on a production corpus; above the cap the
#: guard raises instead of launching an n² self-join, so the 100 TB
#: discipline is enforced by code, not convention.
ALL_PAIRS_ROW_CAP = 100_000


def _guard_all_pairs(
    df: DataFrame, op: str, alternative: str, cap: int | None
) -> None:
    """Raise if ``df`` exceeds ``cap`` rows (``None`` disables).

    The probe is ``limit(cap+1).count()``: LocalLimit short-circuits
    every scan task at cap+1 rows, so the guard costs a bounded probe
    job, never a full count of an unbounded input.
    """
    if cap is None:
        return
    if df.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{op} is a deliberately-quadratic oracle baseline "
            f"(all pairs, O(n²)); its input exceeds the {cap:,}-row cap. "
            f"Use {alternative} at scale — identical verify semantics, "
            f"sub-quadratic candidates."
        )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    row_cap: int | None = ALL_PAIRS_ROW_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, all pairs a<b).

    The oracle-checkable baseline; quadratic by definition, so at scale
    use :func:`lsh_neardup_pairs` (same verify step, LSH candidates).
    Guarded: raises above ``row_cap`` input rows (set ``None`` only for
    a deliberate oracle run on a known-small corpus).
    """
    _guard_all_pairs(
        embeddings, "cosine_neardup_pairs", "lsh_neardup_pairs", row_cap
    )
    a = quantized(embeddings).select(
        F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"), F.col("norm_sq").alias("na")
    )
    b = quantized(embeddings).select(
        F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"), F.col("norm_sq").alias("nb")
    )
    # the guarded all-pairs oracle: one block would be the whole corpus
    return _cosine_pairs(a.join(b, F.col("vec_a") < F.col("vec_b")), threshold)


def _cosine_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine) for the candidate ``pairs`` (vec_a, qa,
    na, vec_b, qb, nb) whose exact quantized cosine is ``>= threshold``,
    presentation-sorted on (vec_a, vec_b) — the shared verify tail of
    the embedding near-dup family (all-pairs, LSH and k-means
    candidates)."""
    return presentation_sorted(
        pairs.select(
            "vec_a",
            "vec_b",
            _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")).alias("cosine"),
        ).filter(F.col("cosine") >= threshold),
        "vec_a",
        "vec_b",
    )


#: All 64 quantized hyperplanes as one (N_TABLES*PLANES, DIM) int64 matrix.
_PLANES_Q = None


def _planes_matrix():
    global _PLANES_Q
    if _PLANES_Q is None:
        import numpy as np

        _PLANES_Q = np.array(
            [
                [int(round(w * QUANT)) for w in plane]
                for table in _PLANES
                for plane in table
            ],
            dtype=np.int64,
        )
    return _PLANES_Q


def lsh_signatures(embeddings: DataFrame) -> DataFrame:
    """(vec_id, table_id, bucket) — random-hyperplane sign signatures,
    one 8-bit bucket per hash table.

    Signs come from exact integer dot products with quantized fixed
    hyperplanes, so bucket assignment is deterministic everywhere.
    Computed as one Arrow-batched numpy matmul per batch — 64
    interpreted higher-order-function dots per row would dominate the
    whole pipeline (measured 9.8 s vs 0.3 s at sf0.1); this is the
    sanctioned vectorized-Python path for kernels Catalyst expressions
    can't run efficiently.
    """
    import numpy as np
    import pandas as pd

    n_tables, planes_per = N_TABLES, PLANES_PER_TABLE

    # no annotations: PEP-563 lazy hints defeat pandas_udf inference
    @F.pandas_udf("array<long>")
    def _buckets(emb):
        x = np.stack(emb.to_numpy()).astype(np.float64)
        # half-up quantization, matching _qvec's ROUND semantics
        q = np.floor(x * QUANT + 0.5).astype(np.int64)
        bits = (q @ _planes_matrix().T > 0).astype(np.int64)
        buckets = np.zeros((x.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            for j in range(planes_per):
                buckets[:, t] |= bits[:, t * planes_per + j] << j
        return pd.Series(list(buckets))

    return (
        spread(embeddings, "vec_id")
        .select("vec_id", F.posexplode(_buckets(F.col("embedding"))))
        .select("vec_id", F.col("pos").cast("long").alias("table_id"),
                F.col("col").alias("bucket"))
    )


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """ANN near-dup pairs: candidates collide in ≥1 hash table, then
    exact cosine verify — precision exact, recall ~0.93 at cosine 0.9
    single-probe, 1.00 on the planted-dup fixtures with the default
    Hamming-1 multiprobe (asserted against the brute-force baseline in
    tests).

    ``multiprobe_bits=1`` additionally probes every Hamming-1 bucket of
    one side (pairs whose table signature differs by one hyperplane sign
    also become candidates) — recall rises without adding hash tables,
    at ~(1+PLANES)x the probe rows. Each row lists itself under its
    home bucket (probe 0) and its Hamming-1 buckets (probes 1..PLANES),
    and inside one (table_id, bucket) list a pair ``a < b`` is made
    only when ``b`` is home there: ``a`` probes (or is home too), ``b``
    is probed. One-sided probing suffices because Hamming ≤ 1 is
    symmetric (``a.bucket ^ bit == b.bucket  <=>  a.bucket ==
    b.bucket ^ bit``), and it emits each pair once per table it
    collides in.

    Scale: candidates pair inside each (table_id, bucket) list
    (:func:`~flink_snappydata_spark.util.block_pairs` with ``b`` drawn
    from the home rows only) — one shuffle, no self-join, nothing
    persisted. One record per (table, bucket) holds the bucket's home
    rows plus every row probing it, ~(1+PLANES)x the home rows; a
    shuffle-hash join held only the home rows and streamed the probes
    past them. The list emits home × (home + probes) pairs, never
    probe × probe. Candidate volume is Σ bucket² per table, never
    O(n²); the verify step touches candidates only.
    """
    if multiprobe_bits and multiprobe_bits != 1:
        raise ValueError("only Hamming-1 multiprobe is supported")
    bucket = F.col("bucket")
    hops = range(PLANES_PER_TABLE) if multiprobe_bits else ()
    probes = F.array(
        bucket, *[bucket.bitwiseXOR(F.lit(1 << j)).cast("long") for j in hops]
    )
    # signatures ⋈ quantized vectors is corpus × corpus: pinned
    # shuffle_hash so a garbage size estimate on a memory-sourced
    # embedding frame can never statically broadcast a corpus-sized
    # side (see dedup._prefix_index's estimate-safety note)
    side = lsh_signatures(embeddings).join(
        quantized(embeddings).hint("shuffle_hash"), "vec_id"
    )
    probed = side.select(
        "vec_id", "table_id", "qe", "norm_sq",
        F.posexplode(probes).alias("probe", "bucket"),
    )
    return _cosine_pairs(
        block_pairs(
            probed, ["table_id", "bucket"], "vec_id", "qe", "norm_sq", "probe",
            members="x.probe = 0",
        )
        .selectExpr(
            "a.vec_id AS vec_a", "b.vec_id AS vec_b", "a.qe AS qa",
            "a.norm_sq AS na", "b.qe AS qb", "b.norm_sq AS nb",
        )
        .dropDuplicates(["vec_a", "vec_b"]),
        threshold,
    )


def ivf_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    n_centroids: int = 16, n_probe: int = 4,
    centroids: DataFrame | None = None,
    qv: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: deterministic coarse codebook (first
    ``n_centroids`` vectors, or a trained :func:`kmeans_centroids`
    frame via ``centroids=``), corpus partitioned by nearest centroid,
    queries probe their ``n_probe`` nearest lists only.

    Scale: assignment is one broadcast pass; the probe join touches
    n_probe/n_centroids of the corpus instead of all of it. Recall vs
    the brute-force baseline is asserted in tests (for both the naive
    and the trained codebook). ``qv`` as in
    :func:`brute_force_cosine_topk` — share one persisted quantized
    frame across composed ops.
    """
    if qv is None:
        qv = quantized(embeddings)
    if centroids is None:
        centroids = qv.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"),
            F.col("qe").alias("ce"),
            F.col("norm_sq").alias("cn"),
        )
    cents = F.broadcast(centroids)

    def nearest(df: DataFrame, id_col: str, keep: int) -> DataFrame:
        scored = df.crossJoin(cents).select(
            F.col(id_col),
            "cent_id",
            _cosine(_dot(F.col("qe"), F.col("ce")), F.col("norm_sq"), F.col("cn")).alias("csim"),
        )
        order = [F.col("csim").desc(), F.col("cent_id").asc()]
        return top_k(scored, [id_col], order, keep)

    assigned = nearest(qv, "vec_id", 1).select("vec_id", F.col("cent_id").alias("list_id"))
    # corpus × corpus: pinned shuffle join (see dedup._prefix_index)
    corpus = qv.join(assigned.hint("shuffle_hash"), "vec_id")

    queries = qv.filter(F.col("vec_id") < n_queries)
    probes = nearest(queries, "vec_id", n_probe).select(
        F.col("vec_id").alias("query_id"), F.col("cent_id").alias("list_id")
    )
    qside = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("qe").alias("q_qe"),
            F.col("norm_sq").alias("q_norm"),
        ).join(probes, "query_id")
    )
    scored = (
        corpus.join(qside, "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cosine(_dot(F.col("q_qe"), F.col("qe")), F.col("q_norm"), F.col("norm_sq")).alias("cosine"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    return top_k(scored, ["query_id"], order, k, rank="rank").orderBy(
        "query_id", "rank"
    )


def ivf_trained_recall_check(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    n_centroids: int = 16, n_probe: int = 4, n_iters: int = 2,
    floor: float = 0.4,
) -> DataFrame:
    """:func:`ivf_recall_check` with a TRAINED coarse quantizer: the
    codebook comes from :func:`kmeans_centroids` (Lloyd's over the
    corpus) instead of the first ``n_centroids`` vectors, closing the
    train→index→probe loop as one registered, oracle-checkable op.
    Deterministic end to end (integer centroids, integer dots), so the
    same bound-verdict pattern applies.

    The corpus is quantized and persisted ONCE; training, the probe
    path, and the brute-force judge all reuse that frame — at scale
    the composition costs one quantization scan, not four."""
    qv = tracked_persist(quantized(embeddings))
    cents = kmeans_centroids(embeddings, n_centroids, n_iters, qv=qv)
    return ivf_recall_check(
        embeddings, n_queries, k, n_centroids, n_probe, floor,
        centroids=cents, qv=qv,
    )


def ivf_recall_check(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    n_centroids: int = 16, n_probe: int = 4, floor: float = 0.4,
    centroids: DataFrame | None = None,
    qv: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k with an in-query recall verdict vs brute force: per
    query, ``recall_ok`` = |IVF ∩ exact top-k| / k ≥ floor.

    Everything is deterministic (codebook = first ``n_centroids``
    vectors, integer-quantized cosines), so the verdict is
    oracle-checkable (bound-verdict pattern). floor=0.4 sits well under
    the observed per-query minimum of 0.7 across sf0.001–sf0.1 with this
    codebook/probe config; the aggregate ≥0.3 recall floor is also
    pinned in tests. The brute-force pass exists only to judge the IVF
    path — at scale you run :func:`ivf_topk` alone.
    """
    truth = brute_force_cosine_topk(embeddings, n_queries, k, qv=qv).select(
        "query_id", "vec_id"
    )
    approx = ivf_topk(
        embeddings, n_queries, k, n_centroids, n_probe,
        centroids=centroids, qv=qv,
    ).select(
        "query_id", "vec_id"
    )
    return _recall_verdict(truth, approx, floor).select("query_id", "recall_ok")


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean embedding, one row per (label, pos) component —
    the class-centroid / codebook-building primitive (an IVF coarse
    quantizer is exactly k centroids; per-class centroids also drive
    nearest-class-mean classification and embedding drift reports).

    Scale: posexplode to (label, pos, q) then ONE hash aggregation —
    partial sums combine map-side, the shuffle carries (label, pos)
    keyed int64 sums, never vectors. Exact int64 component sums (all
    |sum| < 2^53, so the final double conversion and the fixed
    divide-by-count-then-scale order are bit-identical in any engine).
    """
    return _component_means(embeddings, "label")


def _component_means(frame: DataFrame, key: str) -> DataFrame:
    """(key, pos, centroid, n_vectors): the per-``key`` mean of the
    ``embedding`` column, one row per component — the shared body of
    :func:`label_centroids` and :func:`source_centroids`."""
    comp = frame.select(
        key, F.posexplode(_qvec(F.col("embedding"))).alias("pos", "q")
    )
    return (
        comp.groupBy(key, F.col("pos").cast("long").alias("pos"))
        .agg(
            (
                F.sum("q").cast("double") / F.count(F.lit(1)) / F.lit(QUANT)
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy(key, "pos")
    )


def streaming_centroid_ingest(
    stream_embeddings: DataFrame,
    partials_table: str,
    checkpoint: str | None = None,
):
    """Streaming-ingest twin of :func:`label_centroids` — the
    stream→queryable-table loop (``ParquetTableJoin.scala:32-43``
    shape) applied to the EMBEDDING side of the pipeline: each
    micro-batch of arriving vectors is quantized + component-exploded
    ONCE and lands as per-(label, pos) int64 partial sums
    ``(label, pos, s, c)`` — the classic log-structured sufficient
    statistic for a running mean. The global centroid is
    ``SUM(s)/SUM(c)`` over the partials, folded at query time by
    :func:`centroids_from_state`; after a bounded stream drains the
    result is row-identical to the batch op (the batch oracle applies
    verbatim), and because int64 sums are order- and
    batching-insensitive, that equality is exact, not approximate.

    Scale: the per-batch shuffle carries only (label, pos)-keyed int64
    partials (map-side combined — ≤ labels × D rows per batch
    partition), never vectors; the state table grows by at most
    labels × D rows per micro-batch regardless of batch row count.
    Rides :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting partials.
    """
    return ingest_stream_to_tables(
        stream_embeddings,
        [(partials_table, None)],
        prepare=centroid_partials,
        checkpoint=checkpoint,
    )


def centroid_partials(batch_df: DataFrame) -> DataFrame:
    """One batch's per-(label, pos) running-mean partials ``(label,
    pos, s, c)`` — the :func:`streaming_centroid_ingest` prepare step,
    module-level so the fold scale probe (``tools/scale_probe.py``
    mode ``folds``) lands the identical state batch-side."""
    comp = batch_df.select(
        "label",
        F.posexplode(_qvec(F.col("embedding"))).alias("pos", "q"),
    )
    return comp.groupBy(
        "label", F.col("pos").cast("long").alias("pos")
    ).agg(
        F.sum("q").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )


def centroids_from_state(spark, partials_table: str) -> DataFrame:
    """Per-label centroids from the partial-sum state accumulated by
    :func:`streaming_centroid_ingest`: one map-side-combined fold
    (``SUM(s)/SUM(c)`` per (label, pos)), then the exact batch
    divide-then-scale arithmetic — row-identical to
    :func:`label_centroids` over the union of all ingested batches."""
    return (
        read_state_table(spark, partials_table)
        .groupBy("label", "pos")
        .agg(
            (
                F.sum("s").cast("double") / F.sum("c") / F.lit(QUANT)
            ).alias("centroid"),
            F.sum("c").cast("long").alias("n_vectors"),
        )
        .orderBy("label", "pos")
    )


def semantic_decontamination(
    train: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.45,
    eval_cap: int | None = ALL_PAIRS_ROW_CAP,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training vectors
    whose cosine to ANY eval-set vector reaches ``threshold`` — the
    semantic twin of the n-gram :func:`~flink_snappydata_spark.pipeline.
    dedup.decontaminate` (which catches verbatim leakage; this catches
    paraphrases and re-renderings that share an embedding neighborhood).

    Returns one row per contaminated training vector:
    ``(vec_id, n_matches, best_eval, best_cosine)`` — match count, the
    highest-cosine eval vector (ties → lowest eval id), and that
    cosine. Scores are the engine-portable exact-quantized-cosine
    expression used by every similarity op here.

    Scale: the eval side is a BENCHMARK — thousands of rows by nature,
    bounded by ``eval_cap`` (same guard as the quadratic baselines) —
    so it broadcasts and the train side streams through in one scan:
    per-row work is |eval|·D fused in-kernel multiply-adds, no shuffle
    until the final per-vector aggregation (map-side combined, one
    narrow row per flagged vector). If an eval set ever outgrew the
    broadcast, the cluster-bounded SemDeDup join
    (:func:`semantic_neardup_pairs`) is the shape to switch to.
    """
    _guard_all_pairs(
        eval_set, "semantic_decontamination's eval side",
        "semantic_neardup_pairs", eval_cap,
    )
    # RANGE-partition the train side on vec_id up front: the broadcast
    # join, per-vector aggregation, and the final global sort ALL
    # reuse this one layout (RangePartitioning satisfies both the
    # agg's clustered and the sort's ordered distribution), so the
    # presentation sort costs no second exchange — whose bound
    # sampling re-ran the entire |train|x|eval| cosine pass (the whole
    # query, twice). Bound sampling now reads the filtered scan only.
    from flink_snappydata_spark.util import range_spread

    qt = quantized(range_spread(train, "vec_id"))
    qe = quantized(eval_set).select(
        F.col("vec_id").alias("eval_id"),
        F.col("qe").alias("eq"),
        F.col("norm_sq").alias("en"),
    )
    cos = _cosine(_dot(F.col("qe"), F.col("eq")), F.col("norm_sq"), F.col("en"))
    return (
        qt.join(F.broadcast(qe))
        .select("vec_id", "eval_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max_by(
                "eval_id",
                F.struct(F.col("cosine"), (-F.col("eval_id")).alias("nd")),
            ).alias("best_eval"),
            F.max("cosine").alias("best_cosine"),
        )
        .orderBy("vec_id")
    )


def embedding_gram(embeddings: DataFrame) -> DataFrame:
    """Exact Gram + covariance matrix of the embedding corpus — the
    second-moment statistics that drive PCA whitening, spectral
    diagnostics, and drift monitoring over an embedding column.

    Returns the upper triangle ``(i, j, gram, cov)`` for component
    pairs ``i <= j``: ``gram`` = the exact int64 sum of quantized
    component products over all vectors, ``cov`` = the mean-centered
    covariance as one fixed IEEE-double expression over those exact
    integers (bit-identical in any engine, at any parallelism).

    Scale — the whole point of this operator's shape: a naive
    double-explode formulation shuffles O(n·D²) rows; here each
    partition computes its LOCAL Gram with one int64 matrix product
    (Arrow-batched numpy) and emits exactly D(D+1)/2 partial rows
    regardless of how many vectors it holds, so the shuffle carries
    ``num_partitions x 2080`` narrow rows into one (i, j)-keyed sum —
    at 1000 executors over 100 TB the reduce input is a few MB. No
    vector ever crosses the wire. Overflow headroom: |q| <= ~2e6, so
    the int64 partial sums hold past 10^6 vectors per partition and the
    global sums past 10^6 partitions x that.
    """
    import numpy as np
    import pandas as pd

    qv = quantized(embeddings)
    dim = DIM
    iu0, iu1 = (x.astype("int64") for x in np.triu_indices(dim))

    def _partial_gram(batches):
        g = np.zeros((dim, dim), dtype=np.int64)
        s = np.zeros(dim, dtype=np.int64)
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["qe"].to_numpy()).astype(np.int64)
            g += q.T @ q
            s += q.sum(axis=0)
            cnt += len(q)
        if not cnt:
            return
        yield pd.DataFrame(
            {
                "i": iu0,
                "j": iu1,
                "g": g[iu0, iu1],
                "si": s[iu0],
                "sj": s[iu1],
                "n": np.full(len(iu0), cnt, dtype=np.int64),
            }
        )

    partials = qv.select("qe").mapInPandas(
        _partial_gram, schema="i long, j long, g long, si long, sj long, n long"
    )
    tot = partials.groupBy("i", "j").agg(
        F.sum("g").alias("gram"),
        F.sum("si").alias("s_i"),
        F.sum("sj").alias("s_j"),
        F.sum("n").alias("n"),
    )
    n_d = F.col("n").cast("double")
    cov = (
        F.col("gram").cast("double")
        - F.col("s_i").cast("double") * F.col("s_j").cast("double") / n_d
    ) / n_d
    return tot.select("i", "j", "gram", cov.alias("cov")).orderBy("i", "j")


def _assign_nearest(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cent_id): each vector's max-cosine centroid, ties to
    the lowest cent_id. ``cents`` is (cent_id, ce, cn), tiny relative
    to the corpus → broadcast.

    The argmax is ``max_by`` over a grouped aggregation, NOT a
    row_number window: the partial aggregate collapses each vector's
    k candidate rows inside its scan partition BEFORE any exchange,
    so on an un-partitioned input the shuffle carries one narrow row
    per vector where the window would shuffle all n·k scored rows.
    (On the persisted :func:`quantized` frame — already partitioned
    by vec_id — Catalyst plans partial+final SortAggregate with no
    exchange at all; the struct ordering key keeps it sort-based
    rather than hash-based, a per-partition linear-ish sort on the
    group key only.) Tie-break to the lowest cent_id via the
    (csim, −cent_id) struct ordering; identical semantics to
    ORDER BY csim DESC, cent_id ASC."""
    scored = qv.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        _cosine(_dot(F.col("qe"), F.col("ce")), F.col("norm_sq"), F.col("cn")).alias("csim"),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "cent_id", F.struct(F.col("csim"), (-F.col("cent_id")).alias("nc"))
        ).alias("cent_id")
    )


def _int_mean_vectors(rows: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """(*keys, ce, n): per key, the truncated integer mean ``ce`` of
    the int64 vectors in ``vec_col`` and the member count ``n`` — the
    one centroid step of :func:`_kmeans_fit`, :func:`_pq_train` and
    :func:`embedding_outliers`.

    Truncated integer mean, portable: (s - s % cnt) is exactly
    divisible, and |s| < 2^53, so the double division is exact. The
    (key, pos)-keyed sums combine map-side, so the shuffle carries
    int64 sums, never vectors."""
    sums = (
        rows.select(*keys, F.posexplode(vec_col).alias("pos", "q"))
        .groupBy(*keys, "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )
    s, cnt = F.col("s"), F.col("cnt")
    mean = sums.withColumn("c", ((s - s % cnt).cast("double") / cnt).cast("long"))
    return mean.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x["c"],
        ).alias("ce"),
        F.first("cnt").alias("n"),
    )


def _lloyd_rounds(n_iters: int) -> range:
    """The ``n_iters - 1`` centroid updates between ``n_iters``
    assignment rounds of a Lloyd's trainer."""
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    return range(n_iters - 1)


def _lloyd_update(
    points: DataFrame, assigned: DataFrame, cents: DataFrame,
    on: str | list[str], keys: list[str], vec_col: str,
) -> DataFrame:
    """(*keys, ce): one Lloyd's update — each centroid becomes the
    :func:`_int_mean_vectors` mean of the ``points`` assigned to it
    (``assigned`` joins on ``on``); a centroid that lost all members
    carries its previous ``ce`` forward unchanged."""
    # corpus × corpus: pinned shuffle join (see dedup._prefix_index)
    members = points.join(assigned.hint("shuffle_hash"), on)
    new_ce = _int_mean_vectors(members, keys, vec_col).select(*keys, "ce")
    carried = cents.join(new_ce, keys, "left_anti").select(*keys, "ce")
    return new_ce.unionByName(carried)


def _kmeans_fit(
    qv: DataFrame, n_clusters: int, n_iters: int
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment) after ``n_iters`` Lloyd's assignment
    rounds over a :func:`quantized` corpus — the shared core of
    :func:`kmeans_train` (membership stats) and
    :func:`kmeans_centroids` (codebook for :func:`ivf_topk`)."""
    rounds = _lloyd_rounds(n_iters)
    cents = qv.filter(F.col("vec_id") < n_clusters).select(
        F.col("vec_id").alias("cent_id"),
        F.col("qe").alias("ce"),
        F.col("norm_sq").alias("cn"),
    )
    assigned = _assign_nearest(qv, cents)
    for _ in rounds:
        cents = _lloyd_update(
            qv, assigned, cents, "vec_id", ["cent_id"], "qe"
        ).select("cent_id", "ce", _dot(F.col("ce"), F.col("ce")).alias("cn"))
        assigned = _assign_nearest(qv, cents)
    return cents, assigned


def kmeans_centroids(
    embeddings: DataFrame, n_clusters: int = 8, n_iters: int = 2,
    qv: DataFrame | None = None,
) -> DataFrame:
    """Trained (cent_id, ce, cn) codebook — pass as ``centroids=`` to
    :func:`ivf_topk` to replace its naive first-n-vectors quantizer.
    Training balances the inverted lists around actual data density,
    which tightens each query's probed fraction of the corpus."""
    if qv is None:
        qv = tracked_persist(quantized(embeddings))
    cents, _ = _kmeans_fit(qv, n_clusters, n_iters)
    return cents


def embedding_outliers(
    embeddings: DataFrame, outlier_frac: float = 0.05
) -> DataFrame:
    """Per-label centroid-distance outlier scoring — the CLIP-score /
    SemDeDup "prune far-from-centroid examples" curation filter: each
    vector's cosine to its label's mean embedding, with the bottom
    ``ceil(outlier_frac · n_label)`` of each label flagged.

    Portability: the centroid is the truncated integer mean (the
    :func:`kmeans_train` recipe — exact in both engines), the cosine
    the standard quantized-exact expression, and the outlier flag is
    RANK-based (row_number over cosine asc, vec_id asc), never a
    float-quantile interpolation — so the whole output hash-matches.

    Scale: one (label, pos)-keyed aggregation for centroids (map-side
    combined int64 sums), centroids broadcast back, one corpus scan to
    score, one per-label window for ranks. No vector ever shuffles
    except inside the tiny centroid frame.
    """
    emb = spread(embeddings, "vec_id")
    qe = _qvec(F.col("embedding"))
    qv = emb.select(
        "vec_id", "label", qe.alias("qe"), _dot(qe, qe).alias("norm_sq")
    )
    cents = F.broadcast(
        _int_mean_vectors(qv, ["label"], "qe").select(
            "label", "ce", F.col("n").alias("n_label"),
            _dot(F.col("ce"), F.col("ce")).alias("cn"),
        )
    )
    scored = qv.join(cents, "label").select(
        "vec_id",
        "label",
        "n_label",
        _cosine(_dot(F.col("qe"), F.col("ce")), F.col("norm_sq"), F.col("cn")).alias("cent_cosine"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cent_cosine").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("r", F.row_number().over(w))
        .select(
            "vec_id",
            "label",
            "cent_cosine",
            (
                F.col("r")
                <= F.ceil(F.col("n_label") * F.lit(outlier_frac)).cast("int")
            ).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


def semantic_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_clusters: int = 8,
    n_iters: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    with :func:`_kmeans_fit`, then score pairs ONLY within each
    cluster — candidate generation drops from O(n²) to
    O(Σ cluster_size²), because high-cosine pairs co-locate in the
    same Voronoi cell (the SemDeDup observation: dedup within
    k-means clusters loses almost nothing at a k² cost reduction).

    Scale: the pair join shuffles on cent_id, so each cluster's
    members meet on one partition set; with k clusters sized ~n/k the
    candidate count is ~n²/k — pick k ∝ √n to bound per-cluster work.
    A pathologically dominant cluster degrades toward n²; mitigate
    upstream with more clusters/iterations (the trainer is cheap —
    two scans per round). Like every near-dup op here, scores are
    exact quantized-integer cosines, so results are engine-portable.

    Recall caveat vs the exact all-pairs baseline
    (:func:`cosine_neardup_pairs`): a pair straddling a cluster
    boundary is missed by construction; the fixture recall floor is
    pinned in tests.
    """
    qv = tracked_persist(quantized(embeddings))
    _, assigned = _kmeans_fit(qv, n_clusters, n_iters)
    # Persist the clustered corpus: the a/b self-join below references
    # it twice, and without the persist each side replays the full
    # k-means lineage (2 assignment rounds + the update aggregation).
    # corpus × corpus: pinned shuffle join (see dedup._prefix_index)
    side = tracked_persist(qv.join(assigned.hint("shuffle_hash"), "vec_id"))
    a = side.select(
        F.col("cent_id"),
        F.col("vec_id").alias("vec_a"),
        F.col("qe").alias("qa"),
        F.col("norm_sq").alias("na"),
    )
    b = side.select(
        F.col("cent_id"),
        F.col("vec_id").alias("vec_b"),
        F.col("qe").alias("qb"),
        F.col("norm_sq").alias("nb"),
    )
    # cluster-keyed corpus self-join: pinned shuffle-hash (no sort of
    # the wide vector rows; SHJ spills since Spark 3.1). Not block_pairs:
    # a block is a whole cluster, ~n/k full vectors in one record.
    return _cosine_pairs(
        a.join(b.hint("shuffle_hash"), "cent_id").filter(
            F.col("vec_a") < F.col("vec_b")
        ),
        threshold,
    )


def kmeans_train(
    embeddings: DataFrame, n_clusters: int = 8, n_iters: int = 2
) -> DataFrame:
    """Distributed Lloyd's k-means over quantized embeddings — the
    trained-codebook upgrade to :func:`ivf_topk`'s "first n vectors"
    coarse quantizer, and the repo's iterative-algorithm showcase
    (reference parity: the reference has no iterative op; this extends
    the IVF/codebook family the LLM-pipeline mandate adds).

    Bit-deterministic by construction, so a DuckDB oracle can replay it
    exactly:

    * components are the standard ``round(x*1e6)`` int64 quantization;
    * cosine is scale-invariant, so centroids stay INTEGER vectors —
      the truncated-toward-zero mean ``(s - s % n) / n`` of the
      members' exact component sums (both engines define ``%`` with
      the dividend's sign, and the exactly-divisible double division
      is exact below 2^53);
    * assignment ties break to the lowest cent_id;
    * clusters that lose all members carry their previous centroid
      forward unchanged.

    ``n_iters`` assignment rounds run in total: init codebook = the
    first ``n_clusters`` vectors, then (assign → integer-mean update)
    × (n_iters − 1), then one final assignment, whose per-cluster
    membership stats (all integers) are returned.

    Scale: per round, ONE broadcast-join scan of the corpus for
    assignment and ONE (cent_id, pos)-keyed hash aggregation for the
    update — partial sums combine map-side, the shuffle carries
    int64 sums, never vectors, and the driver never collects anything.
    Rounds are a fixed small constant (lineage stays shallow, no
    checkpoint needed).
    """
    qv = tracked_persist(quantized(embeddings))
    _, assigned = _kmeans_fit(qv, n_clusters, n_iters)
    return (
        assigned.groupBy(F.col("cent_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("vec_id").alias("sum_vec_id"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("cluster_id")
    )


#: Product-quantization defaults: 64-dim embeddings split into
#: PQ_SUBSPACES contiguous blocks of PQ_SUB_DIM components, each with
#: its own PQ_CENTROIDS-entry codebook.
PQ_SUBSPACES = 4
PQ_SUB_DIM = 16
PQ_CENTROIDS = 4


def _pq_subvectors(qv: DataFrame) -> DataFrame:
    """(vec_id, m, sq): the quantized corpus cut into PQ_SUBSPACES
    contiguous 16-component blocks — one row per (vector, subspace)."""
    blocks = F.array(
        *[
            F.struct(
                F.lit(m).cast("long").alias("m"),
                F.slice(F.col("qe"), m * PQ_SUB_DIM + 1, PQ_SUB_DIM).alias(
                    "sq"
                ),
            )
            for m in range(PQ_SUBSPACES)
        ]
    )
    return qv.select("vec_id", F.inline(blocks))


def _pq_l2(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 distance between two quantized blocks."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _pq_assign(subv: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, m, cent_id, dist): each subvector's nearest codebook
    entry under EXACT integer squared-L2, ties to the lowest cent_id —
    pure int64 comparisons, no doubles anywhere in the argmin.

    Same shape as :func:`_assign_nearest`: the codebook (m·k rows)
    broadcasts, and the argmin is a grouped ``min`` over a
    (dist, cent_id) struct — partial aggregation collapses the k
    candidate rows per (vector, subspace) before any exchange."""
    scored = subv.join(F.broadcast(cents), "m").select(
        "vec_id",
        "m",
        F.struct(
            _pq_l2(F.col("sq"), F.col("ce")).alias("dist"),
            F.col("cent_id").alias("cent_id"),
        ).alias("cand"),
    )
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min("cand").alias("best"))
        .select(
            "vec_id",
            "m",
            F.col("best.cent_id").alias("cent_id"),
            F.col("best.dist").alias("dist"),
        )
    )


def _pq_train(
    embeddings: DataFrame,
    n_centroids: int = PQ_CENTROIDS,
    n_iters: int = 1,
    subv: DataFrame | None = None,
):
    """Shared PQ trainer: Lloyd's under exact integer squared-L2 per
    subspace. Returns ``(subv, cents, assigned)`` — the persisted
    (vector, subspace) frame, the final codebook
    ``(m, cent_id, ce array<long>)``, and the final assignment
    ``(vec_id, m, cent_id, dist)`` (the PQ codes). Consumed by
    :func:`pq_codebook` (training stats), :func:`pq_adc_topk`
    (encode + asymmetric-distance search), and — via ``subv``, a
    pre-built (vec_id, m, sq) frame such as coarse-quantizer RESIDUAL
    blocks — by :func:`ivf_pq_topk` (the IVFADC composition)."""
    rounds = _lloyd_rounds(n_iters)
    if subv is None:
        qv = tracked_persist(quantized(embeddings))
        subv = tracked_persist(_pq_subvectors(qv))
    cents = subv.filter(F.col("vec_id") < n_centroids).select(
        "m", F.col("vec_id").alias("cent_id"), F.col("sq").alias("ce")
    )
    assigned = _pq_assign(subv, cents)
    for _ in rounds:
        cents = _lloyd_update(
            subv, assigned.select("vec_id", "m", "cent_id"), cents,
            ["vec_id", "m"], ["m", "cent_id"], "sq",
        )
        assigned = _pq_assign(subv, cents)
    return subv, cents, assigned


def pq_codebook(
    embeddings: DataFrame,
    n_centroids: int = PQ_CENTROIDS,
    n_iters: int = 2,
) -> DataFrame:
    """Product-quantization codebook training (Jégou et al. 2011) —
    the IVF-PQ compression half of a billion-scale ANN index: each
    vector splits into :data:`PQ_SUBSPACES` contiguous blocks, and
    each subspace trains its own ``n_centroids``-entry codebook by
    Lloyd's iterations under EXACT integer squared-L2 (PQ's native
    metric), so a vector compresses to PQ_SUBSPACES small codes.

    Bit-deterministic end to end — stricter than :func:`kmeans_train`
    (whose argmax orders by an IEEE cosine): here init = the first
    ``n_centroids`` vectors' blocks, assignment ties break to the
    lowest cent_id, centroid updates are the truncated integer mean,
    and distances never leave int64, so the DuckDB oracle replays
    every step with pure integer arithmetic.

    Returns per-(subspace, centroid) membership stats plus the exact
    int64 residual distortion ``sq_err_sum`` — the number PQ tuning
    watches (distortion down = recall up at fixed code size).

    Scale: per round, ONE broadcast-join scan of the (vector,
    subspace) frame for assignment (the codebook is m·k tiny integer
    blocks) and ONE (m, cent_id, pos)-keyed aggregation for the
    update — partial sums combine map-side, the shuffle carries int64
    sums, never vectors. Rounds are a small fixed constant; the
    driver never collects anything.
    """
    subv, cents, assigned = _pq_train(embeddings, n_centroids, n_iters)
    return (
        assigned.groupBy(
            F.col("m").alias("subspace"), F.col("cent_id").alias("cent_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("vec_id").alias("sum_vec_id"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
            F.sum("dist").alias("sq_err_sum"),
        )
        .orderBy("subspace", "cent_id")
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss sketch)
# ---------------------------------------------------------------------------

RP_OUT_DIM = 8


def _rp_sign(j: int, d: int) -> int:
    """±1 sign for output dim ``j``, input dim ``d`` — the Achlioptas
    (2003) ±1 projection matrix, derived from the md5 of the decimal
    key ``j*DIM + d`` so the DuckDB oracle regenerates the identical
    matrix from the same arithmetic (no literal table to keep in sync).

    md5, not :func:`~flink_snappydata_spark.pipeline.packing.
    portable_hash`: the multiplicative hash is affine in the key mod
    2^31 (and composes to another affine map under double hashing), so
    its bits alternate with short periods over consecutive keys — a
    JL sign matrix built from it is strongly row-correlated. The md5
    word has no such structure, and both engines spell it identically
    (the quality-model bucket hash precedent)."""
    import hashlib

    k = j * DIM + d
    return 1 - 2 * (int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 2)


def random_projection(
    embeddings: DataFrame, out_dim: int = RP_OUT_DIM, sort: bool = True
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: every vector is
    projected from DIM=64 to ``out_dim`` components with a ±1 sign
    matrix (Achlioptas 2003 — database-friendly projections), the
    standard cheap first stage before clustering / dedup at 100 TB
    (distance computations drop 8×, pairwise distances are preserved
    within JL distortion).

    The sign matrix is a pure function of (j, d) via the portable hash,
    so projections are exact int64 sums over quantized components —
    bit-identical in any engine, no stored model artifact. Returns the
    long form ``(vec_id, j, proj_q)`` (``proj_q`` in quantized units).

    Scale: MAP-ONLY — one scan, per-row ``aggregate`` over the zipped
    sign row (the 64×8 matrix folds into literal arrays, evaluated
    JVM-side in whole-stage codegen), then a map-side ``posexplode`` to
    long form; no shuffle, no UDF, nothing collected. ``sort=False``
    (the registered form) skips the O(8n) presentation sort.
    """
    qv = quantized(embeddings)
    projections = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("qe"),
                    F.array(
                        *[F.lit(_rp_sign(j, d)) for d in range(DIM)]
                    ),
                    lambda x, s: x * s,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for j in range(out_dim)
        ]
    )
    out = qv.select(
        "vec_id", F.posexplode(projections).alias("j", "proj_q")
    ).select("vec_id", F.col("j").cast("long").alias("j"), "proj_q")
    if not sort:
        return out
    return presentation_sorted(out, "vec_id", "j", expect_small=False)


# ---------------------------------------------------------------------------
# Hard-negative mining
# ---------------------------------------------------------------------------

def hard_negatives(
    embeddings: DataFrame, n_probes: int = 8, k: int = 4
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    Contriever recipe): for each probe vector, the top-``k`` most
    cosine-similar vectors carrying a DIFFERENT label — maximally
    confusable negatives, the examples a retrieval model learns most
    from. Probes are ``vec_id < n_probes`` (deterministic stand-in for
    an external anchor set).

    Scale: probes broadcast (the anchor set is always small relative
    to the corpus); the corpus is scanned ONCE and never shuffled on
    vectors. The per-probe top-k is
    :func:`~flink_snappydata_spark.util.top_k`, so no probe becomes a
    hot partition. Scores are exact int64 dot products over quantized
    components; the cosine is the deterministic double expression
    shared with :func:`brute_force_cosine_topk`.
    """
    emb = spread(embeddings, "vec_id")
    qe = _qvec(F.col("embedding"))
    qv = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        qe.alias("qe"),
        _dot(qe, qe).alias("norm_sq"),
    )
    probes = F.broadcast(
        qv.filter(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("qe").alias("q_qe"),
            F.col("norm_sq").alias("q_norm"),
        )
    )
    scored = (
        qv.crossJoin(probes)
        .filter(
            (F.col("label") != F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select(
            "query_id",
            "vec_id",
            "label",
            _dot(F.col("q_qe"), F.col("qe")).alias("dot_q"),
            _cosine(
                _dot(F.col("q_qe"), F.col("qe")),
                F.col("q_norm"),
                F.col("norm_sq"),
            ).alias("cosine"),
        )
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    out = top_k(scored, ["query_id"], order, k, rank="rank").select(
        "query_id", "rank", "vec_id", "label", "dot_q", "cosine"
    )
    return presentation_sorted(out, "query_id", "rank")


def pq_adc_topk(
    embeddings: DataFrame, n_queries: int = 3, k: int = 5
) -> DataFrame:
    """PQ asymmetric-distance search (the query half of Jégou et al.
    2011): vectors are ENCODED once into PQ_SUBSPACES small codes by the
    trained codebook (:func:`_pq_train`, 2 Lloyd's iterations — the same
    replayed codebook :func:`pq_codebook` reports on), then each query
    builds a per-subspace lookup table of exact int64 squared-L2
    distances to every centroid and scores a candidate as the SUM OF
    TABLE LOOKUPS over its codes — never touching the original vectors
    at query time.

    Queries are ``vec_id < n_queries`` (self excluded). Returns
    ``(query_id, rank, vec_id, adc_dist)`` — ``adc_dist`` is the exact
    integer ADC distance, deterministic in any engine.

    Scale: the index is the code frame — PQ_SUBSPACES ints per vector
    (16× smaller than the quantized vectors at these params); the LUT is
    n_queries × PQ_SUBSPACES × n_centroids tiny rows, broadcast; search
    is one scan of the codes joined against the broadcast LUT with a
    map-side-combined (query, vec) sum — the shuffle carries int64
    partials, never vectors or codes. Per-query top-k is
    :func:`~flink_snappydata_spark.util.top_k`, so no query is a hot
    partition.
    """
    subv, cents, assigned = _pq_train(embeddings, n_iters=2)
    codes = assigned.select("vec_id", "m", "cent_id")
    queries = subv.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sq").alias("q_sq")
    )
    lut = F.broadcast(
        queries.join(F.broadcast(cents), "m").select(
            "query_id",
            "m",
            "cent_id",
            _pq_l2(F.col("q_sq"), F.col("ce")).alias("lq"),
        )
    )
    adc = (
        # LUT is bounded (queries × m × k): explicit broadcast pins the
        # build side regardless of estimates
        codes.join(F.broadcast(lut), ["m", "cent_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lq").alias("adc_dist"))
    )
    order = [F.col("adc_dist").asc(), F.col("vec_id").asc()]
    out = top_k(adc, ["query_id"], order, k, rank="rank").select(
        "query_id", "rank", "vec_id", "adc_dist"
    )
    return presentation_sorted(out, "query_id", "rank")


def source_centroids(
    documents: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Per-source embedding centroids: join the document metadata
    (``source``) onto the embedding table (``vec_id == doc_id`` in the
    fixture) and average each source's vectors component-wise — the
    source-drift monitor a curation pipeline watches (a source whose
    centroid moves between crawls changed character; distance between
    source centroids feeds mixing decisions).

    Scale: the metadata join is id-keyed (both sides partitioned on the
    id — one co-partitioned exchange each, no broadcast needed at any
    corpus size); the centroid is the same exploded int64 partial-sum
    aggregation as :func:`label_centroids` — the shuffle carries
    (source, pos)-keyed int64 sums, never vectors. Output is
    O(sources × DIM).
    """
    meta = documents.select(F.col("doc_id").alias("vec_id"), "source")
    # corpus × corpus: pinned shuffle join (see dedup._prefix_index)
    joined = spread(embeddings, "vec_id").join(meta.hint("shuffle_hash"), "vec_id")
    return _component_means(joined, "source")


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension distribution stats of the embedding space —
    ``(pos, n, sum_q, min_q, max_q, mean, variance)`` — the
    feature-scaling / whitening-prep pass (a dimension with near-zero
    variance is dead weight; wildly different scales break L2-based
    ANN). Sums/extrema are exact int64 over quantized components; mean
    and variance are deterministic double expressions over those exact
    sums (variance = E[x²] − E[x]², computed in doubles AFTER the
    exact aggregation so no int64 overflow at any corpus size).

    Scale: one map-side explode + one (pos)-keyed aggregation with
    map-side combine — DIM output rows, nothing else shuffles.
    """
    comp = spread(embeddings, "vec_id").select(
        F.posexplode(_qvec(F.col("embedding"))).alias("pos", "q")
    )
    n = F.count(F.lit(1))
    s = F.sum("q")
    ss = F.sum(F.col("q") * F.col("q"))
    mean = s.cast("double") / n / F.lit(QUANT)
    ex2 = ss.cast("double") / n / F.lit(QUANT * QUANT)
    # variance spelled with an explicit multiply (not pow): POWER(x, 2)
    # is not guaranteed bit-equal to x*x across engines.
    return (
        comp.groupBy(F.col("pos").cast("long").alias("pos"))
        .agg(
            n.alias("n"),
            s.alias("sum_q"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
            mean.alias("mean"),
            (
                ex2
                - (s.cast("double") / n / F.lit(QUANT))
                * (s.cast("double") / n / F.lit(QUANT))
            ).alias("variance"),
        )
        .orderBy("pos")
    )


def knn_accuracy(
    embeddings: DataFrame, n_eval: int = 64, k: int = 5
) -> DataFrame:
    """k-NN label-prediction accuracy — the embedding-quality probe a
    pipeline runs before trusting vectors for curation decisions: each
    of ``n_eval`` held-out vectors is classified by the majority label
    of its ``k`` nearest neighbors (cosine, self excluded) and scored
    against its true label. Returns one row:
    ``(n_eval, k, n_correct, accuracy)``.

    Majority ties break to the smallest label; neighbor ties to the
    smallest vec_id — fully deterministic, so the replay is exact.

    Scale: the eval set broadcasts (bounded by ``n_eval`` — the op is
    LINEAR in the corpus, never all-pairs); one corpus scan scores all
    candidates; the per-eval top-k is
    :func:`~flink_snappydata_spark.util.top_k`; the vote is a
    (eval, label)-keyed count
    over n_eval × k rows. Nothing but ids, labels, and int64 dots
    shuffle.
    """
    emb = spread(embeddings, "vec_id")
    qe = _qvec(F.col("embedding"))
    qv = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        qe.alias("qe"),
        _dot(qe, qe).alias("norm_sq"),
    )
    evals = F.broadcast(
        qv.filter(F.col("vec_id") < n_eval).select(
            F.col("vec_id").alias("eval_id"),
            F.col("label").alias("true_label"),
            F.col("qe").alias("q_qe"),
            F.col("norm_sq").alias("q_norm"),
        )
    )
    scored = (
        qv.crossJoin(evals)
        .filter(F.col("vec_id") != F.col("eval_id"))
        .select(
            "eval_id",
            "true_label",
            "vec_id",
            "label",
            _cosine(
                _dot(F.col("q_qe"), F.col("qe")),
                F.col("q_norm"),
                F.col("norm_sq"),
            ).alias("cosine"),
        )
    )
    neighbors = top_k(
        scored, ["eval_id"], [F.col("cosine").desc(), F.col("vec_id").asc()], k
    )
    votes = neighbors.groupBy("eval_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    pred = votes.groupBy("eval_id", "true_label").agg(
        F.max_by(
            "label", F.struct(F.col("n_votes"), (-F.col("label")).alias("nl"))
        ).alias("pred_label")
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.lit(k).cast("long").alias("k"),
        F.sum(
            (F.col("pred_label") == F.col("true_label")).cast("long")
        ).alias("n_correct"),
        (
            F.sum((F.col("pred_label") == F.col("true_label")).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


def mmr_select(
    embeddings: DataFrame,
    query_id: int = 0,
    n_candidates: int = 8,
    n_select: int = 3,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein
    1998): from the query's top-``n_candidates`` cosine neighbors,
    greedily pick ``n_select`` results that balance relevance against
    redundancy — ``score = λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)`` —
    the diversity reranker a retrieval pipeline runs so near-duplicate
    hits don't fill the result page. Ties break to the lowest vec_id.

    Returns ``(pick_rank, vec_id, mmr_score)`` (the first pick's score
    is its pure relevance).

    Scale: candidate generation is the broadcast-query corpus scan of
    :func:`brute_force_cosine_topk` (linear, top-k pruned); everything
    after operates on the ``n_candidates``-row frame and its
    n_candidates² pairwise sims — bounded by construction, so the
    greedy loop's ``n_select`` rounds of argmax+union are fixed-size
    distributed ops (nothing collected, no O(corpus) step after the
    scan).
    """
    qv = tracked_persist(quantized(embeddings))
    topk = brute_force_cosine_topk(
        embeddings, n_queries=query_id + 1, k=n_candidates, qv=qv
    ).filter(F.col("query_id") == query_id)
    cand = tracked_persist(
        # the top-k side is bounded (n_candidates rows): explicit
        # broadcast pins the build side regardless of estimates
        F.broadcast(topk.select("vec_id", F.col("cosine").alias("rel")))
        .join(qv, "vec_id")
        .select("vec_id", "rel", "qe", "norm_sq")
    )
    a = cand.select(
        F.col("vec_id").alias("va"),
        F.col("qe").alias("qa"),
        F.col("norm_sq").alias("na"),
    )
    b = cand.select(
        F.col("vec_id").alias("vb"),
        F.col("qe").alias("qb"),
        F.col("norm_sq").alias("nb"),
    )
    pairs = tracked_persist(
        a.join(b, F.col("va") != F.col("vb")).select(
            "va",
            "vb",
            _cosine(
                _dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
    )
    remaining = cand.select("vec_id", "rel")
    picks = None
    for step in range(n_select):
        if picks is None:
            scored = remaining.select(
                "vec_id", "rel", F.col("rel").alias("mmr_score")
            )
        else:
            worst = (
                pairs.join(
                    picks.select(F.col("vec_id").alias("vb")), "vb"
                )
                .groupBy(F.col("va").alias("vec_id"))
                .agg(F.max("sim").alias("max_sim"))
            )
            scored = remaining.join(worst, "vec_id").select(
                "vec_id",
                "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("max_sim")
                ).alias("mmr_score"),
            )
        best = scored.agg(
            F.max_by(
                F.struct("vec_id", "rel", "mmr_score"),
                F.struct(
                    F.col("mmr_score"), (-F.col("vec_id")).alias("nv")
                ),
            ).alias("p")
        ).select(
            F.col("p.vec_id").alias("vec_id"),
            F.col("p.rel").alias("rel"),
            F.lit(step + 1).cast("long").alias("pick_rank"),
            F.col("p.mmr_score").alias("mmr_score"),
        )
        picks = best if picks is None else picks.unionByName(best)
        picks = tracked_persist(picks)
        remaining = remaining.join(
            picks.select("vec_id"), "vec_id", "left_anti"
        )
    return picks.select("pick_rank", "vec_id", "mmr_score").orderBy(
        "pick_rank"
    )


#: Power-iteration vector scale: components renormalize to ±2^20 each
#: round, keeping every product inside 128-bit headroom on both engines.
PC_SCALE = 1 << 20


def embedding_top_pc(embeddings: DataFrame, n_iters: int = 3) -> DataFrame:
    """Top principal direction of the embedding corpus's (uncentered)
    second-moment matrix via deterministic integer power iteration —
    the dominant-direction diagnostic behind PCA whitening, anisotropy
    checks ("is the embedding space collapsing to one axis?"), and
    spectral drift monitoring. Uncentered deliberately: mean-centering
    would make the matrix non-integer; for the near-zero-mean vectors
    encoders emit the top direction is the same, and the exactness
    contract (bit-identical on any engine) is worth the documented
    approximation.

    The iteration is exact and engine-portable: start from the all-ones
    vector, repeat ``u = G·v`` in unbounded integers followed by a
    truncating renormalization ``v = sign(u)·(|u|·2^20 div max|u|)``
    (division only ever sees non-negative operands, so floor and
    truncate agree everywhere); after ``n_iters`` rounds the sign is
    canonicalized (first nonzero component positive) and the Rayleigh
    quotient ``v·Gv / v·v`` — two exactly-computed integers, one double
    division — reports the dominant eigenvalue. Gram is PSD, so the
    Rayleigh quotient is non-decreasing over iterations (pinned in
    tests). Returns 64 rows ``(pos, pc_q, eigenvalue)`` with ``pc_q``
    the ±2^20-scaled component.

    Convergence caveat: the directional rate is the spectral gap
    (λ2/λ1)^k, so on a NEAR-ISOTROPIC corpus (the synthetic fixture's
    gap is ~0.98) a few rounds improve the Rayleigh estimate but not
    the direction — which is fine, because on such a corpus every
    near-top direction is equivalent and the useful output is the
    anisotropy diagnostic ``eigenvalue / (trace/D)``. On a genuinely
    anisotropic corpus (the planted-direction test) the default three
    rounds recover the axis exactly. Raise ``n_iters`` for more
    precision — each round is O(D²) driver arithmetic, free at any
    corpus size (the registered form pins 3 so the oracle's unrolled
    CTE replay stays in lockstep).

    Scale: ALL distributed work is :func:`embedding_gram`'s fixed
    ``partitions × D(D+1)/2`` partial reduction (vectors never
    shuffle); the iteration itself is O(D²) driver arithmetic on the
    collected 64×64 matrix — the kmeans-centroid driver-literal
    pattern, independent of corpus size.
    """
    spark = embeddings.sparkSession
    dim = DIM
    tri = embedding_gram(embeddings).select("i", "j", "gram").collect()
    g = [[0] * dim for _ in range(dim)]
    for r in tri:
        g[r.i][r.j] = r.gram
        g[r.j][r.i] = r.gram
    v = [1] * dim  # python ints: the iteration is arbitrary-precision
    for _ in range(n_iters):
        u = [sum(g[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in u)
        m = m if m > 0 else 1
        v = [
            -((-x) * PC_SCALE // m) if x < 0 else x * PC_SCALE // m
            for x in u
        ]
    first = next((x for x in v if x != 0), 1)
    if first < 0:
        v = [-x for x in v]
    gv = [sum(g[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    num = sum(v[i] * gv[i] for i in range(dim))
    den = sum(x * x for x in v)
    eig = float(num) / float(den)
    return spark.createDataFrame(
        [(i, v[i], eig) for i in range(dim)],
        "pos long, pc_q long, eigenvalue double",
    )


def sq8_mips_recall(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, floor: float = 0.5
) -> DataFrame:
    """Scalar (SQ8) quantization MIPS search with an in-query recall
    verdict vs exact maximum-inner-product top-k — the third member of
    the compression family (PQ = :func:`pq_adc_topk`, binary =
    :func:`bitsign_hamming_recall`): each dimension is affinely mapped
    to an 8-bit code by the corpus-wide per-dimension [min, max] range
    (the classic SQ8 codec every vector store ships), candidates are
    scored by the exact integer dot product of the query against the
    RECONSTRUCTED codes, and ``recall_ok`` judges the quantized top-k
    against the exact top-k per query (bound-verdict pattern, like
    :func:`ivf_recall_check`).

    Everything is exact int64 arithmetic, so the verdict is
    oracle-checkable bit-for-bit: codes are round-half-up rationals
    ``(q-lo)*255 / (hi-lo)`` computed as one integer division
    (``((q-lo)*510 + (hi-lo)) div (2*(hi-lo))`` — numerator >= 0, so
    floor == truncate in every engine); the reconstruction keeps the
    /255 denominator symbolic (``rnum = lo*255 + code*(hi-lo)``), so
    scores are integer sums of ``q_query * rnum`` — magnitude <=
    |q|·255·|q|·DIM ~ 1e17, safely inside int64 for unit-scale
    embeddings.

    Scale: the range table is DIM rows (broadcast); encoding is one
    scan; scoring joins the component stream against the broadcast
    query components and map-side-combines (query, vec) int64 partials
    — the same ADC shuffle shape as :func:`pq_adc_topk`, never a
    vector shuffle; per-query top-k is
    :func:`~flink_snappydata_spark.util.top_k`. The
    exact-MIPS judge pass is O(n_queries x n) with broadcast queries —
    it exists to grade the codec; at scale you run the SQ8 path alone.
    ``floor=0.5`` sits well under the observed per-query minimum of
    1.0 across sf0.001-0.1 (8-bit reconstruction barely perturbs dot
    products at these margins).
    """
    qv = tracked_persist(quantized(embeddings))
    comp = qv.select("vec_id", F.posexplode("qe").alias("pos", "q"))
    rng = F.broadcast(
        comp.groupBy("pos").agg(F.min("q").alias("lo"), F.max("q").alias("hi"))
    )
    enc = (
        comp.join(rng, "pos")
        .withColumn(
            "num",
            (F.col("q") - F.col("lo")) * F.lit(510) + (F.col("hi") - F.col("lo")),
        )
        .withColumn("den", (F.col("hi") - F.col("lo")) * F.lit(2))
        .withColumn(
            "code",
            F.expr("CASE WHEN den > 0 THEN num div den ELSE CAST(0 AS BIGINT) END"),
        )
        .select(
            "vec_id",
            "pos",
            (
                F.col("lo") * F.lit(255) + F.col("code") * (F.col("hi") - F.col("lo"))
            ).alias("rnum"),
        )
    )
    q_comp = F.broadcast(
        comp.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), "pos", F.col("q").alias("qq")
        )
    )
    adot = (
        enc.join(q_comp, "pos")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("qq") * F.col("rnum")).alias("adot"))
    )
    approx = top_k(
        adot, ["query_id"], [F.col("adot").desc(), F.col("vec_id").asc()], k
    ).select("query_id", "vec_id")
    q_vec = F.broadcast(
        qv.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("qe").alias("q_qe")
        )
    )
    dots = (
        qv.crossJoin(q_vec)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", _dot(F.col("q_qe"), F.col("qe")).alias("dot")
        )
    )
    truth = top_k(
        dots, ["query_id"], [F.col("dot").desc(), F.col("vec_id").asc()], k
    ).select("query_id", "vec_id")
    return _recall_verdict(truth, approx, floor)


def _recall_verdict(truth: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """(query_id, n_hit, recall_ok) from per-query truth/approx id sets,
    ordered by query_id — the one judge fold of the quantized-search
    recall checks (:func:`ivf_recall_check`, which keeps only
    ``recall_ok``, :func:`sq8_mips_recall` and
    :func:`bitsign_hamming_recall`). ``recall_ok`` compares the hit
    count against ``n_truth * floor``. Both inputs are bounded
    (n_queries x k rows), so every join here is trivially small."""
    per_q = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (
        truth.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) >= F.col("n_truth") * floor
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


def bitsign_hamming_recall(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    n_candidates: int = 256, floor: float = 0.4,
) -> DataFrame:
    """Binary (1-bit-per-dimension) sign-sketch search — Hamming
    prefilter + exact re-rank, with an in-query recall verdict vs
    exact cosine top-k. The most aggressive member of the compression
    family (64x smaller than float32, alongside PQ =
    :func:`pq_adc_topk` and SQ8 = :func:`sq8_mips_recall`): each
    vector is reduced to DIM sign bits around the per-dimension corpus
    mean, bit-packed into two int64 words; search is the standard
    two-stage binary pipeline — an XOR + popcount Hamming scan keeps
    the ``n_candidates`` nearest sketches per query (the production
    binary-index coarse filter; a 64-bit sketch is a candidate
    generator, not a ranker), then the exact quantized cosine re-ranks
    ONLY those candidates to the final top-k. ``recall_ok`` judges
    that top-k against the exact cosine top-k per query (bound-verdict
    pattern, like :func:`ivf_recall_check`).

    Determinism: the mean threshold is the exact integer comparison
    ``q * n > sum_q`` (no division) — portable bit-for-bit; Hamming
    ranks break ties on vec_id; the re-rank cosine is the same
    deterministic double expression as :func:`brute_force_cosine_topk`.
    Magnitude bound: ``q * n`` with ``|q| <= ~1e6`` (unit-scale
    components) stays inside int64 up to ~1e12 corpus rows — the one
    scale-bound expression in the family, noted deliberately. The
    DuckDB oracle recomputes signs and counts per-dimension mismatches
    directly — the packing layout is an implementation detail the
    verdict never sees.

    Scale: mean thresholds are one (pos)-keyed aggregation (DIM rows,
    broadcast back as arrays); sign extraction + packing are per-row
    JVM higher-order expressions on the scan — the corpus is NEVER
    shuffled to build the index; the Hamming scan reads two int64
    words per candidate against broadcast query words; the re-rank
    touches only n_queries x n_candidates vectors (broadcast candidate
    list pruned into the corpus scan). The exact-cosine judge pass
    exists to grade the sketch; at scale you run the two-stage path
    alone. ``floor=0.4`` sits under the observed per-query minimum of
    0.7 across sf0.001-0.1 with ``n_candidates=256``; recall rises
    with n_candidates (at 256 >= corpus it is exact by construction).
    """
    qv = tracked_persist(quantized(embeddings))
    comp = qv.select("vec_id", F.posexplode("qe").alias("pos", "q"))
    stats = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    packed_stats = F.broadcast(
        stats.agg(
            F.array_sort(F.collect_list(F.struct("pos", "n", "s"))).alias("a")
        ).select(
            F.transform("a", lambda x: x["s"]).alias("s_arr"),
            F.element_at(F.transform("a", lambda x: x["n"]), 1).alias("n_rows"),
        )
    )
    bits = F.transform(
        F.col("qe"),
        lambda q, i: (
            q * F.col("n_rows") > F.element_at(F.col("s_arr"), i + F.lit(1))
        ).cast("long"),
    )
    pack = lambda arr: F.aggregate(  # noqa: E731 — big-endian bit fold
        arr, F.lit(0).cast("long"), lambda acc, b: acc * F.lit(2) + b
    )
    # Word layout derives from DIM (32 sign bits per int64 word, last
    # word possibly short) — a DIM change repacks correctly instead of
    # silently truncating the sketch to 64 bits.
    n_words = (DIM + 31) // 32
    words = (
        qv.crossJoin(packed_stats)
        .withColumn("bits", bits)
        .select(
            "vec_id",
            *[
                pack(
                    F.slice("bits", w * 32 + 1, min(32, DIM - w * 32))
                ).alias(f"w{w}")
                for w in range(n_words)
            ],
        )
    )
    q_words = F.broadcast(
        words.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            *[F.col(f"w{w}").alias(f"qw{w}") for w in range(n_words)],
        )
    )
    ham_bits = [
        F.bit_count(F.col(f"w{w}").bitwiseXOR(F.col(f"qw{w}")))
        for w in range(n_words)
    ]
    ham = (
        words.crossJoin(q_words)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            reduce(lambda a, b: a + b, ham_bits).cast("long").alias("ham"),
        )
    )
    candidates = top_k(
        ham, ["query_id"], [F.col("ham").asc(), F.col("vec_id").asc()],
        n_candidates,
    ).select("query_id", "vec_id")
    q_vec = F.broadcast(
        qv.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("qe").alias("q_qe"),
            F.col("norm_sq").alias("q_norm"),
        )
    )
    # candidate list is bounded (n_queries x n_candidates): broadcast it
    # into the corpus scan so only candidate vectors are ever scored
    reranked = (
        qv.join(F.broadcast(candidates), "vec_id")
        .join(q_vec, "query_id")
        .select(
            "query_id",
            "vec_id",
            _cosine(
                _dot(F.col("q_qe"), F.col("qe")),
                F.col("q_norm"),
                F.col("norm_sq"),
            ).alias("cosine"),
        )
    )
    approx = top_k(
        reranked, ["query_id"], [F.col("cosine").desc(), F.col("vec_id").asc()], k
    ).select("query_id", "vec_id")
    truth = brute_force_cosine_topk(embeddings, n_queries, k, qv=qv).select(
        "query_id", "vec_id"
    )
    return _recall_verdict(truth, approx, floor)


class IvfPqIndex(NamedTuple):
    """The stored IVFADC index artifacts (see :func:`ivf_pq_index`).

    ``qv``: quantized corpus (vec_id, qe, norm_sq) — the vector store,
    touched at query time only for the bounded shortlist re-rank.
    ``cents``: coarse centroids (cent_id, ce, cn); bounded — consumers
    broadcast at each join site.
    ``pq_cents``: residual-PQ codebook (m, cent_id, ce); bounded, ditto.
    ``codes``: the inverted-file frame (vec_id, m, cent_id, list_id) —
    one int list id + PQ_SUBSPACES small codes per vector, the ONLY
    corpus-sized thing a 100 TB deployment persists besides ``qv``.

    Frames are stored UNhinted: a standalone action on a
    ``F.broadcast``-wrapped frame (materializing, writing the index
    out) logs an ignored-hint warning the log-health gate rightly
    rejects, so the hint is applied where the join happens instead.
    """

    qv: DataFrame
    cents: DataFrame
    pq_cents: DataFrame
    codes: DataFrame

    def save(self, base: str) -> None:
        """Persist every index artifact under ``base`` (one parquet
        dir per field) — the production layout: build once, store,
        amortize over queries. Cheap at any scale: all four writes are
        map-only (no shuffle beyond what building them already did).
        The two bounded frames (centroids, codebook — O(n_coarse) /
        O(m·k) rows by construction) coalesce to one file so reopening
        them is a single-split scan; the corpus-sized frames keep the
        caller's partitioning (at 100 TB that IS the layout — callers
        on tiny harness data can pre-``coalesce`` qv/codes). Raises
        ``ValueError`` when a frame drifts from its
        :data:`IVF_PQ_SCHEMAS` entry, which the reopen trusts."""
        for name, df in self._asdict().items():
            want = T.StructType.fromDDL(IVF_PQ_SCHEMAS[name]).simpleString()
            if df.schema.simpleString() != want:
                raise ValueError(f"IvfPqIndex.{name} is {df.schema}, not {want}")
            if name in ("cents", "pq_cents"):
                df = df.coalesce(1)
            df.write.mode("overwrite").parquet(f"{base}/{name}")


#: Parquet schema of each :class:`IvfPqIndex` artifact. Reopening with
#: a declared schema reads no footers, so it launches no Spark job.
IVF_PQ_SCHEMAS = {
    "qv": "vec_id BIGINT, qe ARRAY<BIGINT>, norm_sq BIGINT",
    "cents": "cent_id BIGINT, ce ARRAY<BIGINT>, cn BIGINT",
    "pq_cents": "m BIGINT, cent_id BIGINT, ce ARRAY<BIGINT>",
    "codes": "vec_id BIGINT, m BIGINT, cent_id BIGINT, list_id BIGINT",
}


def ivf_pq_index_load(spark, base: str) -> IvfPqIndex:
    """Reopen a :meth:`IvfPqIndex.save` directory. The loaded frames
    are plain file-backed scans: zero training lineage in downstream
    query plans (Catalyst optimizes ~15 nodes, not the 60-exchange
    build DAG) and honest size-proportional stats, so the query half's
    explicit broadcasts are the only hints needed."""
    return IvfPqIndex(
        **{
            name: spark.read.schema(IVF_PQ_SCHEMAS[name]).parquet(f"{base}/{name}")
            for name in IvfPqIndex._fields
        }
    )


def ivf_pq_index(
    embeddings: DataFrame, n_coarse: int = 8, n_pq_centroids: int = 8,
    n_iters: int = 2,
) -> IvfPqIndex:
    """Train/build the IVFADC index (the amortized-once half of
    :func:`ivf_pq_topk`): coarse cosine Lloyd's over the quantized
    corpus, residuals vs the assigned coarse centroid, residual-PQ
    training, and the per-vector (list id + PQ codes) frame.

    Build-time intermediates ride :func:`tracked_persist`; a consumer
    that needs the index to OUTLIVE ``release_caches`` stores it with
    :meth:`IvfPqIndex.save` and reopens via :func:`ivf_pq_index_load`
    (what ``specs.embeddings_quality.ivfpq_prebuilt_index`` does for
    the store's copy under the warehouse dir).

    Scale: the two corpus-sized joins pin ``shuffle_hash`` (both sides
    corpus-sized by construction); centroid/codebook frames are
    bounded and broadcast. See :func:`ivf_pq_topk` for the full
    100 TB-layout argument.
    """
    qv = tracked_persist(quantized(embeddings))
    cents, assigned = _kmeans_fit(qv, n_coarse, n_iters)
    # corpus residuals vs the assigned coarse centroid, in PQ layout
    resid = (
        # corpus × corpus: pinned shuffle join (see dedup._prefix_index)
        qv.join(assigned.hint("shuffle_hash"), "vec_id")
        .join(F.broadcast(cents.select("cent_id", "ce")), "cent_id")
        .select(
            "vec_id",
            F.col("cent_id").alias("list_id"),
            F.zip_with("qe", "ce", lambda a, b: a - b).alias("qe"),
        )
    )
    resid = tracked_persist(resid)
    subv = tracked_persist(_pq_subvectors(resid.select("vec_id", "qe")))
    _, pq_cents, pq_assigned = _pq_train(
        embeddings, n_centroids=n_pq_centroids, n_iters=n_iters, subv=subv
    )
    codes = (
        pq_assigned.select("vec_id", "m", "cent_id")
        # corpus × corpus: pinned shuffle join (see dedup._prefix_index)
        .join(resid.select("vec_id", "list_id").hint("shuffle_hash"), "vec_id")
    )
    return IvfPqIndex(qv=qv, cents=cents, pq_cents=pq_cents, codes=codes)


def ivf_pq_topk(
    embeddings: DataFrame, n_queries: int = 3, k: int = 5,
    n_coarse: int = 8, n_probe: int = 2, n_pq_centroids: int = 8,
    n_shortlist: int = 64, n_iters: int = 2,
    index: IvfPqIndex | None = None,
) -> DataFrame:
    """IVFADC with exact refinement — the full Jégou et al. 2011
    composition and the layout every billion-scale ANN index
    (faiss IVF-PQ + refine) ships: a TRAINED coarse quantizer
    (:func:`_kmeans_fit`, cosine Lloyd's) partitions the corpus into
    inverted lists; each vector stores only its list id + PQ codes of
    its RESIDUAL (vector − coarse centroid — the step that makes PQ
    cells small where data is dense); a query probes its ``n_probe``
    nearest lists, scores candidates by asymmetric distance (per-list
    lookup tables of exact int64 squared-L2 between the query's
    residual blocks and the residual codebook, summed over each
    candidate's codes), keeps the ``n_shortlist`` best, and re-ranks
    ONLY those by the exact quantized cosine. Returns
    ``(query_id, rank, vec_id, cosine)`` — bit-exact in any engine
    (coarse assignment = the replayed integer kmeans, residuals and PQ
    training are pure int64, ADC is a lookup sum, the re-rank cosine
    is the shared deterministic double expression), so the oracle
    checks VALUES; the recall-vs-exact overlap (observed 11-13 of 15
    across sf0.001-0.1) is pinned separately in tests.

    Scale (why this is THE 100 TB ANN layout): the stored index is one
    int (list id) + PQ_SUBSPACES small codes per vector — float
    vectors are read only for the n_queries x n_shortlist re-rank; the
    LUT is n_queries x n_probe x PQ_SUBSPACES x n_pq_centroids tiny
    rows, broadcast; and the join of the code frame against the LUT
    keys on ``(list_id, m, cent_id)`` IS the inverted-list pruning —
    vectors outside probed lists match no LUT row and drop at the
    broadcast join, so scored candidates ~ n·n_probe/n_coarse, not n.
    The two corpus-sized builds (residual join, codes+lists join) pin
    ``shuffle_hash``; every bounded frame (coarse centroids, PQ
    codebook, probe set, LUT, shortlist) is an explicit broadcast; the
    per-query top-k passes are :func:`~flink_snappydata_spark.util.top_k`,
    so no query is a hot partition. The shuffle carries int64
    (query, vec) partials, never vectors or codes.

    ``index``: a prebuilt :class:`IvfPqIndex` (from
    :func:`ivf_pq_index`) skips training/encoding — the amortized
    production shape, where the index is built once and queried many
    times; with ``index=None`` the build runs inline (what the
    registered oracle query measures).
    """
    if index is None:
        index = ivf_pq_index(
            embeddings, n_coarse=n_coarse,
            n_pq_centroids=n_pq_centroids, n_iters=n_iters,
        )
    qv, cents, pq_cents, codes = index
    cents = F.broadcast(cents)
    pq_cents = F.broadcast(pq_cents)
    # query probes: top-n_probe coarse lists by the same cosine rule
    q = qv.filter(F.col("vec_id") < n_queries)
    qscore = q.crossJoin(cents).select(
        F.col("vec_id").alias("query_id"),
        "cent_id",
        _cosine(
            _dot(F.col("qe"), F.col("ce")), F.col("norm_sq"), F.col("cn")
        ).alias("csim"),
    )
    # probes feed ONLY the LUT below, which is itself broadcast — no
    # separate broadcast round here (one fewer sequential job; all
    # frames in the LUT build are query-bounded).
    probes = top_k(
        qscore, ["query_id"], [F.col("csim").desc(), F.col("cent_id").asc()],
        n_probe,
    ).select("query_id", F.col("cent_id").alias("list_id"))
    # query residuals per probed list, cut into PQ blocks
    qres = (
        probes.join(
            q.select(F.col("vec_id").alias("query_id"), "qe"), "query_id"
        )
        .join(
            cents.select(F.col("cent_id").alias("list_id"), "ce"), "list_id"
        )
        .select(
            "query_id",
            "list_id",
            F.zip_with("qe", "ce", lambda a, b: a - b).alias("qre"),
        )
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(m).cast("long").alias("m"),
                F.slice(F.col("qre"), m * PQ_SUB_DIM + 1, PQ_SUB_DIM).alias(
                    "sq"
                ),
            )
            for m in range(PQ_SUBSPACES)
        ]
    )
    qsubv = qres.select("query_id", "list_id", F.inline(blocks))
    lut = F.broadcast(
        qsubv.join(pq_cents, "m").select(
            "query_id",
            "list_id",
            "m",
            "cent_id",
            _pq_l2(F.col("sq"), F.col("ce")).alias("lq"),
        )
    )
    adc = (
        codes.join(lut, ["list_id", "m", "cent_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lq").alias("adc_dist"))
    )
    shortlist = top_k(
        adc, ["query_id"], [F.col("adc_dist").asc(), F.col("vec_id").asc()],
        n_shortlist,
    ).select("query_id", "vec_id")
    # exact refinement of the bounded shortlist: attach each query's
    # vector to its candidate rows BEFORE the single broadcast, so the
    # corpus scan joins once against one (n_queries x n_shortlist)-row
    # frame instead of two broadcast rounds (shortlist, then q_vec).
    q_vec = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("q_qe"),
        F.col("norm_sq").alias("q_norm"),
    )
    cand = shortlist.join(q_vec, "query_id")
    reranked = qv.join(F.broadcast(cand), "vec_id").select(
        "query_id",
        "vec_id",
        _cosine(
            _dot(F.col("q_qe"), F.col("qe")),
            F.col("q_norm"),
            F.col("norm_sq"),
        ).alias("cosine"),
    )
    order = [F.col("cosine").desc(), F.col("vec_id").asc()]
    out = top_k(reranked, ["query_id"], order, k, rank="rank").select(
        "query_id", "rank", "vec_id", "cosine"
    )
    return presentation_sorted(out, "query_id", "rank")
