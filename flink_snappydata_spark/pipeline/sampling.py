"""Dataset sampling / splitting for training-data pipelines.

Three ops a 100 TB corpus pipeline needs constantly:

* :func:`hash_split` — deterministic train/val/test assignment from a
  stable key hash. Reproducible across runs, clusters, and *engines*
  (integral keys use the portable multiplicative hash shared with
  sharding, so DuckDB/any-SQL reproduces the split bit-for-bit; other
  key types fall back to xxhash64); adding documents never reassigns
  existing ones, unlike ``randomSplit``.
* :func:`stratified_sample` — per-class Bernoulli sampling
  (``sampleBy``) to rebalance over-represented classes; seeded.
* :func:`approx_distinct_by` — HyperLogLog++ distinct-count sketch per
  group: constant memory per key versus the exact count's full shuffle
  of distinct values — the scale path for cardinality profiling.
"""

from __future__ import annotations

import zlib
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_snappydata_spark.operators import wordcount
from flink_snappydata_spark.pipeline.packing import portable_hash
from flink_snappydata_spark.streaming.runtime import (
    ingest_stream_to_tables,
    read_state_table,
)
from flink_snappydata_spark.util import top_k

SPLIT_BUCKETS = 10_000


def hash_split(
    df: DataFrame,
    key: str,
    weights: Mapping[str, float] | None = None,
    salt: str = "fss-split-v1",
) -> DataFrame:
    """Attach a deterministic ``split`` column from a hash of ``key``.

    ``weights`` maps split name → fraction (must sum to ~1). The bucket
    is ``(portable_hash(key) + crc32(salt)) mod 10000`` for integral
    keys — pure BIGINT arithmetic any engine reproduces (the DuckDB
    oracle checks it bit-for-bit) — falling back to
    ``xxhash64(salt, key)`` for non-integral keys. Contiguous bucket
    ranges give each split its fraction. No shuffle, no state, no RNG —
    a row's split is a pure function of its key, so the assignment is
    identical on any cluster and stable under corpus growth.

    Versioning: stability holds WITHIN a hash scheme. Switching integral
    keys from xxhash64 to portable_hash+crc32 (the v1→v2 change that
    made the split oracle-checkable) was a one-time reassignment of
    every integral-keyed split — anyone holding splits materialized by
    the xxhash64 revision must regenerate train/val/test together, never
    mix old and new (cross-contamination). The salt doubles as the
    version tag; bump it (``fss-split-v2`` …) on any future scheme
    change so old and new assignments can't be confused.
    """
    weights = dict(weights or {"train": 0.98, "val": 0.01, "test": 0.01})
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if isinstance(df.schema[key].dataType, T.IntegralType):
        # crc32 of the salt is a driver-side constant — engine-neutral.
        salt_int = zlib.crc32(salt.encode())
        bucket = F.pmod(
            portable_hash(F.col(key).cast("long")) + F.lit(salt_int),
            F.lit(SPLIT_BUCKETS),
        )
    else:
        bucket = F.pmod(F.xxhash64(F.lit(salt), F.col(key)), F.lit(SPLIT_BUCKETS))
    expr = None
    upper = 0.0
    names = list(weights)
    for name in names[:-1]:
        upper += weights[name]
        cond = bucket < int(round(upper * SPLIT_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def split_counts(documents: DataFrame) -> DataFrame:
    """(split, n_docs) for the default 98/1/1 split over doc_id — the
    declared-query surface for :func:`hash_split`; the portable hash
    makes the DuckDB oracle reproduce the assignment exactly."""
    return (
        hash_split(documents, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


def stratified_sample(
    df: DataFrame, col: str, fractions: Mapping, seed: int = 42
) -> DataFrame:
    """Per-class Bernoulli sample (class → keep fraction). One scan, no
    shuffle; classes absent from ``fractions`` are dropped (fraction 0)."""
    return df.sampleBy(col, dict(fractions), seed=seed)


#: Default per-source token budget for the registered mixing query
#: (non-trivial at every fixture scale: each sf0.01 source holds ~1.3k
#: tokens → ~40% kept; sf0.1 ~13k → ~4% kept).
MIX_BUDGET_TOKENS = 500
MIX_SALT = "fss-mix-v1"


def token_budget_assign(
    documents: DataFrame,
    budget_tokens: int = MIX_BUDGET_TOKENS,
    salt: str = MIX_SALT,
) -> DataFrame:
    """Deterministic source-mixing downsampler: per-doc ``keep`` flags
    that bring every source down to ~``budget_tokens`` tokens — the
    pre-training data-mixing step ("N tokens of web, M of code, ...")
    done as a pure function of the data, no RNG, no state.

    Per source s with T_s total tokens, each document keeps iff its
    stable hash bucket (the :func:`hash_split` scheme: portable
    multiplicative hash of doc_id + crc32(salt), mod 10 000) falls
    below ``threshold_s = min(10000, (budget·10000) DIV T_s)`` — i.e. a
    keep RATE of ~budget/T_s, so expected kept tokens ≈ budget (exact
    only in expectation: selection is by whole document). All integer
    arithmetic (BIGINT DIV), so any engine reproduces the exact same
    document set; growing a source only re-rates it, never reshuffles
    which buckets survive relative to each other.

    Scale: one map-side-combined (source, int64) aggregation for the
    totals, the tiny per-source threshold table broadcast back over the
    corpus, and a per-row hash comparison — document text never
    shuffles, and nothing is quadratic or stateful. Returns (doc_id,
    source, n_tokens, total_tokens, threshold, keep) one row per input
    document.
    """
    docs = _doc_mix_features(documents, salt)
    totals = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens")
    )
    return _assign_from_totals(docs, totals, budget_tokens)


def _doc_mix_features(documents: DataFrame, salt: str) -> DataFrame:
    """(doc_id, source, n_tokens, bucket) — the cheap per-row mixing
    features, factored out so the streaming ingest computes them once
    per document at arrival (same expressions, same results)."""
    n_tok = F.size(wordcount.words(F.col("text"))).cast("long")
    salt_int = zlib.crc32(salt.encode())
    bucket = F.pmod(
        portable_hash(F.col("doc_id").cast("long")) + F.lit(salt_int),
        F.lit(SPLIT_BUCKETS),
    )
    return documents.select(
        "doc_id", "source", n_tok.alias("n_tokens"), bucket.alias("bucket")
    )


def _assign_from_totals(
    docs: DataFrame, totals: DataFrame, budget_tokens: int
) -> DataFrame:
    """Thresholds from per-source totals, broadcast back over the doc
    features — shared by the batch op and the streaming state scorer
    so both produce the identical keep set."""
    thresholds = totals.select(
        "source",
        "total_tokens",
        F.least(
            F.lit(SPLIT_BUCKETS).cast("long"),
            F.expr(
                f"CAST({budget_tokens * SPLIT_BUCKETS} AS BIGINT)"
                " DIV GREATEST(total_tokens, CAST(1 AS BIGINT))"
            ),
        ).alias("threshold"),
    )
    return docs.join(F.broadcast(thresholds), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        "total_tokens",
        "threshold",
        (F.col("bucket") < F.col("threshold")).alias("keep"),
    )


def token_budget_mix(
    documents: DataFrame,
    budget_tokens: int = MIX_BUDGET_TOKENS,
    salt: str = MIX_SALT,
) -> DataFrame:
    """Per-source mixing summary for :func:`token_budget_assign`:
    (source, total_tokens, threshold, n_docs_kept, tokens_kept) — the
    declared-query surface (the full oracle replays the hash, the
    thresholds, and the kept-token sums bit-for-bit)."""
    assigned = token_budget_assign(documents, budget_tokens, salt)
    return _mix_summary(assigned)


def _mix_summary(assigned: DataFrame) -> DataFrame:
    keep = F.col("keep").cast("long")
    return (
        assigned.groupBy("source")
        .agg(
            F.first("total_tokens").alias("total_tokens"),
            F.first("threshold").alias("threshold"),
            F.sum(keep).alias("n_docs_kept"),
            F.sum(F.col("n_tokens") * keep).alias("tokens_kept"),
        )
        .orderBy("source")
    )


def streaming_mix_ingest(
    stream_docs: DataFrame,
    docs_table: str,
    totals_table: str,
    salt: str = MIX_SALT,
    checkpoint: str | None = None,
):
    """Streaming-ingest twin of :func:`token_budget_mix` — the second
    stream→queryable-table loop over the LLM-pipeline set (same shape
    as ``text.streaming_novelty_ingest``): each micro-batch computes
    its per-document mixing features ONCE at arrival and blind-appends
    two catalog tables — the feature log (doc_id, source, n_tokens,
    bucket) and per-source token-total partials (source, tok).

    Budgeting is inherently two-phase (a document's keep decision
    depends on its source's GLOBAL token total), so the keep flags are
    not emitted at ingest; :func:`mix_from_state` folds the partials
    into totals and applies the identical threshold arithmetic at query
    time. Log-structured appends mean no read-modify-write state and
    no cross-batch transaction; re-rating after new arrivals never
    re-reads document text.

    Rides :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-appending partials.
    """
    return ingest_stream_to_tables(
        stream_docs,
        [
            (docs_table, None),
            (totals_table, mix_total_partials),
        ],
        prepare=lambda batch_df: _doc_mix_features(batch_df, salt),
        checkpoint=checkpoint,
    )


def mix_total_partials(feats: DataFrame) -> DataFrame:
    """One batch's per-source token-total partials ``(source, tok)`` —
    the :func:`streaming_mix_ingest` totals-table build, module-level
    so the fold scale probe (``tools/scale_probe.py`` mode ``folds``)
    lands the identical state batch-side."""
    return feats.groupBy("source").agg(F.sum("n_tokens").alias("tok"))


def mix_from_state(
    spark,
    docs_table: str,
    totals_table: str,
    budget_tokens: int = MIX_BUDGET_TOKENS,
) -> DataFrame:
    """Score the accumulated :func:`streaming_mix_ingest` state: fold
    the per-source partials into totals (map-side combined), derive
    thresholds, and join back over the ingested feature log — after a
    bounded stream drains, row-identical to :func:`token_budget_mix`
    on the same corpus (the batch oracle applies verbatim)."""
    docs = read_state_table(spark, docs_table)
    totals = read_state_table(spark, totals_table).groupBy("source").agg(
        F.sum("tok").alias("total_tokens")
    )
    return _mix_summary(_assign_from_totals(docs, totals, budget_tokens))


def approx_distinct_by(
    df: DataFrame, group_col: str, value_col: str, rsd: float = 0.02
) -> DataFrame:
    """(group, approx_distinct, exact-shape schema) via HyperLogLog++.

    ``rsd`` is the target relative standard deviation. At 100 TB the
    exact count shuffles every distinct value; the sketch shuffles a
    fixed few-KB register set per group.
    """
    return (
        df.groupBy(group_col)
        .agg(F.approx_count_distinct(value_col, rsd).alias("approx_distinct"))
        .orderBy(group_col)
    )


def approx_distinct_verified(
    df: DataFrame, group_col: str, value_col: str,
    rsd: float = 0.02, tol: float = 0.06,
) -> DataFrame:
    """HLL++ sketch with an in-query exactness verdict: per group, the
    exact distinct count plus ``within_bound`` = |approx − exact| ≤
    tol·exact (tol = 3·rsd by default, a ≫3σ margin for HLL++).

    Sketch values are engine-specific, so the oracle checks the
    deterministic verdict + exact count instead (bound-verdict pattern);
    the production scale path is :func:`approx_distinct_by` — at 100 TB
    the exact count here exists only to judge the sketch.
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.approx_count_distinct(value_col, rsd).alias("approx"),
            F.countDistinct(value_col).alias("exact_distinct"),
        )
        .select(
            group_col,
            "exact_distinct",
            (
                F.abs(F.col("approx") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * tol
            ).alias("within_bound"),
        )
        .orderBy(group_col)
    )


#: Default per-source document cap for :func:`per_source_cap` and the
#: bucket fan-out that de-skews its rank window (a hot source's rows
#: split across CAP_BUCKETS window partitions instead of one).
CAP_DEFAULT_K = 100
CAP_BUCKETS = 64


def per_source_cap(
    documents: DataFrame,
    k: int = CAP_DEFAULT_K,
    n_buckets: int = CAP_BUCKETS,
    sort: bool = True,
) -> DataFrame:
    """Per-source document cap: keep a deterministic pseudo-random
    sample of at most ``k`` documents per source — the "no domain may
    dominate the corpus" rule every web-scale curation pipeline
    applies (a single mirror farm can contribute billions of pages;
    capping by source bounds its influence before mixing).

    The sample is the ``k`` smallest values of
    ``portable_hash(doc_id)`` per source (doc_id tiebreak) — a pure
    function of content ids, so the kept set is stable under corpus
    growth ordering and reproducible in any engine. Returns one row
    per document: ``(doc_id, source, cap_rank, kept)``.

    Scale — NO per-source global sort and no hot-source window: a
    naive ``row_number() OVER (PARTITION BY source ORDER BY hash)``
    sends every row of a billion-page domain to ONE window partition.
    Instead the engine's two-phase bucket-histogram rank
    (:func:`~flink_snappydata_spark.pipeline.packing.global_index`
    pattern, here keyed per source): hash keys are uniform on
    [0, 2^31), so fixed key-range buckets split each source ~evenly
    into ``n_buckets`` slices; per-(source, bucket) counts are
    prefix-summed DISTRIBUTEDLY (a window over ≤ ``n_buckets`` rows
    per source — never the documents, never the driver), and the rank
    is a (source, bucket)-partitioned row_number plus the bucket
    offset. Worst per-window partition is hot_source/``n_buckets``;
    the histogram frame is |sources|·``n_buckets`` narrow rows, fine
    for millions of sources. Identical values to the naive window
    (bucket id is monotone in the hash).
    """
    from flink_snappydata_spark.pipeline.packing import (
        _HASH_MOD,
        portable_hash,
    )

    width = (_HASH_MOD + n_buckets - 1) // n_buckets
    keyed = documents.select(
        "doc_id",
        "source",
        portable_hash(F.col("doc_id")).alias("hk"),
    ).withColumn("b", F.expr(f"hk DIV {width}"))
    hist = keyed.groupBy("source", "b").agg(F.count(F.lit(1)).alias("cnt"))
    off_w = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = hist.select(
        "source",
        "b",
        F.coalesce(F.sum("cnt").over(off_w), F.lit(0)).alias("offset"),
    )
    rank_w = Window.partitionBy("source", "b").orderBy("hk", "doc_id")
    out = (
        # the offsets histogram is |sources|·n_buckets — corpus-scale
        # with millions of sources: pinned shuffle join (see
        # dedup._prefix_index's estimate-safety note)
        keyed.join(offsets.hint("shuffle_hash"), ["source", "b"])
        .select(
            "doc_id",
            "source",
            (F.row_number().over(rank_w) - 1 + F.col("offset"))
            .cast("long")
            .alias("cap_rank"),
        )
        .withColumn("kept", F.col("cap_rank") < F.lit(int(k)))
    )
    return out.orderBy("doc_id") if sort else out


# ---------------------------------------------------------------------------
# Bloom-filter membership (sketch family: HLL=cardinality, CMS=counts,
# Bloom=set membership)
# ---------------------------------------------------------------------------

BLOOM_BITS = 16384
BLOOM_HASHES = 4


def _bloom_bit(key, row: int):
    """Portable Bloom bit for hash row ``row``: md5 of ``"r#key"``
    (first 8 hex digits) mod :data:`BLOOM_BITS` — the same md5-word
    derivation as the CMS cells, identical in any engine."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(str(row)), key.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(BLOOM_BITS),
    )


def bloom_membership(
    customer: DataFrame, orders: DataFrame, threshold: float = 450_000.0
) -> DataFrame:
    """Bloom-filter membership with an in-query exact judge: build a
    16384-bit / 4-hash Bloom filter over the distinct customers holding
    an order above ``threshold``, probe EVERY customer against it, and
    report the filter's confusion against exact semi-join truth — the
    pre-join filter a distributed engine ships to scan sites so
    non-matching rows die at the source instead of crossing the
    network (Spark's own runtime bloom-join, reified as a portable
    queryable op).

    Output is one summary row: probes, Bloom positives, exact members,
    false positives (Bloom's only error mode — ``n_missed`` is
    structurally 0 and reported to prove it), and the realized FP rate
    over the true negatives.

    Scale: the filter side collapses to ≤ BLOOM_BITS set-bit rows
    (distinct keys → 4 bit positions → distinct bits, all map-side
    combined); probing is a BROADCAST join of that tiny bitset against
    the probe keys' bit expansion — the probe table never shuffles, so
    the op costs one scan of each input regardless of corpus size.
    """
    keys = (
        orders.filter(F.col("o_totalprice") > threshold)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bitset = (
        keys.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _bloom_bit(F.col("key"), r).alias("bit"),
                        )
                        for r in range(BLOOM_HASHES)
                    ]
                )
            ).alias("rb")
        )
        .select(F.col("rb.r").alias("r"), F.col("rb.bit").alias("bit"))
        .distinct()
    )
    probes = customer.select(F.col("c_custkey").alias("key"))
    probe_bits = probes.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _bloom_bit(F.col("key"), r).alias("bit"),
                    )
                    for r in range(BLOOM_HASHES)
                ]
            )
        ).alias("rb"),
    ).select("key", F.col("rb.r").alias("r"), F.col("rb.bit").alias("bit"))
    positives = (
        probe_bits.join(F.broadcast(bitset), ["r", "bit"])
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == BLOOM_HASHES)
        .select("key", F.lit(True).alias("bloom_pos"))
    )
    truth = keys.select("key", F.lit(True).alias("is_member"))
    judged = (
        probes.join(positives.hint("shuffle_hash"), "key", "left")
        .join(truth.hint("shuffle_hash"), "key", "left")
        .select(
            F.coalesce(F.col("bloom_pos"), F.lit(False)).alias("pos"),
            F.coalesce(F.col("is_member"), F.lit(False)).alias("truth"),
        )
    )
    return judged.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.col("pos").cast("long")).alias("n_bloom_positive"),
        F.sum(F.col("truth").cast("long")).alias("n_true_members"),
        F.sum((F.col("pos") & ~F.col("truth")).cast("long")).alias(
            "n_false_positives"
        ),
        F.sum((~F.col("pos") & F.col("truth")).cast("long")).alias(
            "n_missed"
        ),
        (
            F.sum((F.col("pos") & ~F.col("truth")).cast("long")).cast("double")
            / F.sum((~F.col("truth")).cast("long"))
        ).alias("fp_rate"),
    )


def weighted_sample(documents: DataFrame, k: int = 25) -> DataFrame:
    """Deterministic weighted sample: the top-``k`` documents per
    source under a weight-scaled hash priority — the A-RES
    (reservoir-with-priorities) shape with the RNG replaced by
    :func:`~flink_snappydata_spark.pipeline.packing.portable_hash`, so
    the "random" draw is a pure function of ``doc_id`` that any engine
    reproduces bit-for-bit. Longer documents (weight ``n_chars``) are
    proportionally more likely to make the reservoir, which is the
    standard size-weighted pick for eval panels and human-review
    batches; determinism means the panel is stable across runs,
    clusters, and re-partitioning.

    Priority is ``n_chars / (hash(doc_id) + 1)`` — an IEEE-754 double
    division of the same two int64s on both engines, hence identical
    bits and identical order (ties broken by ``doc_id``). Returns
    ``(source, rank, doc_id, n_chars)``.

    Scale: the per-source top-k is
    :func:`~flink_snappydata_spark.util.top_k`, so no single reducer
    ever sorts a whole source. Text is never selected; only ids,
    weights, and the source key shuffle.
    """
    pri = F.col("n_chars").cast("double") / (
        portable_hash(F.col("doc_id")) + F.lit(1)
    ).cast("double")
    cand = documents.select(
        "source",
        "doc_id",
        "n_chars",
        pri.alias("pri"),
    )
    return (
        top_k(cand, ["source"], [F.col("pri").desc(), "doc_id"], k, rank="rank")
        .select("source", "rank", "doc_id", "n_chars")
        .orderBy("source", "rank")
    )


def temperature_mix(
    documents: DataFrame, scale_tokens: int = 100
) -> DataFrame:
    """Temperature-scaled source rebalancing at T = 0.5 (the standard
    sqrt-temperature mix used to up-weight small sources in
    multilingual/multi-source training runs): each source keeps
    ``min(1, scale·√tokens_s / tokens_s) = min(1, scale/√tokens_s)`` of
    its documents, so kept tokens grow as √size — big sources are
    down-sampled hard, small sources barely at all. The keep decision
    is the engine's deterministic portable-hash coin, so any engine
    reproduces the exact same kept set.

    T is FIXED at 0.5 deliberately: general ``x^T`` goes through libm
    ``pow`` whose last-ulp behavior varies across platforms/engines,
    while ``sqrt`` is IEEE-754 correctly-rounded everywhere — the same
    cross-engine exactness rule as the engine's integer-cents
    discipline, applied to the one float this op needs. The per-source
    threshold is ``⌊min(1, scale/√tok)·2³¹⌋`` compared against the
    31-bit hash — pure int64 compare per document.

    Returns ``(source, total_tokens, keep_prob, n_docs, n_kept,
    tokens_kept)`` sorted by source.

    Scale: one map-side-combined per-source token total (ints), the
    threshold arithmetic on the source-count frame, then one
    broadcast-join of that tiny frame back for the keep flags — text
    never shuffles, no cross-source float sums (each source's
    probability depends only on its OWN total, so there is no
    order-sensitive Σ√tok reduction anywhere).
    """
    feats = _doc_mix_features(documents, MIX_SALT).select(
        "doc_id", "source", "n_tokens"
    )
    totals = feats.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens")
    )
    prob = F.least(
        F.lit(1.0),
        F.lit(float(scale_tokens))
        / F.sqrt(F.col("total_tokens").cast("double")),
    )
    thresholds = totals.select(
        "source",
        "total_tokens",
        prob.alias("keep_prob"),
        # explicit floor: DuckDB ROUNDS on double→BIGINT casts while
        # Spark truncates — floor is the one portable spelling.
        F.floor(prob * F.lit(float(2**31))).cast("long").alias("threshold"),
    )
    flagged = feats.join(F.broadcast(thresholds), "source").select(
        "source",
        "total_tokens",
        "keep_prob",
        "n_tokens",
        (
            portable_hash(F.col("doc_id").cast("long"))
            < F.col("threshold")
        ).cast("long").alias("keep"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.first("total_tokens").alias("total_tokens"),
            F.first("keep_prob").alias("keep_prob"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_kept"),
            F.sum(F.col("n_tokens") * F.col("keep")).alias("tokens_kept"),
        )
        .orderBy("source")
    )
