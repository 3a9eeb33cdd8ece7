"""Small shared plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Library-internal persisted intermediates (dedup candidate sets, LSH
# band tables, bucket keys...). Their consumers are lazy return values,
# so the producing function can never unpersist them itself; this
# registry lets a long-lived session (or the bench harness) drop them
# without clearing caches the CALLER owns (e.g. the table cache).
#
# A strong container is required: the JVM CacheManager keeps the cached
# plan alive regardless of Python references, so a WeakSet would drop
# the handle as soon as the producer returned and release_caches() would
# silently release nothing while blocks accumulate until eviction.
# Entries are held until release_caches() unpersists them and clears the
# set — bounded by one bench/query cycle, not the session lifetime.
_TRACKED_PERSISTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``persist()`` plus registration for :func:`release_caches`."""
    df.persist()
    _TRACKED_PERSISTS.append(df)
    return df


#: Leaf operators whose Catalyst size estimates do NOT scale with the
#: true data size: spark.range / createDataFrame / localCheckpoint /
#: foreachBatch frames report bytes that stay tiny no matter how much
#: data actually flows — the garbage-estimate shape that statically
#: broadcasts corpus-sized join sides (the round-9 OOM class).
#: Matched against leaf nodeName()s (plan-tree walk, not a substring
#: scan of the rendered plan — a string literal "Range (" in a filter
#: must not force a shuffle).
_ESTIMATE_BLIND_LEAVES = ("LogicalRDD", "LocalRelation", "Range")


def estimate_blind(df: DataFrame) -> bool:
    """True when ``df``'s plan contains an estimate-blind leaf — i.e.
    Catalyst's size statistics cannot be trusted to scale with the real
    input, so any join touching this frame must carry an explicit
    strategy hint rather than rely on the auto-broadcast threshold.

    File-backed scans (parquet/catalog tables) and cached relations
    keep honest, size-proportional stats and return False: there the
    planner's broadcast decision is correct AT EVERY SCALE (a 50 TB
    side estimates as 50 TB and is never statically broadcast), so a
    generic binary operator can safely leave the strategy to Catalyst.
    Joins of a corpus against a frame derived from the same corpus
    don't need this test — both sides are corpus-sized by construction
    at any scale, so they pin unconditionally.

    Streaming frames return False immediately: forcing batch
    optimization (``optimizedPlan()``) on a streaming plan raises
    AnalysisException, and the streaming execution path never uses the
    auto-broadcast estimate this guard exists to distrust — stream
    joins plan as state-store hash joins regardless.

    Classification walks the optimized plan's LEAF NODES by
    ``nodeName()`` rather than substring-matching the rendered plan, so
    a string literal like ``"LocalRelation"`` inside a filter predicate
    cannot false-positive into a forced shuffle.
    """
    if df.isStreaming:
        return False
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return any(
        leaves.apply(i).nodeName() in _ESTIMATE_BLIND_LEAVES
        for i in range(leaves.size())
    )


def block_pairs(
    df: DataFrame, keys: list[str], id_col: str, *payload: str,
    members: str | None = None,
) -> DataFrame:
    """(a, b) — every pair of ``df`` rows that share a block key
    ``keys``, as two structs of ``(id_col, *payload)`` with
    ``a.<id_col> < b.<id_col>``: the one candidate generator of the
    near-dup family, where a block is an LSH band, a hash bucket, a
    shingle or a user.

    One shuffle, no join: rows group by ``keys`` into one posting list
    per block, singleton lists are dropped, and each list explodes
    twice in-row. A self-join over the same frame would run the
    frame's subtree on both sides (under AQE a cached subtree is never
    reused). A pair that shares several blocks is emitted once per
    block; callers fold the repeats in their own verify or count.
    ``id_col`` must be unique within a block, so no row meets itself.

    ``members`` (an SQL predicate on a list element ``x``) draws ``b``
    only from the elements that satisfy it, for blocks that hold their
    own members plus visiting rows (LSH multiprobe): member × member
    and visitor × member pairs are made, visitor × visitor pairs never
    are. A visitor × member pair whose visitor has the greater id is
    dropped by the id order, so the caller must meet it the other way
    round in the visitor's own block.

    Bound: one shuffle record per block holds all of its rows, and the
    block emits O(rows²) pairs (O(rows × members) with ``members``).
    Callers keep blocks bounded: rarest prefix shingles, LSH buckets, a
    ``max_df`` cap, a type vocabulary.
    """
    fields = ", ".join((id_col, *payload))
    lists = (
        df.groupBy(*keys)
        .agg(F.expr(f"collect_list(struct({fields})) AS p"))
        .where("size(p) > 1")
    )
    b_list = "p"
    if members:
        # filtered once per list, before the rows multiply
        lists = lists.selectExpr("p", f"filter(p, x -> {members}) AS m")
        b_list = "m"
    return (
        lists.selectExpr(b_list, "explode(p) AS a")
        .selectExpr("a", f"explode({b_list}) AS b")
        .where(f"a.{id_col} < b.{id_col}")
    )


def top_k(
    df: DataFrame, group: list[str], order: list, k: int,
    rank: str | None = None,
) -> DataFrame:
    """The ``k`` first rows of each ``group`` under ``order``: the
    engine's one per-group top-k. ``order`` must be a total order (end
    it with a unique id) so the kept rows are deterministic. With
    ``rank`` the row number is kept as a long column of that name;
    without it the column is dropped.

    Scale: ``row_number() <= k`` is the shape Catalyst plans as a
    map-side top-k. With a ``group`` it inserts a partial
    ``WindowGroupLimit`` below the exchange, so each task ships at most
    ``k`` rows per group it holds and a hot group never crosses the
    shuffle whole; the final ``WindowGroupLimit`` and window then run
    over those survivors. Past
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000; -1
    turns the rule off) Spark plans the plain window, which sorts whole
    groups: same rows, no map-side cut. With no ``group`` the top-k is
    ``orderBy().limit(k)``, ``TakeOrderedAndProject`` at any ``k``
    (per-partition heaps, one merge of ``k`` rows per partition), and
    ``rank`` is numbered over those ``k`` rows only.
    """
    from pyspark.sql import Window

    if not group:
        out = df.orderBy(*order).limit(k)
        if rank:
            w = Window.orderBy(*order)
            out = out.withColumn(rank, F.row_number().over(w).cast("long"))
        return out
    col = rank or "_top_k_rn"
    w = Window.partitionBy(*group).orderBy(*order)
    out = df.withColumn(col, F.row_number().over(w).cast("long")).filter(
        F.col(col) <= k
    )
    return out if rank else out.drop(col)


def release_caches() -> int:
    """Unpersist every library-internal intermediate persisted via
    :func:`tracked_persist`; returns how many were released. Call after
    the results depending on them have been fully consumed."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to release
        n += 1
    return n


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure ``df`` has at least the cluster's default parallelism.

    Local-mode fixtures are single-file, single-row-group parquet — one
    input split — which would serialize every downstream explode/agg on
    one core. Hash-repartitioning on ``cols`` (e.g. the group key) both
    spreads the work and lets the next ``groupBy(cols)`` reuse the
    partitioning without another exchange.

    At scale this is a no-op: a 100 TB table already scans as thousands
    of splits, so the partition count check fails and no shuffle is
    added. The check costs one driver-side plan conversion, no job.

    Batch scans only: a streaming frame raises ``ValueError``. A stream
    micro-batch keeps its source partitioning, so a stream-side prepare
    step calls its kernel on the batch directly (a round-robin shuffle
    of a few rows would be a job of its own in every trigger).
    """
    if df.isStreaming:
        raise ValueError(
            "spread() is batch-only: a stream micro-batch keeps its source "
            "partitioning, so apply the kernel to the batch directly"
        )
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


def range_spread(df: DataFrame, *cols: str) -> DataFrame:
    """:func:`spread`, but RANGE-partitioned on ``cols`` — for per-row
    kernel pipelines whose declared output is presentation-sorted on
    the same key.

    Establishing the range layout on the CHEAP input (ids before blob
    synthesis/decode) instead of ``orderBy`` on the kernel output
    means (a) the range-bound sampling job runs over the narrow input
    scan, not a second execution of the Python kernels, and (b) the
    final global order needs only ``sortWithinPartitions`` — no second
    exchange. Order-preserving 1:1 kernels keep rows inside their
    range partition, so in-partition sorting yields the same total
    order ``orderBy`` would. Unlike :func:`spread` this is NOT a
    no-op on already-parallel inputs — a total order needs the range
    layout at every scale — but it replaces the output sort's
    exchange rather than adding one.
    """
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    return df.repartitionByRange(target, *cols)


def small_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Globally-ordered presentation sort for SMALL (aggregate- or
    pair-sized) results.

    ``orderBy`` range-partitions, and computing range bounds runs a
    sampling job that re-executes the entire child plan — for a query
    whose child is an expensive join/explode and whose output is a few
    hundred rows, that doubles the query. A hash shuffle to one
    partition plus an in-partition sort materializes the child exactly
    once and still yields a total order.

    Only for outputs bounded by aggregation (vocabulary counts,
    per-cluster stats): a single partition is the point, not a
    limitation. For outputs that are small on well-curated corpora but
    unbounded in the worst case (near-dup PAIR lists on a
    duplicate-heavy corpus are O(corpus)), never call this directly —
    go through :func:`presentation_sorted`, whose ``expect_small``
    hint keeps the ``orderBy`` escape hatch in the signature.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def presentation_sorted(
    df: DataFrame, *cols: str, expect_small: bool = True
) -> DataFrame:
    """Total-order presentation sort gated on a caller size hint.

    ``expect_small=True`` (the curated-corpus default, where near-dup
    pair/label outputs are a tiny fraction of the input) uses
    :func:`small_sorted` — one materialization of the (often expensive)
    child plan, no range-sampling job. ``expect_small=False`` (a
    duplicate-heavy corpus, where one row per paired document is still
    big) switches to a range-partitioned ``orderBy`` so the sort itself
    stays distributed; the price is ``orderBy``'s range-bound sampling
    pass over the child. Row content and order are identical either
    way — only the physical sort strategy changes.
    """
    if expect_small:
        return small_sorted(df, *cols)
    return df.orderBy(*cols)


def _value_cells(df: DataFrame, order_col: str, n_cells: int) -> DataFrame:
    """``df`` plus ``_cell`` in ``[0, n_cells)``: ``order_col`` (any
    numeric type) mapped onto ``n_cells`` equal-width cells spanning
    its GLOBAL min/max. The map is monotone, so cell order is value
    order and equal values share a cell; the two bounds ride a
    one-row broadcast cross join."""
    v = F.col(order_col).cast("double")
    bounds = df.agg(F.min(v).alias("_vmin"), F.max(v).alias("_vmax"))
    cell = F.floor(
        (v - F.col("_vmin"))
        * F.lit(float(n_cells))
        / (F.col("_vmax") - F.col("_vmin") + F.lit(1e-9))
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_cell", F.least(cell, F.lit(n_cells - 1)).cast("long"))
        .drop("_vmin", "_vmax")
    )


def cell_prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    partition_cols: tuple[str, ...] = (),
    n_cells: int = 4096,
    then_by: tuple[str, ...] = (),
) -> DataFrame:
    """Inclusive (right-closed) running sums of ``sum_cols`` in
    ``(order_col, *then_by)`` order within each ``partition_cols``
    group — WITHOUT a window that holds a whole group, the hazard of
    the naive ``Window.partitionBy(keys).orderBy(v)`` spelling when a
    group is itself large (a cumulative CDF over 10⁸ distinct cents
    would funnel through one task). The engine's one exact-rank/CDF
    primitive: a bounded probe picks the naive window or the two-phase
    value-cell prefix.

    ``order_col`` may be integral, decimal or fractional. ``then_by``
    breaks ties in ``order_col``: it is appended to the order of every
    window, so a running count over ``(score, doc_id)`` is a row
    number. ``(order_col, *then_by)`` should be unique within a group
    (a histogram frame, or a unique tiebreak); otherwise tied rows
    take their running sums in an arbitrary order.

    Small input (at most ``n_cells`` rows — one LocalLimit probe, which
    also materializes the input persist): the naive window. Larger
    input: :func:`_value_cells` buckets values into ``n_cells`` cells,
    per-(group, cell) subtotals take the strictly-lower-cell prefix on
    a window whose partitions hold ≤ n_cells narrow rows, within-cell
    inclusive prefixes run on (group, cell)-partitioned windows holding
    ~1/n_cells of a group's values each, and the cell offset table
    (≤ groups × n_cells rows) broadcasts back. Both branches return
    the SAME integers. Exclusive prefixes are ``cum_<col> - <col>``.

    Sums run in the input columns' own type (callers pass int64;
    results cast to long). ``sum_cols`` must be null-free (coalesce
    first). Adds ``cum_<col>`` and ``tot_<col>`` (the group's total,
    the denominator of a CDF — it rides the same window or broadcast,
    so a caller needs no totals pass of its own) per sum col; consumes
    the names ``_vmin/_vmax/_cell/_ct_*/_off_*`` internally.

    Bound: the broadcast offset table is ``groups × n_cells`` rows, so
    ``partition_cols`` must be LOW-cardinality (a type/language/flag
    vocabulary). A high-cardinality group key (per-user, per-document)
    needs the `per_source_cap` bucket-histogram rank idiom instead,
    where offsets stay keyed and co-partitioned rather than broadcast.

    NOTE: BATCH-ONLY, and CONSTRUCTION IS EAGER — the probe is an
    action, so every consumer (`quality_auc`, `ccnet_buckets`,
    `zipf_fit`, `quantile_transform`, `ks_drift`, `activity_gini`,
    `weighted_median_price`) runs a job while its frame is built. A
    streaming input raises ``NotImplementedError``: it can neither
    persist nor run the probe, and Spark rejects the non-time window
    it would need at ``start()``.
    """
    from pyspark.sql import Window

    if df.isStreaming:
        raise NotImplementedError(
            "cell_prefix_sums is batch-only: streaming input cannot be "
            "probed or persisted, and Spark rejects non-time windows on "
            "streams"
        )
    pc = list(partition_cols)
    order = [order_col, *then_by]
    # Every reader below (probe, bounds, cell keys, naive window) reads
    # the persist, so an expensive upstream — a full-outer histogram
    # merge, say — executes once.
    df = tracked_persist(df)
    # An input no bigger than the cell frame the slow path would build
    # fits one window partition anyway; the naive window then saves the
    # cell path's ~5 sequential tiny jobs (2-3 s of latency per query
    # at fixture scale).
    group_w = Window.partitionBy(*pc)
    if df.limit(n_cells + 1).count() <= n_cells:
        in_w = group_w.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return df.select(
            "*",
            *[
                F.sum(c).over(in_w).cast("long").alias(f"cum_{c}")
                for c in sum_cols
            ],
            *[
                F.sum(c).over(group_w).cast("long").alias(f"tot_{c}")
                for c in sum_cols
            ],
        )
    g = tracked_persist(_value_cells(df, order_col, n_cells))
    cell_w = group_w.orderBy("_cell").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        g.groupBy(*pc, "_cell")
        .agg(*[F.sum(c).alias(f"_ct_{c}") for c in sum_cols])
        .select(
            *pc,
            "_cell",
            *[
                F.coalesce(F.sum(f"_ct_{c}").over(cell_w), F.lit(0))
                .cast("long")
                .alias(f"_off_{c}")
                for c in sum_cols
            ],
            *[
                F.sum(f"_ct_{c}").over(group_w).cast("long").alias(f"tot_{c}")
                for c in sum_cols
            ],
        )
    )
    in_w = (
        Window.partitionBy(*pc, "_cell")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return g.join(F.broadcast(offs), pc + ["_cell"]).select(
        *df.columns,
        *[
            (F.col(f"_off_{c}") + F.sum(c).over(in_w))
            .cast("long")
            .alias(f"cum_{c}")
            for c in sum_cols
        ],
        *[f"tot_{c}" for c in sum_cols],
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact side, replicate the dim.

    A hot join key concentrates one reducer at scale; AQE's skew-join
    split handles it after the fact, this handles it by construction:
    the fact side gets a uniform salt in [0, n_salts), the dim side is
    exploded n_salts× (it is the small side — replication is cheap), and
    the join key becomes (key, salt), spreading each hot key over
    ``n_salts`` tasks. Result is row-identical to ``fact.join(dim, on)``
    for any salt assignment; the salt column does not survive the join.

    Decision rule (plan evidence in tests/test_sampling.py's
    ``test_aqe_skew_split_*``): prefer plain join + AQE when the skew is
    merely an oversized shuffle partition of an eligible shuffled join —
    AQE marks the SortMergeJoin ``skew=true`` and splits it at runtime,
    but only when the partition exceeds BOTH
    ``skewedPartitionThresholdInBytes`` (default 256 MB) AND
    ``skewedPartitionFactor``× the median. Salt by construction when
    (a) the hot partition is big enough to stall a task yet under AQE's
    radar (the defaults-miss test shows the pathological join sails
    through unsplit), (b) the skewed shuffle feeds a non-join operator
    AQE can't split (grouped agg / window over the hot key), or (c) the
    join runs in a streaming micro-batch, where AQE is unavailable.
    """
    salted_fact = fact.withColumn(
        "_salt", F.floor(F.rand(seed) * n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    return salted_fact.join(salted_dim, [on, "_salt"]).drop("_salt")
