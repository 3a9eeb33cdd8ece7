"""Data-profiling operators — per-column statistics and join-key skew.

The engine-side diagnostics a warehouse runs before planning a big job:
what does each column look like (nulls, cardinality, range), and how
skewed is the join key I'm about to shuffle on? Absent in the reference
(its catalog carries only row counts), but part of the operational
surface any SnappyData-style engine exposes; the skew profile is the
measurement behind this repo's own salting/AQE decision rules
(`util.salted_join`).

All statistics are exact and order-free (counts, distincts, min/max,
exact-integer share divisions), so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_snappydata_spark.functions.exact import cents
from flink_snappydata_spark.util import (
    cell_prefix_sums,
    presentation_sorted,
    top_k,
)


def table_profile(orders: DataFrame) -> DataFrame:
    """One profile row per column of the orders table: null count, exact
    distinct count, and min/max rendered as strings — the `ANALYZE
    TABLE` / data-quality summary that feeds optimizer statistics and
    ingest monitoring.

    Representations are engine-portable by construction: integers print
    canonically, the money column is profiled in exact cents, and the
    timestamp column is profiled as epoch microseconds — no
    locale-dependent formatting ever crosses the engine boundary.
    Returns ``(column, n_rows, n_nulls, n_distinct, min_repr,
    max_repr)`` sorted by column name.

    Scale: one pass over the table. Multiple exact COUNT(DISTINCT)s in
    a single aggregate plan via Catalyst's expand (k× map-side rows,
    each a narrow (column-id, value) pair) with partial aggregation
    before the shuffle — the profile never materializes the table
    anywhere, and the output frame is k rows. At petabyte scale the
    expand factor is the knob: profile column subsets per pass, or swap
    the exact distincts for `approx_count_distinct` (the engine's
    `agg_approx_distinct` path) when ±2% suffices.
    """
    cols = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "o_totalprice_cents": cents("o_totalprice"),
        "o_orderdate_us": F.unix_micros(F.col("o_orderdate").cast("timestamp")),
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, c in cols.items():
        aggs += [
            F.sum(c.isNull().cast("long")).alias(f"{name}__nulls"),
            F.count_distinct(c).alias(f"{name}__distinct"),
            F.min(c).cast("string").alias(f"{name}__min"),
            F.max(c).cast("string").alias(f"{name}__max"),
        ]
    one = orders.agg(*aggs)
    stack_args = []
    for name in cols:
        stack_args += [
            F.lit(name),
            F.col(f"{name}__nulls"),
            F.col(f"{name}__distinct"),
            F.col(f"{name}__min"),
            F.col(f"{name}__max"),
        ]
    return (
        one.select(
            "n_rows",
            F.stack(
                F.lit(len(cols)), *stack_args
            ).alias("column", "n_nulls", "n_distinct", "min_repr", "max_repr"),
        )
        .select(
            "column", "n_rows", "n_nulls", "n_distinct", "min_repr",
            "max_repr",
        )
        .orderBy("column")
    )


def benford_audit(orders: DataFrame) -> DataFrame:
    """First-significant-digit (Benford's-law) audit of the money
    column: observed leading-digit counts of ``o_totalprice`` vs the
    Benford expectation ``total · log10(1 + 1/d)``, with each digit's
    χ² contribution — the classic fabricated-amounts / broken-ingest
    screen (a corrupted feed that pads or truncates amounts shifts the
    leading-digit mass instantly).

    Exactness: amounts become integer cents (the repo's money repr),
    the leading digit is the first character of the INTEGER's decimal
    string (int→string is canonical on every engine — no float
    formatting, no log10 of data values), and the nine
    ``log10(1+1/d)`` constants are Python-computed literals embedded
    identically in both engines, so expected counts and χ² terms are
    the same double expressions on the same int64 inputs. All nine
    digits always appear (zero-observation digits kept by a LEFT JOIN
    from the 1..9 frame).

    Returns ``(digit, n_obs, expected, chi2_contrib)`` ordered by
    digit. Scale: one map-side-combined groupBy collapses the table to
    ≤9 rows; everything after runs on that frame.
    """
    import math

    c = cents("o_totalprice")
    obs = (
        orders.filter(c > 0)
        .groupBy(
            F.substring(c.cast("string"), 1, 1).cast("long").alias("digit")
        )
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    digits = orders.sparkSession.range(1, 10).select(
        F.col("id").alias("digit")
    )
    frac = None
    for d in range(1, 10):
        lit = F.lit(math.log10(1 + 1 / d))
        frac = (
            F.when(F.col("digit") == d, lit)
            if frac is None
            else frac.when(F.col("digit") == d, lit)
        )
    w = Window.partitionBy()
    joined = (
        digits.join(obs, "digit", "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0).cast("long")))
        .withColumn(
            "expected",
            F.sum("n_obs").over(w).cast("double") * frac,
        )
    )
    o = F.col("n_obs").cast("double")
    return joined.select(
        "digit",
        "n_obs",
        "expected",
        (
            (o - F.col("expected")) * (o - F.col("expected"))
            / F.col("expected")
        ).alias("chi2_contrib"),
    ).orderBy("digit")


def key_skew_profile(lineitem: DataFrame, key: str = "l_suppkey") -> DataFrame:
    """Join-key skew report for a fact-table key: how concentrated are
    the rows you are about to shuffle? Returns one row —
    ``(n_rows, n_keys, max_key_rows, top1_share, top10_share, hhi)`` —
    where ``hhi`` is the Herfindahl concentration index Σ share² (1/k
    for uniform keys, →1 for one hot key). This is the measurement that
    decides between a plain shuffle join, AQE skew splitting, and
    explicit salting (`util.salted_join`'s decision rule).

    Exactness: shares are double divisions of exact integer sums; the
    Σcnt² partial is DECIMAL(38,0) so a 10-billion-row hot key cannot
    overflow int64.

    Scale: the key histogram is one map-side-combined groupBy (output =
    key cardinality, the profile's working set — always ≪ fact rows).
    The top-10 is :func:`~flink_snappydata_spark.util.top_k`, so no
    single reducer ever sorts the whole histogram.
    """
    cnt = (
        lineitem.groupBy(F.col(key).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    base = cnt.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_key_rows"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("sc2"),
    )
    top10 = (
        top_k(cnt, [], [F.col("c").desc(), "k"], 10, rank="r")
        .agg(
            F.max(F.when(F.col("r") == 1, F.col("c"))).alias("top1_rows"),
            F.sum("c").alias("top10_rows"),
        )
    )
    n_rows = F.col("n_rows").cast("double")
    return base.crossJoin(top10).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        (F.col("top1_rows").cast("double") / n_rows).alias("top1_share"),
        (F.col("top10_rows").cast("double") / n_rows).alias("top10_share"),
        (
            F.col("sc2").cast("double") / (n_rows * n_rows)
        ).alias("hhi"),
    )


def referential_audit(
    orders: DataFrame, customer: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Referential-integrity audit across the star schema's two big
    foreign keys: orders whose ``o_custkey`` has no customer row, and
    lineitems whose ``l_orderkey`` has no order row — the data-quality
    gate a warehouse runs after every ingest, reported as one row
    ``(n_orders, n_order_orphans, n_lineitems, n_lineitem_orphans)``.

    Scale: two LEFT ANTI joins, each followed immediately by a
    single-row count — the anti join carries ONLY the key column of
    each side (Catalyst prunes the rest), so the shuffle payload is one
    int64 per row. The customer key side is dimension-sized and
    broadcasts under AQE; the orders-into-lineitem check shuffles both
    sides on the shared ``orderkey`` partitioning. Nothing wider than a
    key ever moves.
    """
    o_orph = (
        orders.select("o_custkey")
        .join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_order_orphans"))
    )
    l_orph = (
        lineitem.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_lineitem_orphans"))
    )
    n_o = orders.agg(F.count(F.lit(1)).alias("n_orders"))
    n_l = lineitem.agg(F.count(F.lit(1)).alias("n_lineitems"))
    return (
        n_o.crossJoin(o_orph)
        .crossJoin(n_l)
        .crossJoin(l_orph)
        .select(
            "n_orders", "n_order_orphans", "n_lineitems",
            "n_lineitem_orphans",
        )
    )


def quantile_transform(
    events: DataFrame, n_cells: int = 4096, sort: bool = True
) -> DataFrame:
    """Per-type quantile (CDF) transform table for the event value —
    the exact mapping ``value → F(value)`` used for rank-normalizing
    features before training and for percentile dashboards. Each
    distinct (type, value-cents) pair gets its occurrence count and its
    exact right-closed CDF position ``cum/n`` — a rational number
    evaluated identically on both engines.

    Returns ``(event_type, v, n, q)`` sorted by (type, v) when
    ``sort=True``; joining a raw event against this table on (type, v)
    yields its quantile.

    Scale: the corpus collapses FIRST to the per-type value histogram
    (map-side combined, bounded by the value domain's distinct-cent
    cardinality per type, not event count). The cumulative count and
    the per-type total are then the keyed two-phase prefix of
    :func:`~flink_snappydata_spark.util.cell_prefix_sums`: values
    bucket into ``n_cells`` fixed bounds-derived cells (a monotone
    map, so cell order = value order), the per-(type, cell) histogram
    — ≤ types × n_cells narrow rows — takes the strictly-lower-cell
    prefix on a type-partitioned window, and within-cell prefixes run
    on (type, cell)-partitioned windows whose partitions hold
    ~1/n_cells of a type's distinct values each. NO window ever holds
    a type's whole histogram, so a type with 10⁸ distinct cents never
    funnels through one task (the naive ``Window.partitionBy(type)``
    over the full histogram would). q is one double division of exact
    int64s, bit-identical to the single-window spelling.
    """
    hist = events.groupBy("event_type", cents("value").alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = cell_prefix_sums(
        hist, "v", ["n"], ("event_type",), n_cells=n_cells
    ).select(
        "event_type",
        "v",
        "n",
        (
            F.col("cum_n").cast("double") / F.col("tot_n").cast("double")
        ).alias("q"),
    )
    if sort:
        return presentation_sorted(
            out, "event_type", "v", expect_small=False
        )
    return out
