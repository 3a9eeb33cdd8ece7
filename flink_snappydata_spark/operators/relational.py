"""Core batch relational operators: aggregation, joins, sorts, set ops.

Reference parity map (all citations into ``/root/reference/``):

* Grouped aggregation — the reference's ``groupBy(0).sum(1)``
  (``WordCount.scala:32-33``) generalized to the TPC-H-Q1-style pricing
  summary over the fixture mirroring the reference's own smoke table
  (``APP.PARTSUPP``, ``SnappydataConnectorTest.scala:14``).
* Joins — the reference only has a windowed stream-stream join
  (``ParquetTableJoin.scala:51-59``); the batch equi/outer/semi/anti and
  non-equi forms here are the Spark-native completion of that surface
  (SURVEY.md §2.3).
* Sorts / limits / set ops / distinct — absent in the reference
  (SURVEY.md §2.7); exposed as built-ins for inventory coverage.

Scale notes are given per operator; the common rules: dimension tables
are broadcast (no shuffle of the fact side), aggregations rely on
Catalyst's partial/final hash aggregation (map-side combine), and no
operator materializes unbounded state on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_snappydata_spark.functions.exact import cents


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-12-01") -> DataFrame:
    """Flagship pricing-summary aggregation (TPC-H Q1 shape).

    groupBy+sum parity with reference ``WordCount.scala:32-33``, scaled to
    a real analytic query. Exact integer-cents arithmetic keeps the sums
    associative (bit-identical at any parallelism — see functions/exact).

    Scale: single hash aggregation over 4 grouping values — partial aggs
    reduce each task's output to ≤4 rows before the shuffle; the filter
    and the 7-column projection push down to the parquet scan.
    """
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    qty_c = cents("l_quantity")
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c) / F.lit(100.0)).alias("sum_qty"),
            (F.sum(price_c) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(price_c * (F.lit(100) - disc_c)) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(price_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c)) / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(qty_c) / F.lit(100.0) / n).alias("avg_qty"),
            (F.sum(price_c) / F.lit(100.0) / n).alias("avg_price"),
            (F.sum(disc_c) / F.lit(100.0) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def agg_distinct(orders: DataFrame) -> DataFrame:
    """COUNT(DISTINCT) per group (absent in reference, SURVEY.md §2.4).

    Scale: Catalyst expands distinct aggregation into a two-stage
    shuffle (expand + partial agg); for approximate needs at 100 TB use
    ``approx_count_distinct`` instead (exposed in the same inventory).
    """
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def agg_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_quantity")) / F.lit(100.0)).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def agg_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (orderstatus, orderpriority) with exact money sums."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("sum_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def agg_grouping_sets(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority), ()) — the general
    form rollup/cube specialize; one shuffle produces all three
    granularities (Catalyst expands then aggregates once)."""
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("sum_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def star_join_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Star join: fact ⋈ 4 dimensions, revenue per region/nation.

    Scale: customer/nation/region are broadcast (``F.broadcast``) so the
    fact table never shuffles for them; lineitem⋈orders is the only
    shuffle join (both sides keyed on orderkey), and AQE will convert it
    to broadcast too at small SFs. Aggregation is partial+final.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            (F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("region_name", "nation_name")
    )


def broadcast_dim_join(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Fact ⋈ broadcast dimension: revenue by part brand.

    Scale: explicit ``F.broadcast(part)`` — at 100 TB the fact side is
    petabytes and must not shuffle for a dimension lookup.
    """
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def left_outer_join_counts(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT OUTER join keeping customers with zero orders.

    Scale: customer is the smaller side but must be preserved, so Spark
    broadcasts it and streams orders (AQE picks the side); COUNT(col)
    semantics (nulls excluded) give the zero counts.
    """
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def semi_join_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT SEMI: customers that have at least one qualifying order."""
    big = orders.filter(F.col("o_totalprice") > F.lit(100000.0))
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def anti_join_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI: customers with no large order (> 400k).

    The filter keeps the anti-join non-degenerate on the fixtures (every
    customer has *some* order, so an unfiltered anti-join is empty).
    """
    big = orders.filter(F.col("o_totalprice") > F.lit(400000.0))
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def band_join(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """Equi + inequality join (nation-mates where customer out-balances
    supplier).

    Scale: the equi key (nationkey) drives a hash/sort-merge join; the
    inequality is a post-join residual filter — never a nested-loop over
    the full cross product.
    """
    return (
        customer.join(
            F.broadcast(supplier),
            (F.col("c_nationkey") == F.col("s_nationkey"))
            & (F.col("c_acctbal") > F.col("s_acctbal")),
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("nationkey")
    )


def pure_nonequi_join(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Pure theta join (no equi key) → BroadcastNestedLoopJoin.

    Only safe because both sides are tiny dims; kept in the inventory to
    cover the operator class (SURVEY.md §2.3 "non-equi via boolean
    conditions").
    """
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") < F.col("r_regionkey"))
        .select("n_name", "r_name")
        .orderBy("n_name", "r_name")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k / distinct / set ops (SURVEY.md §2.7)
# ---------------------------------------------------------------------------

def top_k_orders(orders: DataFrame, k: int = 10) -> DataFrame:
    """Top-k by price. orderBy+limit compiles to TakeOrderedAndProject:
    each task keeps a k-row heap, the driver merges k*tasks rows — no
    global sort, scale-safe. Unique-key tiebreak keeps the answer
    deterministic under ties.
    """
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def distinct_pairs(lineitem: DataFrame) -> DataFrame:
    """DISTINCT on a projected pair (dropDuplicates ≡ SELECT DISTINCT)."""
    return (
        lineitem.select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus")
    )


def set_ops_nations(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the nation keys of two tables.

    Single result frame tagged by set operation, so one query covers the
    whole family. All three are shuffle-dedup ops on a tiny key domain.
    """
    c = customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return (
        c.union(s).distinct().withColumn("set_op", F.lit("union"))
        .union(c.intersect(s).withColumn("set_op", F.lit("intersect")))
        .union(c.exceptAll(s).distinct().withColumn("set_op", F.lit("except")))
        .orderBy("set_op", "nationkey")
    )


def pivot_revenue(lineitem: DataFrame) -> DataFrame:
    """groupBy().pivot(): price sums by returnflag, one column per
    linestatus. Explicit pivot values keep the plan a single pass (no
    distinct-value pre-query) and the schema deterministic — the form
    that scales (a pivot on unbounded distinct values would not).
    """
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg((F.sum(cents("l_extendedprice")) / F.lit(100.0)))
        .select(
            "l_returnflag",
            F.col("F").alias("sum_price_f"),
            F.col("O").alias("sum_price_o"),
        )
        .orderBy("l_returnflag")
    )


def agg_percentile(orders: DataFrame) -> DataFrame:
    """Exact interpolated percentiles (median / p90) over integer cents.

    ``percentile`` sorts each group's values — exact order statistics;
    interpolation over exact int64 cents is the same IEEE expression in
    any engine, so results stay hash-comparable. At 100 TB prefer
    ``approx_percentile`` (t-digest sketch, no per-group sort) — exposed
    alongside as the scale path.
    """
    cents_col = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr(f"percentile({cents_col}, 0.5)").alias("p50_cents"),
            F.expr(f"percentile({cents_col}, 0.9)").alias("p90_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def agg_histogram(orders: DataFrame, n_bins: int = 10) -> DataFrame:
    """Equi-width histogram of order totals over exact cents.

    Bucket index = ``cents * n_bins DIV hi`` — pure int64 arithmetic,
    engine-identical on every boundary (no float binning); one hash agg,
    no sort.
    """
    hi = 60_000_000  # cents; fixture totalprice < 600k
    # integer DIV, not double division:
    bucket = F.expr(
        f"CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * {n_bins}) DIV {hi} AS BIGINT)"
    )
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bucket")
    )


def agg_approx_percentile(orders: DataFrame, accuracy: int = 10000) -> DataFrame:
    """Approximate percentiles (GK-sketch): no per-group sort of values,
    mergeable partial state — the 100 TB path for order statistics.

    Sketch values are engine-specific, so the query emits the
    deterministic bound verdict instead (bound-verdict pattern): per
    priority, ``p{50,90}_within_bound`` = the sketch value lies between
    the exact interpolated 45th/55th (resp. 85th/95th) percentiles. At
    accuracy=10000 the sketch's rank error is ≤ n/10000, so the ±5-point
    value bracket is a ≫100× margin. The exact percentiles exist only to
    judge the sketch; the production answer is the sketch itself.
    """
    cents_col = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr(f"approx_percentile({cents_col}, 0.5, {accuracy})").alias("a50"),
            F.expr(f"approx_percentile({cents_col}, 0.9, {accuracy})").alias("a90"),
            F.expr(
                f"percentile({cents_col}, array(0.45, 0.55, 0.85, 0.95))"
            ).alias("ex"),
        )
        .select(
            "o_orderpriority",
            F.col("a50").between(F.col("ex")[0], F.col("ex")[1]).alias("p50_within_bound"),
            F.col("a90").between(F.col("ex")[2], F.col("ex")[3]).alias("p90_within_bound"),
        )
        .orderBy("o_orderpriority")
    )


def agg_approx_percentile_raw(orders: DataFrame, accuracy: int = 10000) -> DataFrame:
    """The raw GK-sketch percentiles — what actually runs at 100 TB.

    :func:`agg_approx_percentile` (the registered, oracle-checkable
    variant) adds an exact ``percentile()`` judge, whose full per-group
    sort dominates its timing; this judge-free form exists so the bench
    can report the scale path's true cost. Sketch values are
    engine-specific, hence no oracle entry.
    """
    cents_col = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr(f"approx_percentile({cents_col}, 0.5, {accuracy})").alias("p50_cents"),
            F.expr(f"approx_percentile({cents_col}, 0.9, {accuracy})").alias("p90_cents"),
        )
        .orderBy("o_orderpriority")
    )


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q6-style forecast revenue: pure filter + global agg.

    The pushdown showcase — all three predicates (date range, discount
    band, quantity cap) reach the parquet scan; integer-cents predicates
    make the discount band exact (BETWEEN 0.05 AND 0.07 on binary
    doubles is a classic float trap).
    """
    disc_c = cents("l_discount")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (disc_c >= 5) & (disc_c <= 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents("l_extendedprice") * disc_c) / F.lit(10000.0))
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q3_shipping_priority(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H-Q3-style shipping priority: segment filter -> two joins ->
    grouped revenue -> top-k. (The fixture has no o_shippriority column;
    grouping is (l_orderkey, o_orderdate).)

    Scale: customer filter first (selective dim, broadcast), lineitem
    date filter pushed to scan, top-k via TakeOrderedAndProject — no
    global sort materialization.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .join(
            orders.filter(
                F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                customer.filter(F.col("c_mktsegment") == "BUILDING")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(k)
    )


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q4-style priority count: EXISTS correlated subquery over
    lineitem, decorrelated to a left-semi join. (The fixture has no
    l_commitdate/l_receiptdate; the EXISTS predicate is "order has at
    least one returned line item", same shape.)

    Scale: the semi join shuffles only lineitem's filtered key column
    (projection pruned to l_orderkey at the scan); orders' date filter
    pushes down; output is 5 rows via partial-then-final agg.
    """
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q18_large_volume_customer(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty_cents: int = 15_000,
    k: int = 100,
) -> DataFrame:
    """TPC-H-Q18-style large-volume customers: IN subquery over a grouped
    HAVING (orders whose total quantity exceeds a threshold), then a
    second aggregation over the 3-way join — the double-aggregation
    idiom.

    Scale: the inner aggregation reduces lineitem to one row per order
    before the HAVING filter; the qualifying-key set is small and joins
    back as a semi join on the already-shuffled l_orderkey (AQE can pick
    broadcast at runtime); top-k via TakeOrderedAndProject, no global
    sort. Exact integer-cents threshold keeps the boundary identical to
    the SQL oracle.
    """
    qty_c = cents("l_quantity")
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(qty_c).alias("qty_c"))
        .filter(F.col("qty_c") > min_qty_cents)
        .select("l_orderkey")
    )
    return (
        lineitem.join(big_orders, "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg((F.sum(qty_c) / F.lit(100.0)).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def agg_having(orders: DataFrame, min_orders: int = 15) -> DataFrame:
    """Grouped agg + HAVING (post-aggregation filter): high-volume
    customers. Catalyst evaluates the filter on aggregated rows — no
    second scan."""
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("sum_total"),
        )
        .filter(F.col("n_orders") >= min_orders)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# TPC-H query-shape coverage (SURVEY.md §2.4/§2.3: the reference's
# full-SQL-pushdown contract, SnappyDataInputFormat.java:49,87-91, makes
# the whole relational SQL surface parity-relevant). Fixture adaptations
# are noted per query (no l_shipmode/p_container/c_phone/partsupp in the
# driver-generated tables).
# ---------------------------------------------------------------------------

def _ts(value: str) -> F.Column:
    return F.lit(value).cast("timestamp")


def q5_local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H-Q5-style local supplier volume: revenue by nation where the
    supplier and customer share a nation, within one region and one
    order-date year.

    Scale: nation/region/supplier are broadcast dims; the only big
    shuffles are the customer⋈orders and orders⋈lineitem equi-joins on
    their natural keys. The c_nationkey = s_nationkey clause rides the
    l_suppkey broadcast join as a post-join filter — no extra exchange.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1997-01-01"))
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q7_volume_shipping(
    lineitem: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H-Q7-style volume shipping between two nations, grouped by
    (supplier nation, customer nation, ship year) — the disjunctive
    two-nation pair filter.

    Scale: both nation lookups broadcast (aliased copies of a 25-row
    dim); the pair filter applies after the broadcasts, pruning before
    the grouped aggregation. Fact-side shuffles: lineitem⋈orders and
    orders⋈customer only.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q10_returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H-Q10-style returned-item reporting: revenue lost to returns
    per customer in one quarter, top-k customers.

    Scale: lineitem's returnflag + orders' date filters push to the
    scans; nation broadcast; top-k via TakeOrderedAndProject with a
    c_custkey tiebreak so the cut is deterministic.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        orders.filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1996-04-01"))
        )
        .join(
            lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


def q12_priority_shipping(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q12-style two-bucket CASE aggregation (fixture adaptation:
    no l_shipmode column, so lines group by l_linestatus and the CASE
    buckets split urgent vs non-urgent order priority).

    Scale: one fact-fact equi-join (both sides shuffle on the order
    key), conditional sums fold into the partial aggregation — the
    two-bucket split costs nothing extra.
    """
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H-Q14-style promotion-revenue share: percentage of one
    month's revenue from PROMO-type parts.

    Scale: part is the broadcast dim; lineitem's month filter pushes
    down; the ratio divides two exact integer-cent sums (single global
    agg row) so the double result is bit-identical on any engine.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    promo = F.col("p_type").startswith("PROMO")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts("1996-09-01"))
            & (F.col("l_shipdate") < _ts("1996-10-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(promo, revenue_c).otherwise(F.lit(0)))
                / F.sum(revenue_c)
            ).alias("promo_revenue")
        )
    )


def q15_top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H-Q15-style top supplier: the supplier(s) whose quarterly
    revenue equals the maximum over all suppliers (view + scalar MAX
    subquery).

    Scale: one grouped aggregation of the filtered lineitem (per-supplier
    cardinality), a 1-row global MAX broadcast back as a scalar, and a
    broadcast join to the supplier dim. Exact integer-cents revenue makes
    the = MAX comparison well-defined.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(revenue_c).alias("total_c"))
    )
    max_rev = rev.agg(F.max("total_c").alias("max_c"))
    return (
        rev.join(F.broadcast(max_rev), F.col("total_c") == F.col("max_c"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_c") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q16_supplier_part_count(
    part: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    sizes: tuple[int, ...] = (1, 5, 9, 13, 17, 21, 25, 29),
) -> DataFrame:
    """TPC-H-Q16-style supplier count by part attributes with a NOT IN
    exclusion subquery (fixture adaptation: supply routes come from
    lineitem instead of the absent partsupp; the exclusion list is
    suppliers with negative account balance instead of complaint
    comments).

    Scale: the exclusion list is a tiny broadcast anti join (never a
    shuffle of the fact side); part joins broadcast; COUNT DISTINCT
    shuffles only (brand, size, suppkey) triples after per-partition
    dedup.
    """
    routes = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(
                supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return (
        routes.join(
            F.broadcast(part.filter(F.col("p_size").isin(*sizes))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_size"))
    )


def q19_discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H-Q19-style disjunctive-predicate revenue: OR of three
    (brand, size-band, quantity-band) conjunctions (fixture adaptation:
    size bands replace the absent p_container).

    Scale: Catalyst extracts the common p_partkey equi-key so this stays
    a broadcast hash join, with the OR-of-ANDs evaluated as the join's
    residual filter — the classic "complex predicate still joins on the
    key" case.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    q = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            (F.sum(revenue_c) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q21_waiting_supplier(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    late_days: int = 60,
    k: int = 100,
) -> DataFrame:
    """TPC-H-Q21-style suppliers-who-kept-orders-waiting: for finished
    multi-supplier orders, count each supplier's late lines in orders
    where it was the ONLY late supplier (fixture adaptation: lateness is
    l_shipdate > o_orderdate + late_days, replacing the absent
    commit/receipt dates).

    Scale: the reference EXISTS / NOT-EXISTS pair decorrelates into
    aggregate-first form — lineitem⋈orders is computed ONCE, collapsed
    to (order, supplier) rows, and the per-order supplier/late-supplier
    counts come from a second, far smaller aggregation. A naive
    decorrelation references the joined fact twice and re-scans it;
    this shape never does.
    """
    li = (
        lineitem.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn(
            "is_late",
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS"),
        )
        .select("l_orderkey", "l_suppkey", "is_late")
    )
    # ONE pass over the joined fact: late-line count per (order,
    # supplier), then the per-order supplier/late-supplier counts as
    # window aggregates over the SAME frame — a second groupBy would
    # duplicate the scan+join subtree in the plan (no auto-reuse for
    # unpersisted branches).
    from pyspark.sql import Window

    os_agg = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late_lines")
    )
    per_order = Window.partitionBy("l_orderkey")
    qualified = (
        os_agg.withColumn("n_supp", F.count(F.lit(1)).over(per_order))
        .withColumn(
            "n_late_supp",
            F.sum(
                F.when(F.col("n_late_lines") > 0, 1).otherwise(0)
            ).over(per_order),
        )
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        qualified
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(k)
    )


def q22_global_sales_opportunity(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H-Q22-style global sales opportunity: customers with
    above-average positive balance and no recent orders, grouped by
    nation (fixture adaptation: nation key replaces the absent phone
    country code; "no orders since 1999" replaces "no orders ever",
    which is empty in the fixture).

    Scale: the average is one broadcast scalar row; comparing
    bal_cents * n_positive > total_cents keeps the threshold in exact
    integer arithmetic (no float AVG); the exclusion is a broadcast-able
    anti join on the filtered order keys.
    """
    bal_c = cents("c_acctbal")
    avg_row = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal_c).alias("total_bal_c"),
        F.count(F.lit(1)).alias("n_positive"),
    )
    recent = orders.filter(F.col("o_orderdate") >= _ts("1999-01-01")).select(
        "o_custkey"
    )
    return (
        customer.join(F.broadcast(avg_row))
        .filter(bal_c * F.col("n_positive") > F.col("total_bal_c"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(bal_c) / F.lit(100.0)).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q13_customer_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H-Q13-style customer order-count distribution: LEFT join so
    zero-order customers count, then the distribution of per-customer
    order counts (fixture adaptation: the excluded-comment predicate
    becomes "exclude urgent orders").

    Scale: one outer-join shuffle on the customer key, then a
    count-of-counts aggregation whose input is one row per customer and
    whose output is the tiny distribution histogram.
    """
    return (
        customer.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#12"
) -> DataFrame:
    """TPC-H-Q17-style small-quantity-order revenue: lines of one brand
    whose quantity is below 20% of that part's average quantity.

    Scale: the correlated AVG decorrelates to one per-part aggregation
    of the brand-filtered lines (tiny, broadcast back); the threshold
    compare is exact integer cross-multiplication —
    ``qty < 0.2 * (sum/cnt)``  ⇔  ``qty_c * 5 * cnt < sum_c`` — no float
    AVG anywhere, so the boundary matches the SQL oracle bit-for-bit.
    """
    qty_c = cents("l_quantity")
    branded = lineitem.join(
        F.broadcast(part.filter(F.col("p_brand") == brand)),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("l_partkey", qty_c.alias("qty_c"), cents("l_extendedprice").alias("price_c"))
    per_part = branded.groupBy("l_partkey").agg(
        F.sum("qty_c").alias("sum_qty_c"), F.count(F.lit(1)).alias("n_lines")
    ).withColumnRenamed("l_partkey", "agg_partkey")
    return (
        branded.join(
            F.broadcast(per_part),
            F.col("l_partkey") == F.col("agg_partkey"),
        )
        .filter(F.col("qty_c") * 5 * F.col("n_lines") < F.col("sum_qty_c"))
        .agg(
            (F.sum("price_c") / F.lit(700.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_5",
    region_name: str = "ASIA",
    part_type: str = "STANDARD",
) -> DataFrame:
    """TPC-H-Q8-style national market share: the target nation's
    suppliers' share of one region's market for one part type, per
    order year.

    Scale: part/supplier/nation/region broadcast; the two fact shuffles
    are lineitem⋈orders and orders⋈customer. The share is a ratio of
    two exact integer-cent sums per year — the conditional sum folds
    into the same partial aggregation, so the ratio costs nothing extra.
    """
    revenue_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    market_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == part_type)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(market_nations), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == target_nation, revenue_c)
                    .otherwise(F.lit(0))
                ).cast("double")
                / F.sum(revenue_c)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q9_product_profit(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_fragment: str = "red",
) -> DataFrame:
    """TPC-H-Q9-style product-type profit by (supplier nation, year)
    (fixture adaptation: cost = p_retailprice * l_quantity stands in for
    the absent partsupp.ps_supplycost).

    Scale: part (name-filtered) and supplier/nation broadcast; one
    lineitem⋈orders shuffle; profit computed in exact cents² units so
    the nation/year sums are order-independent.
    """
    amount_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount")) - cents(
        "p_retailprice"
    ) * cents("l_quantity")
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_name").contains(name_fragment))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(amount_c) / F.lit(10000.0)).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def q20_excess_suppliers(
    supplier: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H-Q20-style nested-IN supplier selection: suppliers that
    shipped more than half of some part's total shipped quantity
    (fixture adaptation of "has excess stock of a needed part"; the
    correlated half-sum threshold is the Q20 idiom).

    Scale: both aggregations reduce lineitem before any join — the
    (part, supplier) rollup and the per-part total share the first
    shuffle's partitioning on l_partkey; the winner set joins back to
    supplier as a broadcast semi join. The half threshold compares
    2*ps > total in exact integers.
    """
    qty_c = cents("l_quantity")
    ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty_c).alias("ps_qty_c")
    )
    totals = lineitem.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty_c).alias("total_qty_c")
    )
    winners = (
        ps.join(totals, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("ps_qty_c") * 2 > F.col("total_qty_c"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(winners, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def q11_important_stock(
    lineitem: DataFrame, fraction_denom: int = 10_000
) -> DataFrame:
    """TPC-H-Q11-style important stock: parts whose total shipped value
    exceeds a fixed fraction of the corpus total (fixture adaptation:
    lineitem value replaces the absent partsupp stock value; the Q11
    idiom — grouped HAVING against a global scalar fraction — is
    preserved).

    Scale: one grouped aggregation plus a 1-row global total broadcast
    back; the fraction threshold compares value*denom > total in exact
    integer arithmetic (no float fraction).
    """
    val_c = cents("l_extendedprice")
    per_part = lineitem.groupBy("l_partkey").agg(F.sum(val_c).alias("value_c"))
    total = lineitem.agg(F.sum(val_c).alias("total_c"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_c") * fraction_denom > F.col("total_c"))
        .select(
            "l_partkey", (F.col("value_c") / F.lit(100.0)).alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part_size: int = 15,
    region_name: str = "EUROPE",
    k: int = 100,
) -> DataFrame:
    """TPC-H-Q2-style minimum-cost supplier: for each qualifying part,
    the region's supplier(s) with the minimum cost among those who ship
    it (fixture adaptation: supply routes come from DISTINCT lineitem
    (part, supplier) pairs and s_acctbal stands in for the absent
    ps_supplycost — the correlated-MIN-per-part shape is preserved).

    Scale: routes are deduplicated before any join (the shuffle carries
    key pairs, not shipments); supplier/nation/region broadcast; the
    correlated MIN decorrelates to one per-part aggregation joined back
    on equality (ties keep all minimal suppliers, as in Q2).
    """
    routes = lineitem.select("l_partkey", "l_suppkey").distinct()
    euro_suppliers = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = routes.join(
        F.broadcast(euro_suppliers), F.col("l_suppkey") == F.col("s_suppkey")
    ).join(
        F.broadcast(part.filter(F.col("p_size") == part_size)),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    min_cost = offers.groupBy(F.col("p_partkey").alias("mc_partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        offers.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(k)
    )


def equidepth_histogram(orders: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Equi-depth (equal-count) histogram of order value — the
    optimizer-statistics / distribution-profiling aggregate (equi-WIDTH
    histograms hide skew; equi-depth boundaries ARE the skew profile).
    Bucket k spans (boundary[k-1], boundary[k]] where the boundaries
    are the exact k/n quantiles of the integer cents.

    Scale: boundaries come from ONE exact-percentile aggregation (a
    single reduced row, broadcast back); rows bucket themselves with a
    comparison against that tiny array — no ntile window, which would
    range-sort the whole table to assign buckets. Bucket counts then
    aggregate map-side. The fractional-quantile boundaries are
    interpolated doubles over exact ints — deterministic, and rows
    compare against them exactly.
    """
    c = cents("o_totalprice")
    fracs = [i / n_buckets for i in range(1, n_buckets + 1)]
    bounds = orders.agg(
        F.percentile(c, F.array(*[F.lit(f) for f in fracs])).alias("bs")
    )
    bucketed = orders.crossJoin(F.broadcast(bounds)).select(
        (
            F.size(F.filter(F.col("bs"), lambda b: b < c.cast("double")))
            + 1
        )
        .cast("long")
        .alias("bucket"),
        c.alias("cents"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("cents") / 100.0).alias("lo_value"),
            (F.max("cents") / 100.0).alias("hi_value"),
        )
        .orderBy("bucket")
    )


def pareto_frontier(part: DataFrame, n_cells: int = 4096) -> DataFrame:
    """2D skyline (Pareto frontier) over the part catalog: every part
    not DOMINATED on (minimize ``p_retailprice``, maximize ``p_size``)
    — q dominates p when q is no worse on both axes and strictly
    better on at least one. The classic preference/dominance query
    (Börzsönyi et al., "The Skyline Operator", ICDE 2001) the
    reference's SQL surface would express as a correlated NOT EXISTS
    self-join; the oracle states exactly that naive definition.

    Returns ``(p_partkey, p_retailprice, p_size)`` for frontier parts,
    partkey order. Ties kept: two identical (price, size) points do
    not dominate each other under the strict-in-one rule.

    Scale: the O(n²) self-join is replaced by the sort-based 2D
    sweep — a part is on the frontier iff its size exceeds the best
    size at every strictly lower price — computed WITHOUT a global
    sort of the catalog: prices collapse to the per-price best-size
    frame (one map-side-combined max, ≤ |distinct prices| rows), the
    running "best at lower price" is a two-phase prefix MAX over the
    value cells of :func:`~flink_snappydata_spark.util.cell_prefix_sums`
    (the same monotone map of prices onto ``n_cells`` cells; a
    prefix-max window over the ≤ n_cells cell frame broadcasts back,
    and within-cell windows hold ~1/n_cells of the prices each — no
    window task ever holds the whole price histogram), and frontier
    membership joins back to the catalog as a plain hash join on
    price. Every shuffle is on price/cell keys; the catalog rows never
    sort.
    """
    from pyspark.sql import Window

    from flink_snappydata_spark.util import _value_cells

    per = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    g = _value_cells(per, "p_retailprice", n_cells)
    cell_w = Window.orderBy("_cell").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = g.groupBy("_cell").agg(
        F.max("best_size").alias("_cmax")
    ).select(
        "_cell", F.max("_cmax").over(cell_w).alias("_lower_cells_max")
    )
    in_w = (
        Window.partitionBy("_cell")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    neg_inf = F.lit(-(2**31))
    prev_best = F.greatest(
        F.coalesce(F.col("_lower_cells_max"), neg_inf),
        F.coalesce(F.max("best_size").over(in_w), neg_inf),
    )
    frontier = (
        g.join(F.broadcast(off), "_cell")
        .withColumn("_prev_best", prev_best)
        .filter(F.col("best_size") > F.col("_prev_best"))
        .select("p_retailprice", F.col("best_size").alias("_fsize"))
    )
    return (
        part.join(frontier, "p_retailprice")
        .filter(F.col("p_size") == F.col("_fsize"))
        .select(
            "p_partkey",
            "p_retailprice",
            F.col("p_size").cast("long").alias("p_size"),
        )
        .orderBy("p_partkey")
    )


def weighted_median_price(lineitem: DataFrame) -> DataFrame:
    """Exact quantity-weighted median line price per return flag: the
    smallest price whose cumulative quantity weight reaches half the
    group's total (the lower weighted median) — the robust "typical
    traded price" a plain median (row-weighted) and mean (outlier-
    dragged) both misstate. Prices are exact integer cents; the
    half-total comparison is rational (``2·cum ≥ total``), so no
    division touches the selection.

    Returns ``(l_returnflag, total_weight, median_cents,
    median_price)`` in flag order.

    Scale: collapses FIRST to per-(flag, price) weight sums (one
    map-side-combined shuffle, bounded by flags × distinct prices);
    the cumulative weight and the flag's total ride
    :func:`~flink_snappydata_spark.util.cell_prefix_sums` — the
    two-phase value-cell prefix, so no window task ever holds a whole
    flag's price histogram (the naive
    ``Window.partitionBy(flag).orderBy(price)`` would funnel each
    flag's distinct prices through one task); the
    argmin-over-qualifying is a flags-sized aggregation.
    """
    from flink_snappydata_spark.util import cell_prefix_sums

    per_value = (
        lineitem.select(
            F.col("l_returnflag").alias("flag"),
            cents("l_extendedprice").alias("v"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("flag", "v")
        .agg(F.sum("w").alias("w"))
    )
    return (
        cell_prefix_sums(per_value, "v", ["w"], partition_cols=("flag",))
        .groupBy("flag")
        .agg(
            F.min("tot_w").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cum_w") >= F.col("tot_w"), F.col("v"))
            ).alias("median_cents"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "total_weight",
            "median_cents",
            (F.col("median_cents") / 100.0).alias("median_price"),
        )
        .orderBy("l_returnflag")
    )


def full_outer_nation_balance(
    customer: DataFrame, supplier: DataFrame
) -> DataFrame:
    """FULL OUTER equi-join — the one join flavor the declared surface
    lacked: per nation, the count and exact cent balance of premium
    customers (acctbal > 9800) FULL OUTER the same for premium
    suppliers (acctbal > 5000). The thresholds are chosen so BOTH
    unmatched sides are non-empty on the fixtures (nations with
    premium customers but no premium suppliers, and vice versa), so
    the null-preserving semantics are actually exercised, not just
    declared.

    Returns ``(nationkey, n_cust, cust_bal, n_supp, supp_bal)`` with
    NULL counts/balances on the absent side, nation order.

    Scale: both inputs collapse map-side to nation-cardinality
    aggregate frames BEFORE the join; the full-outer join itself runs
    on those tiny frames (full outer cannot broadcast either side —
    Spark plans a shuffled join — so shrinking the inputs first is the
    whole plan).
    """
    c = (
        customer.filter(F.col("c_acctbal") > 9800)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(cents("c_acctbal")).alias("cust_bal"),
        )
    )
    s = (
        supplier.filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(cents("s_acctbal")).alias("supp_bal"),
        )
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select("nationkey", "n_cust", "cust_bal", "n_supp", "supp_bal")
        .orderBy("nationkey")
    )


def mode_per_type(events: DataFrame) -> DataFrame:
    """Exact MODE of the event value per event type — the most
    frequent value-cent, with a DETERMINISTIC tie-break (highest
    count, then smallest value) so the result is engine-exact where a
    bare ``mode()`` aggregate is tie-unstable. Also reports the
    winning count and the number of distinct values tied at it.

    Returns ``(event_type, mode_cents, mode_count, n_tied)`` in type
    order.

    Scale: the classic two-stage exact mode — one map-side-combined
    (type, value) count shuffle bounded by type × distinct values,
    then a type-keyed max-count fold on that already-collapsed frame
    joined back (type-co-partitioned) so the tie group is explicit:
    the winner is its MIN(value) and the tie census its row count —
    no sort, no window, no argmax ordering-key tricks.
    """
    pv = events.select(
        "event_type", cents("value").alias("v")
    ).groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    best = pv.groupBy("event_type").agg(
        F.max("c").alias("mode_count")
    )
    return (
        pv.join(best, "event_type")
        .filter(F.col("c") == F.col("mode_count"))
        .groupBy("event_type")
        .agg(
            F.min("v").alias("mode_cents"),
            F.min("mode_count").alias("mode_count"),
            F.count(F.lit(1)).alias("n_tied"),
        )
        .orderBy("event_type")
    )
