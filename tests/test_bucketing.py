"""Bucketed co-located joins and partitioned-write pruning — the
reference's store layout (hash buckets, bucket pruning) as Spark
catalog tables, with the plan gauges proving the scale payoff."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from flink_snappydata_spark.catalog import load_table, save_bucketed, save_partitioned
from flink_snappydata_spark.plans import exchange_count, partition_filters
from tests.conftest import SF_SMOKE


def _fresh_name(base: str) -> str:
    """A per-run managed-table name: a fixed name would collide with the
    LOCATION a killed earlier run left in the shared warehouse, which
    this session's catalog can neither see nor drop."""
    return f"{base}_{uuid.uuid4().hex[:8]}"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    names = _fresh_name("li_bkt"), _fresh_name("ord_bkt")
    try:
        save_bucketed(li, names[0], "l_orderkey", n_buckets=8)
        save_bucketed(orders, names[1], "l_orderkey", n_buckets=8)
        yield names
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    li, orders = spark.table(li_t), spark.table(ord_t)
    joined = li.hint("merge").join(orders, "l_orderkey")
    assert exchange_count(joined) == 0, (
        "same-key same-count bucketed tables must join with no exchange"
    )
    # and the result is right
    plain = load_table(spark, SF_SMOKE, "lineitem").join(
        load_table(spark, SF_SMOKE, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert joined.count() == plain.count()


def test_bucketed_aggregation_reuses_bucketing(spark, bucketed_tables):
    li_t, _ = bucketed_tables
    agg = spark.table(li_t).groupBy("l_orderkey").agg(F.sum("l_quantity"))
    assert exchange_count(agg) == 0, "groupBy on the bucket key needs no exchange"


def test_partitioned_write_prunes(spark):
    events = load_table(spark, SF_SMOKE, "events")
    name = _fresh_name("events_part")
    try:
        save_partitioned(events, name, "event_type")
        q = spark.table(name).filter(F.col("event_type") == "click")
        pf = partition_filters(q)
        assert any("event_type" in f for f in pf), "scan must prune partitions"
        assert q.count() == events.filter(F.col("event_type") == "click").count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_table_cache_toggle(spark):
    from flink_snappydata_spark import catalog

    try:
        catalog.enable_table_cache()
        a = catalog.load_table(spark, SF_SMOKE, "region")
        b = catalog.load_table(spark, SF_SMOKE, "region")
        assert a is b, "cache returns the same DataFrame"
        assert a.storageLevel.useMemory, "cached tables are in-memory"
    finally:
        catalog.enable_table_cache(False)
    c = catalog.load_table(spark, SF_SMOKE, "region")
    assert c is not a
    assert not c.storageLevel.useMemory


def test_register_tables_views_are_idempotent(spark):
    from flink_snappydata_spark.catalog import register_tables

    tables = ("region", "nation")
    try:
        for _ in range(2):  # registering again replaces, never raises
            out = register_tables(spark, SF_SMOKE, tables=tables)
            assert set(out) == set(tables)
            for name in tables:
                assert spark.catalog.tableExists(name)
                assert spark.table(name).count() == out[name].count() > 0
    finally:
        for name in tables:
            spark.catalog.dropTempView(name)


def test_spread_noop_on_wide_input(spark):
    from flink_snappydata_spark.util import spread

    wide = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism * 2)
    assert spread(wide) is wide, "spread must not add a shuffle at scale"


def test_spread_rejects_a_streaming_frame(spark):
    """spread() is batch-only: a stream keeps its source partitioning,
    and the guard says so instead of Spark's generic
    "Queries with streaming sources must be executed with
    writeStream.start()" from ``df.rdd``."""
    from flink_snappydata_spark.util import spread

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="batch-only.*source partitioning"):
        spread(stream, "value")
