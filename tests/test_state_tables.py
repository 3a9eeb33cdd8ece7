"""Stream→table state layout: compacting loops stamp their compaction
marker into the partition layout (``batch_id=N/floor=M`` or
``batch_id=N/covered_to=M``), so every boundary the landers and
``read_state_table`` need comes from one ``SHOW PARTITIONS`` listing.
These tests pin the layout's edge cases (first batch at a compaction
multiple, retried compactions, reclamation), the job budget of the
readers and the loud failure on tables in the older layout."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from flink_snappydata_spark import catalog
from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.pipeline import dedup as D
from flink_snappydata_spark.streaming import runtime
from flink_snappydata_spark.streaming import windows as W

from tests.conftest import SF_SMOKE

LANDERS = {
    "floor": runtime.land_floor_partition,
    "covered_to": runtime.land_tiered_partition,
}


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _partitions(spark, table):
    return sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sum_by_key(d):
    return d.groupBy("k").agg(F.sum("v").alias("v"))


def _batch(spark, b):
    """Batch ``b``'s (k, v) rows: keys overlap across batches so a
    compaction really merges."""
    return spark.range(4).selectExpr("id % 3 AS k", f"id + {10 * b} AS v")


@pytest.fixture
def table(spark):
    name = f"fss_state_{uuid.uuid4().hex[:8]}"
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.parametrize("stamp", sorted(LANDERS))
def test_first_batch_at_a_compaction_multiple_stamps_zero(spark, table, stamp):
    """A loop whose first landed batch id is a multiple of
    ``compact_every`` has nothing to compact: it lands with stamp 0
    (and a retry of it does too), the reader sees all of it, and the
    next compaction folds it in."""
    land = LANDERS[stamp]
    land(_batch(spark, 2), table, 2, _sum_by_key, 2)
    land(_batch(spark, 2), table, 2, _sum_by_key, 2)  # retry
    assert _partitions(spark, table) == [f"batch_id=2/{stamp}=0"]
    assert _rows(runtime.read_state_table(spark, table)) == _rows(_batch(spark, 2))

    for b in (3, 4):
        land(_batch(spark, b), table, b, _sum_by_key, 2)
    assert f"batch_id=4/{stamp}=4" in _partitions(spark, table)
    every = _batch(spark, 2).unionByName(_batch(spark, 3)).unionByName(
        _batch(spark, 4)
    )
    visible = runtime.read_state_table(spark, table)
    assert _rows(visible) == _rows(_sum_by_key(every))


def test_floor_compaction_retry_is_idempotent(spark, table):
    """A compaction batch re-landed after its landing committed (a
    crash before the stream commit) recomputes byte-identical output
    from partitions it cannot have dropped, and leaves the boundary
    where it was."""
    for b in range(5):
        runtime.land_floor_partition(_batch(spark, b), table, b, _sum_by_key, 2)
    before = _rows(spark.table(table))
    parts = _partitions(spark, table)
    visible = _rows(runtime.read_state_table(spark, table))
    runtime.land_floor_partition(_batch(spark, 4), table, 4, _sum_by_key, 2)
    assert _rows(spark.table(table)) == before
    assert _partitions(spark, table) == parts
    assert parts == ["batch_id=2/floor=2", "batch_id=3/floor=0", "batch_id=4/floor=4"]
    assert _rows(runtime.read_state_table(spark, table)) == visible


def test_dedup_floor_reclaims_and_stays_exact_at_7_batches(spark, tmp_path):
    """Floor twin of the tiered reclamation test: a 7-batch replay of
    the dedup partials with ``compact_every=2`` compacts at 2, 4 and 6;
    each compaction drops every partition below the previous floor in
    one statement, so only 4, 5 and 6 remain, and the fold still equals
    the batch op."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = _rows(D.exact_dedup(docs))
    table = f"fss_fdedup_{uuid.uuid4().hex[:8]}"
    src = str(tmp_path / "replay")
    docs.repartition(7).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        runtime.ingest_stream_to_tables(
            stream,
            [(table, None)],
            prepare=D.dedup_partials,
            compact=D.compact_dedup_partials,
            compact_every=2,
        )
        assert _partitions(spark, table) == [
            "batch_id=4/floor=4",
            "batch_id=5/floor=0",
            "batch_id=6/floor=6",
        ]
        assert _rows(D.dedup_from_state(spark, table)) == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize("stamp", sorted(LANDERS))
def test_read_state_table_prunes_by_literal_without_jobs(spark, table, stamp):
    """On a compacted table the reader reads its boundary from the
    partition listing: building it launches no Spark job, its plan has
    no join, and the scan carries the boundary as a ``batch_id``
    partition filter."""
    for b in range(5):
        LANDERS[stamp](_batch(spark, b), table, b, _sum_by_key, 2)
    j0 = _jobs(spark)
    df = runtime.read_state_table(spark, table)
    assert _jobs(spark) - j0 == 0
    qe = df._jdf.queryExecution()
    assert "Join" not in qe.optimizedPlan().toString()
    scan = qe.sparkPlan().toString()
    filters = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "batch_id" in filters, scan
    # floor: the partitions from the last compaction on; tiered: the
    # merged partitions plus the raws after the last merge
    every = _batch(spark, 0)
    for b in range(1, 5):
        every = every.unionByName(_batch(spark, b))
    assert _rows(_sum_by_key(df)) == _rows(_sum_by_key(every))


def test_rollup_from_state_forces_in_three_jobs(spark, table):
    """The multi-resolution fold of a compacted hourly state table is
    the compaction aggregate's shuffle, one exchange to a single
    partition, and the grain aggregate plus sort in the result stage:
    3 Spark jobs to force (the unfolded union and range sort took 8),
    none to build."""
    ev = load_table(spark, SF_SMOKE, "events")
    hourly = W._hourly_rollup(ev)
    for b in range(5):
        part = hourly.filter(F.pmod(F.hash("bucket_start"), F.lit(5)) == b)
        runtime.land_floor_partition(part, table, b, W.compact_rollup_partials, 2)
    j0 = _jobs(spark)
    df = W.rollup_from_state(spark, table)
    j1 = _jobs(spark)
    df.write.format("noop").mode("overwrite").save()
    assert j1 - j0 == 0
    assert _jobs(spark) - j1 <= 3
    assert _rows(df) == _rows(W.rollup_multires(ev))


@pytest.mark.parametrize("stamp", sorted(LANDERS))
def test_old_layout_state_table_fails_loudly(spark, table, stamp):
    """A table with the stamp column but only ``batch_id`` as partition
    column (written before the stamp became a partition column) cannot
    answer the boundary from its listing: the reader and the lander
    raise a ValueError naming the table instead of returning
    superseded rows."""
    spark.range(3).selectExpr(
        "id AS k", "id AS v", f"0L AS {stamp}", "id AS batch_id"
    ).write.partitionBy("batch_id").saveAsTable(table)
    with pytest.raises(ValueError, match=f"{table}.*drop and re-ingest"):
        runtime.read_state_table(spark, table)
    with pytest.raises(ValueError, match=f"{table}.*drop and re-ingest"):
        LANDERS[stamp](_batch(spark, 3), table, 3, _sum_by_key, 2)


def test_repeat_uncached_load_table_launches_no_job(spark, tmp_path, monkeypatch):
    """With the table cache off, ``load_table`` reads a fixture's
    footer once per file version: a repeat load launches no Spark job,
    and a rewritten file is read afresh. The ``events.ts`` guard still
    converts nanos to a timestamp."""
    monkeypatch.setattr(catalog, "_CACHE_ENABLED", False)
    sf = str(tmp_path)
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.select("doc_id").write.parquet(f"{sf}/documents.parquet")
    assert load_table(spark, sf, "documents").columns == ["doc_id"]
    j0 = _jobs(spark)
    again = load_table(spark, sf, "documents")
    assert _jobs(spark) - j0 == 0
    assert again.count() == docs.count()

    docs.select("doc_id", "text").write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    assert load_table(spark, sf, "documents").columns == ["doc_id", "text"]

    load_table(spark, SF_SMOKE, "events")
    j0 = _jobs(spark)
    ev = load_table(spark, SF_SMOKE, "events")
    assert _jobs(spark) - j0 == 0
    assert ev.schema["ts"].dataType.typeName() != "long"


def test_novelty_ingest_lands_a_cycle_in_three_jobs(spark, tmp_path):
    """The novelty loop run as a long-lived stream is: one new one-file
    slice per cycle, one ``availableNow`` ingest on the same
    checkpoint. A micro-batch is shingled at its source partitioning,
    so every cycle after the first lands in at most 3 Spark jobs (index
    write with the persisted kernel output, counts aggregate, counts
    write); a round-robin ``spread`` first made it 5. The state scores
    row-identically to the batch op over the slices published so far."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from flink_snappydata_spark.pipeline import text as TX

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    slice_of = docs.column("doc_id").to_numpy() % 16
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    tag = uuid.uuid4().hex[:8]
    idx_t, cnt_t = f"fss_nidx_{tag}", f"fss_ncnt_{tag}"
    try:
        for k in range(4):
            pq.write_table(docs.filter(slice_of == k), src / f"slice-{k}.parquet")
            j0 = _jobs(spark)
            q = TX.streaming_novelty_ingest(stream, idx_t, cnt_t, checkpoint=ckpt)
            jobs = _jobs(spark) - j0
            assert sum(p["numInputRows"] for p in q.recentProgress) > 0
            if k > 0:
                assert jobs <= 3, f"cycle {k}: {jobs} jobs"
        published = load_table(spark, SF_SMOKE, "documents").filter(
            F.col("doc_id") % 16 < 4
        )
        assert _rows(TX.novelty_from_state(spark, idx_t, cnt_t)) == _rows(
            TX.novelty_scores(published)
        )
    finally:
        for t in (idx_t, cnt_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_wordcount_partials_shuffles_only_for_its_aggregate(spark):
    """The wordcount loop's prepare tokenizes a micro-batch where it
    lands: over a one-file, one-partition scan (what a file-source
    micro-batch is) its plan has exactly one shuffle, the aggregate's,
    and no round-robin repartition (batch ``tokenize`` keeps its
    ``spread``)."""
    from flink_snappydata_spark.operators import wordcount as WC
    from flink_snappydata_spark.plans.inspect import exchange_count, formatted_plan

    batch = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text")
    assert batch.rdd.getNumPartitions() == 1
    parts = WC.wordcount_partials(batch)
    assert exchange_count(parts) == 1
    assert "RoundRobinPartitioning" not in formatted_plan(parts)
    assert exchange_count(WC.tokenize(batch)) == 1  # the batch spread
