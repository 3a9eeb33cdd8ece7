"""Word-count family — the reference's signature dataflow.

Parity with reference ``WordCount.scala:30-33`` (batch),
``WindowWordCount.scala:40-47`` / ``KafkaWindowWordCount.scala:25-29``
(streaming variants): flatMap-tokenize → filter-empty → map-to-pair →
grouped sum. In Spark the whole chain is built-in column expressions
(explode/split/lower), executing JVM-side inside one whole-stage-codegen
span — no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_snappydata_spark.streaming.runtime import (
    ingest_stream_to_tables,
    read_state_table,
)
from flink_snappydata_spark.util import small_sorted, spread

#: The reference tokenizes with ``line.toLowerCase.split("\\W+")``
#: (``WordCount.scala:30``).
TOKEN_SPLIT_PATTERN = r"\W+"


def words(col: Column) -> Column:
    """The lower-cased non-empty words of a text column, as one array —
    the per-row form of :func:`tokenize`'s split and empty filter, for
    operators that keep each document's words together."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_PATTERN), lambda w: w != F.lit("")
    )


def tokenize(df: DataFrame, col: str = "text") -> DataFrame:
    """1 row → N token rows (flatMap parity). Empty tokens dropped
    (filter parity, reference ``WindowWordCount.scala:41``)."""
    return _tokens(spread(df), col)


def _tokens(df: DataFrame, col: str) -> DataFrame:
    """:func:`tokenize` at ``df``'s own partitioning — for stream
    micro-batches, which keep their source partitioning."""
    return df.select(
        F.explode(F.split(F.lower(F.col(col)), TOKEN_SPLIT_PATTERN)).alias("word")
    ).filter(F.col("word") != "")


def word_count(df: DataFrame, col: str = "text") -> DataFrame:
    """Grouped token counts (reference ``WordCount.scala:30-33``).

    Scale: partial+final hash agg; cardinality = vocabulary size, so the
    shuffle is tiny regardless of corpus size.
    """
    return (
        tokenize(df, col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: small_sorted(d, "word"))
    )


def compact_wordcount_partials(parts: DataFrame) -> DataFrame:
    """Exact compaction for count partials: re-aggregate the live
    partial rows to ONE row per word. Sum-of-sums == sum, so the
    compacted state is bit-identical input to any downstream fold at
    any boundary — mergeable partials make this the trivially-exact
    compaction case (unlike the session/funnel fragment sweeps, which
    need boundary-merge logic)."""
    return parts.groupBy("word").agg(F.sum("cnt").cast("long").alias("cnt"))


def streaming_wordcount_ingest(
    stream_docs: DataFrame,
    counts_table: str,
    checkpoint: str | None = None,
    compact_every: int = 8,
):
    """Streaming-ingest twin of :func:`word_count` — the reference's
    OWN signature dataflow run through the stream→queryable-table loop
    (``KafkaWindowWordCount.scala:25-29`` tokenize/filter/sum, landed
    the ``ParquetTableJoin.scala:32-43`` way): each micro-batch of
    documents is tokenized ONCE at arrival and blind-appends per-word
    partial counts ``(word, cnt)``; the global count is ``SUM(cnt)``
    over the partials, folded at query time by
    :func:`wordcount_from_state` — exactly row-identical to the batch
    op after a bounded stream drains (int64 count partials are
    batching-insensitive, so the batch oracle applies verbatim).

    Scale: per batch one map-side-combined vocabulary aggregation —
    the state table grows by at most |vocabulary| rows per micro-batch
    regardless of batch size, and document text never shuffles; every
    ``compact_every``-th batch additionally folds the accumulated
    partials back to one row per word
    (:func:`compact_wordcount_partials`, exact), so a long-running
    stream's state — and every reader's fold — is bounded by LIVE
    vocabulary size, not stream age (the round-12 session/funnel floor
    discipline extended to the mergeable-partial loops). Rides
    :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting.
    """
    return ingest_stream_to_tables(
        stream_docs,
        [(counts_table, None)],
        prepare=wordcount_partials,
        checkpoint=checkpoint,
        compact=compact_wordcount_partials,
        compact_every=compact_every,
    )


def wordcount_partials(batch_df: DataFrame) -> DataFrame:
    """One batch's per-word count partials ``(word, cnt)`` — the
    :func:`streaming_wordcount_ingest` prepare step, module-level so
    the fold scale probe (``tools/scale_probe.py`` mode ``folds``)
    lands the identical state batch-side.

    Scale: the batch is tokenized at its source partitioning, without
    :func:`tokenize`'s round-robin ``spread``, so the one shuffle is
    the aggregate's, which carries at most |vocabulary| map-side
    combined rows per input split."""
    return (
        _tokens(batch_df, "text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def wordcount_from_state(spark, counts_table: str) -> DataFrame:
    """Fold the :func:`streaming_wordcount_ingest` partials into the
    global vocabulary counts through the loop's own merge
    (:func:`compact_wordcount_partials`, one map-side-combined SUM)."""
    return compact_wordcount_partials(
        read_state_table(spark, counts_table)
    ).transform(lambda d: small_sorted(d, "word"))


def map_partitions_identity(df: DataFrame) -> DataFrame:
    """Per-partition pass-through (reference ``SnappydataConnectorTest.scala:17-21``
    runs an identity ``mapPartition`` over the scan).

    Implemented with ``mapInPandas`` — the Arrow-batched per-partition
    iterator surface. The identity body is where per-partition imperative
    logic would go; the plumbing (schema preservation, batch iteration)
    is the operator under test.
    """
    schema = df.schema

    def _identity(batches):
        for pdf in batches:
            yield pdf

    return df.mapInPandas(_identity, schema=schema)
