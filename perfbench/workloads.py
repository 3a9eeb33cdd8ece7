"""The three closed-loop workloads: what one op is and what checks it.

``olap_store`` and ``llm_pipeline`` ops build one registry query and
force it; ``stream_ingest`` ops are one cycle of one stream→table loop.
Why each workload exists is in NOTES.md.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from flink_snappydata_spark.pipeline import dedup, text
from flink_snappydata_spark.streaming import windows

OLAP_STORE = (
    "q1_pricing_summary q3_shipping_priority q4_order_priority "
    "q5_local_supplier_volume q6_forecast_revenue q18_large_volume_customer "
    "q21_waiting_supplier star_join_revenue broadcast_dim_join agg_rollup "
    "window_rank wordcount_batch events_tumbling_window stream_stream_join "
    "count_window asof_join interval_join"
).split()

#: ``ivf_pq_prebuilt_topk`` is left out: building its memoized index
#: adds about 23 s to every run's set-up, which the benchmark's time
#: budget cannot carry (NOTES.md).
LLM_PIPELINE = (
    "dedup_exact dedup_minhash dedup_clusters ann_cosine_topk "
    "text_quality pii_redaction seq_packing novelty_scores bpe_encode_stats"
).split()

#: Oracles too slow to run in DuckDB on every run; their results are
#: committed under expected/ (regenerate with refresh_expected.py).
COMMITTED_ORACLES = ("bpe_encode_stats",)

#: Compaction period of the compacting loops. Small, so that compaction
#: fires at least twice within one run's cycles and shows in the tail.
COMPACT_EVERY = 2

#: Slices each loop's source table is cut into. More than any run
#: publishes; a run that uses them all stops its timed phase early.
N_SLICES = 48


@dataclass(frozen=True)
class Loop:
    """One stream→table loop: its source, its public ingest and read
    functions, and the batch query whose oracle its state must match."""

    name: str
    source: str
    columns: tuple[str, ...]
    key: str
    tables: tuple[str, ...]
    ingest: Callable
    from_state: Callable
    twin: str
    #: column of the first state table that a compaction stamps with
    #: its batch id (``floor`` or ``covered_to``); None if it never compacts
    compaction_col: str | None


def _tables(name: str, n: int = 1) -> tuple[str, ...]:
    return tuple(f"bench_{name}_{i}" for i in range(n))


#: One loop per ingest path of ``ingest_stream_to_tables``: floor
#: compaction (rollup), tiered compaction (dedup) and the two-table
#: fan-out with a persisted prepare step (novelty). The wordcount loop
#: is left out: it takes the same floor path as rollup, and the
#: benchmark's time budget has no room for a fourth loop (NOTES.md).
LOOPS = (
    Loop(
        "dedup", "documents", ("doc_id", "text"), "doc_id", _tables("dedup"),
        lambda s, t, ck: dedup.streaming_dedup_ingest(
            s, t[0], checkpoint=ck, tiered_every=COMPACT_EVERY
        ),
        lambda spark, t: dedup.dedup_from_state(spark, t[0]),
        "dedup_exact", "covered_to",
    ),
    Loop(
        "rollup", "events", ("event_id", "ts", "event_type", "value"), "event_id",
        _tables("rollup"),
        lambda s, t, ck: windows.streaming_rollup_ingest(
            s, t[0], checkpoint=ck, compact_every=COMPACT_EVERY
        ),
        lambda spark, t: windows.rollup_from_state(spark, t[0]),
        "rollup_multires", "floor",
    ),
    Loop(
        "novelty", "documents", ("doc_id", "text"), "doc_id", _tables("novelty", 2),
        lambda s, t, ck: text.streaming_novelty_ingest(s, t[0], t[1], checkpoint=ck),
        lambda spark, t: text.novelty_from_state(spark, t[0], t[1]),
        "novelty_scores", None,
    ),
)


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    #: store tables loaded into the in-memory catalog at set-up
    tables: tuple[str, ...]
    #: whole passes the timed phase runs at least, whatever --seconds
    min_passes: int


WORKLOADS = {
    # Not in BENCHMARK.json: with it, a full measurement of the benchmark
    # does not fit its time budget. Kept runnable for reference numbers.
    "olap_store": Workload(tuple(OLAP_STORE), (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents",
    ), 1),
    "llm_pipeline": Workload(tuple(LLM_PIPELINE), ("documents", "embeddings"), 1),
    # each compacting loop compacts twice (batches 2 and 4) inside the
    # timed phase; the warm-up lands batch 0. More passes would steady
    # the figures, but on a contended host six passes took a run to
    # 73-86 s, past the budget of about 71 s per run (NOTES.md).
    "stream_ingest": Workload(
        tuple(loop.name for loop in LOOPS), ("documents", "events"), 2 * COMPACT_EVERY
    ),
}
