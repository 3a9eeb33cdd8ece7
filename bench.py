#!/usr/bin/env python
"""Per-round benchmark harness.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The headline set maps 1:1 onto BASELINE.md §2's anchor rows: flagship
pricing summary, star join, event-time windowed agg, stream-stream join
(batch-equivalent), custom count window, MinHash near-dup dedup,
brute-force cosine top-k, plus the wordcount-parity and analytic-window
representatives.  Each query is forced end-to-end with a ``noop`` write
(full computation, no driver materialization — the 100 TB discipline:
never ``collect()`` to measure).
"""

from __future__ import annotations

import json
import os
import sys
import time

from flink_snappydata_spark import registry
from flink_snappydata_spark.catalog import TABLES, enable_table_cache, load_table
from flink_snappydata_spark.operators.relational import agg_approx_percentile_raw
from flink_snappydata_spark.pipeline import sampling, similarity
from flink_snappydata_spark.session import get_spark
from flink_snappydata_spark.util import release_caches

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    "q5_local_supplier_volume",
    "q21_waiting_supplier",
    "star_join_revenue",
    "broadcast_dim_join",
    "wordcount_batch",
    "window_rank",
    "agg_rollup",
    "events_tumbling_window",
    "stream_stream_join",
    "count_window",
    "asof_join",
    "interval_join",
    "dedup_exact",
    "dedup_minhash",
    "ann_cosine_topk",
    "text_quality",
    "seq_packing",
    "pii_redaction",
]

#: Bench-only rows timed EVERY run (not just sweeps) and reported in
#: the compact line's "extras" — never summed into the anchor-compared
#: headline total. Currently: the IVFADC build-vs-query split (the
#: registered ivf_pq_topk re-trains inline for oracle-checkability;
#: these receipts show the amortized production split).
EXTRAS = [
    "raw_ivfpq_build",
    "raw_ivfpq_query",
]

#: Raw sketch variants of the judge-bearing registry queries (which
#: embed an exact judge for oracle-checkability — their sweep timings
#: measure sketch + judge). These time the judge-free scale path; swept
#: alongside the registry under SPARK_GRAFT_BENCH_ALL, flagged
#: ``bench_only`` (no oracle: sketch values are engine-specific).
RAW_SKETCHES = {
    "raw_approx_distinct": lambda spark, sf_dir: sampling.approx_distinct_by(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey"
    ),
    "raw_approx_percentile": lambda spark, sf_dir: agg_approx_percentile_raw(
        load_table(spark, sf_dir, "orders")
    ),
    "raw_ivf_topk": lambda spark, sf_dir: similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings")
    ),
    # train + probe, no brute-force judge — the production trained path
    # (same 16-centroid / 2-round config as the registered verdict query)
    "raw_ivf_trained": lambda spark, sf_dir: similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        centroids=similarity.kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"), n_clusters=16, n_iters=2
        ),
    ),
}


# The registered ivf_pq_topk query re-trains the whole IVFADC index
# inline (so the oracle can check bit-exact values end-to-end); at
# 100 TB the index is built ONCE, persisted, and amortized over
# queries. These two entries split that receipt: build = training +
# encoding forced to a noop sink; query = search against a SAVED index
# reopened from parquet — file-backed scans, so the query plan carries
# zero training lineage (the A/B-rejected persist-the-lineage variant
# kept the 60-exchange DAG in every plan) and survives the per-rep
# release_caches(). The index is kept in the store (under the
# warehouse dir, named by an input fingerprint), so only a run that
# finds none there pays build+save, in its warm-up rep; every timed
# rep reopens it with declared schemas (no job) and measures only
# probe→ADC→shortlist→re-rank. The build/open helper is shared with
# the registered ivf_pq_prebuilt_topk query (the oracle-checked
# production path).
from flink_snappydata_spark.specs.embeddings_quality import (  # noqa: E402
    ivfpq_prebuilt_index,
)

RAW_SKETCHES["raw_ivfpq_build"] = lambda spark, sf_dir: similarity.ivf_pq_index(
    load_table(spark, sf_dir, "embeddings")
).codes
RAW_SKETCHES["raw_ivfpq_query"] = lambda spark, sf_dir: similarity.ivf_pq_topk(
    load_table(spark, sf_dir, "embeddings"),
    index=ivfpq_prebuilt_index(spark, sf_dir),
)


def _force(df) -> None:
    """Execute the full plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="fss-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.queries()
    # In-memory store mode (the SnappyData analog): every fixture table
    # cached as a compressed columnar in-memory relation, materialized
    # up front; per-query numbers then measure the engine, not the
    # parquet scan or first-touch class loading.
    enable_table_cache()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    _force(queries["q1_pricing_summary"](spark, sf_dir))
    # Spin up the Python worker pool (one worker per core + Arrow init,
    # ~4s one-time) so the first pandas-UDF query measures the operator,
    # not interpreter startup. (grouped_zscore: applyInPandas —
    # doc_fingerprint no longer qualifies since it went all-JVM.)
    _force(queries["grouped_zscore"](spark, sf_dir))

    # SPARK_GRAFT_BENCH_ALL=1 times every declared query (full cache
    # rebuild between queries — the sweep used to catch scale
    # regressions); both modes time each query warmup + median-of-N
    # (default 3) so sub-second deltas are signal, not JVM/codegen
    # noise (round-2 deltas at n<=2 were uninterpretable).
    bench_all = bool(os.environ.get("SPARK_GRAFT_BENCH_ALL"))
    judge_bearing = registry.judge_bearing_queries()
    runnable = {**queries, **RAW_SKETCHES}
    names = list(runnable) if bench_all else HEADLINE + EXTRAS
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    max_reps = max(reps, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "9")))
    timings: dict[str, float] = {}
    detail: dict[str, dict[str, float]] = {}

    def _timed_rep(name: str) -> float:
        # Library-internal persists (dedup candidate sets, LSH band
        # tables) outlive their query — release them OUTSIDE the
        # timer so every rep pays the query's true cost and a long
        # sweep never accumulates stale blocks (the table cache the
        # bench owns stays).
        release_caches()
        start = time.perf_counter()
        _force(runnable[name](spark, sf_dir))
        return time.perf_counter() - start

    for name in names:
        _timed_rep(name)  # rep 0 is the codegen/JIT warm-up
        # EXTRAS are receipts, not anchor rows, but they still get the
        # standard median-of-reps treatment (r13 verdict: single-rep
        # extras on a drifting shared host read as a 3.7x regression
        # that the builder's same-session reruns showed was noise —
        # the receipt must carry its own noise bar). They skip only
        # the adaptive re-rep spiral below: raw_ivfpq_build re-trains
        # the whole index per rep, and nine reps would add minutes for
        # numbers the anchor comparison never reads.
        runs = sorted(_timed_rep(name) for _ in range(reps))
        # Single GC/compilation pauses held r4 medians hostage (q5
        # spread 4.19 s on a 1.23 s median): when the raw range exceeds
        # half the median, keep adding reps (bounded) until the median
        # is pinned down, then report the median's own uncertainty —
        # the range of the 3 rank-central runs — alongside the raw
        # range, so one outlier rep can't masquerade as plan noise.
        while (
            name not in EXTRAS
            and runs[-1] - runs[0] > 0.5 * runs[len(runs) // 2]
            and len(runs) < max_reps
        ):
            runs.append(_timed_rep(name))
            runs.sort()
        n = len(runs)
        central = runs[(n - 3) // 2 : (n - 3) // 2 + 3] if n >= 3 else runs
        timings[name] = round(runs[n // 2], 3)
        detail[name] = {
            "median": timings[name],
            # NOTE 'spread' was redefined at r5: central-3-runs range
            # (was full min-max through r4, now carried as spread_raw);
            # see BASELINE.md §2. 'spread_central' is the stable alias.
            "spread": round(central[-1] - central[0], 3),
            "spread_central": round(central[-1] - central[0], 3),
            "spread_raw": round(runs[-1] - runs[0], 3),
            "n_reps": n,
        }
        if name in judge_bearing:
            # timing includes the in-query exact judge, not just the
            # sketch — raw_* entries time the judge-free scale path
            detail[name]["judge_bearing"] = True
        if name in RAW_SKETCHES:
            detail[name]["bench_only"] = True  # no oracle; timing-only
        print(
            f"  {name}: {timings[name]:.3f}s "
            f"(±{detail[name]['spread']:.3f}, raw ±{detail[name]['spread_raw']:.3f}, "
            f"n={n})",
            file=sys.stderr,
        )
        if bench_all:
            # Full reset between sweep queries: drop everything and
            # rebuild the table cache, outside the timer.
            spark.catalog.clearCache()
            enable_table_cache(False)
            enable_table_cache(True)
            for t in TABLES:
                load_table(spark, sf_dir, t).count()

    # bench_only raw-sketch extras are excluded from the suite total so
    # cross-round totals keep comparing the same registry query set
    total = round(
        sum(v for k, v in timings.items() if k not in RAW_SKETCHES), 3
    )
    # Full record (timings + spread detail) first: useful when stdout is
    # captured whole (local runs, BASELINE.md updates).
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "detail": detail,
                "reps": reps,
                "sf": sf,
            }
        )
    )
    # The driver's BENCH_r{N}.json keeps only a 2000-char stdout TAIL
    # and parses the last line — the full record above exceeds that, so
    # r08/r09 receipts came back "parsed": null with the TPC-H head of
    # the dict truncated away. The FINAL line is therefore a compact,
    # self-contained summary: the anchor-comparison set (headline
    # medians only, no spreads) — ~800 chars, so the tail always
    # captures it whole even after the detail line is cut.
    compact = {k: v for k, v in timings.items() if k in HEADLINE}
    line = json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            # In sweep mode (SPARK_GRAFT_BENCH_ALL) `value` totals every
            # timed registry query while `queries` still lists only the
            # headline medians — n_timed disambiguates the two scopes.
            "n_timed": len(timings),
            "unit": "sec",
            "queries": compact,
            # bench-only receipts (EXTRAS): reported, never anchor-summed
            "extras": {k: v for k, v in timings.items() if k in EXTRAS},
            "reps": reps,
            "sf": sf,
        },
        separators=(",", ":"),
    )
    if len(line) >= 1900:
        # Not an assert: `python -O` would strip it, silently re-allowing
        # a final line the driver's 2000-char stdout tail truncates —
        # the exact parsed:null failure this compact line exists to fix.
        raise RuntimeError(f"compact bench line too long ({len(line)} chars)")
    print(line)


if __name__ == "__main__":
    main()
