#!/usr/bin/env python
"""Time one stream→table loop cycle by cycle — the stream-loop twin of
``tools/time_query.py``. The loop's source table is cut into
``N_SLICES`` equal slices (fixed-seed shuffle of its rows); each cycle
publishes the next slice as one new parquet file in the stream's
source directory, runs the loop's ingest on the same checkpoint
(``availableNow``: the new file is one micro-batch), builds the
loop's ``*_from_state`` reader and forces it to a noop sink. Per
cycle it prints the ingest, build and force seconds next to the Spark
jobs each launched (DAGScheduler job counter): counts that host drift
cannot move. The compacting loops run with ``compact_every=2``.

Usage: python tools/time_loop.py dedup|rollup|novelty|wordcount [cycles] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
import uuid

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, ".")

from flink_snappydata_spark.catalog import load_table  # noqa: E402
from flink_snappydata_spark.operators import wordcount as WC  # noqa: E402
from flink_snappydata_spark.pipeline import dedup as D  # noqa: E402
from flink_snappydata_spark.pipeline import text as T  # noqa: E402
from flink_snappydata_spark.session import get_spark  # noqa: E402
from flink_snappydata_spark.streaming import windows as W  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
COMPACT_EVERY = 2
N_SLICES = 48
SEED = 1

#: loop -> (source table, columns, state tables, ingest, reader)
LOOPS = {
    "dedup": (
        "documents", ("doc_id", "text"), 1,
        lambda s, t, ck: D.streaming_dedup_ingest(
            s, t[0], checkpoint=ck, tiered_every=COMPACT_EVERY
        ),
        lambda spark, t: D.dedup_from_state(spark, t[0]),
    ),
    "rollup": (
        "events", ("event_id", "ts", "event_type", "value"), 1,
        lambda s, t, ck: W.streaming_rollup_ingest(
            s, t[0], checkpoint=ck, compact_every=COMPACT_EVERY
        ),
        lambda spark, t: W.rollup_from_state(spark, t[0]),
    ),
    "novelty": (
        "documents", ("doc_id", "text"), 2,
        lambda s, t, ck: T.streaming_novelty_ingest(s, t[0], t[1], checkpoint=ck),
        lambda spark, t: T.novelty_from_state(spark, t[0], t[1]),
    ),
    "wordcount": (
        "documents", ("doc_id", "text"), 1,
        lambda s, t, ck: WC.streaming_wordcount_ingest(
            s, t[0], checkpoint=ck, compact_every=COMPACT_EVERY
        ),
        lambda spark, t: WC.wordcount_from_state(spark, t[0]),
    ),
}


def _median(xs):
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    name = sys.argv[1]
    cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else SF_DIR
    source, columns, n_tables, ingest, from_state = LOOPS[name]
    spark = get_spark(
        app_name=f"fss-loop-{name}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    # load_table normalises the fixture's ts type; Arrow then writes it
    # as a TIMESTAMP the stream reads back unchanged
    table = load_table(spark, sf_dir, source).select(*columns).toArrow()
    order = np.random.default_rng(SEED).permutation(table.num_rows)
    slice_of = np.empty(table.num_rows, dtype=np.int64)
    slice_of[order] = np.arange(table.num_rows) * N_SLICES // table.num_rows

    tag = uuid.uuid4().hex[:8]
    tables = [f"loop_{name}_{i}_{tag}" for i in range(n_tables)]
    runs = []
    with tempfile.TemporaryDirectory(prefix=f"fss-loop-{name}-") as tmp:
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        os.makedirs(src)
        stream = None
        try:
            for k in range(min(cycles, N_SLICES)):
                part = table.filter(slice_of == k)
                staged = os.path.join(src, f".slice-{k:05d}.parquet")
                pq.write_table(part, staged)
                os.rename(staged, os.path.join(src, f"slice-{k:05d}.parquet"))
                if stream is None:
                    stream = spark.readStream.schema(
                        spark.read.parquet(src).schema
                    ).parquet(src)
                j0 = dag.numTotalJobs()
                t0 = time.perf_counter()
                q = ingest(stream, tables, ckpt)
                t1 = time.perf_counter()
                j1 = dag.numTotalJobs()
                df = from_state(spark, tables)
                t2 = time.perf_counter()
                j2 = dag.numTotalJobs()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                j3 = dag.numTotalJobs()
                rows = sum(p["numInputRows"] for p in q.recentProgress)
                runs.append((t1 - t0, j1 - j0, t2 - t1, j2 - j1, t3 - t2, j3 - j2))
                print(
                    f"{name} cycle {k}: rows {rows} "
                    f"ingest {t1 - t0:.3f}s {j1 - j0} jobs | "
                    f"build {t2 - t1:.3f}s {j2 - j1} jobs | "
                    f"force {t3 - t2:.3f}s {j3 - j2} jobs"
                )
        finally:
            for t in tables:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
    steady = runs[1:] or runs  # cycle 0 creates the tables
    cols = list(zip(*steady))
    print(
        f"{name}: median over cycles 1..{len(runs) - 1}: "
        f"ingest {_median(cols[0]):.3f}s jobs {'/'.join(map(str, sorted(set(cols[1]))))} | "
        f"build {_median(cols[2]):.3f}s jobs {'/'.join(map(str, sorted(set(cols[3]))))} | "
        f"force {_median(cols[4]):.3f}s jobs {'/'.join(map(str, sorted(set(cols[5]))))}"
    )


if __name__ == "__main__":
    main()
