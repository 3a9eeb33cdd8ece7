#!/usr/bin/env python
"""Time a single registry query with the bench's methodology (table
cache on, noop sink, warm-up rep + median of N) — the per-query A/B
harness for optimization rounds. Next to the seconds it prints the
Spark jobs the query launched while being built and while being
forced (DAGScheduler job counter) and the shuffle exchanges in its
physical plan, taken from one more build after the timed reps: counts
that host drift cannot move.

Usage: python tools/time_query.py name [reps] [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from flink_snappydata_spark import registry  # noqa: E402
from flink_snappydata_spark.catalog import (  # noqa: E402
    TABLES,
    enable_table_cache,
    load_table,
)
from flink_snappydata_spark.plans.inspect import exchange_count  # noqa: E402
from flink_snappydata_spark.session import get_spark  # noqa: E402
from flink_snappydata_spark.util import release_caches  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else SF_DIR
    spark = get_spark(app_name=f"fss-ab-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    enable_table_cache()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    fn = registry.queries()[name]
    runs = []
    for i in range(reps + 1):
        release_caches()
        j0 = dag.numTotalJobs()
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        j1 = dag.numTotalJobs()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - start
        if i > 0:  # rep 0 is warm-up
            runs.append((dt, j1 - j0, dag.numTotalJobs() - j1))
    release_caches()
    exchanges = exchange_count(fn(spark, sf_dir))
    release_caches()
    secs = sorted(r[0] for r in runs)
    build = sorted({r[1] for r in runs})
    force = sorted({r[2] for r in runs})
    print(
        f"{name}: median {secs[len(secs) // 2]:.3f}s "
        f"min {secs[0]:.3f} max {secs[-1]:.3f} n={len(secs)} "
        f"jobs build {'/'.join(map(str, build))} "
        f"force {'/'.join(map(str, force))} "
        f"exchanges {exchanges}"
    )


if __name__ == "__main__":
    main()
