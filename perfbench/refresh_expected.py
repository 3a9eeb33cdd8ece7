#!/usr/bin/env python3
"""Regenerate the committed oracle results under ``expected/``.

    python3 perfbench/refresh_expected.py --scale 0.01 --scale 0.001

Runs the DuckDB oracle of each query in ``COMMITTED_ORACLES`` on the
generated store and writes its rows as parquet. Only needed after the
generator or one of those oracles changes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import fixtures  # noqa: E402
from workloads import COMMITTED_ORACLES  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--scale", type=float, action="append", required=True)
    args = p.parse_args()

    from flink_snappydata_spark import registry
    from tests.oracle_harness import duck_connection

    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    for scale in args.scale:
        data = fixtures.ensure_data(os.path.join(ROOT, ".perfbench_work", "data"), scale)
        con = duck_connection(data)
        for name in COMMITTED_ORACLES:
            t = time.perf_counter()
            df = con.execute(registry.oracle_sql()[name]).df()
            out = os.path.join(HERE, "expected", f"{name}-sf{scale:g}.parquet")
            df.to_parquet(out, index=False)
            print(f"{out}: {len(df)} rows in {time.perf_counter() - t:.1f} s")


if __name__ == "__main__":
    main()
