#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry queries to files —
the per-query before/after plan evidence the optimization rounds
commit under plans/r{N}/.

Usage: python tools/dump_query_plan.py OUTDIR SUFFIX name [name ...]
Writes OUTDIR/<name>_<SUFFIX>.txt for each query, built at sf0.01.
Session-global counters are masked, so two dumps of one commit diff
clean: the exchange counter ``[plan_id=N]`` is written as
``[plan_id=*]``, and expression ids (``doc_id#501L``) are renumbered
from 0 in order of first appearance (which rows an id names is kept;
the value the session's counter had reached is not).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

from flink_snappydata_spark import registry  # noqa: E402
from flink_snappydata_spark.plans import inspect as P  # noqa: E402
from flink_snappydata_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def stable_plan(plan: str) -> str:
    """``plan`` with its session-global counters masked (see above)."""
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=*]", plan)
    ids: dict[str, int] = {}
    return re.sub(r"#(\d+)", lambda m: f"#{ids.setdefault(m[1], len(ids))}", plan)


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="fss-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()
    for name in names:
        df = queries[name](spark, SF_DIR)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(stable_plan(P.formatted_plan(df)).rstrip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
