"""Declared-query registry — the engine's public correctness contract.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) gets:

* a named builder ``(spark, sf_dir) -> DataFrame`` running the Spark-side
  implementation, and
* an ANSI-SQL oracle string (DuckDB-runnable over the same parquet
  views) producing identical column names and values — or ``None`` for
  genuinely non-SQL-expressible ops (driver then does a rows-only check).

Column names are aliased identically on both sides; numeric outputs use
the exact integer-cents discipline of :mod:`flink_snappydata_spark.functions.exact`
so value hashes match bit-for-bit at any parallelism.

The specs themselves live in per-domain modules under
:mod:`flink_snappydata_spark.specs` (import order there = registration
order). THIS module owns only the driver-facing declaration order: the
correctness driver stamps the first 50 entries each round into
``CORRECTNESS_r{N}.json``, so :func:`stamp_order` puts never-stamped
queries first and the rest stalest-first, computed from those receipts.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable
from pathlib import Path

# Importing the specs package registers every query, in spec-module
# import order, into the shared dict re-exported here.
from flink_snappydata_spark.specs import QUERIES, QueryFn, QuerySpec  # noqa: F401

#: Repo root, where the correctness driver writes CORRECTNESS_r{N}.json.
_ROOT = Path(__file__).resolve().parent.parent

#: Spec-module registration order, captured before the reorder below.
_REGISTERED = tuple(QUERIES)


def _last_stamps(root: Path) -> dict[str, int]:
    """Latest driver-stamp round per query name, read from the
    ``CORRECTNESS_r{N}.json`` receipts in ``root`` ({} when there are
    none)."""
    stamps: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name in json.loads(path.read_text()):
            stamps[name] = max(stamps.get(name, 0), rnd)
    return stamps


def stamp_order(names: Iterable[str], stamps: dict[str, int]) -> list[str]:
    """Driver-stamp priority: never-stamped names first, then ascending
    last-stamp round (stalest first); ties keep the order of ``names``."""
    return sorted(names, key=lambda n: stamps.get(n, 0))


def _reorder() -> None:
    ordered = {n: QUERIES[n] for n in stamp_order(_REGISTERED, _last_stamps(_ROOT))}
    # Reorder IN PLACE: QUERIES is the same dict object the specs
    # package exports, so mutating (rather than rebinding) keeps
    # specs.QUERIES and registry.QUERIES identical — any importer sees
    # the driver-stamp order, not raw registration order.
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }


def judge_bearing_queries() -> set[str]:
    """Names of queries that embed their own exact judge (bound-verdict
    pattern) — their timings measure sketch + judge, not the raw scale
    path; the bench marks them and times raw variants separately."""
    return {name for name, spec in QUERIES.items() if spec.judge_bearing}
