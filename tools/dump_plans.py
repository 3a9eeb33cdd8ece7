#!/usr/bin/env python
"""Regenerate PLANS.md: plan-gauge table for EVERY declared query plus
full formatted plans for the flagship ones. Evidence that the physical
plans are the ones you'd want at scale — run after plan-shape changes.

Also (re)writes tests/golden_plan_gauges.txt — the pinned gauge table
for the 23 headline queries that tests/test_plan_gauges.py asserts
against. Regenerating the golden file is the explicit, reviewable act
that accepts a plan change; `--golden-only` skips the full PLANS.md
sweep and refreshes just the golden file.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from bench import HEADLINE  # noqa: E402
from flink_snappydata_spark import registry  # noqa: E402
from flink_snappydata_spark.plans import inspect as P  # noqa: E402
from flink_snappydata_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
FULL_PLAN = ["q1_pricing_summary", "star_join_revenue", "asof_join"]
GOLDEN_PATH = "tests/golden_plan_gauges.txt"

#: The sweep's expensive tail — slowest non-headline queries from the
#: round-12 full-registry sweep — gauge-pinned alongside HEADLINE
#: because the biggest plans (ivf_pq_topk: 60 exchanges) are exactly
#: where a silent regression costs the most. ``*_streamed`` twins are
#: excluded by policy: their scored frame is localCheckpoint-ed
#: (LogicalRDD leaf), so a gauge row would pin nothing but zeros.
GAUGE_TAIL = [
    # 10 slowest non-headline from the r12 closing sweep, in sweep
    # order...
    "ann_lsh_neardup",
    "ivf_pq_topk",
    "winnowing_fingerprints",
    "source_contamination",
    "canonical_pick",
    "dedup_ngram_jaccard",
    "dedup_report",
    "dedup_clusters",
    "bigram_surprisal",
    "winnowing_pairs",
    # ...plus the two big plans the round-11 verdict named explicitly
    "containment_pairs",
    "source_tv_distance",
    # round-13 additions: the production IVFADC path (training-free
    # plan — a silent re-appearance of build lineage is exactly what
    # the exchange gauge catches) and the CEP family, whose banded
    # shapes + shuffle_hash pins are the estimate-sensitive plans a
    # Spark upgrade silently breaks (r12 verdict task 6).
    "ivf_pq_prebuilt_topk",
    "window_funnel",
    "temporal_dim_join",
    "cep_pattern_match",
    "cep_multi_stage",
    # round-14 additions (r13 verdict task 8): the relaxed/windowed
    # pattern, the bounded-quantifier sub-run pattern, and the absence
    # batch op. The latter pins the absence_streamed FOLD-READ shape:
    # the streamed twins themselves are localCheckpoint-ed (LogicalRDD
    # leaf — zeros, per the policy above), but their fold reads run
    # the SAME operator tree as these batch ops above a state-table
    # scan instead of the parquet scan, so the batch rows pin every
    # gauge the fold read has (multistage_streamed's fold read is
    # cep_multi_stage's tree, already pinned).
    "cep_multi_stage_relaxed",
    "cep_bounded_subrun",
    "cep_absence_alerts",
    # round-14 continuation: the EXACT followedBy NFA — pins that the
    # mapInPandas path keeps the single user-keyed exchange and the
    # JVM-side label/sentinel filter (a lost pushdown here would ship
    # the whole events table into Python); the within variant pins the
    # same shape for the partial-match-pruning fold
    "cep_relaxed_nfa",
    "cep_relaxed_nfa_within",
    # the strict realization union (interior optional stage): pins
    # that both realizations share one user-keyed shuffle subtree
    "match_recognize_optional",
    "cep_relaxed_nfa_skiptonext",
    # iterative condition: pins that the value column rides the same
    # single exchange into the kernel (no extra shuffle for rels)
    "cep_iterative_condition",
    # MATCH_RECOGNIZE PREV(): pins that the strict machine mode's
    # sentinel-collapsing lag rides the one user exchange too
    "match_recognize_prev",
    "match_recognize_measures",
    # per-group top-k through util.top_k: pins one exchange per top-k
    # (the partial WindowGroupLimit sits below it), so a hand-written
    # bucket phase coming back shows as an extra exchange
    "hard_negatives",
    "pq_adc_topk",
    "knn_accuracy",
    "token_drift_topk",
    "weighted_sample",
    "key_skew_profile",
]

#: Every gauge-pinned query, golden-file order.
PINNED_QUERIES = HEADLINE + [n for n in GAUGE_TAIL if n not in HEADLINE]

#: The gauges pinned by the golden file: a drop in pushed filters, a
#: new/lost broadcast, or a new shuffle in a headline query must fail
#: tests rather than surface as bench noise. (Scanned-column and
#: codegen-span counts stay report-only: the former shifts with any
#: legitimate projection edit, the latter is covered by the drive-log
#: health gate's "Failed to compile" scan.)
PINNED_GAUGES = ("pushed_filters", "broadcast_joins", "exchanges")


def pinned_gauge_rows(spark) -> list[str]:
    """`name|pushed|broadcast|exchanges` line per pinned query
    (headline set + the sweep's expensive tail), the golden-file
    format (also used verbatim by the pin test). Measured cache-clean
    per query — see plans.inspect.clean_gauge_row."""
    queries = registry.queries()
    return [
        P.clean_gauge_row(spark, name, queries[name], SF_DIR)
        for name in PINNED_QUERIES
    ]


def write_golden(spark, gauge_lines: list[str] | None = None) -> None:
    """``gauge_lines`` lets the full sweep reuse its already-measured
    cache-clean gauges instead of re-building every pinned plan a
    second time (each build is the expensive part); --golden-only
    measures fresh."""
    lines = [
        "# Golden plan gauges: headline bench queries + the sweep's",
        "# expensive tail (GAUGE_TAIL), at sf0.01.",
        "# Format: name|pushed_filters|broadcast_joins|exchanges",
        "# Regenerate (the explicit act accepting a plan change):",
        "#   python tools/dump_plans.py --golden-only",
        *(gauge_lines if gauge_lines is not None else pinned_gauge_rows(spark)),
    ]
    with open(GOLDEN_PATH, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{GOLDEN_PATH} written ({len(PINNED_QUERIES)} rows)")


def main() -> None:
    spark = get_spark(app_name="fss-plans")
    spark.sparkContext.setLogLevel("ERROR")

    if "--golden-only" in sys.argv:
        write_golden(spark)
        return

    from flink_snappydata_spark.util import release_caches

    queries = registry.queries()
    rows = []
    missing = [n for n in PINNED_QUERIES if n not in queries]
    if missing:  # fail loudly BEFORE the expensive sweep, not after
        raise KeyError(f"pinned queries missing from registry: {missing}")
    headline = list(HEADLINE)
    rest = [n for n in queries if n not in HEADLINE]
    gauge_by_name = {}
    for name in headline + rest:
        # Cache-clean per query, like the golden writer: CacheManager
        # substitutes InMemoryRelation for matching subtrees, so a prior
        # query's tracked persists would otherwise shift this one's
        # exchange/codegen gauges run-to-run.
        release_caches()
        spark.catalog.clearCache()
        df = queries[name](spark, SF_DIR)
        if name in PINNED_QUERIES:
            # The golden line comes from the SAME central formatter the
            # pin test uses (plans.inspect.gauge_row), measured on this
            # sweep's cache-clean df — never reassembled from the
            # report tuple below, so the two cannot drift on format.
            gauge_by_name[name] = P.gauge_row(name, df)
        rows.append(
            (
                name,
                len(P.pushed_filters(df)),
                sum(len(c) for c in P.read_schema_columns(df)),
                P.broadcast_join_count(df),
                P.exchange_count(df),
                P.codegen_span_count(df),
            )
        )
    release_caches()
    spark.catalog.clearCache()

    out = [
        "# PLANS — physical-plan evidence for every declared query",
        "",
        "Generated by `python tools/dump_plans.py` at sf0.01. Gauges from",
        "`flink_snappydata_spark.plans`: non-zero pushed filters mean the",
        "predicate reaches the parquet scan; scanned-columns counts reflect",
        "projection pruning; exchanges are shuffle boundaries (broadcast",
        "exchanges excluded).",
        "",
        "| query | pushed filters | scanned cols | broadcast joins | exchanges | codegen spans |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")

    out += [
        "",
        "## Formatted plans (flagship queries)",
        "",
    ]
    for name in FULL_PLAN:
        df = queries[name](spark, SF_DIR)
        out += [f"### {name}", "", "```", P.formatted_plan(df).rstrip(), "```", ""]

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"PLANS.md written ({len(rows)} gauge rows, {len(FULL_PLAN)} full plans)")

    # Reuse the sweep's cache-clean gauge_row lines for the golden
    # file (identical measurement AND identical formatter; saves a
    # second build pass over every pinned query).
    write_golden(spark, [gauge_by_name[n] for n in PINNED_QUERIES])


if __name__ == "__main__":
    main()
