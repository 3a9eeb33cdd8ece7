from __future__ import annotations

import os
import tempfile

import pytest

from flink_snappydata_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    """One session for the whole suite, wrapped in the drive-log health
    gate: every JVM WARN/ERROR emitted while the suite (including the
    full 210-query oracle-parity drive) runs is captured to a file, and
    teardown fails the run on silent-performance-killer signatures —
    janino codegen fallback ("Failed to compile") and ignored join
    hints (HintErrorLogger). Round-10 lesson: language_id ran its
    aggregation stages INTERPRETED for nine rounds with the only
    symptom an ERROR line nobody grepped; this makes the grep
    structural. See flink_snappydata_spark/plans/loghealth.py.
    """
    from flink_snappydata_spark.plans import loghealth

    spark = get_spark(app_name="fss-tests", shuffle_partitions=8)
    log_path = os.path.join(
        tempfile.mkdtemp(prefix="fss-loghealth-"), "drive.log"
    )
    loghealth.attach_log_capture(spark, log_path)
    yield spark
    try:
        text = open(log_path).read()
    except FileNotFoundError:  # no WARN+ at all — vacuously healthy
        return
    hits = loghealth.scan_log_health(text)
    assert not hits, (
        "drive-log health gate: %d silent-performance-killer log line(s) "
        "during this pytest session (full log: %s):\n%s"
        % (len(hits), log_path, "\n".join(hits[:20]))
    )


# ---------------------------------------------------------------------------
# Slow-test marking (r15: driver-verifiable default selection)
# ---------------------------------------------------------------------------
# The full suite (~32 min) outruns the round driver's pytest window, so
# its VERIFY receipt recorded tests_ok:false on a 100%-passing run
# (truncated tail, r14). The ~80 slowest tests (>=6s each, measured
# with --durations on the r15 tree) carry a `slow` marker added here at
# collection time — a central list instead of 80 scattered decorators,
# and the only way to mark individual PARAMETRIZED cases (marking
# test_query_matches_oracle's function would drop all 241 oracle-parity
# params from the default run, and none of them is listed here).
# pytest.ini's `addopts = -m "not slow"` makes the fast selection the
# default; the FULL suite remains the release gate, run as every
# round's closing receipt via -m "slow or not slow".
SLOW_NODE_IDS = {
    "tests/test_asof.py::test_asof_join_semantics",
    "tests/test_determinism.py::test_result_invariant_under_parallelism[bigram_surprisal]",
    "tests/test_determinism.py::test_result_invariant_under_parallelism[canonical_pick]",
    "tests/test_determinism.py::test_result_invariant_under_parallelism[grouped_zscore]",
    "tests/test_determinism.py::test_result_invariant_under_parallelism[pq_codebook]",
    "tests/test_determinism.py::test_result_invariant_under_parallelism[quantile_transform]",
    "tests/test_determinism.py::test_result_invariant_under_parallelism[zipf_fit]",
    "tests/test_packing.py::test_pack_sequences_boundary",
    "tests/test_packing.py::test_pack_sequences_per_shard_independent",
    "tests/test_packing.py::test_write_sharded_roundtrip",
    "tests/test_pipeline.py::test_bigram_surprisal_flags_scrambled_word_order",
    "tests/test_pipeline.py::test_bigram_surprisal_golden",
    "tests/test_pipeline.py::test_dedup_report_planted_corpus",
    "tests/test_pipeline.py::test_giant_document_never_packed_and_pairs_survive",
    "tests/test_pipeline.py::test_ivf_with_trained_codebook",
    "tests/test_pipeline.py::test_kmeans_training_recovers_planted_clusters",
    "tests/test_pipeline.py::test_lsh_multiprobe_improves_recall",
    "tests/test_pipeline.py::test_lsh_neardup_recall_on_planted_dups",
    "tests/test_pipeline.py::test_new_ops_handle_degenerate_inputs",
    "tests/test_pipeline.py::test_pair_sorts_gate_on_expect_small",
    "tests/test_pipeline.py::test_prefix_index_excludes_hot_shingles",
    "tests/test_pipeline.py::test_round7_graph_ops_never_shuffle_text",
    "tests/test_pipeline.py::test_simhash_near_dups",
    "tests/test_pipeline.py::test_verified_jaccard_streamed_fallback_identical",
    "tests/test_pipeline.py::test_zero_overlap_candidates_score_zero_on_both_paths",
    "tests/test_properties.py::test_asof_join_matches_naive",
    "tests/test_properties.py::test_bm25_matches_naive_on_arbitrary_corpora",
    "tests/test_properties.py::test_cell_prefix_sums_match_naive",
    "tests/test_properties.py::test_cep_absence_matches_naive",
    "tests/test_properties.py::test_cep_match_pattern_matches_machine",
    "tests/test_properties.py::test_cep_pattern_match_matches_naive",
    "tests/test_properties.py::test_containment_prefix_filter_matches_naive",
    "tests/test_properties.py::test_count_window_matches_naive",
    "tests/test_properties.py::test_frequent_bigrams_matches_naive",
    "tests/test_properties.py::test_global_index_matches_sorted_rank",
    "tests/test_properties.py::test_interval_join_matches_naive",
    "tests/test_properties.py::test_line_dedup_matches_naive",
    "tests/test_properties.py::test_neardup_clusters_match_union_find",
    "tests/test_properties.py::test_ngram_jaccard_prefix_filter_matches_naive",
    "tests/test_properties.py::test_novelty_matches_naive_on_arbitrary_corpora",
    "tests/test_properties.py::test_pack_sequences_matches_naive",
    "tests/test_properties.py::test_per_source_cap_matches_naive",
    "tests/test_properties.py::test_repeated_passages_matches_naive",
    "tests/test_properties.py::test_source_contamination_matches_naive",
    "tests/test_properties.py::test_temporal_table_join_matches_naive",
    "tests/test_properties.py::test_tfidf_keywords_matches_naive",
    "tests/test_properties.py::test_unigram_surprisal_matches_naive",
    "tests/test_properties.py::test_window_funnel_matches_naive",
    "tests/test_round11_ops.py::test_ivf_pq_exact_when_probing_everything",
    "tests/test_round11_ops.py::test_ivf_pq_recall_overlap",
    "tests/test_round12_ops.py::test_funnel_compaction_drain_equals_batch",
    "tests/test_round12_ops.py::test_ivfpq_saved_index_query_matches_inline",
    "tests/test_round13_ops.py::test_ivf_pq_prebuilt_topk_registered",
    "tests/test_round13_ops.py::test_ivfpq_prebuilt_memo_is_session_keyed",
    "tests/test_round13_ops.py::test_wordcount_compaction_drain_equals_batch",
    "tests/test_round14_ops.py::test_dedup_tiered_reclaims_and_stays_exact_at_8_batches",
    "tests/test_round14_ops.py::test_raw_log_tiered_segments_fold_identically",
    "tests/test_round15_ops.py::test_bpe_driver_fold_matches_distributed_loop",
    "tests/test_round15_ops.py::test_kmeans_train_matches_python_lloyds_replay",
    "tests/test_round8_ops.py::test_leakage_safe_split_never_straddles_neardup_pairs",
    "tests/test_round8_ops.py::test_pq_adc_matches_driver_replay",
    "tests/test_round8_ops.py::test_zipf_fit_matches_per_token_replay",
    "tests/test_round8_ops.py::test_zipf_fit_recovers_planted_zipf",
    "tests/test_sampling.py::test_aqe_skew_split_misses_at_default_thresholds",
    "tests/test_sampling.py::test_unigram_surprisal_stopword_skew",
    "tests/test_streaming.py::test_streaming_novelty_ingest_matches_batch",
    "tests/test_streaming.py::test_streaming_session_funnel_matches_batch_shuffled_arrival",
    "tests/test_streaming.py::test_streaming_sliding_window_matches_batch_shuffled_arrival",
}


def pytest_collection_modifyitems(config, items):
    ids = {item.nodeid for item in items}
    for item in items:
        if item.nodeid in SLOW_NODE_IDS:
            item.add_marker(pytest.mark.slow)
    # An entry whose file was collected whole but which matched no item
    # is stale (a renamed test or param): fail loudly instead of
    # silently dropping the mark. Runs of other files, and runs that
    # select single tests by node id, cannot tell and are not checked.
    if any("::" in arg for arg in config.args):
        return
    files = {nodeid.split("::", 1)[0] for nodeid in ids}
    stale = sorted(
        n for n in SLOW_NODE_IDS - ids if n.split("::", 1)[0] in files
    )
    if stale:
        raise pytest.UsageError(
            "SLOW_NODE_IDS entries match no collected test: " + ", ".join(stale)
        )
