"""Every registry query must match its DuckDB oracle at sf0.01 —
this is a local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

from flink_snappydata_spark import registry
from tests.oracle_harness import check_query


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(spark, name):
    problems = check_query(spark, name)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_registry_contract():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20 or len(qs) == len(registry.QUERIES)


#: Round-6 additions, re-checked at the smoke scale as well: oracle
#: parity at TWO scales catches scale-dependent drift (fixture schema
#: quirks, empty-group shapes) that a single-scale check can miss.
_R6_QUERIES = [
    "image_decode_stats",
    "audio_decode_stats",
    "video_decode_stats",
    "kmeans_train",
    "bm25_topk",
    "semantic_neardup",
    "embedding_outliers",
    "novelty_scores",
    "ann_ivf_trained",
]


@pytest.mark.parametrize("name", _R6_QUERIES)
def test_round6_queries_match_oracle_at_smoke_scale(spark, name):
    problems = check_query(spark, name, "/root/testdata/sf0.001")
    assert not problems, f"{name}@sf0.001: " + "; ".join(problems)


def test_oracle_result_types_are_portable():
    """No oracle may emit a DuckDB result column whose type the driver's
    value hasher canonicalizes differently from Spark's — round 6 lost
    three stamps (`audio_decode_stats`, `video_decode_stats`,
    `kmeans_train`) to DuckDB widening integer SUMs to HUGEINT even
    though every value matched bit-exactly. `DESCRIBE <query>` binds the
    oracle against the real table schemas without executing it, so this
    sweeps all oracles in seconds. If this fires, wrap the offending
    expression in CAST(... AS BIGINT/DOUBLE) — never weaken the ban."""
    from tests.oracle_harness import duck_connection

    banned = ("HUGEINT", "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
    con = duck_connection("/root/testdata/sf0.001")
    try:
        offenders = {}
        for name, spec in registry.QUERIES.items():
            if spec.oracle is None:
                continue
            desc = con.execute("DESCRIBE " + spec.oracle).df()
            hits = [
                (r.column_name, r.column_type)
                for r in desc.itertuples()
                if any(b in r.column_type.upper() for b in banned)
            ]
            if hits:
                offenders[name] = hits
    finally:
        con.close()
    assert not offenders, f"non-portable oracle result types: {offenders}"


#: Round-7 additions, re-checked at the smoke scale as well (same
#: rationale as the round-6 list above).
_R7_QUERIES = [
    "novelty_streamed",
    "token_budget_mix",
    "quality_model_scores",
    "source_contamination",
    "canonical_pick",
    "embedding_gram",
    "unigram_surprisal",
    "tfidf_keywords",
    "repeated_passages",
    "image_resize_stats",
    "semantic_decontamination",
    "dedup_report",
    "mix_streamed",
    "frequent_bigrams",
    "langid_confusion",
    "epoch_shuffle",
]


@pytest.mark.parametrize("name", _R7_QUERIES)
def test_round7_queries_match_oracle_at_smoke_scale(spark, name):
    problems = check_query(spark, name, "/root/testdata/sf0.001")
    assert not problems, f"{name}@sf0.001: " + "; ".join(problems)


#: Round-8 additions, re-checked at the smoke scale as well (same
#: rationale as the round-6/7 lists above).
_R8_QUERIES = [
    "centroids_streamed",
    "line_dedup",
    "source_doc_cap",
    "wordcount_streamed",
    "dedup_streamed",
    "bigram_surprisal",
    "dsir_weights",
    "image_phash_dedup",
    "gopher_rules",
    "quality_auc",
    "ccnet_buckets",
    "pq_codebook",
]


@pytest.mark.parametrize("name", _R8_QUERIES)
def test_round8_queries_match_oracle_at_smoke_scale(spark, name):
    problems = check_query(spark, name, "/root/testdata/sf0.001")
    assert not problems, f"{name}@sf0.001: " + "; ".join(problems)


def test_stamp_order_is_computed_from_receipts(tmp_path):
    """Declaration order IS the driver-sampling contract: the
    correctness driver stamps the first 50 registry entries each round
    into CORRECTNESS_r{N}.json. The order is computed from those
    receipts — never-stamped queries first, then stalest first, ties in
    registration order — so a new receipt rotates the window with no
    code edit."""
    import json
    import pathlib

    from flink_snappydata_spark.registry import (
        _REGISTERED,
        _last_stamps,
        stamp_order,
    )

    names = ["a", "b", "c", "d", "e"]
    for stamps, want in [
        ({}, ["a", "b", "c", "d", "e"]),
        ({"a": 1, "b": 1, "c": 1, "d": 1, "e": 1}, ["a", "b", "c", "d", "e"]),
        ({"a": 3, "b": 1, "c": 2, "d": 1}, ["e", "b", "d", "c", "a"]),
        ({"a": 2, "e": 1, "gone": 0}, ["b", "c", "d", "e", "a"]),
    ]:
        assert stamp_order(names, stamps) == want, stamps

    assert _last_stamps(tmp_path) == {}
    for rnd, stamped in [(1, "ab"), (2, "cd")]:
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {} for n in stamped})
        )
    assert _last_stamps(tmp_path) == {"a": 1, "b": 1, "c": 2, "d": 2}
    assert stamp_order(names, _last_stamps(tmp_path))[:2] == ["e", "a"]
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"e": {}, "a": {}}))
    assert stamp_order(names, _last_stamps(tmp_path))[:2] == ["b", "c"]

    root = pathlib.Path(__file__).resolve().parent.parent
    assert list(registry.QUERIES) == stamp_order(_REGISTERED, _last_stamps(root))


def test_registry_and_specs_share_one_ordered_dict():
    """registry._reorder() must reorder the shared QUERIES dict IN
    PLACE (clear + update), never rebind — otherwise
    flink_snappydata_spark.specs.QUERIES (and specs.base.QUERIES) keep
    raw registration order and any importer of the specs package
    silently sees the wrong driver-stamp order."""
    from flink_snappydata_spark import registry, specs
    from flink_snappydata_spark.specs import base

    assert registry.QUERIES is specs.QUERIES
    assert registry.QUERIES is base.QUERIES
    assert list(base.QUERIES) == registry.stamp_order(
        registry._REGISTERED, registry._last_stamps(registry._ROOT)
    )
