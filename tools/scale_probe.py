#!/usr/bin/env python
"""Synthetic scale probe beyond the sf0.1 fixture ceiling.

Replicates the sf0.1 fixtures in memory with shifted ids (documents
get a distinct suffix, embeddings a distinct component offset, so ids
and texts stay unique) and times structure-neutral pipeline ops at
1x vs Nx. Pair-generating dedup ops are excluded by design:
replication makes every document part of an N-copy near-dup group — a
pathological workload no organic Nx corpus has (their scale discipline
is pinned by the prefix-filter / banding / cluster-bounding plan tests
instead).

The pair-generating dedup ops get their own mode instead
(``SPARK_GRAFT_PROBE_MODE=synthdocs``): a synthetic corpus of UNIQUE
pseudo-random documents (deterministic xxhash64 word streams, one
~5%-near-dup planted per ``DUP_EVERY`` block) measured at 1x vs Nx —
an organic scale-up, unlike replication, which would put every
document in an N-copy near-dup group (a pathological workload no real
Nx corpus has).

Usage::

    python tools/scale_probe.py            # factor 10, all ops
    SPARK_GRAFT_PROBE_FACTOR=100 \
    SPARK_GRAFT_PROBE_OPS=bm25_topk,quality_scores,kmeans_train \
        python tools/scale_probe.py
    SPARK_GRAFT_PROBE_MODE=synthdocs SPARK_GRAFT_PROBE_FACTOR=100 \
    SPARK_GRAFT_PROBE_REPS=1 python tools/scale_probe.py

Prints one `PROBE | op | base_s | scaled_s | ratio |` row per op
(median of ``SPARK_GRAFT_PROBE_REPS`` warm reps — default 3 — with a
full-plan noop sink).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.pipeline import curation as _curation
from flink_snappydata_spark.pipeline import sampling as _sampling
from flink_snappydata_spark.pipeline import dedup as D
from flink_snappydata_spark.pipeline import multimodal as M
from flink_snappydata_spark.pipeline import packing as _packing
from flink_snappydata_spark.operators import analytic as A
from flink_snappydata_spark.operators import cep as CEP
from flink_snappydata_spark.operators import wordcount as _wordcount
from flink_snappydata_spark.operators import profiling as _profiling
from flink_snappydata_spark.operators import relational as R
from flink_snappydata_spark.pipeline import graph as GR
from flink_snappydata_spark.pipeline import similarity as S
from flink_snappydata_spark.pipeline import text as T
from flink_snappydata_spark.streaming import joins as SJ
from flink_snappydata_spark.streaming import windows as W
from flink_snappydata_spark.streaming.runtime import (
    land_floor_partition,
    land_tiered_partition,
)
from flink_snappydata_spark.session import get_spark
from flink_snappydata_spark.util import release_caches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicated_documents(docs, k):
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copytag{i}")).alias("text"),
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _offset_embedding(offset):
    """Per-replica component shift as a UNARY transform lambda.

    A defaulted second parameter (``lambda x, i=i: ...``) counts toward
    PySpark's lambda arity, turning the transform into the binary
    (element, index) form — the "offset" then binds to the array index,
    identical for every replica, and the replicated vectors come out
    bit-identical (ADVICE r6). Baking the offset into a closure over a
    prebuilt Column keeps the lambda single-parameter.
    """
    off = F.lit(offset)
    return F.transform("embedding", lambda x: x + off)


def replicated_embeddings(emb, k):
    parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
            F.col("label"),
            _offset_embedding(i * 1e-3).alias("embedding"),
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _with_lang(docs):
    langs = F.array(*[F.lit(x) for x in ("en", "fr", "de", "es")])
    return docs.withColumn(
        "lang", F.element_at(langs, (F.pmod("doc_id", F.lit(4)) + 1).cast("int"))
    )


OPS = {
    "bm25_topk": lambda d, e: T.bm25_topk(d),
    "novelty_scores": lambda d, e: T.novelty_scores(d),
    "quality_scores": lambda d, e: T.quality_scores(d),
    "unigram_surprisal": lambda d, e: T.unigram_surprisal(d, sort=False),
    "bigram_surprisal": lambda d, e: T.bigram_surprisal(d, sort=False),
    # synthetic 20-way source split (src0 = target): replication makes
    # every feature bucket hot in BOTH distributions — a fair stress of
    # the count aggregations, while the 1024-row stats stay broadcast.
    "dsir_weights": lambda d, e: T.dsir_weights(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        ),
        sort=False,
    ),
    # replication plants N-resolution copies per seed — exactly the
    # collision shape the perceptual hash groups; payload synthesis +
    # hash dominate (linear in images), groups stay seed-bounded.
    "image_phash_dedup": lambda d, e: M.image_phash_dedup(d, sort=False),
    "gopher_rules": lambda d, e: T.gopher_rules(d, sort=False),
    # synthetic 4-way language split: the probe frame carries only
    # (doc_id, text); a deterministic doc_id-keyed lang column makes
    # every language corpus-sized — the hot-partition shape the keyed
    # two-phase rank exists for.
    "quality_auc": lambda d, e: T.quality_auc(_with_lang(d)),
    "ccnet_buckets": lambda d, e: T.ccnet_buckets(_with_lang(d), sort=False),
    "pq_codebook": lambda d, e: S.pq_codebook(e),
    "frequent_bigrams": lambda d, e: T.frequent_bigrams(d),
    "epoch_shuffle": lambda d, e: _packing.epoch_shuffle(d),
    "tfidf_keywords": lambda d, e: T.tfidf_keywords(d),
    # replication turns every document's lines into N-copy hot lines —
    # exactly the boilerplate shape line_dedup exists for, so the
    # replicate harness is the REALISTIC probe here (unlike the
    # pair-generating dedup ops).
    "line_dedup": lambda d, e: D.line_dedup(d, sort=False),
    "source_doc_cap": lambda d, e: _sampling.per_source_cap(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        ),
        sort=False,
    ),
    "embedding_gram": lambda d, e: S.embedding_gram(e),
    # eval side = 2% id split of the (replicated) corpus — grows with
    # the probe factor, so this measures the broadcast-scan product.
    "semantic_decontamination": lambda d, e: S.semantic_decontamination(
        e.filter(F.pmod("vec_id", F.lit(50)) != 0),
        e.filter(F.pmod("vec_id", F.lit(50)) == 0),
        threshold=0.35,
    ),
    "kmeans_train": lambda d, e: S.kmeans_train(e),
    "embedding_outliers": lambda d, e: S.embedding_outliers(e),
    "ivf_topk": lambda d, e: S.ivf_topk(e),
    "brute_force_cosine_topk": lambda d, e: S.brute_force_cosine_topk(e),
    # round-8 additions
    "random_projection": lambda d, e: S.random_projection(e, sort=False),
    "hard_negatives": lambda d, e: S.hard_negatives(e),
    "pq_adc_topk": lambda d, e: S.pq_adc_topk(e),
    "inverted_index": lambda d, e: T.inverted_index(d, sort=False),
    "cms_heavy_hitters": lambda d, e: T.cms_heavy_hitters(d),
    # pagerank wants the dense id space a real pipeline gets from
    # global_index; replication shifts ids by 1e6 per replica, so the
    # probe graph is rebuilt dense at the same row count (the count
    # runs inside the timed thunk for both sides — symmetric).
    "pagerank": lambda d, e: GR.pagerank(
        d.sparkSession.range(d.count()).select(
            F.col("id").alias("doc_id")
        ),
        sort=False,
    ),
    "knn_accuracy": lambda d, e: S.knn_accuracy(e),
    "mmr_select": lambda d, e: S.mmr_select(e),
    "vocab_growth": lambda d, e: T.vocab_growth(d),
    # replicated embeddings/documents keep aligned ids, so the id join
    # and the synthesized 20-way source split both scale organically
    "source_centroids": lambda d, e: S.source_centroids(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        ),
        e,
    ),
    "embedding_dim_stats": lambda d, e: S.embedding_dim_stats(e),
    "readability_scores": lambda d, e: T.readability_scores(d, sort=False),
    "typo_pairs": lambda d, e: D.typo_pairs(d),
    # round-8 closing batch: BPE iterates over the DISTINCT-WORD frame
    # (4 merge rounds probed — per-round plan identical to the default
    # 8); drift/sample/mix ride the synthesized 20-way source split;
    # triangles rebuild the dense-id graph like pagerank above.
    "bpe_merges": lambda d, e: T.bpe_merges(d, n_merges=4),
    "token_drift_topk": lambda d, e: T.token_drift_topk(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    "weighted_sample": lambda d, e: _sampling.weighted_sample(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        ).withColumn("n_chars", F.length("text").cast("long"))
    ),
    "temperature_mix": lambda d, e: _sampling.temperature_mix(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    "merge_upsert": lambda d, e: _curation.merge_upsert(d),
    "embedding_top_pc": lambda d, e: S.embedding_top_pc(e),
    "zipf_fit": lambda d, e: T.zipf_fit(d),
    "html_clean": lambda d, e: T.html_clean(d, sort=False),
    # encode half probed with a fixed merge table so the measurement
    # isolates the map-only encode scan (training is bpe_merges' row)
    "bpe_encode_stats": lambda d, e: T.bpe_encode_stats(
        d,
        merges=[("t", "h"), ("th", "e"), ("a", "n"), ("i", "n")],
    ),
    # same fixed merge table: the probe isolates the map-only encode
    # scan + the languages-sized fertility rollup (lang synthesized —
    # the probe frame carries only doc_id/text)
    "tokenizer_fertility": lambda d, e: T.tokenizer_fertility(
        d.withColumn("lang", F.concat(F.lit("l"), F.pmod("doc_id", F.lit(4)))),
        merges=[("t", "h"), ("th", "e"), ("a", "n"), ("i", "n")],
    ),
    "graph_triangles": lambda d, e: GR.graph_triangles(
        d.sparkSession.range(d.count()).select(F.col("id").alias("doc_id"))
    ),
    "winnowing_fingerprints": lambda d, e: T.winnowing_fingerprints(
        d, sort=False
    ),
    "source_token_entropy": lambda d, e: T.source_token_entropy(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    "source_tv_distance": lambda d, e: T.source_tv_distance(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    "ngram_diversity": lambda d, e: T.ngram_diversity(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    # round-8 closers: synthesize=True plants one address per doc across
    # 7 domains — replication grows per-domain mass under a fixed domain
    # cardinality, the hot-domain shape of a real contact-surface audit.
    "email_domain_stats": lambda d, e: T.email_domain_stats(
        d, synthesize=True
    ),
    # real RIFF/WAVE payload synthesis + fused decode/silence analysis
    # in ONE mapInPandas pass — per-row linear, no shuffle; the probe
    # measures the Arrow-batched binary path end-to-end.
    "audio_silence_stats": lambda d, e: M.audio_silence_stats(
        M.synthesize_wav_gated(d)
    ),
    # round-11 window-gap fill: probe rows for the r07-rotation queries
    # that had none. text_token_count/doc_fingerprint are map-only
    # per-row scans; audio/video decode ride the same fused
    # synthesize+parse mapInPandas path as audio_silence_stats.
    "text_token_count": lambda d, e: T.token_counts(d),
    "doc_fingerprint": lambda d, e: T.doc_fingerprints(d),
    "audio_decode_stats": lambda d, e: M.audio_stats_table(
        M.synthesize_wav(d)
    ),
    "video_decode_stats": lambda d, e: M.video_stats_table(
        M.synthesize_avi(d)
    ),
    # the remaining per-row payload kernels: PPM decode, decode+resize
    # and the digest extractor, each one mapInPandas pass, no shuffle
    "image_decode_stats": lambda d, e: M.image_stats_table(
        M.synthesize_ppm(d)
    ),
    "image_resize_stats": lambda d, e: M.image_resize_table(
        M.synthesize_ppm(d)
    ),
    "multimodal_features": lambda d, e: M.extract_features(
        M.attach_binary(d)
    ),
    # FIXED 250-doc benchmark (replica ids are offset by 1e6, so the
    # filter keeps selecting only base-replica docs): replication grows
    # the screened corpus organically while the broadcast side stays
    # benchmark-sized — the realistic decontamination shape.
    "decontamination": lambda d, e: D.decontaminate(
        d.filter(F.col("doc_id") >= 250), d.filter(F.col("doc_id") < 250)
    ),
    # 20-way synthesized source split: replication grows per-source
    # shingle mass under fixed source cardinality, so the (shingle,
    # source) index and the 190-pair matrix scale the way a real
    # multi-source corpus does.
    "source_contamination": lambda d, e: D.source_contamination(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    "token_budget_mix": lambda d, e: _sampling.token_budget_mix(
        d.withColumn(
            "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
        )
    ),
    # round-11 compression-family additions: queries stay the fixed
    # vec_id<5 set (replica ids are offset), the corpus grows N-fold —
    # the judge passes are the deliberate O(queries x n) floor both
    # ops' docstrings declare, so linear scaling is the honest target.
    "embedding_sq8_topk": lambda d, e: S.sq8_mips_recall(e),
    "embedding_bitsign_topk": lambda d, e: S.bitsign_hamming_recall(e),
    "skipgram_pmi": lambda d, e: T.skipgram_pmi(d),
    # IVFADC: trained coarse lists + residual PQ + per-list ADC +
    # 64-candidate exact refine; replication grows list occupancy
    # under the fixed 8-list/2-probe config — the honest shape (a
    # real 100x corpus retrains with more lists, but per-query cost
    # is list-fraction-bounded either way).
    "ivf_pq_topk": lambda d, e: S.ivf_pq_topk(e),
}

#: Events-input ops (replicated with per-replica day offsets so the
#: bucket count grows with the data, not just the per-bucket mass).
EVENT_OPS = {
    # round-12 CEP family (temporal_dim_join re-derives the props
    # payload the probe's slim event projection drops — pass-through
    # bytes, structure-neutral for timing). Library path (sort=False,
    # zorder_key precedent): the probe measures the join, not the
    # corpus-sized presentation range-exchange the spec path keeps
    # for oracle parity.
    "cep_pattern_match": lambda v: CEP.cep_pattern_match(v),
    "cep_absence_alerts": lambda v: CEP.cep_absence_alerts(v),
    # round-13 general pattern builder (library path: sort=False; the
    # SAME stage spec the registered query uses, so the probe cannot
    # silently measure a different pattern than the gauges pin)
    "cep_multi_stage": lambda v: CEP.cep_match_pattern(
        v, CEP._funnel_stages(), sort=False
    ),
    "cep_multi_stage_relaxed": lambda v: CEP.cep_match_pattern(
        v, CEP._funnel_stages(), sort=False,
        contiguity="relaxed", within="2 days",
    ),
    # round-14: the bounded-quantifier sub-run instance — same stages
    # as the registered query; the suffix/prefix boundary windows ride
    # the user partitioning, so the probe checks they stay linear
    "cep_bounded_subrun": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("view", "view", min_count=1, max_count=2),
            CEP.PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            CEP.PatternStage(
                "purchase", "purchase", min_count=1, max_count=1
            ),
        ],
        sort=False,
    ),
    # round-14 continuation: the EXACT followedBy NFA — same stages as
    # the registered cep_relaxed_nfa query. The Arrow-batched
    # applyInPandas kernel rides the same user partitioning as the
    # declarative modes; the probe checks the Python fold stays linear
    # in per-user events (branch count is O(pattern), not O(history)).
    "cep_relaxed_nfa": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("view", "view", min_count=1, max_count=1),
            CEP.PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            CEP.PatternStage(
                "purchase", "purchase", min_count=1, max_count=1
            ),
        ],
        sort=False,
        contiguity="relaxed_nfa",
    ),
    # within-pruning variant (Flink partial-match pruning; branch list
    # un-deduped, bounded by one window's events per user) and the
    # skip-to-next variant (every start emits — output rows grow with
    # event count, the probe checks the kernel stays linear)
    "cep_relaxed_nfa_within": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("view", "view", min_count=1, max_count=1),
            CEP.PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            CEP.PatternStage(
                "purchase", "purchase", min_count=1, max_count=1
            ),
        ],
        sort=False,
        contiguity="relaxed_nfa",
        within="5 days",
    ),
    "cep_relaxed_nfa_skiptonext": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("view", "view", min_count=1, max_count=1),
            CEP.PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
            ),
            CEP.PatternStage(
                "purchase", "purchase", min_count=1, max_count=1
            ),
        ],
        sort=False,
        contiguity="relaxed_nfa",
        after_match="skip_to_next",
    ),
    # iterative condition: the rel comparison is the one extra Python
    # op per consumed event — the probe checks it stays linear
    "cep_iterative_condition": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("view", "view", min_count=1, max_count=1),
            CEP.PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
                rel=("first", 1, ">"),
            ),
            CEP.PatternStage(
                "purchase", "purchase", min_count=1, max_count=1
            ),
        ],
        sort=False,
        contiguity="relaxed_nfa",
    ),
    # MATCH_RECOGNIZE PREV(): the strict machine mode — the probe
    # checks the sentinel-collapsed shipping + per-branch rel stays
    # linear (every event reaches the lag, 1-in-K reach Python)
    "match_recognize_prev": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("v", "view", min_count=1, max_count=1),
            CEP.PatternStage(
                "ascend",
                F.col("event_type") == "click",
                rel=("prev", ">"),
            ),
        ],
        sort=False,
        contiguity="strict_nfa",
    ),
    "match_recognize_optional": lambda v: CEP.cep_match_pattern(
        v,
        [
            CEP.PatternStage("view", "view"),
            CEP.PatternStage(
                "click",
                (F.col("event_type") == "click") & (F.col("value") >= 0.5),
                min_count=0,
                max_count=2,
            ),
            CEP.PatternStage("purchase", "purchase"),
        ],
        sort=False,
    ),
    "window_funnel": lambda v: CEP.window_funnel(v),
    "temporal_dim_join": lambda v: CEP.temporal_table_join(
        v.withColumn(
            "props",
            F.concat(
                F.lit('{"k": '),
                F.pmod("event_id", F.lit(100)).cast("string"),
                F.lit("}"),
            ),
        ),
        sort=False,
    ),
    "rollup_multires": lambda v: W.rollup_multires(v),
    "latest_snapshot": lambda v: A.latest_snapshot(v),
    "timeline_gapfill": lambda v: A.timeline_gapfill(v),
    "percentile_bands": lambda v: A.percentile_bands(v),
    "retention_cohorts": lambda v: A.retention_cohorts(v),
    "ordered_funnel": lambda v: A.ordered_funnel(v),
    "events_mad_outliers": lambda v: A.mad_outliers(v),
    "event_rate_spikes": lambda v: A.event_rate_spikes(v),
    "zorder_key": lambda v: _packing.zorder_key(v, sort=False),
    # round-8 closing batch (all pure events-frame ops)
    "ohlc_bars": lambda v: A.ohlc_bars(v),
    "event_transitions": lambda v: A.event_transitions(v),
    "trend_regression": lambda v: A.trend_regression(v),
    "ks_drift": lambda v: A.ks_drift(v),
    "activity_heatmap": lambda v: A.activity_heatmap(v),
    "session_conversion": lambda v: A.session_conversion(v),
    "user_growth": lambda v: A.user_growth(v),
    "conversion_attribution": lambda v: A.conversion_attribution(v),
    "repeat_purchase_stats": lambda v: A.repeat_purchase_stats(v),
    "itemset_pairs": lambda v: A.itemset_pairs(v),
    "ab_test_report": lambda v: A.ab_test_report(v),
    "zonemap_skip_stats": lambda v: _packing.zonemap_skip_stats(v),
    "quantile_transform": lambda v: _profiling.quantile_transform(v),
    "rfm_segments": lambda v: A.rfm_segments(v),
    "funnel_latency": lambda v: A.funnel_latency(v),
    "activity_gini": lambda v: A.activity_gini(v),
    "seasonal_anomaly": lambda v: A.seasonal_anomaly(v),
    "rolling_active_users": lambda v: A.rolling_active_users(v),
    "scd2_state_intervals": lambda v: A.scd2_state_intervals(
        v, sort=False
    ),
    "type_lag_correlation": lambda v: A.type_lag_correlation(v),
    # round-11 window-gap fill: the session-window family (gap-based
    # sessionization is one user-keyed shuffle; the 40-day replica
    # offsets grow the session count, not the per-session mass).
    "events_session_window": lambda v: W.session_window_counts(v),
    "session_funnel": lambda v: W.session_funnel(v),
    # round-8 closer: per-(type, value-cents) histogram + per-type max
    # join — replication grows per-cell mass under fixed type/value
    # cardinality, the exact shape the two-stage mode fold exists for.
    "agg_mode": lambda v: R.mode_per_type(v),
    # round-11: outer windowed join — the (key, window) shuffle grows
    # with rows; replica day offsets grow the window count too.
    "stream_join_left_outer": lambda v: SJ.windowed_stream_join(
        v.filter(F.col("event_type") == "click"),
        v.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    ),
}

#: TPC-H-table ops (round-8 closers). Replication is a plain k-fold
#: union of unchanged rows: group cardinality stays fixed (25 nations,
#: 3 return flags, the distinct-price/size grid) while per-group mass
#: grows — the realistic 100-TB shape for these aggregations, and the
#: duplicate frontier points pareto_frontier keeps by its tie rule.
TPCH_OPS = {
    "join_full_outer": lambda t: R.full_outer_nation_balance(
        t["customer"], t["supplier"]
    ),
    "weighted_median_price": lambda t: R.weighted_median_price(
        t["lineitem"]
    ),
    "pareto_frontier": lambda t: R.pareto_frontier(t["part"]),
    "key_skew_profile": lambda t: _profiling.key_skew_profile(t["lineitem"]),
}


def replicated_plain(df, k):
    out = df
    for _ in range(k - 1):
        out = out.unionByName(df)
    return out


def replicated_events(events, k):
    parts = [
        events.select(
            (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i * 40} DAYS")).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

#: Words per synthetic document (matches the fixture's ~50-word docs)
#: and the near-dup plant rate: every DUP_EVERY-th document is a copy of
#: its predecessor with its last 2 words changed (~5% dup mass, the
#: shape of an organic lightly-duplicated web corpus).
SYNTH_WORDS = 50
SYNTH_VOCAB = 30_000
DUP_EVERY = 20

DEDUP_OPS = {
    "dedup_ngram_jaccard": lambda d: D.ngram_jaccard_pairs(d, threshold=0.8),
    "dedup_minhash": lambda d: D.minhash_dedup_pairs(d, threshold=0.8),
    "dedup_clusters": lambda d: D.neardup_clusters(
        D.ngram_jaccard_pairs(d, threshold=0.8)
    ),
    "dedup_simhash": lambda d: D.simhash_dedup_pairs(d),
    "repeated_passages": lambda d: D.repeated_passages(d),
    "winnowing_pairs": lambda d: T.winnowing_pairs(d, sort=False),
    "dedup_report": lambda d: _curation.dedup_report(d),
    # canonical_pick rides the same pair graph plus a quality-margin
    # scan + cluster argmax — probed here so the keep/drop step has a
    # measured decade alongside the clustering it extends.
    "canonical_pick": lambda d: _curation.canonical_pick(
        d, D.ngram_jaccard_pairs(d, threshold=0.8)
    ),
    # leakage_safe_split rides the pair graph + CC labels + a per-row
    # hash split — probed on the synthdocs corpus like the clustering
    # it extends (replication would put every doc in an N-copy group).
    "leakage_safe_split": lambda d: _curation.leakage_safe_split(
        d, D.ngram_jaccard_pairs(d, threshold=0.8, sorted_output=False)
    ),
    "containment_pairs": lambda d: D.containment_pairs(d, threshold=0.9),
}


def synthetic_documents(spark, n_docs):
    """``n_docs`` deterministic pseudo-random documents, all distinct,
    with a planted near-dup every :data:`DUP_EVERY` ids.

    Pure JVM expressions (xxhash64 word streams — no Python, no data
    movement): word j of document i is ``w<pmod(xxhash64(base*C+j),
    VOCAB)>`` where ``base`` is i's dup-block anchor for the first
    SYNTH_WORDS-2 words (so anchor and copy share ~96% of shingles)
    and i itself for the last 2 (so they are NEAR- not exact dups).
    """
    base = F.when(
        (F.col("id") % DUP_EVERY) == DUP_EVERY - 1, F.col("id") - 1
    ).otherwise(F.col("id"))

    def word(seed_col, j):
        return F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(seed_col * F.lit(1_000_003) + F.lit(j)),
                F.lit(SYNTH_VOCAB),
            ).cast("string"),
        )

    text = F.concat_ws(
        " ",
        *[word(base, j) for j in range(SYNTH_WORDS - 2)],
        *[word(F.col("id"), 7_000_000 + j) for j in range(2)],
    )
    return (
        spark.range(n_docs)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col("id").alias("doc_id"), text.alias("text"))
    )


# ---------------------------------------------------------------------------
# Streaming-twin fold probes (SPARK_GRAFT_PROBE_MODE=folds)
# ---------------------------------------------------------------------------
# The 10 *_from_state folds read state a foreachBatch loop accumulated
# into batch_id-partitioned catalog tables. The probe lands Nx state
# BATCH-SIDE (no triggers): the replicated input is split into
# SPARK_GRAFT_PROBE_BATCHES pseudo-micro-batches by id hash, each run
# through the twin's REAL prepare/build functions and landed via the
# REAL land_batch_partition() path — so the fold reads exactly the
# parquet state shape production accumulates, just N times more of it.
# Only the fold is timed.

#: name -> (input kind, prepare, [(table-kind suffix, build|None)], fold)
#: prepare/build are the module-level functions the streaming ingest
#: itself uses (extracted in round 10 so probe and ingest cannot drift).
FOLD_OPS = {
    "wordcount_from_state": (
        "documents",
        lambda b: _wordcount.wordcount_partials(b),
        [("cnt", None)],
        lambda spark, t: _wordcount.wordcount_from_state(spark, t[0]),
    ),
    "cms_from_state": (
        "documents",
        lambda b: _wordcount.wordcount_partials(b),
        [("cnt", None)],
        lambda spark, t: T.cms_from_state(spark, t[0]),
    ),
    "dedup_from_state": (
        "documents",
        lambda b: D.dedup_partials(b),
        [("parts", None)],
        lambda spark, t: D.dedup_from_state(spark, t[0]),
    ),
    "novelty_from_state": (
        "documents",
        lambda b: T.novelty_shingles(b, 3),
        [("idx", None), ("cnt", T.novelty_count_partials)],
        lambda spark, t: T.novelty_from_state(spark, t[0], t[1]),
    ),
    "mix_from_state": (
        "documents_src",
        lambda b: _sampling._doc_mix_features(b, _sampling.MIX_SALT),
        [("docs", None), ("tot", _sampling.mix_total_partials)],
        lambda spark, t: _sampling.mix_from_state(spark, t[0], t[1]),
    ),
    "centroids_from_state": (
        "embeddings",
        lambda b: S.centroid_partials(b),
        [("part", None)],
        lambda spark, t: S.centroids_from_state(spark, t[0]),
    ),
    "rollup_from_state": (
        "events",
        lambda b: W._hourly_rollup(b),
        [("hourly", None)],
        lambda spark, t: W.rollup_from_state(spark, t[0]),
    ),
    "ohlc_from_state": (
        "events",
        lambda b: A._ohlc_partials(b),
        [("part", None)],
        lambda spark, t: W.ohlc_from_state(spark, t[0]),
    ),
    "drift_from_state": (
        "events",
        lambda b: A._drift_partials(b),
        [("part", None)],
        lambda spark, t: W.drift_from_state(spark, t[0]),
    ),
    "scd2_from_state": (
        "events",
        lambda b: b.select("user_id", "event_id", "ts", "event_type"),
        [("ev", None)],
        lambda spark, t: W.scd2_from_state(spark, t[0]),
    ),
    "sessions_from_state": (
        "events",
        lambda b: W.session_fragments(b),
        [("frag", None)],
        lambda spark, t: W.sessions_from_state(spark, t[0]),
    ),
    "funnel_from_state": (
        "events",
        lambda b: W.funnel_fragments(b),
        [("frag", None)],
        lambda spark, t: W.funnel_from_state(spark, t[0]),
    ),
    "hll_from_state": (
        "events",
        lambda b: b.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        ),
        [("sk", None)],
        lambda spark, t: W.hll_distinct_from_state(spark, t[0]),
    ),
    "topn_from_state": (
        "events",
        lambda b: W.topn_partials(b),
        [("part", None)],
        lambda spark, t: W.topn_from_state(spark, t[0]),
    ),
    "quantiles_from_state": (
        "events",
        lambda b: W.quantile_partials(b),
        [("hist", None)],
        lambda spark, t: W.quantiles_from_state(spark, t[0]),
    ),
    "cep_from_state": (
        "events",
        lambda b: b.select("user_id", "event_id", "ts", "event_type"),
        [("ev", None)],
        lambda spark, t: CEP.cep_from_state(spark, t[0]),
    ),
    # round-13 raw-log twins (same non-compactable state shape)
    "absence_from_state": (
        "events",
        lambda b: b.select("user_id", "event_id", "ts", "event_type"),
        [("ev", None)],
        lambda spark, t: CEP.cep_absence_from_state(spark, t[0]),
    ),
    "multistage_from_state": (
        "events",
        lambda b: b.select("user_id", "event_id", "ts", "event_type", "value"),
        [("ev", None)],
        lambda spark, t: CEP.cep_multistage_from_state(spark, t[0]),
    ),
}

#: Compacted-state variants (round 12): the session/funnel ingest
#: loops periodically sweep-merge their fragment log (see
#: streaming.runtime.ingest_stream_to_tables compaction), so a
#: long-running stream's fold reads O(live sessions) fragments — the
#: steady state these entries land through the REAL land_floor_partition
#: path: one compacted partition (all but the last pseudo-batch, laid
#: out ``batch_id=N/floor=N``) plus the last batch's raw fragments
#: (``floor=0``); the reader takes the floor from the partition listing
#: and prunes the superseded partitions. Compare against the raw
#: sessions/funnel_from_state rows above to see what compaction buys.
COMPACTED_FOLD_OPS = {
    # round-13: the mergeable-partial representative (exact sum-of-sums
    # compaction, extended from the session/funnel floor discipline)
    "wordcount_from_state_compacted": (
        "documents",
        lambda b: _wordcount.wordcount_partials(b),
        lambda f: _wordcount.compact_wordcount_partials(f),
        lambda spark, t: _wordcount.wordcount_from_state(spark, t[0]),
    ),
    "sessions_from_state_compacted": (
        "events",
        lambda b: W.session_fragments(b),
        lambda f: W.compact_session_fragments(f),
        lambda spark, t: W.sessions_from_state(spark, t[0]),
    ),
    "funnel_from_state_compacted": (
        "events",
        lambda b: W.funnel_fragments(b),
        lambda f: W.compact_funnel_fragments(f),
        lambda spark, t: W.funnel_from_state(spark, t[0]),
    ),
}

#: TIERED-compaction variants (round 14): corpus-sized state (the
#: dedup partials log) where the floor mode's full-state rewrite is
#: O(corpus) amplification. The lander replays every pseudo-batch
#: through the REAL land_tiered_partition path (merges included), so
#: the fold reads exactly the tiered steady state production
#: accumulates: one merged partition per compact_every window
#: (``batch_id=N/covered_to=N``) plus the raw tail (``covered_to=0``),
#: every boundary read from the partition listing. Compare against the
#: raw dedup_from_state row.
#: name -> (input kind, prepare, compact, fold, compact_every)
TIERED_FOLD_OPS = {
    "dedup_from_state_tiered": (
        "documents",
        lambda b: D.dedup_partials(b),
        lambda f: D.compact_dedup_partials(f).coalesce(4),  # production layout
        lambda spark, t: D.dedup_from_state(spark, t[0]),
        8,
    ),
    # raw-log twins with IDENTITY merge (round-14 retention answer to
    # the 512-batch curve): pure segment consolidation, rows unchanged
    "cep_from_state_tiered": (
        "events",
        lambda b: b.select("user_id", "event_id", "ts", "event_type"),
        lambda f: f.coalesce(1),  # the production segment consolidation
        lambda spark, t: CEP.cep_from_state(spark, t[0]),
        8,
    ),
    "multistage_from_state_tiered": (
        "events",
        lambda b: b.select(
            "user_id", "event_id", "ts", "event_type", "value"
        ),
        lambda f: f.coalesce(1),
        lambda spark, t: CEP.cep_multistage_from_state(spark, t[0]),
        8,
    ),
}

#: Pseudo-micro-batch count for landed fold state (production twins
#: run 2-file streams in tests; real ingest accumulates many batches).
FOLD_BATCHES = int(os.environ.get("SPARK_GRAFT_PROBE_BATCHES", "8"))

_FOLD_KEY = {"documents": "doc_id", "documents_src": "doc_id",
             "embeddings": "vec_id", "events": "event_id"}


def _land_fold_state(spark, df, name, kind, prepare, outputs):
    """Land one twin's state tables batch-side and return their names."""
    import uuid

    from flink_snappydata_spark.streaming.runtime import land_batch_partition

    tag = uuid.uuid4().hex[:8]
    tables = [f"probe_fold_{suffix}_{tag}" for suffix, _ in outputs]
    key = _FOLD_KEY[kind]
    for b in range(FOLD_BATCHES):
        part = df.filter(F.pmod(F.hash(F.col(key)), F.lit(FOLD_BATCHES)) == b)
        base = prepare(part)
        if len(outputs) > 1:
            base = base.localCheckpoint()  # fan-out: materialize once
        for table, (_, build) in zip(tables, outputs):
            land_batch_partition(build(base) if build else base, table, b)
    for table in tables:
        spark.catalog.refreshTable(table)
    return tables


def _land_replayed_state(spark, df, kind, prepare, compact, every, land):
    """Replay every pseudo-batch through a REAL compacting lander
    (``land_tiered_partition`` or ``land_floor_partition``), so merges
    fire at the given cadence, land in the same two-column partition
    layout, and the fold reads exactly the state a long-running loop
    accumulates."""
    import uuid

    table = f"probe_cfold_{uuid.uuid4().hex[:8]}"
    key = _FOLD_KEY[kind]
    part = F.pmod(F.hash(F.col(key)), F.lit(FOLD_BATCHES))
    for b in range(FOLD_BATCHES):
        land(prepare(df.filter(part == b)), table, b, compact, every)
    spark.catalog.refreshTable(table)
    return [table]


def _probe_folds(spark, factor, median_time, wanted):
    names = wanted.split(",") if wanted else None
    if names:
        unknown = [
            n
            for n in names
            if n not in FOLD_OPS
            and n not in COMPACTED_FOLD_OPS
            and n not in TIERED_FOLD_OPS
        ]
        if unknown:  # a typo must fail loudly, not print zero PROBE rows
            raise KeyError(f"unknown fold ops: {unknown}")
    ops = (
        {n: FOLD_OPS[n] for n in names if n in FOLD_OPS}
        if names
        else dict(FOLD_OPS)
    )
    compacted_ops = (
        {n: COMPACTED_FOLD_OPS[n] for n in names if n in COMPACTED_FOLD_OPS}
        if names
        else dict(COMPACTED_FOLD_OPS)
    )
    tiered_ops = (
        {n: TIERED_FOLD_OPS[n] for n in names if n in TIERED_FOLD_OPS}
        if names
        else dict(TIERED_FOLD_OPS)
    )
    docs1 = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    emb1 = load_table(spark, SF_DIR, "embeddings")
    ev1 = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    inputs = {
        "documents": (docs1.drop("source"),
                      replicated_documents(docs1, factor)),
        # replicated docs lose the source column; re-derive a 20-way
        # deterministic split on both sides so mix state is comparable
        "documents_src": tuple(
            d.withColumn(
                "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
            )
            for d in (docs1.drop("source"), replicated_documents(docs1, factor))
        ),
        "embeddings": (emb1, replicated_embeddings(emb1, factor)),
        "events": (ev1, replicated_events(ev1, factor)),
    }
    print(
        f"ROWS base docs={docs1.count()} emb={emb1.count()} "
        f"events={ev1.count()} factor={factor} batches={FOLD_BATCHES}"
    )
    for name, (kind, prepare, outputs, fold) in ops.items():
        times = []
        for df in inputs[kind]:
            tables = _land_fold_state(spark, df, name, kind, prepare, outputs)
            try:
                times.append(median_time(lambda: fold(spark, tables)))
            finally:
                for t in tables:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
        base, scaled = times
        print(f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |")
    for name, (kind, prepare, compact, fold, every) in tiered_ops.items():
        times = []
        for df in inputs[kind]:
            tables = _land_replayed_state(
                spark, df, kind, prepare, compact, every, land_tiered_partition
            )
            try:
                times.append(median_time(lambda: fold(spark, tables)))
            finally:
                for t in tables:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
        base, scaled = times
        print(f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |")
    for name, (kind, prepare, compact, fold) in compacted_ops.items():
        times = []
        for df in inputs[kind]:
            # the floor compaction fires on the second-to-last batch
            tables = _land_replayed_state(
                spark, df, kind, prepare, compact,
                max(FOLD_BATCHES - 2, 1), land_floor_partition,
            )
            try:
                times.append(median_time(lambda: fold(spark, tables)))
            finally:
                for t in tables:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
        base, scaled = times
        print(f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |")


def main() -> None:
    factor = int(os.environ.get("SPARK_GRAFT_PROBE_FACTOR", "10"))
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "3"))
    mode = os.environ.get("SPARK_GRAFT_PROBE_MODE", "replicate")
    wanted = os.environ.get("SPARK_GRAFT_PROBE_OPS")
    spark = get_spark(app_name="fss-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def median_time(thunk):
        runs = []
        for _ in range(reps):
            release_caches()
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return sorted(runs)[len(runs) // 2]

    if mode == "folds":
        _probe_folds(spark, factor, median_time, wanted)
        return

    if mode == "synthdocs":
        ops = (
            {n: DEDUP_OPS[n] for n in wanted.split(",")}
            if wanted
            else dict(DEDUP_OPS)
        )
        n_base = load_table(spark, SF_DIR, "documents").count()
        docs1 = synthetic_documents(spark, n_base).localCheckpoint()
        docs_n = synthetic_documents(spark, n_base * factor).localCheckpoint()
        print(f"ROWS synth docs base={docs1.count()} scaled={docs_n.count()}")
        for name, fn in ops.items():
            base = median_time(lambda: fn(docs1))
            scaled = median_time(lambda: fn(docs_n))
            print(
                f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |"
            )
        return

    names = (
        wanted.split(",")
        if wanted
        else list(OPS) + list(EVENT_OPS) + list(TPCH_OPS)
    )
    ops = {n: OPS[n] for n in names if n in OPS}
    event_ops = {n: EVENT_OPS[n] for n in names if n in EVENT_OPS}
    tpch_ops = {n: TPCH_OPS[n] for n in names if n in TPCH_OPS}
    docs1 = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb1 = load_table(spark, SF_DIR, "embeddings")
    docs_n = replicated_documents(docs1, factor)
    emb_n = replicated_embeddings(emb1, factor)
    print(f"ROWS base docs={docs1.count()} emb={emb1.count()} factor={factor}")

    for name, fn in ops.items():
        base = median_time(lambda: fn(docs1, emb1))
        scaled = median_time(lambda: fn(docs_n, emb_n))
        print(f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |")

    if event_ops:
        ev1 = load_table(spark, SF_DIR, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev_n = replicated_events(ev1, factor)
        print(f"ROWS base events={ev1.count()} factor={factor}")
        for name, fn in event_ops.items():
            base = median_time(lambda: fn(ev1))
            scaled = median_time(lambda: fn(ev_n))
            print(
                f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |"
            )

    if tpch_ops:
        t1 = {
            t: load_table(spark, SF_DIR, t)
            for t in ("customer", "supplier", "lineitem", "part")
        }
        tn = {t: replicated_plain(df, factor) for t, df in t1.items()}
        print(f"ROWS base lineitem={t1['lineitem'].count()} factor={factor}")
        for name, fn in tpch_ops.items():
            base = median_time(lambda: fn(t1))
            scaled = median_time(lambda: fn(tn))
            print(
                f"PROBE | {name} | {base:.3f} | {scaled:.3f} | {scaled / base:.2f} |"
            )


if __name__ == "__main__":
    main()
