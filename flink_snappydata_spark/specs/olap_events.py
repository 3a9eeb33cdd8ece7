"""OLAP / event analytics battery: indexes, sketches, funnels, sessions, snapshots, bars.

Mechanically split from the original single-file registry; declaration
order is preserved by the import order in :mod:`flink_snappydata_spark.specs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.operators import analytic
from flink_snappydata_spark.operators import grouped
from flink_snappydata_spark.operators import relational
from flink_snappydata_spark.operators import wordcount
from flink_snappydata_spark.pipeline import curation
from flink_snappydata_spark.pipeline import dedup
from flink_snappydata_spark.pipeline import graph as graphops
from flink_snappydata_spark.pipeline import packing
from flink_snappydata_spark.pipeline import sampling
from flink_snappydata_spark.pipeline import similarity
from flink_snappydata_spark.pipeline import text as textops
from flink_snappydata_spark.streaming import windows as stream_windows

from flink_snappydata_spark.specs.base import (
    QUERIES,
    QuerySpec,
    _cents,
    _register,
)
from flink_snappydata_spark.specs.llm_pipeline import _QCOMP_SQL
from flink_snappydata_spark.specs.llm_pipeline import _stream_state_scored

_register(
    "inverted_index",
    ["documents"],
    lambda documents: textops.inverted_index(documents, sort=False),
    r"""
    WITH w AS (
        SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '\W+'), x -> x <> ''))
               AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word)
    SELECT word, CAST(doc_id % 32 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS tf_sum,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY word, doc_id % 32
    ORDER BY word, shard
    """,
    doc="Sharded inverted index: per-(word, doc-shard) df/tf stats + "
        "doc:tf posting lists — record size and reducer skew bounded "
        "by the shard occupancy (hot head words split across 32 "
        "tasks); text never shuffles.",
)

_register(
    "cms_heavy_hitters",
    ["documents"],
    textops.cms_heavy_hitters,
    r"""
    WITH w AS (
        SELECT unnest(list_filter(
                   string_split_regex(lower(text), '\W+'), x -> x <> ''))
               AS word
        FROM documents),
    counts AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    rc AS (SELECT word, cnt, r,
                  ('0x' || substr(md5(r || '#' || word), 1, 8))::BIGINT % 256
                      AS cell
           FROM counts, generate_series(0, 3) s(r)),
    cells AS (SELECT r, cell, SUM(cnt) AS csum FROM rc GROUP BY r, cell),
    est AS (SELECT rc.word, MIN(c.csum) AS est_cnt, MIN(rc.cnt) AS exact_cnt
            FROM rc JOIN cells c ON c.r = rc.r AND c.cell = rc.cell
            GROUP BY rc.word),
    tot AS (SELECT SUM(cnt) AS t FROM counts)
    SELECT word, CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
    FROM est, tot WHERE est_cnt * 200 >= t ORDER BY word
    """,
    doc="Count-min-sketch heavy hitters with in-query exact judge: "
        "4×256 md5-derived sketch, min-over-rows estimate, support "
        "total/200 — bounded-memory frequent items; only the initial "
        "count aggregation touches the corpus.",
    judge_bearing=True,
)


# pagerank oracle: the synthesized edge ring + 3 unrolled damped power
# iterations, all integer (DIV truncation) — node count closes the hash
# ring, so the CTE reads it once.
_register(
    "pagerank",
    ["documents"],
    lambda documents: graphops.pagerank(documents, sort=False),
    f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    nodes AS (SELECT doc_id FROM documents),
    edges AS (
        SELECT doc_id AS src,
               ({packing.portable_hash_sql('(doc_id * 3 + i + 1)')})
                   % (SELECT n FROM nn) AS dst
        FROM nodes, generate_series(0, 2) s(i)),
    r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
    c1 AS (SELECT e.dst AS doc_id, SUM(r.rank // 3) AS s
           FROM edges e JOIN r0 r ON r.doc_id = e.src GROUP BY e.dst),
    r1 AS (SELECT nd.doc_id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT)
                      AS rank
           FROM nodes nd LEFT JOIN c1 c USING (doc_id)),
    c2 AS (SELECT e.dst AS doc_id, SUM(r.rank // 3) AS s
           FROM edges e JOIN r1 r ON r.doc_id = e.src GROUP BY e.dst),
    r2 AS (SELECT nd.doc_id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT)
                      AS rank
           FROM nodes nd LEFT JOIN c2 c USING (doc_id)),
    c3 AS (SELECT e.dst AS doc_id, SUM(r.rank // 3) AS s
           FROM edges e JOIN r2 r ON r.doc_id = e.src GROUP BY e.dst),
    r3 AS (SELECT nd.doc_id,
                  CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT)
                      AS rank
           FROM nodes nd LEFT JOIN c3 c USING (doc_id))
    SELECT doc_id, rank FROM r3 ORDER BY doc_id
    """,
    doc="Integer-exact PageRank (3 damped power iterations, scaled "
        "int64, DIV truncation) over the synthesized per-doc link "
        "graph — one src join + one dst aggregation per iteration, "
        "id/int64-only shuffles.",
)


_register(
    "retention_cohorts",
    ["events"],
    analytic.retention_cohorts,
    """
    WITH f AS (
        SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
        FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
               AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.day)
    ORDER BY cohort_day, day_offset
    """,
    doc="Cohort retention matrix: users bucketed by first-activity day, "
        "counted per later active day — user-keyed aggs + one join, all "
        "sharing the user_id partitioning; O(days²) output.",
)

_register(
    "ordered_funnel",
    ["events"],
    analytic.ordered_funnel,
    """
    WITH typed AS (
        SELECT user_id, event_type, ts FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
    t1 AS (SELECT user_id, MIN(ts) AS t_view FROM typed
           WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (SELECT t.user_id, MIN(t.ts) AS t_click
           FROM typed t JOIN t1 ON t1.user_id = t.user_id
           WHERE t.event_type = 'click' AND t.ts > t1.t_view
           GROUP BY t.user_id),
    t3 AS (SELECT t.user_id, MIN(t.ts) AS t_purchase
           FROM typed t JOIN t2 ON t2.user_id = t.user_id
           WHERE t.event_type = 'purchase' AND t.ts > t2.t_click
           GROUP BY t.user_id)
    SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_purchase,
           CAST(CASE WHEN t3.t_purchase IS NOT NULL THEN 3
                     WHEN t2.t_click IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS reached_stage
    FROM t1
    LEFT JOIN t2 ON t2.user_id = t1.user_id
    LEFT JOIN t3 ON t3.user_id = t1.user_id
    ORDER BY t1.user_id
    """,
    doc="Strict ordered funnel view→click→purchase: each stage's "
        "timestamp is the earliest event strictly after the previous "
        "stage — three conditional min-aggs on one reused user_id "
        "partitioning.",
)

_register(
    "events_mad_outliers",
    ["events"],
    analytic.mad_outliers,
    f"""
    WITH med AS (
        SELECT event_type,
               quantile_cont({_cents('value')}, 0.5) AS med_c
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, m.med_c,
               ABS({_cents('value')} - m.med_c) AS dev
        FROM events e JOIN med m USING (event_type)),
    mad AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad_c,
               MIN(med_c) AS med_c
        FROM dev GROUP BY event_type)
    SELECT d.event_type,
           MIN(m.med_c) / 100.0 AS median_value,
           MIN(m.mad_c) / 100.0 AS mad_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN d.dev > 3.0 * m.mad_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           MAX(d.dev) / 100.0 AS max_abs_dev
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    doc="Robust per-type outlier summary: median/MAD over exact cents "
        "(interpolated percentiles, deterministic doubles), |dev| > "
        "3·MAD counts — two grouped percentile passes + broadcast "
        "stats joins.",
)

_register(
    "seasonal_anomaly",
    ["events"],
    analytic.seasonal_anomaly,
    """
    WITH cells AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hour,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3),
    base AS (
        SELECT event_type, day % 7 AS dow, hour,
               CAST(COUNT(*) AS BIGINT) AS n_base,
               CAST(SUM(cnt) AS BIGINT) AS sum_base,
               CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq_base
        FROM cells GROUP BY 1, 2, 3)
    SELECT c.event_type, c.day, c.hour, c.cnt,
           b.n_base, b.sum_base, b.sumsq_base,
           (b.n_base * c.cnt - b.sum_base)
           * (b.n_base * c.cnt - b.sum_base)
           > 4 * (b.n_base * b.sumsq_base - b.sum_base * b.sum_base)
               AS is_anomaly
    FROM cells c
    JOIN base b ON b.event_type = c.event_type
               AND b.dow = c.day % 7 AND b.hour = c.hour
    ORDER BY c.event_type, c.day, c.hour
    """,
    doc="Seasonal-baseline anomaly scoring: every (type, day, hour) "
        "cell vs its own (type, weekday, hour) slot baseline — exact "
        "int64 z-test (n·x−S)² > z²(n·Q−S²) at z=2, epoch arithmetic "
        "only, baseline broadcast over the tiny cell frame.",
)


_register(
    "source_centroids",
    ["documents", "embeddings"],
    similarity.source_centroids,
    """
    WITH comp AS (
        SELECT e.vec_id, d.source, CAST(i - 1 AS BIGINT) AS pos,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings e
        JOIN documents d ON d.doc_id = e.vec_id,
        generate_series(1, 64) s(i))
    SELECT source, pos,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM comp GROUP BY source, pos ORDER BY source, pos
    """,
    doc="Per-source embedding centroids (source-drift monitor): "
        "id-keyed metadata join + (source, pos)-keyed int64 partial "
        "sums — vectors never shuffle; O(sources × DIM) output.",
)

_register(
    "embedding_dim_stats",
    ["embeddings"],
    similarity.embedding_dim_stats,
    """
    WITH comp AS (
        SELECT CAST(i - 1 AS BIGINT) AS pos,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i))
    SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS sum_q,
           MIN(q) AS min_q, MAX(q) AS max_q,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean,
           CAST(SUM(q * q) AS DOUBLE) / COUNT(*) / 1000000000000.0
               - (CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0)
                 * (CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0)
               AS variance
    FROM comp GROUP BY pos ORDER BY pos
    """,
    doc="Per-dimension embedding stats (whitening/scaling prep): exact "
        "int64 sums/extrema + deterministic double mean/variance — one "
        "explode + one pos-keyed map-side-combined aggregation.",
)


_register(
    "bloom_membership",
    ["customer", "orders"],
    sampling.bloom_membership,
    """
    WITH keys AS (
        SELECT DISTINCT o_custkey AS key FROM orders
        WHERE o_totalprice > 450000.0),
    bitset AS (
        SELECT DISTINCT r,
               ('0x' || substr(md5(r || '#' || key), 1, 8))::BIGINT % 16384
                   AS bit
        FROM keys, generate_series(0, 3) s(r)),
    probes AS (SELECT c_custkey AS key FROM customer),
    pb AS (SELECT key, r,
                  ('0x' || substr(md5(r || '#' || key), 1, 8))::BIGINT % 16384
                      AS bit
           FROM probes, generate_series(0, 3) s(r)),
    pos AS (SELECT pb.key FROM pb
            JOIN bitset b ON b.r = pb.r AND b.bit = pb.bit
            GROUP BY pb.key HAVING COUNT(*) = 4),
    judged AS (
        SELECT p.key,
               (pos.key IS NOT NULL) AS pos,
               (k.key IS NOT NULL) AS truth
        FROM probes p
        LEFT JOIN pos ON pos.key = p.key
        LEFT JOIN keys k ON k.key = p.key)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_positive,
           CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_members,
           CAST(SUM(CASE WHEN pos AND NOT truth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN NOT pos AND truth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed,
           CAST(SUM(CASE WHEN pos AND NOT truth THEN 1 ELSE 0 END)
                AS DOUBLE)
               / SUM(CASE WHEN NOT truth THEN 1 ELSE 0 END) AS fp_rate
    FROM judged
    """,
    doc="Bloom-filter membership with in-query exact judge: 16384-bit/"
        "4-hash md5-derived filter over high-value order customers, "
        "every customer probed via a broadcast bitset join — false "
        "positives counted against semi-join truth, n_missed "
        "structurally 0 (completes the sketch family: HLL, CMS, Bloom).",
    judge_bearing=True,
)


def _rollup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``rollup_multires`` — the fourth
    domain for the loop (documents, mixing, embeddings, now EVENTS,
    the reference's original subject): the events fixture arrives as a
    2-file stream (maxFilesPerTrigger=1 → 2 micro-batches); each batch
    lands its hourly rollup partials via foreachBatch
    (``ParquetTableJoin.scala:32-43`` loop), and the returned frame
    folds the accumulated state into the hour/day/week frame —
    row-identical to the batch op (exact cent sums are
    batching-insensitive), so the batch oracle applies verbatim.
    State is torn down after scoring via :func:`_stream_state_scored`."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    return _stream_state_scored(
        spark,
        events,
        "roll",
        ["hourly"],
        stream_windows.streaming_rollup_ingest,
        stream_windows.rollup_from_state,
    )


QUERIES["rollup_streamed"] = QuerySpec(
    fn=_rollup_streamed,
    oracle=QUERIES["rollup_multires"].oracle,
    doc="Streaming-ingest multi-resolution rollup: micro-batched "
        "hourly partials into a queryable catalog table, folded to "
        "hour/day/week from state (stream→table loop on the events "
        "side — the reference's own domain).",
)


_register(
    "latest_snapshot",
    ["events"],
    analytic.latest_snapshot,
    """
    SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
    WHERE rn = 1 ORDER BY user_id
    """,
    doc="Upsert/CDC compaction: latest event per user via map-side "
        "max_by argmax (no per-user sort window — hot entities stay "
        "bounded).",
)

_register(
    "timeline_gapfill",
    ["events"],
    analytic.timeline_gapfill,
    f"""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi FROM events),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
            AS bucket_start
        FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS bucket_start, event_type,
               COUNT(*) AS n, SUM({_cents('value')}) AS sc
        FROM events GROUP BY date_trunc('hour', ts), event_type)
    SELECT g.bucket_start, t.event_type,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(h.sc, 0) AS DOUBLE) / 100.0 AS sum_value,
           (h.n IS NULL) AS is_gap
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN hourly h ON h.bucket_start = g.bucket_start
                      AND h.event_type = t.event_type
    ORDER BY g.bucket_start, t.event_type
    """,
    doc="Dense hourly timeline with zero-filled gaps: one rollup scan "
        "+ a broadcast (hours × types) grid outer-joined against it — "
        "gaps synthesized, never scanned.",
)

_register(
    "percentile_bands",
    ["events"],
    analytic.percentile_bands,
    f"""
    SELECT date_trunc('day', ts) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           quantile_cont({_cents('value')}, 0.5) / 100.0 AS p50,
           quantile_cont({_cents('value')}, 0.95) / 100.0 AS p95,
           quantile_cont({_cents('value')}, 0.99) / 100.0 AS p99
    FROM events GROUP BY date_trunc('day', ts), event_type
    ORDER BY day, event_type
    """,
    doc="Latency-dashboard percentile bands per (day, type): exact "
        "interpolated percentiles over integer cents, one grouped "
        "aggregation (approx_percentile is the sketch-bounded twin).",
)

_register(
    "vocab_growth",
    ["documents"],
    textops.vocab_growth,
    r"""
    WITH nn AS (SELECT CAST((COUNT(*) + 7) // 8 AS BIGINT) AS width
                FROM documents),
    w AS (
        SELECT doc_id // (SELECT width FROM nn) AS bucket,
               unnest(list_filter(
                   string_split_regex(lower(text), '\W+'), x -> x <> ''))
               AS word
        FROM documents),
    first AS (SELECT word, MIN(bucket) AS first_bucket FROM w
              GROUP BY word),
    hist AS (SELECT first_bucket, COUNT(*) AS new_words FROM first
             GROUP BY first_bucket)
    SELECT first_bucket AS bucket, CAST(new_words AS BIGINT) AS new_words,
           CAST(SUM(new_words) OVER (ORDER BY first_bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS vocab_size
    FROM hist ORDER BY bucket
    """,
    doc="Heaps-law vocabulary growth curve in ONE pass: a word's "
        "first-occurrence prefix bucket via min-aggregation (no "
        "n_buckets prefix scans), cumulative curve over the bounded "
        "histogram; text never shuffles.",
)

_register(
    "email_domain_stats",
    ["documents"],
    # fixture entry opts into the deterministic 7-domain enrichment;
    # the library default is synthesize=False (real audits stay clean)
    lambda documents: textops.email_domain_stats(documents, synthesize=True),
    rf"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                    || '.example.com' AS text
        FROM documents),
    m AS (SELECT doc_id,
                 unnest(regexp_extract_all(lower(text),
                                           '{textops.EMAIL_RE}'))
                     AS email
          FROM enriched),
    d AS (SELECT doc_id, split_part(email, '@', 2) AS domain FROM m),
    pd AS (SELECT domain, doc_id, CAST(COUNT(*) AS BIGINT) AS c
           FROM d GROUP BY 1, 2)
    SELECT domain,
           CAST(SUM(c) AS BIGINT) AS n_mentions,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pd GROUP BY domain ORDER BY domain
    """,
    doc="Per-domain email-mention rollup (entity-extraction audit): "
        "RE2/Java-parity pattern over lowercased text, deterministic "
        "7-domain enrichment (the PII-oracle device), only (doc_id, "
        "domain) rows shuffle, exact distinct docs via the two-stage "
        "fold.",
)

_register(
    "source_token_entropy",
    ["documents"],
    textops.source_token_entropy,
    r"""
    WITH w AS (SELECT source,
                      unnest(list_filter(
                          string_split_regex(lower(text), '\W+'),
                          x -> x <> '')) AS word
               FROM documents),
    h AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
          FROM w GROUP BY 1, 2),
    t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM h GROUP BY 1),
    p AS (SELECT h.source,
                 CAST(SUM(c * (length(bin(n)) - length(bin(c))))
                      AS BIGINT) AS bits_sum
          FROM h JOIN t USING (source) GROUP BY 1)
    SELECT source, n AS n_tokens, n_distinct, bits_sum,
           CAST(bits_sum AS DOUBLE) / CAST(n AS DOUBLE)
               AS entropy_bits
    FROM p JOIN t USING (source) ORDER BY source
    """,
    doc="Quantized per-source Shannon entropy in exact integer bits "
        "(bin()-length arithmetic, no float logs): the within-source "
        "concentration diagnostic; one corpus-sized histogram shuffle, "
        "totals broadcast, one double division per source.",
)

_register(
    "source_tv_distance",
    ["documents"],
    textops.source_tv_distance,
    r"""
    WITH w AS (SELECT source,
                      unnest(list_filter(
                          string_split_regex(lower(text), '\W+'),
                          x -> x <> '')) AS word
               FROM documents),
    h AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
          FROM w GROUP BY 1, 2),
    t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
          FROM h GROUP BY 1),
    p AS (SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common,
                 SUM(abs(CAST(a.c AS HUGEINT) * tb.n
                         - CAST(b.c AS HUGEINT) * ta.n)) AS iabs,
                 CAST(SUM(a.c) AS BIGINT) AS sa,
                 CAST(SUM(b.c) AS BIGINT) AS sb,
                 MIN(ta.n) AS na, MIN(tb.n) AS nb
          FROM h a
          JOIN h b ON a.word = b.word AND a.source < b.source
          JOIN t ta ON ta.source = a.source
          JOIN t tb ON tb.source = b.source
          GROUP BY 1, 2)
    SELECT source_a, source_b, n_common,
           CAST(iabs + CAST(na - sa AS HUGEINT) * nb
                     + CAST(nb - sb AS HUGEINT) * na AS DOUBLE)
           / CAST(CAST(2 AS HUGEINT) * na * nb AS DOUBLE) AS tv
    FROM p ORDER BY source_a, source_b
    """,
    doc="Exact pairwise total-variation distance between per-source "
        "unigram distributions — rational |c_a*N_b - c_b*N_a| "
        "numerators in DECIMAL(38,0)/HUGEINT, missing-word mass folded "
        "in algebraically so only the intersection join runs; one "
        "double division per pair at the end.",
)

_register(
    "ngram_diversity",
    ["documents"],
    textops.ngram_diversity,
    r"""
    WITH ws AS (SELECT source,
                       list_filter(string_split_regex(lower(text),
                                                      '\W+'),
                                   x -> x <> '') AS w
                FROM documents),
    g AS (SELECT source,
                 unnest(list_transform(
                     range(1, len(w) - 1),
                     i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1]
                                              || ' ' || w[i+2]),
                           1, 15))::BIGINT)) AS h
          FROM ws WHERE len(w) >= 3),
    pg AS (SELECT source, h, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_ngrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
               AS diversity
    FROM pg GROUP BY source ORDER BY source
    """,
    doc="Per-source exact trigram diversity (distinct/total) — the "
        "corpus-level self-repetition gate; n-grams digest to the "
        "portable md5-prefix int64 in the row expression so text "
        "never shuffles, distinct via the two-stage map-side-combined "
        "fold (no count-distinct expand).",
)

_register(
    "knn_accuracy",
    ["embeddings"],
    similarity.knn_accuracy,
    f"""
    WITH {_QCOMP_SQL},
    labels AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
    dots AS (
        SELECT q.vec_id AS eval_id, t.vec_id AS vec_id, SUM(q.q * t.q) AS dot
        FROM comp q JOIN comp t ON q.i = t.i AND q.vec_id <> t.vec_id
        WHERE q.vec_id < 64
        GROUP BY q.vec_id, t.vec_id),
    scored AS (
        SELECT d.eval_id, lq.label AS true_label, d.vec_id, lt.label,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(nq.n2 AS DOUBLE)/1e12)
                          * (CAST(nt.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots d
        JOIN labels lq ON lq.vec_id = d.eval_id
        JOIN labels lt ON lt.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.eval_id
        JOIN norms nt ON nt.vec_id = d.vec_id),
    nb AS (
        SELECT eval_id, true_label, label FROM (
            SELECT eval_id, true_label, label,
                   ROW_NUMBER() OVER (PARTITION BY eval_id
                       ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored) t
        WHERE rn <= 5),
    votes AS (
        SELECT eval_id, true_label, label, COUNT(*) AS nv
        FROM nb GROUP BY eval_id, true_label, label),
    pred AS (
        SELECT eval_id, true_label, label AS pred_label FROM (
            SELECT eval_id, true_label, label,
                   ROW_NUMBER() OVER (PARTITION BY eval_id
                       ORDER BY nv DESC, label ASC) AS rn
            FROM votes) t
        WHERE rn = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(5 AS BIGINT) AS k,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS accuracy
    FROM pred
    """,
    doc="k-NN label-prediction accuracy (embedding-quality probe): "
        "bounded broadcast eval set, one corpus scan, util.top_k "
        "per eval vector, deterministic majority vote — linear in the "
        "corpus, judged against true labels in-query.",
    judge_bearing=True,
)

_register(
    "mmr_select",
    ["embeddings"],
    similarity.mmr_select,
    f"""
    WITH {_QCOMP_SQL},
    d0 AS (
        SELECT t.vec_id, SUM(q.q * t.q) AS dot
        FROM comp q JOIN comp t ON q.i = t.i AND t.vec_id <> 0
        WHERE q.vec_id = 0 GROUP BY t.vec_id),
    rel AS (
        SELECT d.vec_id,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(n0.n2 AS DOUBLE)/1e12)
                          * (CAST(nt.n2 AS DOUBLE)/1e12)) AS rel
        FROM d0 d
        JOIN norms n0 ON n0.vec_id = 0
        JOIN norms nt ON nt.vec_id = d.vec_id),
    cand AS (
        SELECT vec_id, rel FROM (
            SELECT vec_id, rel,
                   ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
            FROM rel) t
        WHERE rn <= 8),
    pd AS (
        SELECT a.vec_id AS va, b.vec_id AS vb, SUM(ca.q * cb.q) AS dot
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        JOIN comp ca ON ca.vec_id = a.vec_id
        JOIN comp cb ON cb.vec_id = b.vec_id AND cb.i = ca.i
        GROUP BY a.vec_id, b.vec_id),
    sims AS (
        SELECT va, vb,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(na.n2 AS DOUBLE)/1e12)
                          * (CAST(nb.n2 AS DOUBLE)/1e12)) AS sim
        FROM pd
        JOIN norms na ON na.vec_id = va
        JOIN norms nb ON nb.vec_id = vb),
    p1 AS (
        SELECT vec_id, rel, rel AS mmr_score FROM (
            SELECT vec_id, rel,
                   ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
            FROM cand) t
        WHERE rn = 1),
    sc2 AS (
        SELECT c.vec_id, c.rel, 0.5 * c.rel - 0.5 * s.sim AS mmr_score
        FROM cand c
        JOIN sims s ON s.va = c.vec_id
        JOIN p1 ON p1.vec_id = s.vb
        WHERE c.vec_id <> (SELECT vec_id FROM p1)),
    p2 AS (
        SELECT vec_id, rel, mmr_score FROM (
            SELECT vec_id, rel, mmr_score,
                   ROW_NUMBER() OVER (ORDER BY mmr_score DESC, vec_id ASC)
                       AS rn
            FROM sc2) t
        WHERE rn = 1),
    sel2 AS (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2),
    sc3 AS (
        SELECT c.vec_id, c.rel,
               0.5 * c.rel - 0.5 * MAX(s.sim) AS mmr_score
        FROM cand c
        JOIN sims s ON s.va = c.vec_id AND s.vb IN (SELECT vec_id FROM sel2)
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
        GROUP BY c.vec_id, c.rel),
    p3 AS (
        SELECT vec_id, mmr_score FROM (
            SELECT vec_id, mmr_score,
                   ROW_NUMBER() OVER (ORDER BY mmr_score DESC, vec_id ASC)
                       AS rn
            FROM sc3) t
        WHERE rn = 1)
    SELECT CAST(1 AS BIGINT) AS pick_rank, vec_id, mmr_score FROM p1
    UNION ALL
    SELECT CAST(2 AS BIGINT), vec_id, mmr_score FROM p2
    UNION ALL
    SELECT CAST(3 AS BIGINT), vec_id, mmr_score FROM p3
    ORDER BY pick_rank
    """,
    doc="Maximal-marginal-relevance diversity reranking: broadcast-"
        "query candidate scan (linear, top-k pruned), then fixed-size "
        "greedy argmax+union rounds over the bounded candidate frame — "
        "nothing collected, no O(corpus) step after the scan.",
)


def _cms_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``cms_heavy_hitters`` — the
    bounded-memory frequent-items service a streaming ingest actually
    runs: the documents fixture arrives as a 2-file stream; each
    micro-batch appends its per-word count partials (the wordcount
    ingest — identical tokenizer), and the returned frame applies the
    CMS sketch arithmetic to the folded state — row-identical to the
    batch op (exact counts fold batching-insensitively), so the batch
    oracle applies verbatim. State torn down via
    :func:`_stream_state_scored`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _stream_state_scored(
        spark,
        docs,
        "cms",
        ["cnt"],
        wordcount.streaming_wordcount_ingest,
        textops.cms_from_state,
    )


QUERIES["cms_streamed"] = QuerySpec(
    fn=_cms_streamed,
    oracle=QUERIES["cms_heavy_hitters"].oracle,
    doc="Streaming-ingest CMS heavy hitters: micro-batched word-count "
        "partials into a queryable catalog table, sketch applied to "
        "folded state (seventh stream→table loop — the frequent-items "
        "service shape).",
    judge_bearing=True,
)


_register(
    "typo_pairs",
    ["documents"],
    dedup.typo_pairs,
    r"""
    WITH dirty AS (
        SELECT substr(w, 1, 1) || substr(w, 3) AS typo,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM (
            SELECT list_filter(string_split_regex(lower(text), '\W+'),
                               x -> x <> '')[1] AS w
            FROM documents WHERE doc_id % 7 = 0) t
        WHERE length(w) >= 4
        GROUP BY substr(w, 1, 1) || substr(w, 3)),
    vocab AS (
        SELECT DISTINCT unnest(list_filter(
                   string_split_regex(lower(text), '\W+'), x -> x <> ''))
               AS word
        FROM documents),
    v3 AS (SELECT word FROM vocab WHERE length(word) >= 3),
    dk AS (
        SELECT typo, n_docs, unnest(list_append(
                   list_transform(generate_series(1, length(typo)),
                       i -> substr(typo, 1, i - 1) || substr(typo, i + 1)),
                   typo)) AS k
        FROM dirty),
    vk AS (
        SELECT word, unnest(list_append(
                   list_transform(generate_series(1, length(word)),
                       i -> substr(word, 1, i - 1) || substr(word, i + 1)),
                   word)) AS k
        FROM v3)
    SELECT DISTINCT d.typo, v.word, d.n_docs
    FROM dk d JOIN vk v ON v.k = d.k
    WHERE levenshtein(d.typo, v.word) = 1
    ORDER BY typo, word
    """,
    doc="SymSpell edit-distance-1 fuzzy matching: both sides expand to "
        "1-deletion neighborhoods and EQUI-join on the deletion key "
        "(never a quadratic Levenshtein cross-product); exact "
        "levenshtein verifies candidates only; typos synthesized "
        "deterministically on both engines (PII-oracle device).",
)

_register(
    "zorder_key",
    ["events"],
    lambda events: packing.zorder_key(events, sort=False),
    f"""
    SELECT event_id, user_id,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
           CAST({packing.zorder_sql(
               'user_id % 65536',
               'CAST(ROUND(value * 100, 0) AS BIGINT) % 65536',
               div='//',
           )} AS BIGINT) AS zkey
    FROM events ORDER BY event_id
    """,
    doc="Z-order (Morton) layout key over (user_id, value-cents): "
        "pure-integer bit interleave from one shared expression "
        "generator — map-only, zero shuffle; feeds range-partitioned "
        "writes so both dimensions prune files.",
)


_register(
    "event_rate_spikes",
    ["events"],
    analytic.event_rate_spikes,
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY date_trunc('hour', ts), event_type),
    keyed AS (
        SELECT bucket_start, event_type, n_events,
               CAST(epoch(bucket_start) AS BIGINT) AS ep
        FROM hourly)
    SELECT bucket_start, event_type, n_events,
           AVG(n_events) OVER (PARTITION BY event_type ORDER BY ep
               RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)
               AS trailing_mean,
           (AVG(n_events) OVER (PARTITION BY event_type ORDER BY ep
                RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)
                IS NOT NULL
            AND n_events > 3.0 * AVG(n_events) OVER (
                PARTITION BY event_type ORDER BY ep
                RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
               AS is_spike
    FROM keyed ORDER BY bucket_start, event_type
    """,
    doc="Rate-spike alerting: hourly counts vs a trailing-24h RANGE-"
        "frame mean (calendar-gap correct) — the window runs over the "
        "rollup, O(hours × types), never raw events.",
)

_register(
    "equidepth_histogram",
    ["orders"],
    relational.equidepth_histogram,
    f"""
    WITH c AS (SELECT {_cents('o_totalprice')} AS cents FROM orders),
    b AS (SELECT quantile_cont(cents,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS bs
          FROM c)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(cents) / 100.0 AS lo_value,
           MAX(cents) / 100.0 AS hi_value
    FROM (
        SELECT CAST(len(list_filter(b.bs,
                   x -> x < CAST(c.cents AS DOUBLE))) + 1 AS BIGINT)
                   AS bucket,
               c.cents AS cents
        FROM c, b) t
    GROUP BY bucket ORDER BY bucket
    """,
    doc="Equi-depth histogram (optimizer-statistics profile): exact "
        "decile boundaries from ONE percentile aggregation broadcast "
        "back — no ntile window, no global range sort; rows bucket by "
        "comparison, counts aggregate map-side.",
)

_register(
    "readability_scores",
    ["documents"],
    lambda documents: textops.readability_scores(documents, sort=False),
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws,
               list_filter(list_transform(
                   string_split_regex(text, '[.!?]+'), s -> trim(s)),
                   s -> s <> '') AS sents
        FROM documents),
    s AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(GREATEST(len(sents), 1) AS BIGINT) AS n_sentences,
               CAST(list_sum(list_transform(ws, w -> GREATEST(
                   len(list_filter(string_split_regex(w, '[^aeiouy]+'),
                                   x -> x <> '')), 1))) AS BIGINT)
                   AS n_syllables
        FROM t)
    SELECT doc_id, n_words, n_sentences,
           COALESCE(n_syllables, 0) AS n_syllables,
           CASE WHEN n_words > 0
                THEN 206.835
                     - 1.015 * (CAST(n_words AS DOUBLE)
                                / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(COALESCE(n_syllables, 0) AS DOUBLE)
                               / CAST(n_words AS DOUBLE))
                ELSE 0.0 END AS flesch
    FROM s ORDER BY doc_id
    """,
    doc="Flesch-style readability: vowel-group syllable proxy, "
        "sentence runs, deterministic double score — pure per-row JVM "
        "expressions, no explode, no shuffle (gopher_rules shape).",
)


_register(
    "session_paths",
    ["events"],
    stream_windows.session_paths,
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
        FROM seq
    ), paths AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC LIMIT 20
    """,
    doc="Top-k session paths (path mining): per-session ordered "
        "event-type sequence — session-bounded collect, one "
        "sessionization shuffle, TakeOrdered top-k over the "
        "vocabulary-sized path histogram.",
)

_register(
    "snapshot_diff",
    ["documents"],
    curation.snapshot_diff,
    """
    WITH old AS (SELECT doc_id, sha256(text) AS od FROM documents),
    base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 17 <> 0),
    added AS (
        SELECT doc_id + 1000000 AS doc_id, 'addendum: ' || text AS text
        FROM documents WHERE doc_id % 19 = 0),
    newsnap AS (
        SELECT doc_id, sha256(text) AS nd FROM (
            SELECT doc_id, text FROM base
            UNION ALL SELECT doc_id, text FROM added) t),
    j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.od, n.nd
        FROM old o FULL OUTER JOIN newsnap n ON n.doc_id = o.doc_id)
    SELECT doc_id,
           CASE WHEN od IS NULL THEN 'added'
                WHEN nd IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM j WHERE od IS NULL OR nd IS NULL OR od <> nd
    ORDER BY doc_id
    """,
    doc="Table-version diff by content digest (incremental-recrawl "
        "audit): both sides reduce to (id, sha256) BEFORE the id-keyed "
        "full-outer join — text never shuffles; snapshot mutations "
        "synthesized deterministically on both engines.",
)


_register(
    "merge_upsert",
    ["documents"],
    curation.merge_upsert,
    """
    WITH dels AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 0),
    ups AS (
        SELECT doc_id, text || ' [v2]' AS new_text FROM documents
        WHERE doc_id % 11 = 0 AND doc_id % 23 <> 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, 'insert: ' || text AS new_text
        FROM documents WHERE doc_id % 29 = 0),
    surv AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 0),
    merged AS (
        SELECT COALESCE(u.doc_id, s.doc_id) AS doc_id,
               COALESCE(u.new_text, s.text) AS text,
               (u.new_text IS NOT NULL AND s.text IS NOT NULL) AS was_update,
               (u.new_text IS NOT NULL AND s.text IS NULL) AS was_insert
        FROM surv s FULL OUTER JOIN ups u ON u.doc_id = s.doc_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_base,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dels) AS n_deleted,
           CAST(SUM(CASE WHEN was_update THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updated,
           CAST(SUM(CASE WHEN was_insert THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inserted,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(('0x' || substr(md5(doc_id || '#' || text), 1, 8))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM merged
    """,
    doc="MERGE INTO apply (upsert + delete changeset) with a merge "
        "summary and an order-free 32-bit-md5-word content checksum of "
        "the merged table: two id-keyed co-partitioned joins, "
        "matched/unmatched classified in the same pass that emits the "
        "merged rows, single-row map-side-combined summary.",
)

_register(
    "event_transitions",
    ["events"],
    analytic.event_transitions,
    """
    WITH pairs AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events),
    cnt AS (
        SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT)
                   AS n_transitions
        FROM pairs WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type)
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
                      AS DOUBLE) AS p
    FROM cnt
    ORDER BY prev_type, next_type
    """,
    doc="First-order Markov transition matrix P(next event | prev "
        "event) per user timeline: one user-keyed lag shuffle "
        "collapsing to the k-squared type-pair histogram; the "
        "normalization window runs over that tiny frame.",
)

_register(
    "zonemap_skip_stats",
    ["events"],
    packing.zonemap_skip_stats,
    f"""
    WITH blocks AS (
        SELECT event_id // 1024 AS block_id,
               MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts,
               MIN({_cents('value')}) AS min_val,
               MAX({_cents('value')}) AS max_val,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1),
    bounds AS (SELECT MIN(min_ts) AS tmin, MAX(max_ts) AS tmax,
                      MIN(min_val) AS vmin, MAX(max_val) AS vmax
               FROM blocks),
    j AS (SELECT n_rows,
                 max_ts < tmin + (tmax - tmin) * 9 // 10 AS ts_skip,
                 max_val < vmin + (vmax - vmin) // 2 AS val_skip
          FROM blocks, bounds)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ts_skip THEN 1 ELSE 0 END) AS BIGINT)
               AS ts_blocks_skipped,
           CAST(SUM(CASE WHEN ts_skip THEN n_rows ELSE 0 END) AS BIGINT)
               AS ts_rows_skipped,
           CAST(SUM(CASE WHEN val_skip THEN 1 ELSE 0 END) AS BIGINT)
               AS val_blocks_skipped,
           CAST(SUM(CASE WHEN val_skip THEN n_rows ELSE 0 END) AS BIGINT)
               AS val_rows_skipped
    FROM j
    """,
    doc="Zone-map data-skipping audit: per-block min/max index in "
        "write order, then block-prune fractions for a clustered (ts) "
        "vs unclustered (value) predicate — the measured gap is the "
        "re-cluster argument; raw events scanned exactly once.",
)

_register(
    "weighted_sample",
    ["documents"],
    sampling.weighted_sample,
    f"""
    WITH cand AS (
        SELECT source, doc_id, n_chars,
               CAST(n_chars AS DOUBLE)
                   / CAST(({packing.portable_hash_sql('doc_id')}) + 1
                          AS DOUBLE) AS pri
        FROM documents),
    ranked AS (
        SELECT source, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY pri DESC, doc_id)
                    AS BIGINT) AS rank
        FROM cand)
    SELECT source, rank, doc_id, n_chars
    FROM ranked WHERE rank <= 25
    ORDER BY source, rank
    """,
    doc="Deterministic weighted per-source sample (A-RES with the RNG "
        "replaced by the portable hash): exact per-source util.top_k "
        "— a partial limit before the shuffle — so no reducer ever "
        "sorts a whole source; text never shuffles.",
)

_register(
    "ohlc_bars",
    ["events"],
    analytic.ohlc_bars,
    f"""
    WITH t AS (
        SELECT event_type,
               epoch_us(date_trunc('hour', ts)) // 1000000 AS bucket_s,
               {_cents('value')} AS v, ts, event_id
        FROM events),
    w AS (
        SELECT event_type, bucket_s, v,
               FIRST_VALUE(v) OVER (PARTITION BY event_type, bucket_s
                                    ORDER BY ts, event_id) AS open_v,
               LAST_VALUE(v) OVER (PARTITION BY event_type, bucket_s
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS close_v
        FROM t)
    SELECT event_type, bucket_s, MIN(open_v) AS open_cents,
           MAX(v) AS high_cents, MIN(v) AS low_cents,
           MIN(close_v) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS BIGINT) AS volume_cents
    FROM w GROUP BY event_type, bucket_s ORDER BY event_type, bucket_s
    """,
    doc="Hourly OHLC candles per event type (open/close = first/last "
        "in deterministic (ts, event_id) order, exact cents): one "
        "(type, hour)-grain window shuffle collapsing to the "
        "bucket-count candle frame with map-side min/max/sum.",
)

def _ohlc_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``ohlc_bars`` under the full
    correctness gate: the events fixture arrives as a 2-file stream
    (maxFilesPerTrigger=1 → 2 micro-batches); each batch lands its
    (type, hour) OHLC partials — open/close values with their
    (ts, event_id) argmin/argmax keys — via foreachBatch, and the
    returned frame folds the accumulated state. Hour buckets split
    across micro-batches refold exactly, so the result is
    row-identical to the batch op and the batch oracle applies
    verbatim. State is torn down after scoring via
    :func:`_stream_state_scored`."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    return _stream_state_scored(
        spark,
        ev,
        "ohlc",
        ["partials"],
        stream_windows.streaming_ohlc_ingest,
        stream_windows.ohlc_from_state,
    )


QUERIES["ohlc_streamed"] = QuerySpec(
    fn=_ohlc_streamed,
    oracle=QUERIES["ohlc_bars"].oracle,
    doc="Streaming-ingest OHLC candles: per-micro-batch mergeable "
        "candle partials (argmin/argmax order keys carried) into a "
        "queryable catalog table, folded at query time — the "
        "stream→table loop on the time-series side.",
)


_register(
    "trend_regression",
    ["events"],
    analytic.trend_regression,
    f"""
    WITH t0 AS (SELECT MIN(epoch_us(ts) // 1000000) AS t0 FROM events),
    xy AS (SELECT event_type,
                  epoch_us(ts) // 1000000 - t0 AS x,
                  {_cents('value')} AS y
           FROM events, t0),
    s AS (SELECT event_type,
                 CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
          FROM xy GROUP BY event_type),
    d AS (SELECT event_type, CAST(n AS BIGINT) AS n_events,
                 CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                 CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
          FROM s)
    SELECT event_type, n_events,
           (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * 86400.0
               AS slope_cents_per_day,
           (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd)
               / nd AS intercept_cents,
           (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
               / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS r2
    FROM d ORDER BY event_type
    """,
    doc="Exact distributed OLS trend per event type from five "
        "DECIMAL(38,0) sufficient statistics (order-free integer "
        "sums; doubles only in the final closed form, same expression "
        "shape both engines): one map-side-combined groupBy, no "
        "window, nothing corpus-sized shuffles.",
)

_register(
    "conversion_attribution",
    ["events"],
    analytic.conversion_attribution,
    f"""
    WITH t AS (
        SELECT event_type, {_cents('value')} AS v,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS touch
        FROM events),
    per AS (SELECT COALESCE(touch, 'direct') AS channel,
                   CAST(COUNT(*) AS BIGINT) AS n_purchases,
                   CAST(SUM(v) AS BIGINT) AS revenue_cents
            FROM t WHERE event_type = 'purchase' GROUP BY 1)
    SELECT channel, n_purchases, revenue_cents,
           CAST(n_purchases AS DOUBLE)
               / CAST(SUM(n_purchases) OVER () AS DOUBLE) AS purchase_share
    FROM per ORDER BY channel
    """,
    doc="Last-touch conversion attribution: most recent non-purchase "
        "event before each purchase in the user's deterministic "
        "timeline ('direct' when none), rolled up to channel counts, "
        "revenue cents, and exact-int shares — one user-keyed window "
        "shuffle then a channel-vocabulary aggregate.",
)
