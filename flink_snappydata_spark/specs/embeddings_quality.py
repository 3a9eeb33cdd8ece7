"""Embedding analytics + quality models: centroids, k-means, PQ, Gopher/AUC/CCNet quality.

Mechanically split from the original single-file registry; declaration
order is preserved by the import order in :mod:`flink_snappydata_spark.specs`.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path
from urllib.parse import urlparse

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.pipeline import curation
from flink_snappydata_spark.pipeline import similarity
from flink_snappydata_spark.pipeline import text as textops

from flink_snappydata_spark.specs.base import (
    QUERIES,
    QuerySpec,
    _register,
)
from flink_snappydata_spark.specs.llm_pipeline import _QCOMP_SQL
from flink_snappydata_spark.specs.llm_pipeline import _QM_CTES
from flink_snappydata_spark.specs.llm_pipeline import _QM_MARGIN
from flink_snappydata_spark.specs.shards_text import _TF_CTES
from flink_snappydata_spark.util import release_caches

_register(
    "label_centroids",
    ["embeddings"],
    similarity.label_centroids,
    """
    WITH comp AS (
        SELECT label, CAST(i - 1 AS BIGINT) AS pos,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)
    )
    SELECT label, pos,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid,
           COUNT(*) AS n_vectors
    FROM comp GROUP BY label, pos ORDER BY label, pos
    """,
    doc="Per-label mean embedding (class centroids / coarse-quantizer "
        "codebook), exact int64 component sums.",
)

# centroids_streamed is declared earlier (next to the other streamed
# twins) but its oracle IS the batch label_centroids oracle, only
# registered here — patch it in now (QuerySpec is frozen: rebuild).
QUERIES["centroids_streamed"] = QuerySpec(
    fn=QUERIES["centroids_streamed"].fn,
    oracle=QUERIES["label_centroids"].oracle,
    doc=QUERIES["centroids_streamed"].doc,
)

_register(
    "embedding_gram",
    ["embeddings"],
    similarity.embedding_gram,
    """
    WITH comp AS (
        SELECT vec_id, i - 1 AS i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)
    ),
    g AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS gram
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i),
    s AS (
        SELECT i, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
        FROM comp GROUP BY i)
    SELECT g.i, g.j, g.gram,
           (CAST(g.gram AS DOUBLE)
            - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)
              / CAST(sa.n AS DOUBLE)) / CAST(sa.n AS DOUBLE) AS cov
    FROM g
    JOIN s sa ON sa.i = g.i
    JOIN s sb ON sb.i = g.j
    ORDER BY g.i, g.j
    """,
    doc="Exact Gram + covariance matrix over quantized embeddings: "
        "per-partition int64 numpy partial Gram (D(D+1)/2 rows per "
        "partition regardless of row count), one (i,j)-keyed sum — the "
        "PCA/whitening/drift second-moment primitive; no vector ever "
        "shuffles.",
)

# kmeans_train oracle: Lloyd's iterations unrolled (n_iters=2 → c0,
# assign, integer-mean update, assign). Every step is either exact
# int64 arithmetic (dots, sums, truncated means) or the same fixed
# IEEE double expression both engines evaluate identically (the cosine
# used only for argmax ordering), so the replay is bit-faithful.
_KM_ASSIGN = """
    SELECT vec_id, cent_id FROM (
        SELECT d.vec_id, d.cent_id,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                   (CAST(dot AS DOUBLE)/1e12)
                       / sqrt((CAST(nv.n2 AS DOUBLE)/1e12)
                              * (CAST(cn.n2 AS DOUBLE)/1e12)) DESC,
                   d.cent_id ASC) AS r
        FROM {dots} d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN {cnorms} cn ON cn.cent_id = d.cent_id) t
    WHERE r = 1
"""

#: Shared Lloyd's-replay CTE chain (ends at a2 = the final assignment)
#: — used by both the kmeans_train oracle and the SemDeDup-style
#: semantic_neardup oracle (which dedups within a2's clusters).
_KMEANS_CTES = f"""
    comp AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)
    ), norms AS (SELECT vec_id, SUM(q*q) AS n2 FROM comp GROUP BY vec_id),
    c0 AS (SELECT vec_id AS cent_id, i, q AS c FROM comp WHERE vec_id < 8),
    cn0 AS (SELECT cent_id, SUM(c*c) AS n2 FROM c0 GROUP BY cent_id),
    d1 AS (
        SELECT t.vec_id, c.cent_id, SUM(t.q * c.c) AS dot
        FROM comp t JOIN c0 c ON t.i = c.i GROUP BY t.vec_id, c.cent_id),
    a1 AS ({_KM_ASSIGN.format(dots="d1", cnorms="cn0")}),
    s1 AS (
        SELECT a.cent_id, c.i, SUM(c.q) AS s, COUNT(*) AS cnt
        FROM a1 a JOIN comp c ON c.vec_id = a.vec_id
        GROUP BY a.cent_id, c.i),
    m1 AS (
        SELECT cent_id, i,
               CAST(CAST(s - s % cnt AS DOUBLE) / cnt AS BIGINT) AS c
        FROM s1),
    c1 AS (
        SELECT cent_id, i, c FROM m1
        UNION ALL
        SELECT cent_id, i, c FROM c0
        WHERE cent_id NOT IN (SELECT DISTINCT cent_id FROM m1)),
    cn1 AS (SELECT cent_id, SUM(c*c) AS n2 FROM c1 GROUP BY cent_id),
    d2 AS (
        SELECT t.vec_id, c.cent_id, SUM(t.q * c.c) AS dot
        FROM comp t JOIN c1 c ON t.i = c.i GROUP BY t.vec_id, c.cent_id),
    a2 AS ({_KM_ASSIGN.format(dots="d2", cnorms="cn1")})
"""

_register(
    "kmeans_train",
    ["embeddings"],
    similarity.kmeans_train,
    f"""
    WITH {_KMEANS_CTES}
    SELECT cent_id AS cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
           MIN(vec_id) AS min_vec_id,
           MAX(vec_id) AS max_vec_id
    FROM a2 GROUP BY cent_id ORDER BY cluster_id
    """,
    doc="Distributed Lloyd's k-means (2 rounds, 8 clusters): integer "
        "centroid vectors via truncated means (cosine is "
        "scale-invariant), broadcast assignment, map-side-combined "
        "component sums — the trained-codebook upgrade to ivf_topk.",
)

_register(
    "semantic_neardup",
    ["embeddings"],
    similarity.semantic_neardup_pairs,
    f"""
    WITH {_KMEANS_CTES},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.q * b.q) AS dot
        FROM comp a
        JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
        JOIN a2 xa ON xa.vec_id = a.vec_id
        JOIN a2 xb ON xb.vec_id = b.vec_id AND xa.cent_id = xb.cent_id
        GROUP BY a.vec_id, b.vec_id)
    SELECT vec_a, vec_b, cosine FROM (
        SELECT vec_a, vec_b,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(na.n2 AS DOUBLE)/1e12)
                          * (CAST(nb.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = vec_a
        JOIN norms nb ON nb.vec_id = vec_b) t
    WHERE cosine >= 0.45 ORDER BY vec_a, vec_b
    """,
    doc="SemDeDup-style semantic near-dup: k-means clusters bound the "
        "candidate pairs (O(n²/k) instead of all pairs); exact "
        "quantized cosines within each cluster.",
)

_register(
    "embedding_outliers",
    ["embeddings"],
    similarity.embedding_outliers,
    """
    WITH comp AS (
        SELECT vec_id, label, i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)
    ), norms AS (SELECT vec_id, SUM(q*q) AS n2 FROM comp GROUP BY vec_id),
    sums AS (
        SELECT label, i, SUM(q) AS s, COUNT(*) AS cnt
        FROM comp GROUP BY label, i),
    cents AS (
        SELECT label, i,
               CAST(CAST(s - s % cnt AS DOUBLE) / cnt AS BIGINT) AS c,
               cnt
        FROM sums),
    cnorms AS (
        SELECT label, SUM(c*c) AS n2, MIN(cnt) AS n_label
        FROM cents GROUP BY label),
    dots AS (
        SELECT v.vec_id, v.label, SUM(v.q * c.c) AS dot
        FROM comp v JOIN cents c ON c.label = v.label AND c.i = v.i
        GROUP BY v.vec_id, v.label),
    scored AS (
        SELECT d.vec_id, d.label, cn.n_label,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(nv.n2 AS DOUBLE)/1e12)
                          * (CAST(cn.n2 AS DOUBLE)/1e12)) AS cent_cosine
        FROM dots d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN cnorms cn ON cn.label = d.label)
    SELECT vec_id, label, cent_cosine,
           (ROW_NUMBER() OVER (PARTITION BY label
                ORDER BY cent_cosine ASC, vec_id ASC)
            <= CAST(CEIL(n_label * 0.05) AS INTEGER)) AS is_outlier
    FROM scored ORDER BY vec_id
    """,
    doc="Per-label centroid-distance outlier flags (CLIP-filter-style "
        "curation): truncated-integer-mean centroids, exact quantized "
        "cosines, rank-based bottom-5%% flags (no float quantiles).",
)

_register(
    "gopher_rules",
    ["documents"],
    # sort=False: O(corpus) per-doc rows; hash compare is order-insensitive.
    lambda documents: textops.gopher_rules(documents, sort=False),
    rf"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS ws,
               list_filter(list_transform(string_split(text, chr(10)),
                                          x -> trim(x)),
                           x -> x <> '') AS lines
        FROM documents
    ), counted AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(COALESCE(list_aggregate(
                    list_transform(ws, x -> length(x)), 'sum'), 0)
                    AS BIGINT) AS word_chars,
               CAST(length(text) - length(replace(text, '#', ''))
                    AS BIGINT)
               + CAST((length(text)
                       - length(regexp_replace(text, '\.\.\.', '', 'g')))
                      // 3 AS BIGINT) AS n_symbols,
               CAST(len(list_filter(lines,
                    x -> substr(x, 1, 1) IN ('-', '*', '•')))
                    AS BIGINT) AS n_bullet,
               CAST(len(list_filter(lines, x -> x LIKE '%...'))
                    AS BIGINT) AS n_ell_lines,
               CAST(len(list_filter(ws,
                    x -> regexp_matches(x, '[A-Za-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(
                    ['the','be','to','of','and','that','have','with'],
                    s -> list_contains(list_transform(ws, x -> lower(x)),
                                       s))) AS BIGINT) AS stop_hits
        FROM base
    )
    SELECT doc_id, n_words,
           CASE WHEN n_words > 0
                THEN CAST(word_chars AS DOUBLE) / n_words
                ELSE 0.0 END AS mean_word_len,
           CASE WHEN n_words > 0
                THEN CAST(n_symbols AS DOUBLE) / n_words
                ELSE 0.0 END AS symbol_ratio,
           CASE WHEN n_lines > 0
                THEN CAST(n_bullet AS DOUBLE) / n_lines
                ELSE 0.0 END AS bullet_line_frac,
           CASE WHEN n_lines > 0
                THEN CAST(n_ell_lines AS DOUBLE) / n_lines
                ELSE 0.0 END AS ellipsis_line_frac,
           CASE WHEN n_words > 0
                THEN CAST(n_alpha AS DOUBLE) / n_words
                ELSE 0.0 END AS alpha_word_frac,
           stop_hits,
           (n_words >= 50 AND n_words <= 100000
            AND CASE WHEN n_words > 0
                     THEN CAST(word_chars AS DOUBLE) / n_words
                     ELSE 0.0 END >= 3.0
            AND CASE WHEN n_words > 0
                     THEN CAST(word_chars AS DOUBLE) / n_words
                     ELSE 0.0 END <= 10.0
            AND CASE WHEN n_words > 0
                     THEN CAST(n_symbols AS DOUBLE) / n_words
                     ELSE 0.0 END <= 0.1
            AND CASE WHEN n_lines > 0
                     THEN CAST(n_bullet AS DOUBLE) / n_lines
                     ELSE 0.0 END < 0.9
            AND CASE WHEN n_lines > 0
                     THEN CAST(n_ell_lines AS DOUBLE) / n_lines
                     ELSE 0.0 END < 0.3
            AND CASE WHEN n_words > 0
                     THEN CAST(n_alpha AS DOUBLE) / n_words
                     ELSE 0.0 END >= 0.8
            AND stop_hits >= 2) AS keep
    FROM counted ORDER BY doc_id
    """,
    doc="Gopher rule-based document filter (Rae et al. 2021 A1.1): "
        "word-count/word-length bounds, symbol and bullet/ellipsis "
        "line ratios, alphabetic-word fraction, required-stopword "
        "hits — exact int64 counts, one division per ratio, pure "
        "per-row JVM expressions (no shuffle).",
)


_register(
    "quality_auc",
    ["documents"],
    textops.quality_auc,
    rf"""
    WITH {_QM_CTES},
    m AS (
        SELECT s.doc_id, d.lang = 'en' AS is_pos,
               {_QM_MARGIN} AS margin
        FROM scored s JOIN documents d USING (doc_id)),
    g AS (
        SELECT margin,
               CAST(COUNT(*) FILTER (is_pos) AS BIGINT) AS p,
               CAST(COUNT(*) FILTER (NOT is_pos) AS BIGINT) AS q
        FROM m GROUP BY margin),
    c AS (
        SELECT margin, p, q, p + q AS t,
               CAST(COALESCE(SUM(p + q) OVER (ORDER BY margin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum
        FROM g),
    a AS (
        SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(q) AS BIGINT) AS n_neg,
               CAST(SUM(p * (2 * cum + t + 1)) AS BIGINT) AS r2
        FROM c)
    SELECT n_pos, n_neg,
           CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                     / CAST(2 * n_pos * n_neg AS DOUBLE)
                ELSE 0.0 END AS auc
    FROM a
    """,
    doc="Exact tie-aware ROC AUC of the quality-model margin vs the "
        "language label (classifier-evaluation step): Wilcoxon midrank "
        "formula in int64 via a two-phase value-cell prefix — global "
        "rank with no global sort; only (margin, count) pairs shuffle.",
)


_register(
    "ccnet_buckets",
    ["documents"],
    # sort=False: O(corpus) per-doc rows; hash compare is order-insensitive.
    lambda documents: textops.ccnet_buckets(documents, sort=False),
    f"""
    WITH {_TF_CTES},
    c AS (SELECT word, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
    sc AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf.tf * ((length(bin(tot.n)) - 1)
                                 - (length(bin(c.c)) - 1))) AS BIGINT)
                   AS bits_sum
        FROM tf JOIN c USING (word) CROSS JOIN tot
        GROUP BY tf.doc_id),
    ab AS (
        SELECT d.doc_id, d.lang,
               CASE WHEN COALESCE(sc.n_tokens, 0) > 0
                    THEN CAST(sc.bits_sum AS DOUBLE)
                         / CAST(sc.n_tokens AS DOUBLE)
                    ELSE 0.0 END AS avg_bits
        FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
    r AS (
        SELECT doc_id, lang, avg_bits,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY avg_bits, doc_id) AS BIGINT) AS lang_rank,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS c
        FROM ab),
    t AS (
        SELECT doc_id, lang, avg_bits, lang_rank,
               CASE WHEN (lang_rank - 1) < (c % 3) * ((c // 3) + 1)
                    THEN (lang_rank - 1) // ((c // 3) + 1)
                    ELSE (c % 3) + ((lang_rank - 1) - (c % 3) * ((c // 3) + 1))
                         // GREATEST(c // 3, 1) END AS tile0
        FROM r)
    SELECT doc_id, lang, avg_bits, lang_rank,
           CASE tile0 WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM t ORDER BY doc_id
    """,
    doc="CCNet-style head/middle/tail perplexity terciles per language "
        "(Wenzek et al. 2020): unigram-surprisal ranking with doc_id "
        "tiebreak, NTILE-exact tercile arithmetic — per-language rank "
        "via the two-phase value-cell prefix, no per-language global "
        "sort window.",
)


# PQ training replay: Lloyd's under exact integer squared-L2, unrolled
# for n_iters=2 per subspace (init c0 = first-4 vectors' blocks, assign,
# truncated-integer-mean update with carry-forward, final assign). The
# whole replay is pure int64 arithmetic — no doubles even in the argmin.
# Shared by the pq_codebook (training stats) and pq_adc_topk (encode +
# asymmetric-distance search) oracles: c1 = trained codebook,
# a2 = final assignment (the PQ codes).
_PQ_TRAIN_SQL = """
    comp AS (
        SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS m,
               (i - 1) % 16 AS j,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)),
    c0 AS (SELECT m, vec_id AS cent_id, j, q AS c
           FROM comp WHERE vec_id < 4),
    d1 AS (SELECT t.vec_id, t.m, c.cent_id,
                  CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) AS dist
           FROM comp t JOIN c0 c ON t.m = c.m AND t.j = c.j
           GROUP BY t.vec_id, t.m, c.cent_id),
    a1 AS (SELECT vec_id, m, cent_id FROM (
             SELECT vec_id, m, cent_id,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, m
                        ORDER BY dist ASC, cent_id ASC) AS r
             FROM d1) t WHERE r = 1),
    s1 AS (SELECT a.m, a.cent_id, c.j, SUM(c.q) AS s, COUNT(*) AS cnt
           FROM a1 a JOIN comp c ON c.vec_id = a.vec_id AND c.m = a.m
           GROUP BY a.m, a.cent_id, c.j),
    m1 AS (SELECT m, cent_id, j,
                  CAST(CAST(s - s % cnt AS DOUBLE) / cnt AS BIGINT) AS c
           FROM s1),
    c1 AS (SELECT m, cent_id, j, c FROM m1
           UNION ALL
           SELECT x.m, x.cent_id, x.j, x.c FROM c0 x
           WHERE NOT EXISTS (SELECT 1 FROM m1
                             WHERE m1.m = x.m AND m1.cent_id = x.cent_id)),
    d2 AS (SELECT t.vec_id, t.m, c.cent_id,
                  CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) AS dist
           FROM comp t JOIN c1 c ON t.m = c.m AND t.j = c.j
           GROUP BY t.vec_id, t.m, c.cent_id),
    a2 AS (SELECT vec_id, m, cent_id, dist FROM (
             SELECT vec_id, m, cent_id, dist,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, m
                        ORDER BY dist ASC, cent_id ASC) AS r
             FROM d2) t WHERE r = 1)
"""

_register(
    "pq_codebook",
    ["embeddings"],
    similarity.pq_codebook,
    f"""
    WITH {_PQ_TRAIN_SQL}
    SELECT m AS subspace, cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
           MIN(vec_id) AS min_vec_id,
           MAX(vec_id) AS max_vec_id,
           CAST(SUM(dist) AS BIGINT) AS sq_err_sum
    FROM a2 GROUP BY m, cent_id ORDER BY subspace, cent_id
    """,
    doc="Product-quantization codebook training (IVF-PQ compression "
        "half): per-subspace Lloyd's under EXACT int64 squared-L2 — "
        "broadcast codebook assignment, map-side-combined integer "
        "update sums, exact residual distortion per centroid.",
)

_register(
    "pq_adc_topk",
    ["embeddings"],
    similarity.pq_adc_topk,
    f"""
    WITH {_PQ_TRAIN_SQL},
    lut AS (SELECT q.vec_id AS query_id, c.m, c.cent_id,
                   CAST(SUM((q.q - c.c) * (q.q - c.c)) AS BIGINT) AS lq
            FROM comp q JOIN c1 c ON q.m = c.m AND q.j = c.j
            WHERE q.vec_id < 3
            GROUP BY q.vec_id, c.m, c.cent_id),
    adc AS (SELECT l.query_id, a.vec_id, CAST(SUM(l.lq) AS BIGINT) AS adc_dist
            FROM a2 a JOIN lut l ON l.m = a.m AND l.cent_id = a.cent_id
            WHERE a.vec_id <> l.query_id
            GROUP BY l.query_id, a.vec_id)
    SELECT query_id, rank, vec_id, adc_dist FROM (
        SELECT query_id, vec_id, adc_dist,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rank
        FROM adc) t
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
    doc="PQ asymmetric-distance top-k (the query half of IVF-PQ): "
        "vectors encoded once into 4 codes by the trained codebook, "
        "queries search via broadcast per-subspace LUTs summed over "
        "codes — exact int64 ADC distances, no vectors touched at "
        "query time, per-query util.top_k.",
)


# random_projection oracle: regenerate the ±1 Achlioptas sign matrix
# from md5 of the decimal key j*DIM+d — no literal matrix to keep in
# sync with the engine; both sides derive it from the same md5 word
# (the multiplicative portable hash is affine mod 2^31 and would give
# correlated sign rows — see similarity._rp_sign).
_register(
    "random_projection",
    ["embeddings"],
    lambda embeddings: similarity.random_projection(embeddings, sort=False),
    """
    WITH comp AS (
        SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)),
    signs AS (
        SELECT CAST(j AS BIGINT) AS j, CAST(d AS BIGINT) AS d,
               1 - 2 * (('0x' || substr(md5(CAST(j * 64 + d AS VARCHAR)),
                                        1, 8))::BIGINT % 2) AS s
        FROM generate_series(0, 7) a(j), generate_series(0, 63) b(d))
    SELECT c.vec_id, s.j, CAST(SUM(c.q * s.s) AS BIGINT) AS proj_q
    FROM comp c JOIN signs s ON s.d = c.d
    GROUP BY c.vec_id, s.j
    ORDER BY vec_id, j
    """,
    doc="Johnson-Lindenstrauss reduction (Achlioptas ±1 matrix from "
        "the portable hash): 64→8 dims as exact int64 sums — map-only, "
        "whole-stage-codegen literal sign arrays, zero shuffle.",
)


_register(
    "hard_negatives",
    ["embeddings"],
    similarity.hard_negatives,
    f"""
    WITH {_QCOMP_SQL},
    labels AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, t.vec_id AS vec_id, SUM(q.q * t.q) AS dot
        FROM comp q JOIN comp t ON q.i = t.i AND q.vec_id <> t.vec_id
        WHERE q.vec_id < 8
        GROUP BY q.vec_id, t.vec_id),
    scored AS (
        SELECT d.query_id, d.vec_id, lt.label,
               CAST(dot AS BIGINT) AS dot_q,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(nq.n2 AS DOUBLE)/1e12)
                          * (CAST(nt.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots d
        JOIN labels lq ON lq.vec_id = d.query_id
        JOIN labels lt ON lt.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nt ON nt.vec_id = d.vec_id
        WHERE lt.label <> lq.label)
    SELECT query_id, rank, vec_id, label, dot_q, cosine FROM (
        SELECT query_id, vec_id, label, dot_q, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored) t
    WHERE rank <= 4 ORDER BY query_id, rank
    """,
    doc="Hard-negative mining (DPR/Contriever recipe): per-probe top-k "
        "most-similar DIFFERENT-label vectors — broadcast probes, one "
        "corpus scan, per-probe util.top_k (no per-probe hot "
        "partition), exact int64 dot products.",
)

# -- round 11: the remaining two members of the embedding-compression
# family (PQ already above).

_register(
    "embedding_sq8_topk",
    ["embeddings"],
    similarity.sq8_mips_recall,
    f"""
    WITH {_QCOMP_SQL},
    rng AS (SELECT i, MIN(q) AS lo, MAX(q) AS hi FROM comp GROUP BY i),
    enc AS (
        SELECT c.vec_id, c.i,
               r.lo * 255 +
               (CASE WHEN r.hi > r.lo
                     THEN ((c.q - r.lo) * 510 + (r.hi - r.lo))
                          // (2 * (r.hi - r.lo))
                     ELSE 0 END) * (r.hi - r.lo) AS rnum
        FROM comp c JOIN rng r USING (i)),
    qq AS (SELECT vec_id AS query_id, i, q FROM comp WHERE vec_id < 5),
    adot AS (
        SELECT qq.query_id, e.vec_id, SUM(qq.q * e.rnum) AS adot
        FROM qq JOIN enc e USING (i)
        WHERE e.vec_id <> qq.query_id
        GROUP BY qq.query_id, e.vec_id),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adot DESC, vec_id ASC) AS rk FROM adot) t
        WHERE rk <= 10),
    ed AS (
        SELECT qq.query_id, c.vec_id, SUM(qq.q * c.q) AS dot
        FROM qq JOIN comp c USING (i)
        WHERE c.vec_id <> qq.query_id
        GROUP BY qq.query_id, c.vec_id),
    truth AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY dot DESC, vec_id ASC) AS rk FROM ed) t
        WHERE rk <= 10),
    hits AS (
        SELECT t.query_id, COUNT(*) AS n_hit
        FROM truth t JOIN approx a
            ON a.query_id = t.query_id AND a.vec_id = t.vec_id
        GROUP BY t.query_id),
    per_q AS (SELECT query_id, COUNT(*) AS n_truth FROM truth
              GROUP BY query_id)
    SELECT p.query_id,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           COALESCE(h.n_hit, 0) >= p.n_truth * 0.5 AS recall_ok
    FROM per_q p LEFT JOIN hits h ON h.query_id = p.query_id
    ORDER BY p.query_id
    """,
    doc="SQ8 scalar-quantized MIPS with in-query recall verdict vs "
        "exact top-k: per-dimension [min,max] affine 8-bit codes, "
        "integer round-half-up encode, reconstruction-dot scoring — "
        "the third member of the compression family (PQ, SQ8, binary).",
    judge_bearing=True,
)

_register(
    "embedding_bitsign_topk",
    ["embeddings"],
    similarity.bitsign_hamming_recall,
    f"""
    WITH {_QCOMP_SQL},
    stats AS (SELECT i, COUNT(*) AS n, SUM(q) AS s FROM comp GROUP BY i),
    signs AS (
        SELECT c.vec_id, c.i,
               CASE WHEN c.q * st.n > st.s THEN 1 ELSE 0 END AS b
        FROM comp c JOIN stats st USING (i)),
    qs AS (SELECT vec_id AS query_id, i, b FROM signs WHERE vec_id < 5),
    ham AS (
        SELECT qs.query_id, s.vec_id,
               SUM(CASE WHEN s.b <> qs.b THEN 1 ELSE 0 END) AS ham
        FROM qs JOIN signs s USING (i)
        WHERE s.vec_id <> qs.query_id
        GROUP BY qs.query_id, s.vec_id),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY ham ASC, vec_id ASC) AS rk FROM ham) t
        WHERE rk <= 256),
    qq AS (SELECT vec_id AS query_id, i, q FROM comp WHERE vec_id < 5),
    cdots AS (
        SELECT qq.query_id, c.vec_id, SUM(qq.q * c.q) AS dot
        FROM qq
        JOIN comp c USING (i)
        JOIN cand ON cand.query_id = qq.query_id AND cand.vec_id = c.vec_id
        GROUP BY qq.query_id, c.vec_id),
    rerank AS (
        SELECT d.query_id, d.vec_id,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(nq.n2 AS DOUBLE)/1e12)
                          * (CAST(nt.n2 AS DOUBLE)/1e12)) AS cosine
        FROM cdots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nt ON nt.vec_id = d.vec_id),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM rerank) t
        WHERE rk <= 10),
    dots AS (
        SELECT qq.query_id, t.vec_id, SUM(qq.q * t.q) AS dot
        FROM qq JOIN comp t USING (i)
        WHERE t.vec_id <> qq.query_id
        GROUP BY qq.query_id, t.vec_id),
    scored AS (
        SELECT d.query_id, d.vec_id,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(nq.n2 AS DOUBLE)/1e12)
                          * (CAST(nt.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nt ON nt.vec_id = d.vec_id),
    truth AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM scored) t
        WHERE rk <= 10),
    hits AS (
        SELECT t.query_id, COUNT(*) AS n_hit
        FROM truth t JOIN approx a
            ON a.query_id = t.query_id AND a.vec_id = t.vec_id
        GROUP BY t.query_id),
    per_q AS (SELECT query_id, COUNT(*) AS n_truth FROM truth
              GROUP BY query_id)
    SELECT p.query_id,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           COALESCE(h.n_hit, 0) >= p.n_truth * 0.4 AS recall_ok
    FROM per_q p LEFT JOIN hits h ON h.query_id = p.query_id
    ORDER BY p.query_id
    """,
    doc="Binary sign-sketch search (1 bit/dim, XOR+popcount Hamming "
        "prefilter to 256 candidates, exact cosine re-rank) with "
        "in-query recall verdict vs exact top-k — the 64x-compression "
        "member of the family; mean-threshold signs are exact integer "
        "comparisons, portable bit-for-bit.",
    judge_bearing=True,
)

# IVFADC replay: coarse kmeans (the shared _KMEANS_CTES, 8 centroids,
# 2 cosine Lloyd's iterations -> c1/cn1/a2), residual PQ training
# (the _PQ_TRAIN_SQL pattern rebased onto residual components, 8
# centroids), probe/LUT/ADC, 64-candidate shortlist, exact-cosine
# refinement. Pure int64 arithmetic except the two shared cosine
# expressions, so the oracle checks exact VALUES, not a recall bound.
_register(
    "ivf_pq_topk",
    ["embeddings"],
    similarity.ivf_pq_topk,
    f"""
    WITH {_KMEANS_CTES},
    rcomp AS (
        SELECT c.vec_id, a.cent_id AS list_id,
               CAST((c.i - 1) // 16 AS BIGINT) AS m, (c.i - 1) % 16 AS j,
               c.q - cc.c AS q
        FROM comp c
        JOIN a2 a ON a.vec_id = c.vec_id
        JOIN c1 cc ON cc.cent_id = a.cent_id AND cc.i = c.i),
    pc0 AS (SELECT m, vec_id AS cent_id, j, q AS c FROM rcomp
            WHERE vec_id < 8),
    pd1 AS (SELECT t.vec_id, t.m, c.cent_id,
                   CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) AS dist
            FROM rcomp t JOIN pc0 c ON t.m = c.m AND t.j = c.j
            GROUP BY t.vec_id, t.m, c.cent_id),
    pa1 AS (SELECT vec_id, m, cent_id FROM (
              SELECT vec_id, m, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m
                         ORDER BY dist ASC, cent_id ASC) AS r
              FROM pd1) t WHERE r = 1),
    ps1 AS (SELECT a.m, a.cent_id, c.j, SUM(c.q) AS s, COUNT(*) AS cnt
            FROM pa1 a JOIN rcomp c ON c.vec_id = a.vec_id AND c.m = a.m
            GROUP BY a.m, a.cent_id, c.j),
    pm1 AS (SELECT m, cent_id, j,
                   CAST(CAST(s - s % cnt AS DOUBLE) / cnt AS BIGINT) AS c
            FROM ps1),
    pc1 AS (SELECT m, cent_id, j, c FROM pm1
            UNION ALL
            SELECT x.m, x.cent_id, x.j, x.c FROM pc0 x
            WHERE NOT EXISTS (SELECT 1 FROM pm1
                              WHERE pm1.m = x.m
                                AND pm1.cent_id = x.cent_id)),
    pd2 AS (SELECT t.vec_id, t.m, c.cent_id,
                   CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) AS dist
            FROM rcomp t JOIN pc1 c ON t.m = c.m AND t.j = c.j
            GROUP BY t.vec_id, t.m, c.cent_id),
    pa2 AS (SELECT vec_id, m, cent_id FROM (
              SELECT vec_id, m, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m
                         ORDER BY dist ASC, cent_id ASC) AS r
              FROM pd2) t WHERE r = 1),
    qd AS (SELECT t.vec_id AS query_id, c.cent_id, SUM(t.q * c.c) AS dot
           FROM comp t JOIN c1 c ON t.i = c.i
           WHERE t.vec_id < 3 GROUP BY t.vec_id, c.cent_id),
    probes AS (SELECT query_id, cent_id AS list_id FROM (
                 SELECT d.query_id, d.cent_id,
                        ROW_NUMBER() OVER (PARTITION BY d.query_id ORDER BY
                            (CAST(dot AS DOUBLE)/1e12)
                                / sqrt((CAST(nv.n2 AS DOUBLE)/1e12)
                                       * (CAST(cn.n2 AS DOUBLE)/1e12)) DESC,
                            d.cent_id ASC) AS r
                 FROM qd d
                 JOIN norms nv ON nv.vec_id = d.query_id
                 JOIN cn1 cn ON cn.cent_id = d.cent_id) t
               WHERE r <= 2),
    qres AS (SELECT p.query_id, p.list_id,
                    CAST((c.i - 1) // 16 AS BIGINT) AS m,
                    (c.i - 1) % 16 AS j,
                    c.q - cc.c AS q
             FROM probes p
             JOIN comp c ON c.vec_id = p.query_id
             JOIN c1 cc ON cc.cent_id = p.list_id AND cc.i = c.i),
    lut AS (SELECT r.query_id, r.list_id, c.m, c.cent_id,
                   CAST(SUM((r.q - c.c) * (r.q - c.c)) AS BIGINT) AS lq
            FROM qres r JOIN pc1 c ON c.m = r.m AND c.j = r.j
            GROUP BY r.query_id, r.list_id, c.m, c.cent_id),
    vlists AS (SELECT DISTINCT vec_id, list_id FROM rcomp),
    adc AS (SELECT l.query_id, cd.vec_id,
                   CAST(SUM(l.lq) AS BIGINT) AS adc_dist
            FROM pa2 cd
            JOIN vlists v ON v.vec_id = cd.vec_id
            JOIN lut l ON l.list_id = v.list_id AND l.m = cd.m
                       AND l.cent_id = cd.cent_id
            WHERE cd.vec_id <> l.query_id
            GROUP BY l.query_id, cd.vec_id),
    shortlist AS (SELECT query_id, vec_id FROM (
                    SELECT query_id, vec_id,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, vec_id ASC) AS r
                    FROM adc) t WHERE r <= 64),
    rdots AS (SELECT s.query_id, s.vec_id, SUM(qc.q * tc.q) AS dot
              FROM shortlist s
              JOIN comp qc ON qc.vec_id = s.query_id
              JOIN comp tc ON tc.vec_id = s.vec_id AND tc.i = qc.i
              GROUP BY s.query_id, s.vec_id),
    rer AS (SELECT d.query_id, d.vec_id,
                   (CAST(dot AS DOUBLE)/1e12)
                       / sqrt((CAST(nq.n2 AS DOUBLE)/1e12)
                              * (CAST(nt.n2 AS DOUBLE)/1e12)) AS cosine
            FROM rdots d
            JOIN norms nq ON nq.vec_id = d.query_id
            JOIN norms nt ON nt.vec_id = d.vec_id)
    SELECT query_id, rank, vec_id, cosine FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM rer) t
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
    doc="IVFADC with exact refinement (faiss IVF-PQ + refine layout): "
        "trained coarse quantizer -> inverted lists, residual PQ "
        "codes, per-list broadcast ADC LUTs with list pruning AT the "
        "LUT join, 64-candidate shortlist, exact-cosine re-rank — "
        "bit-exact replayed end to end, values oracle-checked.",
)


# IVFADC, production split. The registered ivf_pq_topk above retrains
# the whole index inline so the oracle can replay training end to end
# — but at 100 TB the index is built ONCE, persisted, and amortized
# over queries, and the query-side plan should carry zero training
# lineage (the inline plan optimizes to ~60 exchanges; the prebuilt
# one to ~8 joins over file-backed scans). This twin stamps that path:
# the index lives in the store, under the warehouse dir, built once
# per input fingerprint and reopened by every later session or process
# — then the SAME search against it. Values are bit-identical, so
# ivf_pq_topk's oracle applies verbatim.

def ivfpq_store_dir(spark, sf_dir: str) -> str:
    """``<warehouse>/ivfpq/<sf key>-<fingerprint>``: the key hashes
    ``sf_dir`` alone, so every index ever built for one fixture dir
    shares its prefix; the fingerprint hashes ``sf_dir``, its
    ``embeddings.parquet`` and every file under that (relative path,
    size, mtime_ns) and the trainer's source (``pipeline/similarity.py``,
    which holds the build parameters' defaults), so a changed input,
    trainer or parameter never reopens an index built from older
    ones."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme not in ("", "file"):
        raise ValueError(f"IVF-PQ store needs a local warehouse, not {wh.geturl()}")
    root = os.path.join(sf_dir, "embeddings.parquet")
    under = sorted(os.path.join(d, n) for d, _, ns in os.walk(root) for n in ns)
    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    key = h.hexdigest()[:16]
    for f in [root, *under]:
        st = os.stat(f)
        h.update(f"|{os.path.relpath(f, root)}|{st.st_size}|{st.st_mtime_ns}".encode())
    h.update(Path(similarity.__file__).read_bytes())
    return os.path.join(wh.path, "ivfpq", f"{key}-{h.hexdigest()[:32]}")


def ivfpq_prebuilt_index(spark, sf_dir: str) -> similarity.IvfPqIndex:
    """The stored IVFADC index for ``sf_dir``, shared by the registered
    ``ivf_pq_prebuilt_topk`` query and bench's ``raw_ivfpq_query``
    receipt: opened from :func:`ivfpq_store_dir` when present, else
    built, saved to a unique sibling and published with one rename, so
    a crashed build never leaves a partial index where it can be
    opened; a failed build deletes its sibling, and when a concurrent
    build published first, its index wins. A successful publish then
    deletes every other entry of the same ``sf_dir`` key: older
    fingerprints and the ``.tmp-`` siblings of builds killed mid-save.
    If that removes a concurrent build's sibling, that build's save or
    rename fails and it opens the published index. Other fixture dirs'
    indexes stay.
    Harness-scale file layout: at sf<=0.1 the corpus frames are a few
    MB, so qv/codes coalesce to 4 files (at real scale the build's
    natural partitioning stands and this coalesce is wrong)."""
    base = ivfpq_store_dir(spark, sf_dir)
    if not os.path.isdir(base):
        tmp = f"{base}.tmp-{os.urandom(8).hex()}"
        built = similarity.ivf_pq_index(load_table(spark, sf_dir, "embeddings"))
        try:
            built._replace(
                qv=built.qv.coalesce(4), codes=built.codes.coalesce(4)
            ).save(tmp)
            os.rename(tmp, base)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(base):  # else the concurrent build's index wins
                raise
        else:
            root, name = os.path.split(base)
            key = name.split("-", 1)[0] + "-"
            for other in os.listdir(root):
                if other != name and other.startswith(key):
                    shutil.rmtree(os.path.join(root, other), ignore_errors=True)
        finally:
            release_caches()  # build-time persists aren't part of the index
    return similarity.ivf_pq_index_load(spark, base)


def _ivf_pq_prebuilt_topk(spark, sf_dir: str):
    return similarity.ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        index=ivfpq_prebuilt_index(spark, sf_dir),
    )


QUERIES["ivf_pq_prebuilt_topk"] = QuerySpec(
    fn=_ivf_pq_prebuilt_topk,
    oracle=QUERIES["ivf_pq_topk"].oracle,
    doc="IVFADC search against a SAVED index reopened from parquet "
        "(build once, amortize over queries — the production shape): "
        "values bit-identical to ivf_pq_topk, same oracle; the query "
        "plan carries zero training lineage (gauge-pinned).",
)
