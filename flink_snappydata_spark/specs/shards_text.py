"""Training-shard assembly + text statistics: packing, shuffling, surprisal, tf-idf, BM25.

Mechanically split from the original single-file registry; declaration
order is preserved by the import order in :mod:`flink_snappydata_spark.specs`.
"""

from __future__ import annotations

from flink_snappydata_spark.pipeline import packing
from flink_snappydata_spark.pipeline import text as textops

from flink_snappydata_spark.specs.base import (
    _register,
)

# ---------------------------------------------------------------------------
# Training-shard assembly + text hygiene (pipeline/packing.py, text.py)
# ---------------------------------------------------------------------------

_register(
    "seq_packing",
    ["documents"],
    packing.pack_stats,
    r"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) - n_tokens AS off
        FROM toks
    )
    SELECT source, CAST(off // 256 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY source, pack_id ORDER BY source, pack_id
    """,
    doc="Sequence packing: greedy contiguous fill of 256-token training "
        "sequences per source shard (window cumsum, integer-DIV pack id).",
)

_register(
    "global_index",
    ["documents"],
    lambda documents: packing.global_index(documents).orderBy("doc_id"),
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
    FROM documents ORDER BY doc_id
    """,
    doc="Distributed zipWithIndex: bucketed two-phase global rank (no "
        "global sort, driver sees only the bucket histogram).",
)

#: epoch_shuffle oracle: the double portable hash with the epoch mixed
#: in, ranked with a doc_id tiebreak — epoch 1 is the registered query.
_EPOCH_KEY_SQL = packing.portable_hash_sql(
    f"(({packing.portable_hash_sql('doc_id')}) + {packing.EPOCH_MIX})"
)

_register(
    "epoch_shuffle",
    ["documents"],
    # sort=False: the rank is the payload; a corpus-sized presentation
    # orderBy would re-add the very global sort the op exists to avoid.
    lambda documents: packing.epoch_shuffle(documents, sort=False),
    f"""
    WITH k AS (
        SELECT doc_id, {_EPOCH_KEY_SQL} AS k FROM documents)
    SELECT doc_id, CAST(1 AS BIGINT) AS epoch,
           CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS BIGINT)
               AS shuffle_rank
    FROM k ORDER BY doc_id
    """,
    doc="Deterministic per-epoch corpus reshuffle: portable-hash "
        "permutation rank of every document (pure function of "
        "(doc_id, epoch), no RNG), via the bucketed two-phase rank — "
        "no global sort.",
)

_register(
    "shard_stats",
    ["documents"],
    packing.shard_stats,
    f"""
    SELECT CAST(({packing.portable_hash_sql('doc_id')}) % 16 AS BIGINT)
               AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM documents GROUP BY shard ORDER BY shard
    """,
    doc="Deterministic output sharding: portable multiplicative-hash "
        "shard id — two-word reduce-before-multiply BIGINT arithmetic "
        "that can never overflow int64 (engine-independent up to 2^63 "
        "ids), balance report.",
)

_register(
    "text_repetition",
    ["documents"],
    textops.repetition_scores,
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS words
        FROM documents
    ), base AS (
        SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
               unnest(words) AS word
        FROM w
    ), per_word AS (
        SELECT doc_id, n_words, n_distinct_words, word, COUNT(*) AS cnt
        FROM base GROUP BY doc_id, n_words, n_distinct_words, word
    )
    SELECT doc_id, n_words, n_distinct_words,
           CAST(n_distinct_words AS DOUBLE) / n_words AS distinct_ratio,
           CAST(MAX(cnt) AS DOUBLE) / n_words AS top_word_share
    FROM per_word GROUP BY doc_id, n_words, n_distinct_words
    ORDER BY doc_id
    """,
    doc="Intra-document repetition: distinct-word ratio + top-word share "
        "(boilerplate/degenerate-text filters).",
)

_register(
    "pii_redaction",
    ["documents"],
    textops.pii_redaction,
    rf"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com ip 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 tel +1 555 01'
                    || CAST(doc_id % 90 AS VARCHAR) || ' 4242' AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{textops.EMAIL_RE}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{textops.IPV4_RE}'))
                AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{textops.PHONE_RE}'))
                AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{textops.EMAIL_RE}', '<EMAIL>', 'g'),
               '{textops.IPV4_RE}', '<IP>', 'g'),
               '{textops.PHONE_RE}', '<PHONE>', 'g') AS clean_text
    FROM enriched ORDER BY doc_id
    """,
    doc="PII scrubbing (emails/IPv4/phones) with match counts; both "
        "engines enrich with deterministic doc_id-derived PII so the "
        "regex parity check is non-vacuous on the clean fixture.",
)

_register(
    "source_stats",
    ["documents"],
    textops.source_stats,
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS mean_chars,
           quantile_cont(length(text), 0.5) AS median_chars
    FROM documents GROUP BY source, lang ORDER BY source, lang
    """,
    doc="Corpus composition by (source, lang): counts, exact char "
        "volume, mean and exact median document length.",
)

_register(
    "doc_chunking",
    ["documents"],
    textops.chunk_documents,
    """
    WITH n AS (
        SELECT doc_id, text,
               GREATEST(1, CAST(CEIL((length(text) - 64) / 448.0) AS BIGINT))
                   AS n_chunks
        FROM documents
    ), ex AS (
        SELECT doc_id, text,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM n
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           substr(text, CAST(chunk_id * 448 + 1 AS BIGINT), 512) AS chunk_text,
           CAST(length(substr(text, CAST(chunk_id * 448 + 1 AS BIGINT), 512))
                AS BIGINT) AS chunk_len
    FROM ex ORDER BY doc_id, chunk_id
    """,
    doc="Document chunking for embedding/retrieval: 512-char chunks "
        "with 64-char overlap, pure projection + explode.",
)

_register(
    "frequent_tokens",
    ["documents"],
    textops.frequent_tokens,
    r"""
    WITH w AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  x -> x <> '')) AS word
        FROM documents
    ), counts AS (
        SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
    )
    SELECT word, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM counts) AS share
    FROM counts ORDER BY cnt DESC, word ASC LIMIT 50
    """,
    doc="Corpus heavy hitters: top-50 tokens by frequency with corpus "
        "share (vocabulary pruning / stopword discovery).",
)

_register(
    "frequent_bigrams",
    ["documents"],
    textops.frequent_bigrams,
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws
        FROM documents),
    pairs AS (
        SELECT p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS p
            FROM w WHERE len(ws) >= 2) t),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM pairs GROUP BY w1, w2),
    uni AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS u FROM (
            SELECT unnest(ws) AS word FROM w) GROUP BY word),
    tot AS (SELECT CAST((SELECT SUM(u) FROM uni) AS BIGINT) AS nu,
                   CAST((SELECT SUM(cnt) FROM bgc) AS BIGINT) AS nb)
    SELECT b.w1, b.w2, b.cnt,
           CAST(((length(bin(b.cnt)) - 1) + 2 * (length(bin(t.nu)) - 1))
                - ((length(bin(t.nb)) - 1) + (length(bin(ua.u)) - 1)
                   + (length(bin(ub.u)) - 1)) AS BIGINT) AS pmi_bits
    FROM bgc b
    JOIN uni ua ON ua.word = b.w1
    JOIN uni ub ON ub.word = b.w2
    CROSS JOIN tot t
    ORDER BY b.cnt DESC, b.w1 ASC, b.w2 ASC
    LIMIT 50
    """,
    doc="Corpus collocations: top-50 adjacent word pairs with "
        "integer-bits PMI (phrase mining / the BPE merge-candidate "
        "step; in-kernel tail-zip, pair+count shuffles only).",
)

#: Per-document term-frequency CTE chain (DuckDB), ending at
#: ``tf(doc_id, word, tf)`` — shared by the surprisal and tf-idf
#: keyword oracles. Tokenization matches ``wordcount.words``.
_TF_CTES = r"""
    w AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  x -> x <> '')) AS word
        FROM documents),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM w GROUP BY doc_id, word)
"""

_register(
    "unigram_surprisal",
    ["documents"],
    # sort=False: O(corpus) per-doc rows; hash compare is order-insensitive.
    lambda documents: textops.unigram_surprisal(documents, sort=False),
    f"""
    WITH {_TF_CTES},
    c AS (SELECT word, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
    scored AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf.tf * ((length(bin(tot.n)) - 1)
                                 - (length(bin(c.c)) - 1))) AS BIGINT)
                   AS bits_sum
        FROM tf JOIN c USING (word) CROSS JOIN tot
        GROUP BY tf.doc_id)
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           COALESCE(s.bits_sum, 0) AS bits_sum,
           CASE WHEN COALESCE(s.n_tokens, 0) > 0
                THEN CAST(s.bits_sum AS DOUBLE)
                     / CAST(s.n_tokens AS DOUBLE)
                ELSE 0.0 END AS avg_bits
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="Perplexity-proxy LM filter: mean per-token surprisal under the "
        "corpus unigram distribution, quantized to exact integer bits "
        "(floor-log2 via bin() length — no float log, order-free sums).",
)

_register(
    "bigram_surprisal",
    ["documents"],
    # sort=False: O(corpus) per-doc rows; hash compare is order-insensitive.
    lambda documents: textops.bigram_surprisal(documents, sort=False),
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws
        FROM documents),
    pairs AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS p
            FROM w WHERE len(ws) >= 2) t),
    tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
           FROM pairs GROUP BY doc_id, w1, w2),
    c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2
           FROM tf GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
    scored AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
               CAST(SUM(tf.tf * ((length(bin(c1.c1)) - 1)
                                 - (length(bin(c2.c2)) - 1))) AS BIGINT)
                   AS bits_sum
        FROM tf JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY tf.doc_id)
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.bits_sum, 0) AS bits_sum,
           CASE WHEN COALESCE(s.n_bigrams, 0) > 0
                THEN CAST(s.bits_sum AS DOUBLE)
                     / CAST(s.n_bigrams AS DOUBLE)
                ELSE 0.0 END AS avg_bits
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
    doc="Bigram-conditional LM filter: mean transition surprisal "
        "-log2 P(w2|w1) under the corpus's own bigram model, quantized "
        "to exact integer bits (context counts from the bigram row "
        "sums; in-row tail-zip pair build, skew-safe statistics joins).",
)

_register(
    "dsir_weights",
    ["documents"],
    # sort=False: O(corpus) per-doc rows; hash compare is order-insensitive.
    lambda documents: textops.dsir_weights(documents, sort=False),
    rf"""
    WITH w AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws
        FROM documents),
    f AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(feat), 1, 15))::BIGINT
                   % {textops.DSIR_BUCKETS} AS b
        FROM (
            SELECT doc_id, source, unnest(ws) AS feat FROM w
            UNION ALL
            SELECT doc_id, source,
                   unnest(list_transform(generate_series(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1]))
                       AS feat
            FROM w WHERE len(ws) >= 2) t),
    dn AS (SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS n
           FROM f GROUP BY doc_id, source, b),
    stats AS (
        SELECT b,
               CAST(COALESCE(SUM(n) FILTER (WHERE source = 'src0'), 0)
                    AS BIGINT) AS ct,
               CAST(SUM(n) AS BIGINT) AS cr
        FROM dn GROUP BY b),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                   CAST(SUM(cr) AS BIGINT) AS nr FROM stats),
    scored AS (
        SELECT dn.doc_id,
               CAST(SUM(dn.n) AS BIGINT) AS n_feats,
               CAST(SUM(dn.n *
                    (((length(bin(s.ct + 1)) - 1)
                      - (length(bin(t.nt + {textops.DSIR_BUCKETS})) - 1))
                     - ((length(bin(s.cr + 1)) - 1)
                        - (length(bin(t.nr + {textops.DSIR_BUCKETS})) - 1))))
                    AS BIGINT) AS logw_bits
        FROM dn JOIN stats s USING (b) CROSS JOIN tot t
        GROUP BY dn.doc_id)
    SELECT d.doc_id, d.source,
           COALESCE(s.n_feats, 0) AS n_feats,
           COALESCE(s.logw_bits, 0) AS logw_bits,
           CASE WHEN COALESCE(s.n_feats, 0) > 0
                THEN CAST(s.logw_bits AS DOUBLE)
                     / CAST(s.n_feats AS DOUBLE)
                ELSE 0.0 END AS avg_bits,
           COALESCE(s.logw_bits, 0) > 0 AS kept
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
    doc="DSIR data selection (Xie et al. 2023): per-doc importance "
        "log-weight of hashed unigram+bigram features under the "
        "target-source distribution vs the raw corpus, in exact "
        "integer bits — 1024-row bucket stats broadcast, no skew axis, "
        "text never shuffles.",
)

_register(
    "tfidf_keywords",
    ["documents"],
    # sort=False: O(5n) keyword rows; hash compare is order-insensitive.
    lambda documents: textops.tfidf_keywords(documents, sort=False),
    f"""
    WITH {_TF_CTES},
    dft AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY word),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf,
               CAST((length(bin(nd.d)) - 1)
                    - (length(bin(dft.df)) - 1) AS BIGINT) AS idf_bits,
               CAST(tf.tf * ((length(bin(nd.d)) - 1)
                             - (length(bin(dft.df)) - 1)) AS BIGINT)
                   AS score
        FROM tf JOIN dft USING (word) CROSS JOIN nd)
    SELECT doc_id, rank, word, tf, idf_bits, score FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                    PARTITION BY doc_id
                    ORDER BY score DESC, word ASC) AS BIGINT) AS rank
        FROM scored) t
    WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
    doc="Per-document top-5 keywords by quantized tf-idf (integer-bits "
        "idf, deterministic word tiebreak) — topic tagging / per-domain "
        "vocabulary reports.",
)

# bm25_topk oracle: the score is pure IEEE +,-,*,/ over integer tf/df/dl
# (rational idf — no ln(), which is libm-dependent), with per-term
# contributions summed in fixed left-to-right term order, so both
# engines produce bit-identical doubles. Constants are interpolated via
# repr() so the SQL literals parse to the same doubles Spark uses.
def _bm25_oracle(terms: list[str], k: int, k1: float, b: float) -> str:
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(words, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n               ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    norm = (
        f"(({1.0 - b!r} + {b!r} * (CAST(dl AS DOUBLE) "
        f"/ (CAST(sum_dl AS DOUBLE) / n_docs))))"
    )
    score = " + ".join(
        f"(((CAST(n_docs - df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{i} AS DOUBLE) * {k1 + 1.0!r})"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1!r} * {norm})))"
        for i in range(len(terms))
    )
    return f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS dl,
               {tf_cols}
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\W+'),
                                 x -> x <> '') AS words
              FROM documents)
    ), stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
               {df_cols}
        FROM base
    ), scored AS (
        SELECT doc_id, dl, ({score}) AS score
        FROM base, stats
    )
    SELECT doc_id, dl, score, rank FROM (
        SELECT doc_id, dl, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                    AS BIGINT) AS rank
        FROM scored) t
    WHERE rank <= {k} ORDER BY rank
    """


_register(
    "bm25_topk",
    ["documents"],
    textops.bm25_topk,
    _bm25_oracle(textops.BM25_TERMS, 15, 1.2, 0.75),
    doc="BM25 keyword retrieval (rational-idf variant, log-free for "
        "cross-engine bit-exactness): per-row tf/dl on the scan, one "
        "broadcast stats row, TakeOrdered top-k — two corpus scans, no "
        "text shuffle.",
)

# -- round 11: context-window co-occurrence.

_register(
    "skipgram_pmi",
    ["documents"],
    textops.skipgram_pmi,
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws
        FROM documents),
    pairs AS (
        SELECT LEAST(p.a, p.b) AS w1, GREATEST(p.a, p.b) AS w2 FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(ws) - o.o),
                       i -> struct_pack(a := ws[i], b := ws[i + o.o]))) AS p
            FROM w, (SELECT unnest([1, 2, 3]) AS o) o
            WHERE len(ws) > o.o) t),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM pairs GROUP BY w1, w2),
    uni AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS u FROM (
            SELECT unnest(ws) AS word FROM w) GROUP BY word),
    tot AS (SELECT CAST((SELECT SUM(u) FROM uni) AS BIGINT) AS nu,
                   CAST((SELECT SUM(cnt) FROM bgc) AS BIGINT) AS np)
    SELECT b.w1, b.w2, b.cnt,
           CAST(((length(bin(b.cnt)) - 1) + 2 * (length(bin(t.nu)) - 1))
                - ((length(bin(t.np)) - 1) + (length(bin(ua.u)) - 1)
                   + (length(bin(ub.u)) - 1)) AS BIGINT) AS pmi_bits
    FROM bgc b
    JOIN uni ua ON ua.word = b.w1
    JOIN uni ub ON ub.word = b.w2
    CROSS JOIN tot t
    ORDER BY b.cnt DESC, b.w1 ASC, b.w2 ASC
    LIMIT 50
    """,
    doc="Skip-gram (window<=3) co-occurrence PMI: top-50 unordered "
        "word pairs by windowed co-occurrence with integer-bits PMI — "
        "the word2vec/GloVe statistic; all offset streams built "
        "in-kernel (tail-zips, one explode), no position self-join.",
)
