"""LLM-pipeline operators: dedup, similarity/ANN, text quality, multimodal, stream→table twins.

Mechanically split from the original single-file registry; declaration
order is preserved by the import order in :mod:`flink_snappydata_spark.specs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.functions import scalar
from flink_snappydata_spark.operators import relational
from flink_snappydata_spark.operators import wordcount
from flink_snappydata_spark.pipeline import curation
from flink_snappydata_spark.pipeline import dedup
from flink_snappydata_spark.pipeline import multimodal
from flink_snappydata_spark.pipeline import packing
from flink_snappydata_spark.pipeline import sampling
from flink_snappydata_spark.pipeline import similarity
from flink_snappydata_spark.pipeline import text as textops
from flink_snappydata_spark.util import range_spread

from flink_snappydata_spark.specs.base import (
    QUERIES,
    QuerySpec,
    _register,
)

# ---------------------------------------------------------------------------
# LLM-pipeline operators (north star): dedup, similarity, text analysis,
# multimodal columns
# ---------------------------------------------------------------------------

_SHINGLES_SQL = r"""
    w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS words
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(words) >= 3
                 THEN list_transform(generate_series(1, len(words)-2),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                 ELSE [array_to_string(words, ' ')] END)) AS sh
        FROM w
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

_register(
    "dedup_exact",
    ["documents"],
    dedup.exact_dedup,
    """
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, text
    FROM documents GROUP BY text ORDER BY doc_id
    """,
    doc="Exact dedup via hash groupBy (digest-keyed at scale).",
)

_register(
    "novelty_scores",
    ["documents"],
    textops.novelty_scores,
    f"""
    WITH {_SHINGLES_SQL},
    dfreq AS (SELECT sh AS g, COUNT(*) AS df FROM sh GROUP BY sh)
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS novelty,
           CAST(SUM(CASE WHEN d.df >= 10 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS boilerplate_frac
    FROM sh s JOIN dfreq d ON d.g = s.sh
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    doc="Per-doc corpus novelty vs boilerplate fractions over shingle "
        "document frequencies (template/licence-blob pruning signal).",
)

_NOVELTY_ORACLE = QUERIES["novelty_scores"].oracle


def _stream_state_scored(spark, docs, prefix, table_kinds, ingest, score):
    """Shared harness for the stream→queryable-table correctness
    queries: land the fixture as a 2-file parquet copy, replay it as a
    maxFilesPerTrigger=1 stream (2 micro-batches — the minimum that
    still exercises cross-batch state folding; deeper 4-batch replay
    and retry/resume behavior are pinned separately by the streaming
    equivalence tests, so the per-round correctness sweep does not pay
    4 trigger + catalog-write rounds per twin) through ``ingest``,
    score the accumulated state with ``score``, then clean up EVERY
    piece of state — the temp dir holding the parquet copy and the
    checkpoint, and the managed state tables — on every exit path, so
    repeated correctness runs cannot accumulate warehouse garbage. The scored frame is
    ``localCheckpoint``-ed (eagerly materialized, lineage truncated)
    first, so dropping the state tables cannot invalidate it.

    Fresh per-invocation table names are kept as defense: managed-table
    LOCATIONS in the shared warehouse outlive a crashed previous
    process's catalog, where a fixed name would collide with a leftover
    directory this session's DROP TABLE cannot see."""
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:8]
    names = [f"fss_{prefix}_{kind}_{tag}" for kind in table_kinds]
    with tempfile.TemporaryDirectory(
        prefix=f"fss-{prefix}stream-", ignore_cleanup_errors=True
    ) as tmp:
        try:
            docs.repartition(2).write.mode("overwrite").parquet(f"{tmp}/src")
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/src")
            )
            ingest(stream, *names, checkpoint=f"{tmp}/ckpt")
            return score(spark, *names).localCheckpoint(eager=True)
        finally:
            for n in names:
                spark.sql(f"DROP TABLE IF EXISTS {n}")


def _novelty_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``novelty_scores`` under the full
    correctness gate: the documents fixture arrives as a 2-file stream
    (maxFilesPerTrigger=1 → 2 micro-batches), each batch appends its
    shingle index + log-structured DF-count partials via foreachBatch
    (the reference's continuous stream→SnappyData-table loop,
    ``ParquetTableJoin.scala:32-43``), and the returned frame scores the
    accumulated state — row-identical to the one-shot batch op, so the
    batch oracle applies verbatim. State (tables, checkpoint, fixture
    copy) is torn down after scoring via :func:`_stream_state_scored`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _stream_state_scored(
        spark,
        docs,
        "nov",
        ["idx", "cnt"],
        textops.streaming_novelty_ingest,
        textops.novelty_from_state,
    )


QUERIES["novelty_streamed"] = QuerySpec(
    fn=_novelty_streamed,
    oracle=_NOVELTY_ORACLE,
    doc="Streaming-ingest novelty: micro-batched shingle index + "
        "log-structured DF partials into queryable catalog tables, "
        "scored from state (stream→table loop on the LLM-pipeline set).",
)

_register(
    "dedup_ngram_jaccard",
    ["documents"],
    dedup.ngram_jaccard_pairs,
    f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    doc="Exact word-3-gram Jaccard near-dup pairs via prefix-filtered "
        "shingle inverted index (AllPairs-style, recall-exact).",
)

_register(
    "containment_pairs",
    ["documents"],
    dedup.containment_pairs,
    f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           n_inter * 1.0 / LEAST(sa.n_sh, sb.n_sh) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / LEAST(sa.n_sh, sb.n_sh) >= 0.9
    """,
    doc="Asymmetric containment (overlap-coefficient) pairs at t=0.9 — "
        "catches a short document quoted nearly whole inside a longer "
        "one (Jaccard-invisible); smaller-side prefix filter joined "
        "against the full shingle index, exact packed-set verify.",
)


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    # Deterministic benchmark stand-in: every 20th document is "the eval
    # set"; the rest is the training corpus being screened.
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return dedup.decontaminate(train, bench)


QUERIES["decontamination"] = QuerySpec(
    fn=_decontaminate,
    oracle=f"""
    WITH {_SHINGLES_SQL},
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0)
    SELECT s.doc_id, COUNT(*) AS n_hits
    FROM sh s JOIN bench b ON s.sh = b.sh
    WHERE s.doc_id % 20 <> 0
    GROUP BY s.doc_id
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination: training docs sharing >=1 word-3-gram "
        "with the eval corpus, with distinct-overlap counts (shingle "
        "inverted-index join; eval side broadcast).",
)

_register(
    "source_contamination",
    ["documents"],
    dedup.source_contamination,
    f"""
    WITH {_SHINGLES_SQL},
    ss AS (
        SELECT DISTINCT d.source, s.sh
        FROM sh s JOIN documents d ON d.doc_id = s.doc_id),
    vocab AS (SELECT source, COUNT(*) AS v FROM ss GROUP BY source),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source)
    SELECT src_a, src_b, n_shared,
           CAST(n_shared AS DOUBLE)
               / CAST(va.v + vb.v - n_shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN vocab va ON va.source = src_a
    JOIN vocab vb ON vb.source = src_b
    ORDER BY src_a, src_b
    """,
    doc="Cross-source contamination matrix: shared distinct word-3-gram "
        "counts + vocabulary Jaccard per source pair (pair expansion "
        "inside each shingle's bounded source set — no index self-join).",
)

_register(
    "repeated_passages",
    ["documents"],
    dedup.repeated_passages,
    rf"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws
        FROM documents),
    anch AS (
        SELECT doc_id, ws,
               unnest(list_filter(
                   generate_series(1, len(ws) - {dedup.PASSAGE_WINDOW - 1}),
                   i -> ('0x' || substr(md5(ws[i]), 1, 15))::BIGINT
                        % {dedup.PASSAGE_ANCHOR_MOD} = 0)) AS p
        FROM d WHERE len(ws) >= {dedup.PASSAGE_WINDOW}),
    win AS (
        SELECT doc_id,
               sha256(array_to_string(
                   list_slice(ws, p, p + {dedup.PASSAGE_WINDOW - 1}),
                   ' ')) AS digest
        FROM anch)
    SELECT digest,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           MIN(doc_id) AS first_doc
    FROM win GROUP BY digest
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY digest
    """,
    doc="Exact repeated-passage mining: 20-word verbatim passages "
        "shared by >=2 documents, found via content-defined anchor "
        "words (md5-prefix mod) so unaligned copies sample identical "
        "windows; only digests shuffle.",
)


def _neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Keep the pairs' presentation sort: its 1-partition barrier also
    # collapses every tiny CC-loop shuffle to single-partition inputs,
    # measured faster than feeding the loop 32-partition pairs.
    return dedup.neardup_clusters(dedup.ngram_jaccard_pairs(docs, threshold=0.8))


#: Recursive connected-components CTE chain over the exact-Jaccard pair
#: graph, ending at ``cc_labels`` (doc_id, cluster_id) — shared by the
#: dedup_clusters oracle and the canonical-pick oracle built on top.
_CC_CTES = f"""
    {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.8),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    cc_labels AS (
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
        FROM reach GROUP BY s)
"""

QUERIES["dedup_clusters"] = QuerySpec(
    fn=_neardup_clusters,
    oracle=f"""
    WITH RECURSIVE
    {_CC_CTES}
    SELECT doc_id, cluster_id FROM cc_labels ORDER BY doc_id
    """,
    doc="Near-dup cluster assignment: connected components over the "
        "exact-Jaccard pair graph via min-label propagation to fixpoint "
        "(cluster_id = smallest reachable doc_id; oracle = recursive "
        "reachability).",
)



# MinHash LSH candidates are exact-Jaccard VERIFIED, so the final output
# contract is identical to the exact shingle join whenever banding recall
# is 1 at the threshold (it is on the fixtures — pinned by
# test_minhash_matches_exact_jaccard). The oracle is therefore the same
# SQL as dedup_ngram_jaccard: a recall miss would surface as a row-count
# mismatch.
_register(
    "dedup_minhash",
    ["documents"],
    dedup.minhash_dedup_pairs,
    f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    doc="MinHash(64)+LSH(16x4) banded candidates, exact-Jaccard verified; "
        "oracle = the exact shingle join (LSH recall 1 at the threshold on "
        "the fixtures, pinned by tests).",
)

def _simhash_oracle() -> str:
    """DuckDB twin of the portable 60-bit SimHash: identical md5-hex→
    BIGINT token hash, per-bit ±1 sums, sign fingerprint, 4×15-bit band
    blocking, Hamming<=3 verify."""
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(dedup.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(dedup.SIMHASH_BITS)
    )
    return rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  x -> x <> '')) AS word
        FROM documents
    ), th AS (
        SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
        FROM tok
    ), sums AS (
        SELECT doc_id,
               {bit_sums}
        FROM th GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, {fp} AS simhash FROM sums
    ), bands AS (
        SELECT doc_id, simhash, j, (simhash >> (j * 15)) & 32767 AS bv
        FROM fp, generate_series(0, 3) s(j)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """


_register(
    "dedup_simhash",
    ["documents"],
    dedup.simhash_dedup_pairs,
    _simhash_oracle(),
    doc="60-bit portable SimHash fingerprints (md5-derived token hash — "
        "DuckDB-reproducible), 15-bit band blocking, Hamming<=3 verify.",
)

_QCOMP_SQL = """
    comp AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)
    ), norms AS (SELECT vec_id, SUM(q*q) AS n2 FROM comp GROUP BY vec_id)
"""


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_cosine_topk(load_table(spark, sf_dir, "embeddings"))


QUERIES["ann_cosine_topk"] = QuerySpec(
    fn=_ann_topk,
    oracle=f"""
    WITH {_QCOMP_SQL},
    dots AS (
        SELECT q.vec_id AS query_id, t.vec_id AS vec_id, SUM(q.q * t.q) AS dot
        FROM comp q JOIN comp t ON q.i = t.i AND q.vec_id <> t.vec_id
        WHERE q.vec_id < 5
        GROUP BY q.vec_id, t.vec_id),
    scored AS (
        SELECT query_id, d.vec_id,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(nq.n2 AS DOUBLE)/1e12)
                          * (CAST(nt.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nt ON nt.vec_id = d.vec_id)
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored) t
    WHERE rank <= 10 ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-k baseline (quantized-exact scores).",
)

_register(
    "embedding_neardup",
    ["embeddings"],
    similarity.cosine_neardup_pairs,
    f"""
    WITH {_QCOMP_SQL},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.q * b.q) AS dot
        FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
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
    doc="Exact embedding-cosine near-dup pairs (brute-force baseline; "
        "LSH variant is ann_lsh_neardup).",
)


def _semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = F.pmod(F.col("vec_id"), F.lit(50)) == 0
    # 0.35 keeps the fixture query non-degenerate at both check scales
    # (24 flagged at sf0.01, 13 at sf0.001); real pipelines tune this to
    # their embedding model's paraphrase band.
    return similarity.semantic_decontamination(
        emb.filter(~is_eval), emb.filter(is_eval), threshold=0.35
    )


QUERIES["semantic_decontamination"] = QuerySpec(
    fn=_semantic_decontamination,
    oracle=f"""
    WITH {_QCOMP_SQL},
    dots AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS eval_id,
               SUM(a.q * b.q) AS dot
        FROM comp a JOIN comp b ON a.i = b.i
        WHERE a.vec_id % 50 <> 0 AND b.vec_id % 50 = 0
        GROUP BY a.vec_id, b.vec_id),
    cosines AS (
        SELECT d.vec_id, d.eval_id,
               (CAST(d.dot AS DOUBLE)/1e12)
                   / sqrt((CAST(na.n2 AS DOUBLE)/1e12)
                          * (CAST(ne.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms ne ON ne.vec_id = d.eval_id),
    hits AS (SELECT * FROM cosines WHERE cosine >= 0.35)
    SELECT agg.vec_id, agg.n_matches, pick.best_eval, agg.best_cosine
    FROM (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MAX(cosine) AS best_cosine
        FROM hits GROUP BY vec_id) agg
    JOIN (
        SELECT vec_id, eval_id AS best_eval FROM (
            SELECT vec_id, eval_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, eval_id ASC) AS r
            FROM hits) t
        WHERE r = 1) pick ON pick.vec_id = agg.vec_id
    ORDER BY agg.vec_id
    """,
    doc="Embedding-space benchmark decontamination: train vectors whose "
        "cosine to any (broadcast, capped) eval vector reaches 0.35 — "
        "the semantic twin of the n-gram decontaminate; fixture eval "
        "split = vec_id % 50 == 0.",
)

#: ann_lsh_neardup verification corpus: the fixture embeddings plus
#: exact copies of vec_id < 50 under shifted ids. The fixture has no
#: organic >=0.9-cosine pairs, so the planted duplicates give the LSH
#: path a non-empty, structurally recall-1 ground truth (identical
#: vectors collide in every hash table), which makes the query
#: hash-checkable against the brute-force SQL oracle. Recall under
#: noise is pinned separately in tests (planted noisy dups).
_LSH_PLANT_N = 50
_LSH_PLANT_SHIFT = 1_000_000


def _ann_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < _LSH_PLANT_N).withColumn(
        "vec_id", F.col("vec_id") + F.lit(_LSH_PLANT_SHIFT)
    )
    return similarity.lsh_neardup_pairs(emb.unionByName(planted), threshold=0.9)


QUERIES["ann_lsh_neardup"] = QuerySpec(
    fn=_ann_lsh_neardup,
    oracle=f"""
    WITH allv AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {_LSH_PLANT_SHIFT}, embedding FROM embeddings
        WHERE vec_id < {_LSH_PLANT_N}
    ),
    comp AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        FROM allv, generate_series(1, 64) s(i)
    ), norms AS (SELECT vec_id, SUM(q*q) AS n2 FROM comp GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.q * b.q) AS dot
        FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id)
    SELECT vec_a, vec_b, cosine FROM (
        SELECT vec_a, vec_b,
               (CAST(dot AS DOUBLE)/1e12)
                   / sqrt((CAST(na.n2 AS DOUBLE)/1e12)
                          * (CAST(nb.n2 AS DOUBLE)/1e12)) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = vec_a
        JOIN norms nb ON nb.vec_id = vec_b) t
    WHERE cosine >= 0.9 ORDER BY vec_a, vec_b
    """,
    doc="Hyperplane-LSH bucketed near-dup candidates + exact verify "
        "(scale path, Hamming-1 multiprobe on); hash-checked against "
        "the brute-force oracle on a planted-duplicate corpus.",
)

_register(
    "ann_ivf_topk",
    ["embeddings"],
    similarity.ivf_recall_check,
    """
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
    doc="IVF-style ANN top-k with deterministic codebook + n_probe lists "
        "(scale path); emits per-query recall>=0.4 verdict vs in-query "
        "brute force (bound-verdict pattern — full hash-match).",
    judge_bearing=True,
)

_register(
    "ann_ivf_trained",
    ["embeddings"],
    similarity.ivf_trained_recall_check,
    """
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
    doc="IVF ANN with a TRAINED Lloyd's-k-means coarse quantizer "
        "(train->index->probe as one op); per-query recall>=0.4 "
        "verdict vs in-query brute force (observed minimum 0.7 "
        "across sf0.001-sf0.1).",
    judge_bearing=True,
)

_register(
    "text_token_count",
    ["documents"],
    textops.token_counts,
    rf"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text),
                    '{textops.TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="Whitespace + BPE-ish regex token counting.",
)

_register(
    "text_quality",
    ["documents"],
    textops.quality_scores,
    r"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS words,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(regexp_replace(lower(text), '\W+', '', 'g'))
                    AS BIGINT) AS word_chars,
               CAST(length(text)
                    - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                    AS BIGINT) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           word_chars * 1.0 / len(words) AS mean_word_len,
           n_punct * 1.0 / n_chars AS punct_ratio,
           CAST(len(list_filter(words, x -> list_contains(
                ['the','a','an','and','or','is','are','to','of','in'], x)))
                AS BIGINT) * 1.0 / len(words) AS stopword_ratio,
           (len(words) >= 5 AND word_chars * 1.0 / len(words) >= 2.0
            AND word_chars * 1.0 / len(words) <= 12.0
            AND n_punct * 1.0 / n_chars <= 0.2) AS keep
    FROM base
    """,
    doc="Pre-training quality filters: word stats, punct/stopword ratios.",
)

#: Hashed-linear-quality-model scoring CTE chain, ending at
#: ``scored(doc_id, n_words, score_sum)`` — shared by the
#: quality_model_scores oracle and the canonical-pick oracle (which
#: picks each near-dup cluster's max-margin member).
_QM_CTES = rf"""
    qm_words AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS ws
        FROM documents),
    scored AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(COALESCE(list_aggregate(list_transform(ws,
                    x -> ((('0x' || substr(md5(x), 1, 15))::BIGINT
                           % {textops.QM_BUCKETS})
                          * {textops.QM_MULT} + {textops.QM_INC})
                         % {textops._QM_MOD} - {textops._QM_CENTER}),
                    'sum'), 0) AS BIGINT) AS score_sum
        FROM qm_words)
"""

#: The quality-model margin as a SQL expression over a ``scored`` row.
_QM_MARGIN = (
    f"CASE WHEN n_words > 0 THEN CAST(score_sum AS DOUBLE)"
    f" / (n_words * CAST({textops._QM_CENTER} AS BIGINT))"
    f" ELSE 0.0 END"
)

_register(
    "quality_model_scores",
    ["documents"],
    textops.quality_model_scores,
    rf"""
    WITH {_QM_CTES}
    SELECT doc_id, n_words, score_sum,
           CASE WHEN n_words > 0
                THEN CAST(score_sum AS DOUBLE)
                     / (n_words * CAST({textops._QM_CENTER} AS BIGINT))
                ELSE 0.0 END AS margin,
           CASE WHEN n_words > 0
                THEN CAST(score_sum AS DOUBLE)
                     / (n_words * CAST({textops._QM_CENTER} AS BIGINT)) > 0.0
                ELSE FALSE END AS keep
    FROM scored ORDER BY doc_id
    """,
    doc="Model-based quality filter (fastText-filter shape): linear "
        "scorer over hashing-trick token features — portable md5 bucket "
        "hash, LCG-derived integer weights, exact int64 sum, one "
        "int->double division; pure per-row JVM expressions, no shuffle.",
)


def _langid_hits_sql(kw: str) -> str:
    pad = f" {kw} "
    return (
        f"CAST((length(padded) - length(replace(padded, '{pad}', '')))"
        f" / {len(pad)} AS BIGINT)"
    )


def _langid_oracle() -> str:
    langs = list(textops.LANG_KEYWORDS)
    score_exprs = {
        lang: " + ".join(_langid_hits_sql(k) for k in kws)
        for lang, kws in textops.LANG_KEYWORDS.items()
    }
    cases = []
    for idx, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        for j, other in enumerate(langs):
            if j < idx:
                conds.append(f"s_{lang} > s_{other}")
            elif j > idx:
                conds.append(f"s_{lang} >= s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    scores_select = ",\n           ".join(
        f"({score_exprs[lang]}) AS s_{lang}" for lang in langs
    )
    out_cols = ", ".join(f"s_{lang} AS score_{lang}" for lang in langs)
    # Han-script zh detector, same literal char class + ratio as the
    # engine (text.CJK_CLASS / text.CJK_RATIO); the script CASE runs
    # before the keyword vote, mirroring language_id's precedence.
    zh_score = (
        "CAST(length(text) - length(regexp_replace(text, "
        f"'{textops.CJK_CLASS}', '', 'g')) AS BIGINT)"
    )
    zh_case = (
        f"WHEN s_zh > 0 AND s_zh * {textops.CJK_RATIO} >= n_chars "
        "THEN 'zh'"
    )
    return f"""
    WITH padded_docs AS (
        SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded,
               {zh_score} AS s_zh,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, s_zh, n_chars,
           {scores_select}
        FROM padded_docs
    )
    SELECT doc_id, lang, {out_cols}, s_zh AS score_zh,
           CASE {zh_case} {' '.join(cases)} ELSE 'und' END AS pred_lang
    FROM scored
    """


_register(
    "text_langid",
    ["documents"],
    textops.language_id,
    _langid_oracle(),
    doc="Keyword-hit language ID (en/fr/de/es) with deterministic argmax.",
)

_register(
    "langid_confusion",
    ["documents"],
    textops.langid_confusion,
    f"""
    WITH pred AS ({_langid_oracle()}),
    cm AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, pred_lang),
    tot AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total
        FROM pred GROUP BY lang)
    SELECT cm.lang, cm.pred_lang, cm.n, tot.lang_total,
           CAST(cm.n AS DOUBLE) / CAST(tot.lang_total AS DOUBLE) AS share
    FROM cm JOIN tot ON tot.lang = cm.lang
    ORDER BY cm.lang, cm.pred_lang
    """,
    doc="Language-ID confusion matrix vs the labeled lang column: "
        "per (truth, prediction) counts + row-normalized shares "
        "(diagonal = per-language recall) — classifier QA before "
        "gating a corpus on it.",
)

_register(
    "doc_fingerprint",
    ["documents"],
    textops.doc_fingerprints,
    rf"""
    SELECT doc_id,
           list_min(list_transform(
               range(1, greatest(length(text) - {textops.FP_WINDOW - 1}, 1) + 1),
               i -> ('0x' || substr(md5(substr(text, i, {textops.FP_WINDOW})),
                                    1, 15))::BIGINT)) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
    doc="Winnowing-style min-hash fingerprint over 8-char windows; "
        "portable md5-derived window hash (DuckDB-reproducible, "
        "full hash-match), all-JVM higher-order functions.",
)

_register(
    "winnowing_fingerprints",
    ["documents"],
    textops.winnowing_fingerprints,
    rf"""
    WITH h AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(length(text)
                                     - {textops.FP_WINDOW - 1}, 1) + 1),
                   i -> ('0x' || substr(md5(substr(text, i,
                                        {textops.FP_WINDOW})),
                         1, 15))::BIGINT) AS hs
        FROM documents),
    s AS (
        SELECT doc_id, hs,
               list_distinct(list_transform(
                   range(0, greatest(len(hs)
                                     - {textops.WINNOW_WINDOW}, 0) + 1),
                   j -> list_min(list_slice(hs, j + 1,
                                 j + {textops.WINNOW_WINDOW})))) AS sel
        FROM h)
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_windows,
           CAST(len(sel) AS BIGINT) AS n_fingerprints,
           CAST(len(sel) AS DOUBLE) / CAST(len(hs) AS DOUBLE)
               AS density
    FROM s ORDER BY doc_id
    """,
    doc="True MOSS winnowing (SIGMOD'03): min hash of each run of 4 "
        "consecutive 8-char-window hashes, distinct selection per doc "
        "— shared substrings >= 11 chars guarantee a shared "
        "fingerprint at ~2/(w+1) density; per-row JVM higher-order "
        "expressions, no shuffle beyond the sort gate.",
)

_register(
    "winnowing_pairs",
    ["documents"],
    textops.winnowing_pairs,
    rf"""
    WITH h AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(length(text)
                                     - {textops.FP_WINDOW - 1}, 1) + 1),
                   i -> ('0x' || substr(md5(substr(text, i,
                                        {textops.FP_WINDOW})),
                         1, 15))::BIGINT) AS hs
        FROM documents),
    s AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(hs)
                                     - {textops.WINNOW_WINDOW}, 0) + 1),
                   j -> list_min(list_slice(hs, j + 1,
                                 j + {textops.WINNOW_WINDOW})))) AS sel
        FROM h),
    fp AS (SELECT doc_id, unnest(sel) AS fp FROM s),
    ok AS (SELECT fp FROM fp GROUP BY fp
           HAVING COUNT(*) BETWEEN 2 AND 16),
    k AS (SELECT f.doc_id, f.fp FROM fp f JOIN ok USING (fp)),
    pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM k a JOIN k b
             ON a.fp = b.fp AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """,
    doc="Partial-copy candidate pairs from shared winnowing "
        "fingerprints (>= 2 shared, boilerplate fingerprints with "
        "df > 16 dropped): the local plagiarism detector whole-doc "
        "MinHash misses; df-filter BEFORE collect_set bounds buckets, "
        "in-kernel pair expansion, no postings self-join.",
)

_register(
    "agg_percentile",
    ["orders"],
    relational.agg_percentile,
    """
    SELECT o_orderpriority,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5)
               AS p50_cents,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.9)
               AS p90_cents,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Exact interpolated percentiles over integer cents (bit-identical "
        "interpolation on both engines).",
)

_register(
    "agg_histogram",
    ["orders"],
    relational.agg_histogram,
    """
    SELECT CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10) // 60000000
                AS BIGINT) AS bucket,
           COUNT(*) AS n_orders
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
    doc="Equi-width histogram over exact cents (pure integer binning).",
)

_register(
    "agg_approx_percentile",
    ["orders"],
    relational.agg_approx_percentile,
    """
    SELECT DISTINCT o_orderpriority,
           TRUE AS p50_within_bound, TRUE AS p90_within_bound
    FROM orders ORDER BY o_orderpriority
    """,
    doc="Sketch-based percentiles (no per-group sort; mergeable state — "
        "the scale path); emits the deterministic sketch-vs-exact bound "
        "verdict per group (full hash-match).",
    judge_bearing=True,
)

_register(
    "scalar_similarity",
    ["nation"],
    scalar.similarity_functions,
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist,
           levenshtein(a.n_name, b.n_name) * 1.0
               / greatest(length(a.n_name), length(b.n_name)) AS edit_ratio
    FROM nation a CROSS JOIN nation b
    WHERE a.n_name < b.n_name
    ORDER BY name_a, name_b
    """,
    doc="Edit-distance fuzzy matching over all dimension-name pairs.",
)


def _curation_oracle() -> str:
    langid = _langid_oracle()
    return rf"""
    WITH reps AS (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY text
    ), qbase AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           x -> x <> '') AS words,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(regexp_replace(lower(text), '\W+', '', 'g'))
                    AS BIGINT) AS word_chars,
               CAST(length(text)
                    - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                    AS BIGINT) AS n_punct
        FROM documents
    ), quality AS (
        SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
               (len(words) >= 5 AND word_chars * 1.0 / len(words) >= 2.0
                AND word_chars * 1.0 / len(words) <= 12.0
                AND n_punct * 1.0 / n_chars <= 0.2) AS keep
        FROM qbase
    ), lang AS (
        SELECT doc_id, pred_lang FROM ({langid}) t
    )
    SELECT r.doc_id AS doc_id, n_copies, pred_lang, n_words
    FROM reps r
    JOIN quality q ON q.doc_id = r.doc_id
    JOIN lang l ON l.doc_id = r.doc_id
    WHERE q.keep
    ORDER BY doc_id
    """


_register(
    "curation_pipeline",
    ["documents"],
    curation.curation_pipeline,
    _curation_oracle(),
    doc="Flagship curation flow: exact dedup -> quality gates -> langid, "
        "one row per surviving document (composition of the individual "
        "declared operators).",
)

_register(
    "canonical_pick",
    ["documents"],
    # sort=False: the driver's value hash is order-insensitive, so the
    # registered form skips the presentation sort (the cluster list is
    # O(n/2) on a duplicate-heavy corpus — no reason to range-sort it).
    lambda documents: curation.canonical_pick(documents, sort=False),
    f"""
    WITH RECURSIVE
    {_CC_CTES},
    {_QM_CTES}
    SELECT agg.cluster_id, pick.keep_doc_id, agg.n_members,
           agg.best_margin
    FROM (
        SELECT l.cluster_id,
               COUNT(*) AS n_members,
               MAX({_QM_MARGIN}) AS best_margin
        FROM cc_labels l JOIN scored s ON s.doc_id = l.doc_id
        GROUP BY l.cluster_id) agg
    JOIN (
        SELECT cluster_id, doc_id AS keep_doc_id FROM (
            SELECT l.cluster_id, l.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                       ORDER BY {_QM_MARGIN} DESC, l.doc_id ASC) AS r
            FROM cc_labels l JOIN scored s ON s.doc_id = l.doc_id) t
        WHERE r = 1) pick ON pick.cluster_id = agg.cluster_id
    ORDER BY agg.cluster_id
    """,
    doc="Canonical-document selection: per near-dup cluster keep the "
        "max-quality-margin member (tie -> smallest doc_id) — the "
        "keep/drop decision step after pairwise dedup.",
)

_register(
    "leakage_safe_split",
    ["documents"],
    curation.leakage_safe_split,
    f"""
    WITH RECURSIVE
    {_CC_CTES},
    rep AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
        FROM documents d LEFT JOIN cc_labels c ON c.doc_id = d.doc_id),
    b AS (
        SELECT doc_id, rep_id,
               (({packing.portable_hash_sql('rep_id')}) + 1818935405)
                   % 10000 AS bucket
        FROM rep)
    SELECT doc_id, rep_id,
           CASE WHEN bucket < 9800 THEN 'train'
                WHEN bucket < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    doc="Leakage-free train/val/test split: the hash-split bucket is "
        "computed on the near-dup cluster representative (smallest "
        "reachable doc_id), so no near-dup pair ever straddles the "
        "train/eval boundary; unclustered documents hash their own id "
        "(identical to train_val_test_split for them).",
)

_register(
    "dedup_report",
    ["documents"],
    curation.dedup_report,
    f"""
    WITH RECURSIVE
    {_CC_CTES},
    sizes2 AS (
        SELECT cluster_id, COUNT(*) AS sz FROM cc_labels
        GROUP BY cluster_id),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts
        FROM documents),
    cl AS (
        SELECT CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_neardup_docs,
               CAST(COUNT(*) AS BIGINT) AS n_neardup_clusters,
               CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size
        FROM sizes2)
    SELECT n_docs, n_distinct_texts,
           n_docs - n_distinct_texts AS exact_dup_docs,
           n_neardup_docs, n_neardup_clusters, max_cluster_size
    FROM base, cl
    """,
    doc="One-row corpus duplication report: exact-dup mass, near-dup "
        "cluster count/size stats — the pre-dedup policy summary "
        "(digest-keyed distinct, broadcast one-row joins).",
)

_register(
    "line_dedup",
    ["documents"],
    # sort=False: one row per document (corpus-sized output); the
    # driver's value hash is order-insensitive.
    lambda documents: dedup.line_dedup(documents, sort=False),
    f"""
    WITH lines AS (
        SELECT doc_id, unnest(arr) AS line,
               generate_subscripts(arr, 1) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, chr(10)) AS arr
              FROM documents)
    ), keyed AS (
        SELECT doc_id, pos, line,
               ('0x' || substr(md5(line), 1, 15))::BIGINT AS h
        FROM lines
    ), occ AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS occ FROM keyed GROUP BY h
    ), hot AS (SELECT h FROM occ WHERE occ > {dedup.LINE_MAX_OCC}),
    dp AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dropped
        FROM keyed JOIN hot USING (h) GROUP BY doc_id
    ), kept AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS kept_text
        FROM keyed WHERE h NOT IN (SELECT h FROM hot) GROUP BY doc_id
    )
    SELECT d.doc_id AS doc_id,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           COALESCE(dp.n_dropped, 0) AS n_dropped,
           COALESCE(k.kept_text, '') AS kept_text
    FROM documents d LEFT JOIN dp ON dp.doc_id = d.doc_id
    LEFT JOIN kept k ON k.doc_id = d.doc_id
    """,
    doc="Boilerplate line removal (CCNet-style line-level dedup): drop "
        "every line occurring more than 5 times corpus-wide; line text "
        "never shuffles (60-bit md5-prefix digests; ultra-hot digests "
        "broadcast), reassembly is an in-row array filter.",
)

_register(
    "source_doc_cap",
    ["documents"],
    # sort=False: one row per document; hash compare is order-insensitive.
    lambda documents: sampling.per_source_cap(documents, sort=False),
    f"""
    WITH keyed AS (
        SELECT doc_id, source,
               {packing.portable_hash_sql('doc_id')} AS hk
        FROM documents)
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (
                    PARTITION BY source ORDER BY hk, doc_id) - 1
                AS BIGINT) AS cap_rank,
           (ROW_NUMBER() OVER (
                    PARTITION BY source ORDER BY hk, doc_id) - 1)
               < {sampling.CAP_DEFAULT_K} AS kept
    FROM keyed
    """,
    doc="Per-source document cap (domain-cap curation rule): keep the "
        "k hash-smallest documents per source via the two-phase "
        "bucket-histogram rank — no hot-source window partition, no "
        "driver histogram; identical to the naive per-source "
        "row_number.",
)

_register(
    "train_val_test_split",
    ["documents"],
    sampling.split_counts,
    f"""
    WITH b AS (
        SELECT (({packing.portable_hash_sql('doc_id')}) + 1818935405) % 10000
               AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 9800 THEN 'train'
                WHEN bucket < 9900 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM b GROUP BY split ORDER BY split
    """,
    doc="Deterministic hash-bucket train/val/test split (98/1/1) over "
        "doc_id — stable under corpus growth; portable multiplicative "
        "hash + crc32 salt, DuckDB-reproducible bit-for-bit "
        "(1818935405 = crc32('fss-split-v1')).",
)

_MIX_SALT_INT = __import__("zlib").crc32(sampling.MIX_SALT.encode())

_register(
    "token_budget_mix",
    ["documents"],
    sampling.token_budget_mix,
    f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens,
               (({packing.portable_hash_sql('doc_id')}) + {_MIX_SALT_INT})
                   % 10000 AS bucket
        FROM documents),
    thr AS (
        SELECT source,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               LEAST(CAST(10000 AS BIGINT),
                     CAST({sampling.MIX_BUDGET_TOKENS * 10000} AS BIGINT)
                     // GREATEST(CAST(SUM(n_tokens) AS BIGINT),
                                 CAST(1 AS BIGINT))) AS threshold
        FROM d GROUP BY source)
    SELECT d.source,
           CAST(t.total_tokens AS BIGINT) AS total_tokens,
           CAST(t.threshold AS BIGINT) AS threshold,
           CAST(SUM(CASE WHEN d.bucket < t.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN d.bucket < t.threshold THEN d.n_tokens
                         ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM d JOIN thr t ON t.source = d.source
    GROUP BY d.source, t.total_tokens, t.threshold
    ORDER BY d.source
    """,
    doc="Per-source token-budget mixing (pretraining data-mixing step): "
        "deterministic hash-rate downsample so each source lands at "
        "~500 kept tokens; per-source summary with exact thresholds and "
        "kept-token sums (portable hash + BIGINT DIV, full oracle; "
        f"{_MIX_SALT_INT} = crc32('{sampling.MIX_SALT}')).",
)

def _mix_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``token_budget_mix`` under the
    full correctness gate: the documents fixture arrives as a 2-file
    stream (maxFilesPerTrigger=1 → 2 micro-batches); each batch appends
    its per-doc mixing features + per-source token-total partials via
    foreachBatch (``ParquetTableJoin.scala:32-43`` loop), and the
    returned frame rates the accumulated state — row-identical to the
    batch op, so the batch oracle applies verbatim. State is torn down
    after scoring via :func:`_stream_state_scored`."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    return _stream_state_scored(
        spark,
        docs,
        "mix",
        ["docs", "tot"],
        sampling.streaming_mix_ingest,
        sampling.mix_from_state,
    )


QUERIES["mix_streamed"] = QuerySpec(
    fn=_mix_streamed,
    oracle=QUERIES["token_budget_mix"].oracle,
    doc="Streaming-ingest token-budget mixing: per-doc features + "
        "log-structured per-source total partials into queryable "
        "catalog tables, rated from state (second stream→table loop "
        "on the LLM-pipeline set).",
)


def _centroids_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``label_centroids`` under the
    full correctness gate — the third stream→table loop, on the
    EMBEDDING side: the embeddings fixture arrives as a 2-file stream
    (maxFilesPerTrigger=1 → 2 micro-batches); each batch lands its
    per-(label, pos) int64 partial sums via foreachBatch
    (``ParquetTableJoin.scala:32-43`` loop), and the returned frame
    folds the accumulated partials — exactly row-identical to the
    batch op (int64 sums are batching-insensitive), so the batch
    oracle applies verbatim. State is torn down after scoring via
    :func:`_stream_state_scored`."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    return _stream_state_scored(
        spark,
        vecs,
        "cent",
        ["part"],
        similarity.streaming_centroid_ingest,
        similarity.centroids_from_state,
    )


QUERIES["centroids_streamed"] = QuerySpec(
    fn=_centroids_streamed,
    oracle=None,  # set below once label_centroids is registered
    doc="Streaming-ingest per-label centroids: micro-batched int64 "
        "component partial sums into a queryable catalog table, folded "
        "from state (third stream→table loop, embedding side).",
)


def _wordcount_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``wordcount_batch`` under the
    full correctness gate — the reference's SIGNATURE dataflow
    (``KafkaWindowWordCount.scala:25-29``) through its title loop
    (``ParquetTableJoin.scala:32-43``): the documents fixture arrives
    as a 2-file stream; each micro-batch appends its per-word count
    partials, and the returned frame folds the accumulated state —
    exactly row-identical to the batch op, so the batch oracle applies
    verbatim. State is torn down after scoring via
    :func:`_stream_state_scored`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _stream_state_scored(
        spark,
        docs,
        "wc",
        ["cnt"],
        wordcount.streaming_wordcount_ingest,
        wordcount.wordcount_from_state,
    )


QUERIES["wordcount_streamed"] = QuerySpec(
    fn=_wordcount_streamed,
    oracle=QUERIES["wordcount_batch"].oracle,
    doc="Streaming-ingest word count: micro-batched per-word partials "
        "into a queryable catalog table, folded from state (the "
        "reference's signature dataflow through its stream→table loop).",
)


def _dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``dedup_exact`` under the full
    correctness gate — dedup-at-ingest as a CONTINUOUS loop rather
    than a one-shot batch: the documents fixture arrives as a 2-file
    stream; each micro-batch appends per-digest (min doc_id, copy
    count, representative text) partials, and the returned frame folds
    the accumulated state — row-identical to the batch op, so the
    batch oracle applies verbatim. State is torn down after scoring
    via :func:`_stream_state_scored`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _stream_state_scored(
        spark,
        docs,
        "dd",
        ["parts"],
        dedup.streaming_dedup_ingest,
        dedup.dedup_from_state,
    )


QUERIES["dedup_streamed"] = QuerySpec(
    fn=_dedup_streamed,
    oracle=QUERIES["dedup_exact"].oracle,
    doc="Streaming-ingest exact dedup: micro-batched per-digest "
        "min/count/representative partials into a queryable catalog "
        "table, folded from state (dedup-at-ingest through the "
        "stream→table loop; digests shuffle, text never a key).",
)

_register(
    "agg_approx_distinct",
    ["orders"],
    lambda orders: sampling.approx_distinct_verified(
        orders, "o_orderpriority", "o_custkey"
    ),
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="HyperLogLog++ distinct-customer sketch per priority; emits the "
        "exact count + deterministic |approx-exact|<=3*rsd verdict "
        "(full hash-match).",
    judge_bearing=True,
)

_register(
    "image_decode_stats",
    ["documents"],
    # range-partition the ids BEFORE the synth+decode kernels and
    # sort within partitions after: same total order as the old
    # orderBy, one exchange instead of two, and the range-bound
    # sampling job reads the id scan instead of re-running the kernels
    lambda documents: multimodal.image_stats_table(
        multimodal.synthesize_ppm(
            range_spread(documents.select("doc_id"), "doc_id")
        )
    ).sortWithinPartitions("doc_id"),
    """
    WITH px AS (
        SELECT d.doc_id, u.i, (d.doc_id * 31 + u.i) % 256 AS v
        FROM documents d,
             LATERAL (SELECT UNNEST(range(0, (1 + d.doc_id % 4) * 6)) AS i) u
    )
    SELECT doc_id,
           'ppm' AS format,
           CAST(1 + doc_id % 4 AS INTEGER) AS width,
           CAST(2 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           AVG(CASE WHEN i % 3 = 0 THEN v END) AS mean_r,
           AVG(CASE WHEN i % 3 = 1 THEN v END) AS mean_g,
           AVG(CASE WHEN i % 3 = 2 THEN v END) AS mean_b
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    doc="End-to-end image decode: deterministic synthesized PPM payload "
        "per document, decoded by the real pure-Python parser inside "
        "mapInPandas; channel means hash-checked against the closed-form "
        "arithmetic oracle.",
)

_register(
    "image_resize_stats",
    ["documents"],
    # range-partition the ids BEFORE the synth+decode kernels and
    # sort within partitions after: same total order as the old
    # orderBy, one exchange instead of two, and the range-bound
    # sampling job reads the id scan instead of re-running the kernels
    lambda documents: multimodal.image_resize_table(
        multimodal.synthesize_ppm(
            range_spread(documents.select("doc_id"), "doc_id")
        )
    ).sortWithinPartitions("doc_id"),
    """
    WITH px AS (
        SELECT d.doc_id, u.t, ch.ch,
               (d.doc_id * 31
                + (((u.t * (1 + d.doc_id % 4)) // 2) * 3 + ch.ch)) % 256
                   AS v
        FROM documents d,
             LATERAL (SELECT UNNEST(range(0, 2)) AS t) u,
             LATERAL (SELECT UNNEST(range(0, 3)) AS ch) ch
    )
    SELECT doc_id,
           CAST(2 AS INTEGER) AS out_w,
           CAST(1 AS INTEGER) AS out_h,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           AVG(CASE WHEN ch = 0 THEN v END) AS mean_r,
           AVG(CASE WHEN ch = 1 THEN v END) AS mean_g,
           AVG(CASE WHEN ch = 2 THEN v END) AS mean_b
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Decode -> nearest-neighbor resize -> stats of the RESIZED "
        "pixels in one fused mapInPandas pass; the exact byte sum pins "
        "the resize kernel's output against the closed-form floor-index "
        "oracle bit-for-bit.",
)

_register(
    "image_phash_dedup",
    ["documents"],
    multimodal.image_phash_dedup,
    """
    WITH img AS (
        SELECT doc_id,
               doc_id % 32 AS s,
               CAST(2 + (doc_id % 32) % 3 AS BIGINT) AS w0
        FROM documents),
    cell AS (
        SELECT i.doc_id, i.s, r.r, c.c,
               ((r.r // 4) * i.w0 + (c.c * i.w0) // 8) AS i0,
               ((r.r // 4) * i.w0 + ((c.c + 1) * i.w0) // 8) AS i1
        FROM img i,
             LATERAL (SELECT UNNEST(range(0, 8)) AS r) r,
             LATERAL (SELECT UNNEST(range(0, 7)) AS c) c),
    ph AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN
                      (s*31 + i1*3) % 256 + (s*31 + i1*3 + 1) % 256
                          + (s*31 + i1*3 + 2) % 256
                    > (s*31 + i0*3) % 256 + (s*31 + i0*3 + 1) % 256
                          + (s*31 + i0*3 + 2) % 256
                    THEN CAST(1 AS BIGINT) << (r * 7 + c)
                    ELSE 0 END) AS BIGINT) AS phash
        FROM cell GROUP BY doc_id),
    wd AS (
        SELECT d.doc_id, p.phash,
               (1 + (d.doc_id // 32) % 2) * (2 + (d.doc_id % 32) % 3)
                   AS width
        FROM documents d JOIN ph p USING (doc_id))
    SELECT phash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(COUNT(DISTINCT width) AS BIGINT) AS n_res,
           MIN(doc_id) AS rep_doc_id
    FROM wd GROUP BY phash ORDER BY phash
    """,
    doc="Perceptual-hash (dHash) image near-dup groups over planted "
        "multi-resolution payloads: fused decode+resize+hash in one "
        "mapInPandas pass, 56-bit gradient hash, groups collide across "
        "resolutions (n_res > 1) where byte digests cannot; "
        "closed-form arithmetic oracle pins every hash bit.",
)

_register(
    "audio_decode_stats",
    ["documents"],
    # range-partition the ids BEFORE the synth+decode kernels and
    # sort within partitions after: same total order as the old
    # orderBy, one exchange instead of two, and the range-bound
    # sampling job reads the id scan instead of re-running the kernels
    lambda documents: multimodal.audio_stats_table(
        multimodal.synthesize_wav(
            range_spread(documents.select("doc_id"), "doc_id")
        )
    ).sortWithinPartitions("doc_id"),
    """
    WITH s AS (
        SELECT d.doc_id, u.i,
               ((d.doc_id * 17 + u.i * 13) % 65536) - 32768 AS v
        FROM documents d,
             LATERAL (SELECT UNNEST(range(0, 8 + d.doc_id % 8)) AS i) u
    )
    SELECT doc_id,
           'wav' AS format,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           COUNT(*) AS n_samples,
           AVG(v) AS mean_amp,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
    doc="End-to-end audio decode: deterministic synthesized RIFF/WAVE "
        "PCM payload per document, decoded by the real pure-Python "
        "parser inside mapInPandas; frame count, mean amplitude, and "
        "exact int64 energy hash-checked against the closed-form "
        "arithmetic oracle.",
)

_register(
    "audio_silence_stats",
    ["documents"],
    # range-partition the ids BEFORE the synth+decode kernels and
    # sort within partitions after: same total order as the old
    # orderBy, one exchange instead of two, and the range-bound
    # sampling job reads the id scan instead of re-running the kernels
    lambda documents: multimodal.audio_silence_stats(
        multimodal.synthesize_wav_gated(
            range_spread(documents.select("doc_id"), "doc_id")
        )
    ).sortWithinPartitions("doc_id"),
    """
    WITH s AS (
        SELECT d.doc_id, u.i, (u.i // 4) AS frame,
               CASE WHEN ((u.i // 4) + d.doc_id) % 2 = 1 THEN 0
                    ELSE ((d.doc_id * 17 + u.i * 13) % 65536) - 32768
               END AS v
        FROM documents d,
             LATERAL (SELECT UNNEST(range(0, 16 + d.doc_id % 8)) AS i)
                 u),
    f AS (SELECT doc_id, frame,
                 CASE WHEN MAX(abs(v)) >= 1 THEN 1 ELSE 0 END AS loud
          FROM s GROUP BY 1, 2)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(1 - loud) AS BIGINT) AS n_silent,
           CAST(SUM(1 - loud) AS DOUBLE) / COUNT(*) AS silence_ratio,
           CAST(COALESCE(MIN(CASE WHEN loud = 1 THEN frame END), -1)
                AS BIGINT) AS lead_trim,
           CAST(COALESCE(MAX(CASE WHEN loud = 1 THEN frame END), -1)
                AS BIGINT) AS tail_trim
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Audio silence profile + trim points: gated synthesized WAV "
        "(odd docs start silent) decoded by the real parser, frame "
        "RMS-gate analysis fused in the same Arrow pass (one stage "
        "boundary per payload); closed-form arithmetic oracle — "
        "DuckDB reproduces every decoded sample from (doc_id, i).",
)

_register(
    "video_decode_stats",
    ["documents"],
    # range-partition the ids BEFORE the synth+decode kernels and
    # sort within partitions after: same total order as the old
    # orderBy, one exchange instead of two, and the range-bound
    # sampling job reads the id scan instead of re-running the kernels
    lambda documents: multimodal.video_stats_table(
        multimodal.synthesize_avi(
            range_spread(documents.select("doc_id"), "doc_id")
        )
    ).sortWithinPartitions("doc_id"),
    """
    WITH b AS (
        SELECT d.doc_id,
               (d.doc_id * 7 + (u.i // 24) * 11 + (u.i % 24)) % 256 AS v
        FROM documents d,
             LATERAL (SELECT UNNEST(range(0, (2 + d.doc_id % 3) * 24)) AS i) u
    )
    SELECT doc_id,
           'avi' AS format,
           CAST(4 AS INTEGER) AS width,
           CAST(2 AS INTEGER) AS height,
           CAST(2 + doc_id % 3 AS BIGINT) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS sum_bytes,
           AVG(v) AS mean_byte
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
    doc="End-to-end video decode: deterministic synthesized RIFF/AVI "
        "payload (uncompressed 4x2 24-bit DIB frames) per document, "
        "decoded by the real pure-Python container parser inside "
        "mapInPandas; frame count and exact byte-sum/mean hash-checked "
        "against the closed-form arithmetic oracle.",
)

_register(
    "multimodal_features",
    ["documents"],
    multimodal.media_feature_table,
    """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
           sha256(text) AS sha_hex
    FROM documents ORDER BY doc_id
    """,
    doc="Binary multimodal column plumbing: attach payload -> Arrow-batched "
        "feature extraction (digest stand-in for stubbed codecs).",
)
