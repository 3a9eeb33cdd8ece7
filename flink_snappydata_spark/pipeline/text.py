"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting (north star, SURVEY.md
§2.9).

Everything here — fingerprint included — is pure JVM column
expressions with exact integer counts (+ deterministic double ratios),
so the DuckDB oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_snappydata_spark.operators import wordcount
from flink_snappydata_spark.streaming.runtime import (
    ingest_stream_to_tables,
    read_state_table,
)
from flink_snappydata_spark.util import (
    cell_prefix_sums,
    spread,
    top_k,
    tracked_persist,
)

TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

#: Distinctive stopwords per language for the n-gram/keyword heuristic.
LANG_KEYWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "to", "of"],
    "fr": ["le", "la", "les", "et", "est"],
    "de": ["der", "die", "und", "ist", "das"],
    "es": ["el", "los", "las", "es", "y"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "is", "are", "to", "of", "in"]


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + char count per doc."""
    text = F.col("text")
    ws_tokens = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    return documents.select(
        "doc_id",
        F.size(ws_tokens).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length(text).cast("long").alias("n_chars"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality features: word stats, punctuation and stopword
    ratios, and a keep/drop flag — the standard pre-training filters."""
    text = F.col("text")
    words = wordcount.words(text)
    n_words = F.size(words).cast("long")
    n_chars = F.length(text).cast("long")
    word_chars = F.length(F.regexp_replace(F.lower(text), r"\W+", "")).cast("long")
    n_punct = (n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("long")
    mean_wl = word_chars.cast("double") / n_words
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_words
    keep = (
        (n_words >= 5)
        & (mean_wl >= 2.0)
        & (mean_wl <= 12.0)
        & (punct_ratio <= 0.2)
    )
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        keep.alias("keep"),
    )


#: Hashed linear quality model: feature space (hashing-trick buckets)
#: and the LCG that derives a deterministic integer weight per bucket —
#: the fastText-style "score every document with a linear model over
#: hashed token features" filter shape, with engine-portable arithmetic
#: standing in for learned weights (swap `_qm_weight` for a broadcast
#: weights table when real trained weights exist).
QM_BUCKETS = 4096
QM_MULT = 1103515245
QM_INC = 12345
_QM_MOD = 1 << 31
_QM_CENTER = 1 << 30


def _qm_weight(w: Column) -> Column:
    """LCG-derived integer weight of one token's hash bucket (the
    hashed-linear-model kernel shared by :func:`quality_model_scores`
    and :func:`quality_auc`)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(QM_BUCKETS),
    )
    return F.pmod(
        bucket * F.lit(QM_MULT) + F.lit(QM_INC), F.lit(_QM_MOD)
    ) - F.lit(_QM_CENTER)


def _qm_margin(text: Column) -> tuple[Column, Column, Column]:
    """(score_sum, n_words, margin) expressions of the hashed linear
    quality model over a text column — exact int64 sum, one
    int→double division."""
    words = wordcount.words(text)
    score_sum = F.aggregate(
        F.transform(words, _qm_weight),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_words = F.size(words).cast("long")
    margin = F.when(
        n_words > 0,
        score_sum.cast("double")
        / (n_words * F.lit(_QM_CENTER)).cast("double"),
    ).otherwise(F.lit(0.0))
    return score_sum, n_words, margin


def quality_model_scores(
    documents: DataFrame, threshold: float = 0.0, sort: bool = True
) -> DataFrame:
    """Model-based quality scoring: a linear classifier over
    hashing-trick token features (the fastText-filter shape used to
    score web documents for pre-training corpora).

    Each token hashes to one of :data:`QM_BUCKETS` feature buckets via
    the portable md5-prefix hash (same idiom as the SimHash and
    fingerprint ops — DuckDB computes the identical value with a hex
    cast); the bucket's weight is a deterministic integer in
    [−2^30, 2^30) from one LCG step, the margin is the mean weight over
    the document's tokens, and ``keep`` is a margin threshold. The
    weight SUM is exact int64 (|w| < 2^30, so ~2^33 tokens per document
    before overflow — far beyond any real document); the margin is one
    int→double division. Bit-identical across engines and cluster
    sizes, so the full hash oracle applies.

    Scale: everything is per-row JVM higher-order expressions on the
    scan — no explode, no shuffle, no Python. At 100 TB this is a pure
    map over the corpus; with real learned weights the only change is
    a broadcast join against a (bucket, weight) table instead of the
    inline LCG.
    """
    # sort=False: streaming-at-ingest form (append sinks reject sorts);
    # identical rows, presentation order dropped. With sort=True the
    # global sort runs BELOW the md5 token-hash projection (sorting the
    # raw rows, projecting above): an orderBy above it would re-run
    # the scoring pass in the range exchange's bound-sampling job —
    # the per-token md5 work paid twice per query.
    if sort:
        documents = documents.orderBy("doc_id")
    score_sum, n_words, margin = _qm_margin(F.col("text"))
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        score_sum.alias("score_sum"),
        margin.alias("margin"),
    ).withColumn("keep", F.col("margin") > F.lit(threshold))


#: Default keyword query for the registered BM25 retrieval op (terms
#: present in the fixture corpus vocabulary).
BM25_TERMS = ["vector", "stream", "window", "hash"]


def bm25_topk(
    documents: DataFrame,
    terms: list[str] | None = None,
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval: top-``k`` documents for a fixed term
    list, rational-idf variant — idf(t) = (N − df + 0.5)/(df + 0.5),
    i.e. standard BM25+ idf WITHOUT the log. The log is monotone, so
    each SINGLE term's contribution ranks documents identically;
    dropping it keeps every score inside IEEE +,−,×,/ over
    integer-valued inputs, which both engines evaluate bit-identically
    (ln() is libm-dependent and would break the hash oracle).

    Ranking-fidelity caveat (multi-term queries): monotonicity is
    per-term only — the SUM of rational idfs is not rank-equivalent to
    the sum of log idfs, so this variant can order documents
    differently from standard log-idf BM25 when terms differ in rarity
    (the rational idf up-weights rare terms much more aggressively:
    df 1-in-a-million contributes ~1e6 here vs ~13.8 under ln). Treat
    it as a deterministic BM25-family scorer, not a drop-in replica of
    Robertson–Spärck Jones weights. Per-term scores are summed in
    fixed left-to-right term order — FP addition is not associative,
    so the order is part of the contract.

    Scale: tf/dl are per-row column expressions on the scan (no
    explode, no shuffle); the corpus-level (N, avgdl, df_t) statistics
    are ONE aggregate row broadcast back over the corpus; the global
    top-k is :func:`~flink_snappydata_spark.util.top_k` (per-partition
    heaps, never a full sort). Two scans of the corpus total, no
    shuffle of document text anywhere.
    """
    terms = BM25_TERMS if terms is None else terms
    words = wordcount.words(F.col("text"))

    def term_freq(t: str) -> Column:
        # NB: the lambda must be unary — F.filter inspects arity, and a
        # second parameter (even defaulted) is treated as the index arg.
        return F.size(F.filter(words, lambda w: w == F.lit(t))).cast("long")

    base = documents.select(
        "doc_id",
        F.size(words).cast("long").alias("dl"),
        *[term_freq(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    norm = (F.lit(1.0) - F.lit(b)) + F.lit(b) * (
        F.col("dl").cast("double") / avgdl
    )
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}")
        idf = ((F.col("n_docs") - df).cast("double") + F.lit(0.5)) / (
            df.cast("double") + F.lit(0.5)
        )
        s_i = idf * ((tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm))
        score = s_i if score is None else score + s_i
    return top_k(
        scored.select("doc_id", "dl", score.alias("score")),
        [],
        [F.col("score").desc(), F.col("doc_id").asc()],
        k,
        rank="rank",
    ).orderBy("rank")


def novelty_scores(
    documents: DataFrame, n: int = 3, boilerplate_df: int = 10
) -> DataFrame:
    """Corpus-level novelty / boilerplate scoring per document: the
    fraction of a doc's word-``n``-gram shingles that are unique to it
    (``novelty``) vs shared by ≥ ``boilerplate_df`` documents
    (``boilerplate_frac``) — the standard signals for pruning template
    text, navigation chrome, and licence blobs from training corpora.

    Scale: ONE shingle-keyed aggregation for document frequencies
    (map-side combined counts — the shuffle carries (shingle, count),
    never text), one join back on the shingle key, one doc-keyed
    aggregation. All counts are integers; the two fractions are single
    int→double divisions, so the output hash-matches the SQL oracle.
    """
    from flink_snappydata_spark.pipeline.dedup import shingles

    sh = shingles(documents, n)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return _novelty_from_index(sh, dfreq, boilerplate_df)


def _novelty_from_index(
    sh: DataFrame, dfreq: DataFrame, boilerplate_df: int
) -> DataFrame:
    """Score novelty/boilerplate from a (doc_id, sh) index plus a
    (sh, df) document-frequency frame — shared by the one-shot batch op
    and the streaming-ingest twin (which accumulates both frames
    incrementally across micro-batches)."""
    return (
        # corpus × corpus — pinned shuffle join (see
        # dedup._prefix_index's estimate-safety note)
        sh.join(dfreq.hint("shuffle_hash"), "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
            F.sum((F.col("df") >= boilerplate_df).cast("long")).alias("n_common"),
        )
        .select(
            "doc_id",
            "n_shingles",
            (F.col("n_unique").cast("double") / F.col("n_shingles")).alias("novelty"),
            (F.col("n_common").cast("double") / F.col("n_shingles")).alias(
                "boilerplate_frac"
            ),
        )
        .orderBy("doc_id")
    )


def streaming_novelty_ingest(
    stream_docs: DataFrame,
    index_table: str,
    counts_table: str,
    n: int = 3,
    checkpoint: str | None = None,
):
    """Streaming-ingest twin of :func:`novelty_scores` (the reference's
    stream→queryable-table loop, ``ParquetTableJoin.scala:32-43`` shape,
    applied to the LLM-pipeline extension set): each micro-batch of new
    documents is shingled ONCE at ingest and lands as two append-only
    catalog tables — the (doc_id, sh) index and per-shingle partial
    counts (sh, cnt).

    Log-structured counts: the global document frequency is
    ``SUM(cnt)`` over the appended partials, so every micro-batch write
    is a blind append — no read-modify-write of a state table, no
    cross-batch transaction, and the merge cost rides the later scoring
    aggregation (which map-side-combines the partials). The expensive
    per-document work (the Arrow shingling kernel) happens exactly once
    per document, at ingest; re-scoring after new arrivals never
    re-reads document text. Query the accumulated state at any time
    with :func:`novelty_from_state` — after the bounded fixture drains,
    its result is row-identical to the batch op (equivalence-tested).

    Scale: a micro-batch is shingled at its source partitioning
    (:func:`novelty_shingles`), never round-robin spread first: a
    one-file batch of a few documents is one task and one Python
    worker, and the cycle is 3 Spark jobs (index write with the
    persisted kernel output, counts aggregate, counts write). A source
    that delivers more splits per batch shingles them in parallel.

    Rides :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-appending partials.
    """
    return ingest_stream_to_tables(
        stream_docs,
        [
            (index_table, None),
            (counts_table, novelty_count_partials),
        ],
        prepare=lambda batch_df: novelty_shingles(batch_df, n),
        checkpoint=checkpoint,
    )


def novelty_shingles(batch_df: DataFrame, n: int = 3) -> DataFrame:
    """One micro-batch's index rows ``(doc_id, sh)`` — the
    :func:`streaming_novelty_ingest` prepare step: the rows
    ``dedup.shingles`` gives, from the same kernel, but without its
    batch-side ``spread``. Module-level so the fold scale probe
    (``tools/scale_probe.py`` mode ``folds``) lands the identical
    state batch-side."""
    from flink_snappydata_spark.pipeline.dedup import _shingle_arrays

    return _shingle_arrays(batch_df, n).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def novelty_count_partials(sh: DataFrame) -> DataFrame:
    """One batch's per-shingle DF-count partials ``(sh, cnt)`` — the
    :func:`streaming_novelty_ingest` counts-table build, module-level
    so the fold scale probe (``tools/scale_probe.py`` mode ``folds``)
    lands the identical state batch-side."""
    return sh.groupBy("sh").agg(F.count(F.lit(1)).alias("cnt"))


def novelty_from_state(
    spark, index_table: str, counts_table: str, boilerplate_df: int = 10
) -> DataFrame:
    """Novelty/boilerplate scores over the state accumulated by
    :func:`streaming_novelty_ingest` — the queryable-table half of the
    loop. Folds the log-structured count partials into per-shingle
    document frequencies (one map-side-combined aggregation), then
    scores with the exact batch recipe."""
    sh = read_state_table(spark, index_table)
    dfreq = (
        read_state_table(spark, counts_table)
        .groupBy("sh")
        .agg(F.sum("cnt").alias("df"))
    )
    return _novelty_from_index(sh, dfreq, boilerplate_df)


#: Han-script character class for the zh detector: CJK Unified
#: Ideographs + Extension A. Literal BMP range chars, so the identical
#: class string is a valid Java regex (Spark) and RE2 regex (DuckDB
#: oracle). Kana/Hangul are deliberately excluded — they would identify
#: ja/ko, which the engine labels 'und' rather than misreporting as zh.
CJK_CLASS = "[㐀-䶿一-鿿]"

#: zh fires when at least 1-in-CJK_RATIO of a document's characters are
#: Han script (and at least one exists): a lone quoted ideograph inside
#: an English document must not flip the label.
CJK_RATIO = 10


def language_id(documents: DataFrame) -> DataFrame:
    """Language ID over {en, fr, de, es, zh}: keyword-hit voting for
    the Latin-script languages, Han-SCRIPT detection for zh.

    Keyword hit counts use the replace-trick (non-overlapping
    occurrences of ``' kw '`` in the space-padded lowered text) —
    identical semantics in Spark and the SQL oracle. Deterministic
    argmax with fixed tie order; 'und' when nothing hits.

    zh is scored by character class, not keywords (Chinese has no
    spaces to keyword-match on): ``score_zh`` counts characters in
    :data:`CJK_CLASS`, and zh wins outright when ≥ 1/:data:`CJK_RATIO`
    of the text is Han script — the script test runs BEFORE the
    keyword vote, since script identity dominates any Latin keyword
    coincidentally embedded in CJK text. Everything is per-row JVM
    string expressions (no shuffle, no UDF).
    """
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    n_chars = F.length(F.col("text"))
    cjk = (
        n_chars - F.length(F.regexp_replace(F.col("text"), CJK_CLASS, ""))
    ).cast("long")

    def hits(kw: str) -> Column:
        needle = f" {kw} "
        return (
            (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))
        ).cast("long")

    scores = {
        lang: sum_hits
        for lang, kws in LANG_KEYWORDS.items()
        for sum_hits in [sum((hits(k) for k in kws[1:]), hits(kws[0]))]
    }
    langs = list(LANG_KEYWORDS)
    # Two-projection split (codegen size, not semantics): the argmax
    # fold below references every language's score O(|langs|) times —
    # inlining the multi-keyword replace-chains at each reference used
    # to produce one monolithic expression tree whose fused
    # Project+HashAgg codegen (langid_confusion, curation_pipeline)
    # blew janino's method limits and dropped the whole stage to
    # interpreted execution. Materializing the scores as NAMED COLUMNS
    # first keeps them: CollapseProject never re-inlines a non-cheap
    # alias referenced more than once, so the downstream argmax
    # codegens over plain column reads.
    scored = documents.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        cjk.alias("score_zh"),
        n_chars.alias("_n_chars"),
    )
    col_scores = {lang: F.col(f"score_{lang}") for lang in langs}
    pred = F.lit("und")
    # reversed fold so earlier languages win ties
    for lang in reversed(langs):
        cond = col_scores[lang] > 0
        for other in langs:
            if langs.index(other) < langs.index(lang):
                cond = cond & (col_scores[lang] > col_scores[other])
            elif other != lang:
                cond = cond & (col_scores[lang] >= col_scores[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    # script test first: Han-dominant text is zh regardless of any
    # Latin keywords embedded in it
    pred = F.when(
        (F.col("score_zh") > 0)
        & (F.col("score_zh") * F.lit(CJK_RATIO) >= F.col("_n_chars")),
        F.lit("zh"),
    ).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        *[f"score_{lang}" for lang in langs],
        "score_zh",
        pred.alias("pred_lang"),
    )


def langid_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID evaluation: the (truth, prediction) confusion matrix
    of :func:`language_id` against the corpus's labeled ``lang`` column
    — the QA step that decides whether the cheap classifier is good
    enough to gate a corpus on. On the synthetic fixture it surfaces an
    honest floor: the fixture's zh/fr/de/es documents are generated
    from the same Latin tech-word vocabulary as the en ones (no Han
    script, no French/German/Spanish function words actually present),
    so no text-derived classifier can beat the label noise there — the
    zh Han-SCRIPT path is instead proven on genuinely-Chinese text in
    the unit tests (recall 1.0 when the script signal exists).

    Returns ``(lang, pred_lang, n, lang_total, share)`` — count per
    cell, the truth-row total, and the row-normalized share (the
    diagonal cells' shares are per-language recall).

    Scale: the classifier is a pure per-row scan; the matrix is one
    map-side-combined count with |langs|² bounded output; totals are a
    tiny broadcast join.
    """
    pred = language_id(documents).select("lang", "pred_lang")
    cm = pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    totals = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_total"))
    return (
        cm.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "pred_lang",
            "n",
            "lang_total",
            (F.col("n").cast("double") / F.col("lang_total").cast("double"))
            .alias("share"),
        )
        .orderBy("lang", "pred_lang")
    )


# --- portable winnowing fingerprint (all-JVM, oracle-reproducible) -------

FP_WINDOW = 8


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Winnowing-style fingerprint: min over all 8-character windows of
    the text of a 60-bit md5-derived window hash
    (``conv(substr(md5(window), 1, 15), 16, 10)``).

    Portable by construction — the DuckDB oracle computes the identical
    value with a hex cast (the same move that made ``dedup_simhash``
    full-oracle, ``pipeline/dedup.py``), so the query is hash-verified
    instead of rows-only. All-JVM: ``transform``/``array_min`` higher-
    order functions inside whole-stage codegen, zero Python. Texts
    shorter than the window hash as a single short window, matching the
    oracle's ``substr`` semantics.
    """
    fp = F.expr(
        f"array_min(transform("
        f"  sequence(1, greatest(length(text) - {FP_WINDOW - 1}, 1)),"
        f"  i -> cast(conv(substring(md5(cast(substring(text, i, {FP_WINDOW})"
        f"       as binary)), 1, 15), 16, 10) as bigint)))"
    )
    # Global sort BELOW the per-window md5 projection: the sort's range
    # exchange both spreads the work (supplanting spread()'s hash
    # repartition) and samples only the raw rows — an orderBy above the
    # projection would re-run the whole hash pass for bound sampling.
    return (
        documents.select("doc_id", "text")
        .orderBy("doc_id")
        .select("doc_id", fp.alias("fingerprint"))
    )


WINNOW_WINDOW = 4


def winnowing_fingerprints(
    documents: DataFrame, w: int = WINNOW_WINDOW, sort: bool = True
) -> DataFrame:
    """MOSS-style winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    hash every ``FP_WINDOW``-char window of the text, then keep the
    MINIMUM hash of each run of ``w`` consecutive window hashes — the
    local-fingerprint selection whose guarantee is that any shared
    substring of length ≥ ``FP_WINDOW + w - 1`` yields at least one
    shared selected fingerprint, at expected density ``2/(w+1)``. The
    local generalization of :func:`doc_fingerprints` (which keeps only
    the single global min and so can only match whole near-copies).

    Returns per-document ``(doc_id, n_windows, n_fingerprints,
    density)`` — the selection-set size and its density against the
    k-gram window count (texts shorter than ``FP_WINDOW + w - 1``
    degrade to one selection run, matching the oracle). Downstream
    copy-detection joins explode the same selection per document and
    bucket-join on the fingerprint — planted-copy sharing is pinned in
    tests; the declared query ships the per-doc summary so the output
    stays corpus-row-sized.

    Scale: pure per-row JVM higher-order expressions (transform /
    slice / array_min / array_distinct) inside whole-stage codegen —
    zero Python, and zero shuffles with ``sort=False`` (the flag gates
    the corpus-sized presentation order; library callers chaining into
    joins pass False). The hash array materializes once per row in its
    own projection before the window-min pass.

    With ``sort=True`` the global sort runs on the raw (doc_id, text)
    rows BELOW the md5/selection projection: an ``orderBy`` above it
    would re-execute the whole per-window hash pass in the range
    exchange's bound-sampling job — the most expensive projection in
    the text suite, paid twice. The projection above the sort
    preserves the order, so the output is identical row-for-row.
    """
    src = documents.orderBy("doc_id") if sort else documents
    pre, sel = _winnow_pre(src, w)
    return pre.select(
        "doc_id",
        F.size("_h").cast("long").alias("n_windows"),
        F.size(sel).cast("long").alias("n_fingerprints"),
        (F.size(sel).cast("double") / F.size("_h").cast("double")).alias(
            "density"
        ),
    )


def _winnow_pre(documents: DataFrame, w: int):
    """Winnowing internals: the projected hash-array frame ``pre``
    (``doc_id, _h``) and the selection EXPRESSION over it — callers
    must consume the expression in a select DIRECTLY over ``pre``.

    CATALYST HAZARD (pinned by
    ``test_winnowing_postings_plan_keeps_hash_array_named``): naming
    the selection as its own projected column and exploding it one
    projection later lets CollapseProject substitute the md5 transform
    into the per-element ``slice(_h, …)`` lambda — lambda-bound
    references evade the collapse rule's multi-reference guard — and
    the per-row cost silently becomes O(len²) md5 calls (measured
    87 s vs 2.5 s on the sf0.01 fixture). Consuming the expression in
    the same select keeps ``_h`` an attribute inside the lambda.
    """
    hashes = F.expr(
        f"transform("
        f"  sequence(1, greatest(length(text) - {FP_WINDOW - 1}, 1)),"
        f"  i -> cast(conv(substring(md5(cast(substring(text, i, {FP_WINDOW})"
        f"       as binary)), 1, 15), 16, 10) as bigint))"
    )
    pre = documents.select("doc_id", hashes.alias("_h"))
    sel = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("_h") - F.lit(w), F.lit(0)),
            ),
            lambda j: F.array_min(F.slice("_h", j + F.lit(1), w)),
        )
    )
    return pre, sel


def winnowing_pairs(
    documents: DataFrame,
    w: int = WINNOW_WINDOW,
    max_df: int = 16,
    min_shared: int = 2,
    sort: bool = True,
) -> DataFrame:
    """Partial-copy candidate pairs from shared winnowing
    fingerprints: documents sharing ≥ ``min_shared`` selected
    fingerprints — the LOCAL plagiarism/quotation detector
    (:func:`winnowing_fingerprints`' guarantee: any shared passage of
    ≥ ``FP_WINDOW + w − 1`` chars leaves a shared fingerprint), which
    catches a copied paragraph inside two otherwise-different
    documents that whole-document MinHash/Jaccard similarity scores
    far below any dedup threshold.

    Returns ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b``.
    Fingerprints appearing in more than ``max_df`` documents are
    dropped as boilerplate (the same hot-bucket suppression LSH
    banding gets implicitly) — they would otherwise pair every
    boilerplate carrier with every other.

    Scale: the (fingerprint, doc) postings are linear in the corpus
    (≈2/(w+1) per char); document frequency is one map-side-combined
    count whose filter bounds every surviving bucket at ``max_df``
    BEFORE any posting list is collected (no giant-record hazard), and
    pairs are emitted inside each ≤``max_df`` per-fingerprint list
    (:func:`~flink_snappydata_spark.util.block_pairs`) — no self-join
    on the postings, worst case ``max_df²/2`` pairs per surviving
    fingerprint. The df join is fp-co-partitioned with the postings
    shuffle.
    """
    from flink_snappydata_spark.util import (
        block_pairs,
        presentation_sorted,
        tracked_persist,
    )

    pre, sel = _winnow_pre(documents, w)
    # Fused explode (see _winnow_pre's Catalyst hazard note) + persist:
    # the postings feed both the df count and the df-filter join, and
    # re-hashing the corpus for each consumer would double the only
    # linear-in-corpus work in the op.
    fp = tracked_persist(
        pre.select("doc_id", F.explode(sel).alias("fp"))
    )
    df_ok = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    # df_ok is fingerprint-vocabulary-sized: pinned shuffle join so a
    # garbage size estimate on a memory-sourced corpus can never
    # statically broadcast it (see dedup._prefix_index's note). Each
    # doc's fingerprints are distinct (_winnow_pre's array_distinct),
    # so a list never holds one doc twice.
    shared = (
        block_pairs(fp.join(df_ok.hint("shuffle_hash"), "fp"), ["fp"], "doc_id")
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if sort:
        return presentation_sorted(shared, "doc_a", "doc_b")
    return shared


# --- repetition / PII / corpus composition ------------------------------

#: PII patterns chosen for identical semantics in Java regex (Spark) and
#: RE2 (DuckDB): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}"


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Intra-document repetition features — the standard boilerplate /
    degenerate-text filters: distinct-word ratio and the share of the
    single most frequent word.

    Scale: the distinct ratio is a pure projection (array ops on the
    tokenized text, zero shuffle). The top-word share explodes to
    (doc_id, word) and aggregates twice — both shuffles carry counts,
    not text, and combine map-side. All ratios are exact-int divisions
    (deterministic IEEE doubles, hash-stable across engines).
    """
    # Materialize the token array and its scalars BEFORE the explode:
    # putting them in the same projection as explode() makes Catalyst
    # re-evaluate the regex split + array_distinct once per exploded
    # word row (measured 6x slower at sf0.1).
    ws = wordcount.words(F.col("text"))
    pre = documents.select("doc_id", ws.alias("words")).select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.size(F.array_distinct("words")).cast("long").alias("n_distinct_words"),
        F.col("words"),
    )
    base = pre.select(
        "doc_id", "n_words", "n_distinct_words", F.explode("words").alias("word")
    )
    per_word = base.groupBy("doc_id", "n_words", "n_distinct_words", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_word.groupBy("doc_id", "n_words", "n_distinct_words")
        .agg(F.max("cnt").alias("top_word_cnt"))
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            (F.col("n_distinct_words").cast("double") / F.col("n_words")).alias(
                "distinct_ratio"
            ),
            (F.col("top_word_cnt").cast("double") / F.col("n_words")).alias(
                "top_word_share"
            ),
        )
        .orderBy("doc_id")
    )


def _with_synthetic_pii(documents: DataFrame) -> DataFrame:
    """Append deterministic doc_id-derived PII to each document.

    The fixture corpus contains no PII at all, which would make a
    redaction oracle check vacuous; both engines append the same
    synthetic contact line (a pure function of doc_id) so the regex
    parity below is exercised on every row.
    """
    return documents.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 tel +1 555 01"),
            F.pmod(F.col("doc_id"), F.lit(90)).cast("string"),
            F.lit(" 4242"),
        ),
    )


def pii_redaction(
    documents: DataFrame, synthesize: bool = True, sort: bool = True
) -> DataFrame:
    """Scrub emails / IPv4s / phone numbers, keeping match counts —
    the pre-training privacy pass.

    Scale: three JVM regexp passes per row, zero shuffle, fully
    pipelined in whole-stage codegen. Patterns avoid constructs whose
    semantics differ between Java regex and RE2 so the same result is
    reproducible in any engine.

    The presentation sort runs BELOW the regex projection: a global
    ``orderBy`` above it would range-partition the scrubbed output,
    and the range-bound sampling pass re-executes the exchange's
    same-stage child — every regex would run TWICE per query (measured
    ~2x on the sf0.1 bench). Sorting the raw (doc_id, text) rows first
    samples only the scan; the projection above the sort preserves the
    order, so the output is identical row-for-row.
    """
    if synthesize:
        documents = _with_synthetic_pii(documents)
    if sort:
        documents = documents.orderBy("doc_id")
    text = F.col("text")
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).cast("long")
    n_ips = F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), 0)).cast("long")
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).cast("long")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        clean.alias("clean_text"),
    )


def source_stats(documents: DataFrame) -> DataFrame:
    """Corpus composition by (source, lang): doc counts, exact char
    volume, mean and exact median document length — the report every
    curation run starts from.

    Scale: single hash agg; the exact median sorts within groups (fine
    at report cardinality ~sources×langs); swap to approx_percentile at
    extreme group sizes.
    """
    return (
        documents.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            (
                F.sum(F.length("text")).cast("double") / F.count(F.lit(1))
            ).alias("mean_chars"),
            F.expr("percentile(length(text), 0.5)").alias("median_chars"),
        )
        .orderBy("source", "lang")
    )


def frequent_tokens(documents: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level heavy hitters: the k most frequent tokens with
    counts and corpus share — vocabulary pruning / stopword discovery /
    tokenizer QA.

    Scale: explode → hash agg with map-side combine (shuffle carries
    (token, count), cardinality = vocabulary); global top-k via
    TakeOrderedAndProject with a token tiebreak — no full sort. The
    total-token denominator is a 1-row broadcast scalar.
    """
    words = documents.select(F.explode(wordcount.words(F.col("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "word",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(k)
    )


def chunk_documents(
    documents: DataFrame, chunk_chars: int = 512, overlap: int = 64
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the precursor to embedding / retrieval indexing (each chunk becomes
    an embedding row; overlap preserves context at boundaries).

    Scale: pure projection + explode (sequence of chunk starts →
    substring), zero shuffle, no Python; chunk ids are deterministic
    (doc_id, chunk_id) so re-runs produce identical rows.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.length("text") - F.lit(overlap)) / F.lit(step)).cast("long"),
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    return (
        documents.select(
            "doc_id",
            F.explode(starts).alias("chunk_id"),
            F.col("text"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.substring(
                F.col("text"), F.col("chunk_id") * step + 1, chunk_chars
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
        .orderBy("doc_id", "chunk_id")
    )


def _floor_log2(col: Column) -> Column:
    """floor(log2(x)) for a positive BIGINT, computed EXACTLY as the
    length of the binary representation minus one — no floating-point
    log anywhere, so Spark and any SQL oracle agree bit-for-bit
    (``bin()`` has identical semantics in Spark and DuckDB)."""
    return (F.length(F.bin(col)) - F.lit(1)).cast("long")


#: Hot-vocabulary broadcast bound for the skew-safe word joins: a word
#: is "hot" when it carries ≥ 1/HOT_VOCAB_MAX of the corpus statistic,
#: so AT MOST HOT_VOCAB_MAX words can qualify (their shares sum to 1) —
#: the broadcast side is bounded by construction, independent of corpus
#: size or vocabulary size.
HOT_VOCAB_MAX = 4096


def _join_word_stats_skew_safe(
    tf: DataFrame,
    stats: DataFrame,
    stat_col: str,
    total: DataFrame,
    total_col: str,
    hot_max: int = HOT_VOCAB_MAX,
) -> DataFrame:
    """Inner-join the per-(doc, word) ``tf`` frame against a per-word
    statistics frame, skew-proof by construction.

    A stopword appears in nearly every document, so its key holds
    O(n_docs) tf rows — and AQE's runtime skew split CANNOT rescue this
    join: the statistics side is an aggregate output (not a bare
    shuffle stage under the sort), which makes OptimizeSkewedJoin
    structurally ineligible (pinned in
    ``tests/test_sampling.py::test_unigram_surprisal_stopword_skew``).
    Instead, split the vocabulary at the frequency cutoff
    ``stat * hot_max ≥ total``: at most ``hot_max`` words can be above
    it (their corpus shares sum to 1), so the hot slice broadcasts —
    hot tf rows never shuffle at all — and the shuffled tail join has
    no key above ``1/hot_max`` of the corpus. Row-identical to the
    plain inner join (the two slices partition the tf rows; every row
    matches exactly one stats row either way).

    int64 guard: ``stat * hot_max`` stays below 2^63 for any corpus
    under ``2^63/hot_max ≈ 2.3e15`` tokens/documents — comfortably
    beyond 100 TB of text.

    ``tf`` and ``stats`` each feed BOTH branches of the union (and
    ``stats`` additionally feeds the hot cutoff), so both are persisted
    (:func:`~flink_snappydata_spark.util.tracked_persist`) — without
    that, Spark re-executes the corpus-wide tf aggregation once per
    branch, doubling the dominant scan. The caches are released by the
    caller's ``release_caches()`` cycle like every other
    library-internal intermediate.
    """
    tf = tracked_persist(tf)
    stats = tracked_persist(stats)
    hot = (
        stats.crossJoin(F.broadcast(total))
        .filter(F.col(stat_col) * F.lit(hot_max) >= F.col(total_col))
        .drop(total_col)
    )
    aug = tf.join(F.broadcast(hot), "word", "left")
    hot_part = aug.filter(F.col(stat_col).isNotNull())
    cold_part = (
        # vocabulary × corpus-words — pinned shuffle join (the hot
        # slice is already broadcast above; see dedup._prefix_index)
        aug.filter(F.col(stat_col).isNull())
        .drop(stat_col)
        .join(stats.hint("shuffle_hash"), "word")
    )
    return hot_part.unionByName(cold_part)


def unigram_surprisal(documents: DataFrame, sort: bool = True) -> DataFrame:
    """Perplexity-proxy quality scoring: each document's mean token
    surprisal under the corpus's own unigram distribution — the
    KenLM-style "LM filter" step of a pre-training pipeline (documents
    whose tokens are uniformly common score low = boilerplate; junk
    with rare garbage tokens scores high), reduced to exact integer
    arithmetic so the full value-hash oracle applies.

    Surprisal is quantized to BITS: token ``t`` with corpus count
    ``c_t`` out of ``N`` total tokens contributes
    ``floor(log2 N) - floor(log2 c_t)`` — an integer within 1 bit of
    ``-log2 (c_t/N)``. The per-doc sum is exact int64 (order-free, so
    deterministic at any parallelism, unlike a float log sum whose
    value depends on reduction order); ``avg_bits`` is one final
    int/int double division. The bucketing is the documented tradeoff
    for engine-portable exactness.

    Returns ``(doc_id, n_tokens, bits_sum, avg_bits)``, one row per
    document (empty docs: zeros). ``sort=False`` drops the final
    presentation ``orderBy`` — the output is O(corpus) rows, so at
    scale consumers take it unsorted (one fewer full-corpus range
    shuffle); row content is identical either way.

    Scale: two hash aggregations with map-side combine — (doc_id, word)
    term frequencies, then vocabulary counts — one join of the tf frame
    against the vocabulary on ``word``, a 1-row broadcast total, and a
    final doc_id-keyed sum. The word join is made skew-proof BY
    CONSTRUCTION via :func:`_join_word_stats_skew_safe`: stopwords are
    exactly the keys AQE's runtime skew split cannot save here (the
    vocabulary side of the join is an aggregate, not a bare shuffle
    stage, so OptimizeSkewedJoin is structurally ineligible — verified
    in tests), so the hot slice of the vocabulary (≤ ``HOT_VOCAB_MAX``
    words by definition of the frequency cutoff) broadcasts and only
    the long tail shuffles, where no key exceeds 1/``HOT_VOCAB_MAX`` of
    the corpus. No text ever shuffles, only tokens and counts; at
    100 TB every wide frame is token/count pairs, bounded by corpus
    token count and vocabulary size.
    """
    tf = (
        documents.select(
            "doc_id", F.explode(wordcount.words(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = tf.groupBy("word").agg(F.sum("tf").alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    bits = _floor_log2(F.col("n")) - _floor_log2(F.col("c"))
    scored = (
        _join_word_stats_skew_safe(tf, counts, "c", total, "n")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * bits).alias("bits_sum"),
        )
    )
    out = (
        documents.select("doc_id")
        .join(scored.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("bits_sum", F.lit(0)).cast("long").alias("bits_sum"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.col("bits_sum").cast("double")
                / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_bits"),
        )
    )
    return out.orderBy("doc_id") if sort else out


def bigram_surprisal(documents: DataFrame, sort: bool = True) -> DataFrame:
    """Bigram-conditional LM filter: each document's mean transition
    surprisal under the corpus's own bigram model — the next step up
    from :func:`unigram_surprisal` on the KenLM-filter ladder. A
    document of individually-common words in an *unusual order*
    ("the of and a is") scores high here while the unigram filter
    waves it through; fluent boilerplate scores low in both. Together
    the two bracket the perplexity-filtering signal an n-gram LM
    provides a pre-training pipeline.

    Each adjacent pair ``(w1, w2)`` contributes
    ``floor(log2 c(w1·)) - floor(log2 c(w1,w2))`` bits — the quantized
    ``-log2 P(w2|w1)`` with ``P(w2|w1) = c(w1,w2) / c(w1·)`` where
    ``c(w1·)`` is the CONTEXT count (occurrences of ``w1`` followed by
    anything, i.e. the bigram-count row sum — not the raw unigram
    count, so probabilities per context sum to exactly 1). The model
    is trained on the scored corpus itself, so every observed bigram
    has count ≥ 1 and no backoff/OOV branch is needed; sums are exact
    int64 (order-free at any parallelism) via the same
    :func:`_floor_log2` device as the unigram op.

    Returns ``(doc_id, n_bigrams, bits_sum, avg_bits)``, one row per
    document (docs with < 2 tokens: zeros). ``sort=False`` drops the
    final presentation ``orderBy`` (O(corpus) output rows).

    Scale: bigrams are built IN-ROW by zipping the word array with its
    own tail (the :func:`frequent_bigrams` kernel — no per-position
    self-join, no window over token positions), then one map-side-
    combined (doc_id, pair) count; pair counts and context counts are
    two further hash aggregations. Both statistics joins ride
    :func:`_join_word_stats_skew_safe`: hot keys (stopword contexts
    like ``the``, hot pairs like ``of the``) broadcast — AQE's runtime
    skew split cannot save an aggregate-fed join side — and the long
    tail shuffles with no key above 1/``HOT_VOCAB_MAX`` of the corpus.
    Only tokens, pairs and counts ever shuffle, never text.
    """
    ws = wordcount.words(F.col("text"))
    pair = F.explode(
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    )
    tf = (
        documents.filter(F.size(ws) >= 2)
        .select("doc_id", pair.alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c2 = tracked_persist(
        tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    nb = c2.agg(F.sum("c2").alias("nb"))
    # Words are \W+-split (no spaces inside), so the space-joined pair
    # key is injective and the single-key skew-safe join applies as-is.
    bg_key = F.concat_ws(" ", "w1", "w2")
    j1 = _join_word_stats_skew_safe(
        tf.withColumn("word", bg_key).drop("w2"),
        c2.select(bg_key.alias("word"), "c2"),
        "c2",
        nb,
        "nb",
    )
    j2 = _join_word_stats_skew_safe(
        j1.drop("word").withColumnRenamed("w1", "word"),
        c1.withColumnRenamed("w1", "word"),
        "c1",
        nb,
        "nb",
    )
    bits = _floor_log2(F.col("c1")) - _floor_log2(F.col("c2"))
    scored = j2.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * bits).alias("bits_sum"),
    )
    out = (
        documents.select("doc_id")
        .join(scored.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("bits_sum", F.lit(0)).cast("long").alias("bits_sum"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.col("bits_sum").cast("double")
                / F.col("n_bigrams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_bits"),
        )
    )
    return out.orderBy("doc_id") if sort else out


#: DSIR hashed-feature space size: buckets for the unigram+bigram
#: hashing trick. 2^10 keeps the per-bucket statistics frame trivially
#: broadcastable (1024 narrow rows) while leaving hash collisions rare
#: on fixture-sized vocabularies; production would raise it (the paper
#: uses 10^4) without changing any shuffle shape.
DSIR_BUCKETS = 1024


def dsir_weights(
    documents: DataFrame,
    target_source: str = "src0",
    n_buckets: int = DSIR_BUCKETS,
    sort: bool = True,
) -> DataFrame:
    """Data selection via importance reweighting (the DSIR recipe —
    Xie et al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023): score every document by how much more
    likely its hashed n-gram features are under a TARGET distribution
    (documents from ``target_source``, the high-quality exemplar
    domain) than under the raw corpus distribution. Documents whose
    feature mix resembles the target get positive log-weights and are
    kept; generic/off-target documents score negative.

    Features are unigrams plus adjacent bigrams, hashed into
    ``n_buckets`` buckets with the engine's portable md5-prefix hash
    (the :func:`quality_model_scores` / SimHash idiom, so any SQL
    engine reproduces the bucket ids bit-for-bit). Both bag-of-buckets
    models use add-one smoothing, and the log-likelihood ratio is
    quantized to exact integer BITS with :func:`_floor_log2`:
    bucket ``b`` contributes ``(L(ct_b+1) − L(Nt+B)) − (L(cr_b+1) −
    L(Nr+B))`` per occurrence — order-free int64 sums, deterministic
    at any parallelism. ``kept`` is the deterministic resampling rule
    ``logw_bits > 0`` (importance weight > 1 at bit precision).

    Returns ``(doc_id, source, n_feats, logw_bits, avg_bits, kept)``,
    one row per document (featureless docs: zeros, not kept).
    ``sort=False`` drops the final presentation ``orderBy`` (O(corpus)
    output rows).

    Scale: one in-row feature build (tail-zip bigrams concatenated to
    the unigram array — no per-position self-join), one map-side-
    combined (doc_id, bucket) count, one ``n_buckets``-row statistics
    aggregation with a conditional target sum, then a BROADCAST join
    of the per-doc counts against the 1024-row stats frame — by
    construction there is no skew axis at all (the hot side of every
    join is bucket-count-bounded), no text ever shuffles, and the only
    corpus-sized shuffle carries (doc_id, bucket, count) ints.
    """
    ws = wordcount.words(F.col("text"))
    tail = F.greatest(F.size(ws) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(ws, 1, tail),
        F.slice(ws, 2, tail),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("feat").cast("binary")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(n_buckets),
    )
    dn = (
        documents.select(
            "doc_id",
            "source",
            F.explode(F.concat(ws, bigrams)).alias("feat"),
        )
        .select("doc_id", "source", bucket.alias("b"))
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dn = tracked_persist(dn)
    stats = dn.groupBy("b").agg(
        F.sum(
            F.when(F.col("source") == target_source, F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("ct"),
        F.sum("n").alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    w_bits = (
        _floor_log2(F.col("ct") + F.lit(1))
        - _floor_log2(F.col("nt") + F.lit(n_buckets))
    ) - (
        _floor_log2(F.col("cr") + F.lit(1))
        - _floor_log2(F.col("nr") + F.lit(n_buckets))
    )
    scored = (
        dn.join(F.broadcast(stats), "b")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n") * w_bits).alias("logw_bits"),
        )
    )
    out = (
        documents.select("doc_id", "source")
        .join(scored.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("logw_bits", F.lit(0)).cast("long").alias("logw_bits"),
            F.when(
                F.coalesce("n_feats", F.lit(0)) > 0,
                F.col("logw_bits").cast("double")
                / F.col("n_feats").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_bits"),
            (F.coalesce("logw_bits", F.lit(0)) > 0).alias("kept"),
        )
    )
    return out.orderBy("doc_id") if sort else out


def tfidf_keywords(
    documents: DataFrame, k: int = 5, sort: bool = True
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by a
    quantized tf-idf — the classic "what is this document about"
    primitive behind topic tagging, search indexing, and per-domain
    vocabulary reports over a training corpus.

    The idf is quantized to integer BITS of document rarity
    (``floor(log2 D) - floor(log2 df_t)`` for ``D`` documents of which
    ``df_t`` contain ``t``), so ``score = tf * idf_bits`` is exact
    int64 and the ranking (score desc, then word asc for a total
    deterministic order) is engine-portable — same tradeoff as
    :func:`unigram_surprisal`. Terms appearing in every document get
    idf 0 and can never outrank a discriminative term.

    Returns ``(doc_id, rank, word, tf, idf_bits, score)``.

    Scale: the (doc_id, word) tf aggregation doubles as the document-
    frequency source (one count per distinct pair), so there are two
    hash aggs, one word-keyed join — skew-proof via the hot-vocabulary
    broadcast split (:func:`_join_word_stats_skew_safe`; stopwords
    appear in every document, so their df-join keys are exactly the
    AQE-unsplittable hot keys) — and one doc_id-partitioned window
    over per-doc vocabularies — never a global sort. Row counts are
    bounded by distinct (doc, term) pairs; text never shuffles.
    ``sort=False`` drops the final (doc_id, rank) presentation
    ``orderBy``: the output is O(k·n_docs) rows, so consumers that
    re-join keywords onto the corpus should not pay a full range sort
    for display order.
    """
    tf = (
        documents.select(
            "doc_id", F.explode(wordcount.words(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(
        F.count(F.lit(1)).alias("d")
    )
    idf_bits = _floor_log2(F.col("d")) - _floor_log2(F.col("df"))
    scored = (
        _join_word_stats_skew_safe(tf, df_t, "df", n_docs, "d")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            idf_bits.alias("idf_bits"),
            (F.col("tf") * idf_bits).alias("score"),
        )
    )
    order = [F.col("score").desc(), F.col("word").asc()]
    out = top_k(scored, ["doc_id"], order, k, rank="rank").select(
        "doc_id", "rank", "word", "tf", "idf_bits", "score"
    )
    return out.orderBy("doc_id", "rank") if sort else out


def _pmi_topk(bgc, uni, k: int | None):
    """Shared collocation tail of :func:`frequent_bigrams` and
    :func:`skipgram_pmi`: join exact unigram counts onto the pair
    counts, attach the integer-bits PMI, and TakeOrder the top-``k``
    by count ((cnt, w1, w2) is a unique total order, so the cut is
    engine-portable). ``k=None`` returns the full matrix unsorted —
    never TakeOrdered a corpus-sized k (a huge per-partition top-k
    heap is an OOM, not a sort)."""
    tot = uni.agg(F.sum("u").alias("nu")).crossJoin(
        bgc.agg(F.sum("cnt").alias("npairs"))
    )
    ua = uni.select(F.col("word").alias("w1"), F.col("u").alias("ua"))
    ub = uni.select(F.col("word").alias("w2"), F.col("u").alias("ub"))
    pmi_bits = (
        _floor_log2(F.col("cnt")) + F.lit(2) * _floor_log2(F.col("nu"))
    ) - (
        _floor_log2(F.col("npairs"))
        + _floor_log2(F.col("ua"))
        + _floor_log2(F.col("ub"))
    )
    out = (
        bgc.join(ua.hint("shuffle_hash"), "w1")
        .join(ub.hint("shuffle_hash"), "w2")
        .join(F.broadcast(tot))
        .select("w1", "w2", "cnt", pmi_bits.cast("long").alias("pmi_bits"))
    )
    if k is None:
        return out
    return out.orderBy(
        F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def frequent_bigrams(
    documents: DataFrame, k: int | None = 50
) -> DataFrame:
    """Corpus collocations: the ``k`` most frequent adjacent word
    pairs with a quantized pointwise-mutual-information score — the
    phrase-mining / tokenizer-merge-candidate primitive (the highest-
    count adjacent pair IS the next BPE merge; PMI separates true
    collocations from pairs of independently-common words).

    ``pmi_bits`` quantizes ``log2(p(ab) / (p(a)p(b)))`` to integer bits
    with the same exact :func:`_floor_log2` device as
    :func:`unigram_surprisal`: ``(L(c_ab) + 2·L(Nu)) − (L(Nb) + L(u_a)
    + L(u_b))`` over exact int64 counts (unigram total ``Nu``, bigram
    total ``Nb``) — order-free, engine-portable, within ~2 bits of the
    float PMI. Output ``(w1, w2, cnt, pmi_bits)``, ranked by count with
    a (w1, w2) tiebreak.

    Scale: bigrams are built in-kernel by zipping the word array with
    its own tail (no per-position explode of anything wider than the
    pair), then one map-side-combined count per distinct pair; unigram
    counts and the two totals are the same aggregation shapes as
    :func:`frequent_tokens`; the global top-k is TakeOrdered, never a
    full sort. Shuffles carry word pairs and counts only.
    """
    ws = wordcount.words(F.col("text"))
    pair = F.explode(
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    )
    pairs = (
        documents.filter(F.size(ws) >= 2)
        .select(pair.alias("p"))
        .select("p.w1", "p.w2")
    )
    bgc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    uni = (
        documents.select(F.explode(ws).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    return _pmi_topk(bgc, uni, k)


#: Gopher "required words" set (Rae et al. 2021, A1.1): a document must
#: contain at least GOPHER_MIN_STOP_HITS distinct members to pass the
#: stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(documents: DataFrame, sort: bool = True) -> DataFrame:
    """Gopher repetition-free quality rules (Rae et al. 2021, appendix
    A1.1) — the canonical rule-based pre-training document filter,
    complementing :func:`quality_scores` (generic ratios) and
    :func:`quality_model_scores` (learned-model shape):

    * 50 <= word count <= 100,000;
    * 3 <= mean word length <= 10;
    * symbol-to-word ratio (``#`` and ``...``) <= 0.1;
    * < 90% of lines start with a bullet (``-``, ``*``, ``•``);
    * < 30% of lines end with an ellipsis;
    * >= 80% of words contain an alphabetic character;
    * >= 2 distinct "required" stopwords present (the/be/to/of/and/
      that/have/with).

    Words are whitespace tokens (Gopher's definition), lines are
    newline splits with blank lines dropped. Every ratio is an exact
    int64 count divided once into a double, so the DuckDB oracle
    hash-matches bit-for-bit.

    Scale: pure per-row JVM higher-order expressions on the scan — no
    explode, no shuffle, no Python; at 100 TB this is a single map
    over the corpus, exactly like the other per-row filters.
    ``sort=False`` drops the presentation ``orderBy`` (output is one
    row per document).
    """
    text = F.col("text")
    ws = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n_words = F.size(ws).cast("long")
    n_lines = F.size(lines).cast("long")
    word_chars = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = (F.length(text) - F.length(F.regexp_replace(text, r"#", ""))).cast("long")
    n_ellipsis = (
        (F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))) / F.lit(3)
    ).cast("long")
    n_bullet_lines = F.size(
        F.filter(
            lines,
            lambda x: F.substring(x, 1, 1).isin("-", "*", "•"),
        )
    ).cast("long")
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda x: x.endswith(F.lit("...")))
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(ws, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    lowered = F.transform(ws, F.lower)
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(lowered, s))
    ).cast("long")

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        )

    mean_wl = ratio(word_chars, n_words)
    symbol_ratio = ratio(n_hash + n_ellipsis, n_words)
    bullet_frac = ratio(n_bullet_lines, n_lines)
    ellipsis_frac = ratio(n_ellipsis_lines, n_lines)
    alpha_frac = ratio(n_alpha_words, n_words)
    keep = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    out = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )
    return out.orderBy("doc_id") if sort else out


def quality_auc(documents: DataFrame, pos_lang: str = "en") -> DataFrame:
    """Exact tie-aware ROC AUC of the hashed linear quality model's
    margin as a ranker for ``lang == pos_lang`` — the "evaluate the
    quality classifier against labels" step a curation pipeline runs
    before trusting a filter at scale (here the deterministic model of
    :func:`quality_model_scores` against the corpus's language labels;
    with a trained model and human labels the plan is identical).

    AUC is computed from the Wilcoxon rank-sum with midrank tie
    handling, kept EXACT in int64: for each distinct margin ``s`` with
    ``p_s`` positives, ``q_s`` negatives (``t_s = p_s + q_s``) and
    ``cum_s`` documents strictly below it,
    ``2·R_pos = Σ p_s (2·cum_s + t_s + 1)`` and
    ``AUC = (2·R_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg)`` — returned
    as the exact integer numerator/denominator plus one double
    division, so the full value-hash oracle applies. Returns ONE row:
    ``(n_pos, n_neg, auc_num, auc_den, auc)``.

    Scale — a global rank with NO global sort: one corpus scan computes
    each document's margin, a ``margin``-keyed aggregation collapses the
    corpus to distinct margins with (p, q) counts (map-side combined —
    ties are FREE), and ``cum_s`` is an exclusive running count from
    :func:`~flink_snappydata_spark.util.cell_prefix_sums` over that
    frame. Only (margin, count) rows ever shuffle.
    """
    _, _, margin = _qm_margin(F.col("text"))
    is_pos = F.col("lang") == F.lit(pos_lang)
    g = (
        documents.select(margin.alias("margin"), is_pos.alias("is_pos"))
        .groupBy("margin")
        .agg(
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
            .cast("long")
            .alias("p"),
            F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
            .cast("long")
            .alias("q"),
        )
        .withColumn("t", F.col("p") + F.col("q"))
    )
    # Up to 2^13 + 1 distinct margins take the single naive window.
    cum = cell_prefix_sums(g, "margin", ["t"], n_cells=(1 << 13) + 1)
    cum = cum.withColumn("cum", F.col("cum_t") - F.col("t"))
    agg = cum.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("q").cast("long").alias("n_neg"),
        F.sum(F.col("p") * (F.lit(2) * F.col("cum") + F.col("t") + F.lit(1)))
        .cast("long")
        .alias("r2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1)))
        .cast("long")
        .alias("auc_num"),
        (F.lit(2) * F.col("n_pos") * F.col("n_neg"))
        .cast("long")
        .alias("auc_den"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1)))
            .cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("auc"),
    )


#: Tercile labels in rank order (low surprisal = most in-distribution).
CCNET_BUCKET_NAMES = ["head", "middle", "tail"]


def ccnet_buckets(documents: DataFrame, sort: bool = True) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    each language's documents into head / middle / tail terciles by
    mean LM surprisal — the curation step that keeps "head" (most
    in-distribution) text, samples "middle", and drops "tail". The LM
    is the corpus's own unigram model via
    :func:`unigram_surprisal` (exact integer bits, so the whole chain
    stays engine-portable); with a real KenLM the plan is identical.

    The tercile is a pure function of the per-language rank: with
    ``c`` documents in a language, ``q = c div 3``, ``r = c mod 3``,
    ranks are split NTILE-style (first ``r`` tiles get ``q + 1``).
    Ranks order by ``(avg_bits, doc_id)`` — the doc_id tiebreak makes
    every rank, and therefore every bucket label, engine-exact.

    Returns one row per document:
    ``(doc_id, lang, avg_bits, lang_rank, bucket)``.

    Scale — per-language global rank with NO per-language global sort
    (a naive ``row_number() OVER (PARTITION BY lang ORDER BY ...)``
    funnels each language — a third of a 100 TB corpus — through one
    window partition): the rank and the per-language count ``c`` are
    the running and total count from
    :func:`~flink_snappydata_spark.util.cell_prefix_sums` keyed by
    ``lang`` with a ``doc_id`` tiebreak.
    """
    scored = unigram_surprisal(documents, sort=False).select(
        "doc_id", "avg_bits"
    )
    keyed = (
        documents.select("doc_id", "lang")
        .join(scored.hint("shuffle_hash"), "doc_id")
        .withColumn("one", F.lit(1).cast("long"))
    )
    # Up to 2^14 documents take the naive per-language window.
    ranked = cell_prefix_sums(
        keyed,
        "avg_bits",
        ["one"],
        ("lang",),
        n_cells=1 << 14,
        then_by=("doc_id",),
    ).withColumnsRenamed({"cum_one": "lang_rank", "tot_one": "c"})
    # Exact integer division (the (s - s%n)/n idiom used throughout —
    # the subtraction makes the double division exactly divisible, so
    # no float-rounding edge can cross an integer boundary).
    def idiv(a: Column, b: Column) -> Column:
        return ((a - F.pmod(a, b)).cast("double") / b).cast("long")

    q = idiv(F.col("c").cast("long"), F.lit(3))
    r = F.pmod(F.col("c"), F.lit(3)).cast("long")
    rank0 = F.col("lang_rank") - F.lit(1)
    boundary = r * (q + F.lit(1))
    tile0 = F.when(
        rank0 < boundary,
        idiv(rank0, q + F.lit(1)),
    ).otherwise(r + idiv(rank0 - boundary, F.greatest(q, F.lit(1))))
    bucket = (
        F.when(tile0 == 0, F.lit(CCNET_BUCKET_NAMES[0]))
        .when(tile0 == 1, F.lit(CCNET_BUCKET_NAMES[1]))
        .otherwise(F.lit(CCNET_BUCKET_NAMES[2]))
    )
    out = ranked.select(
        "doc_id", "lang", "avg_bits", "lang_rank", bucket.alias("bucket")
    )
    return out.orderBy("doc_id") if sort else out


# ---------------------------------------------------------------------------
# Inverted index (sharded posting lists)
# ---------------------------------------------------------------------------

#: Posting-list shard count. A record is one (word, shard) posting
#: list, so the max record size is the shard's document count, not the
#: corpus — a deployment sizes this to corpus_docs / target_list_len
#: (the fixture default keeps lists readable at sf scales).
INDEX_SHARDS = 32


def inverted_index(
    documents: DataFrame, n_shards: int = INDEX_SHARDS, sort: bool = True
) -> DataFrame:
    """Sharded inverted index: per (word, doc_id-shard), the shard's
    document frequency, total term frequency, and the posting list
    ``"doc:tf,doc:tf,..."`` sorted by doc_id — the index layout a
    distributed retrieval system actually materializes (one monolithic
    posting list per head term would be an O(corpus) record; sharding
    by document bucket bounds every record by the shard's occupancy
    and lets query fan-out merge shard lists in parallel).

    Scale: term frequencies aggregate map-side; the posting
    ``collect_list`` groups on (word, shard), so a hot head word
    splits across ``n_shards`` tasks instead of one — record size and
    reducer skew are both bounded by construction (pick ``n_shards``
    ≈ corpus_docs / target_list_len at deployment scale). Text never
    shuffles — only words, ids, and counts. ``sort=False`` (the
    registered form) skips the O(vocab × shards) presentation sort.
    """
    tf = (
        spread(documents, "doc_id")
        .select("doc_id", F.explode(wordcount.words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)))
    )
    out = (
        tf.groupBy("word", "shard")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_sum"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda x: F.concat_ws(
                        ":",
                        x["doc_id"].cast("string"),
                        x["tf"].cast("string"),
                    ),
                ),
                ",",
            ).alias("postings"),
        )
        .select("word", "shard", "df", "tf_sum", "postings")
    )
    if not sort:
        return out
    from flink_snappydata_spark.util import presentation_sorted

    return presentation_sorted(out, "word", "shard", expect_small=False)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
#: Heavy-hitter support: estimated count ≥ total_tokens / CMS_SUPPORT.
CMS_SUPPORT = 200


def _cms_cell(word: Column, row: int) -> Column:
    """Portable CMS cell for hash row ``row``: md5 of ``"r#word"``
    (first 8 hex digits) mod the width — the same md5-word derivation
    as the quality-model bucket hash, identical in any engine."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("#", F.lit(str(row)), word)), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(CMS_WIDTH),
    )


def cms_heavy_hitters(documents: DataFrame) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005)
    with an in-query exact judge: tokens whose CMS estimate reaches
    support ``total/CMS_SUPPORT``, reported with the exact count and
    the sketch overcount — the bounded-memory frequent-items path a
    streaming ingest uses, judged against truth the way the HLL
    distinct and IVF recall queries are.

    The sketch is CMS_DEPTH×CMS_WIDTH int64 cells; each row hashes the
    token through an independent md5-derived cell, the estimate is the
    min over rows, and CMS guarantees estimate ≥ exact always (one-
    sided error ≤ e·total/width w.h.p.) — asserted structurally by the
    non-negative ``overcount`` column.

    Scale: token counts aggregate map-side once; the sketch itself is
    a 1024-row aggregate (broadcast back); candidate estimation is a
    map-side broadcast join per hash row over the DISTINCT vocabulary,
    never the token stream. At 100 TB the only corpus-sized pass is
    the initial count aggregation — everything after operates on the
    vocabulary and the fixed-size sketch.
    """
    w = spread(documents, "doc_id").select(
        F.explode(wordcount.words(F.col("text"))).alias("word")
    )
    counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return _cms_from_counts(counts)


def cms_from_state(spark, counts_table: str) -> DataFrame:
    """Streamed twin fold: apply the CMS heavy-hitter arithmetic to
    the word-count partials accumulated by :func:`~flink_snappydata_
    spark.operators.wordcount.streaming_wordcount_ingest` (identical
    tokenizer) — exact counts fold batching-insensitively, so the
    sketch built from folded state equals the batch sketch and the
    batch oracle applies verbatim. The fold is the counts loop's own
    merge (:func:`~flink_snappydata_spark.operators.wordcount.
    compact_wordcount_partials`)."""
    return _cms_from_counts(
        wordcount.compact_wordcount_partials(read_state_table(spark, counts_table))
    )


def _cms_from_counts(counts: DataFrame) -> DataFrame:
    """Shared CMS fold over a (word, cnt) vocabulary frame."""
    counts = tracked_persist(counts)
    keyed = counts.select(
        "word",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cms_cell(F.col("word"), r).alias("cell")
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rc"),
    ).select("word", "cnt", F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell"))
    keyed = tracked_persist(keyed)
    cells = keyed.groupBy("r", "cell").agg(F.sum("cnt").alias("csum"))
    total = counts.agg(F.sum("cnt").alias("t"))
    est = (
        keyed.join(F.broadcast(cells), ["r", "cell"])
        .groupBy("word")
        .agg(F.min("csum").alias("est_cnt"), F.min("cnt").alias("exact_cnt"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_cnt") * CMS_SUPPORT >= F.col("t"))
        .select(
            "word",
            "est_cnt",
            "exact_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps-law curve)
# ---------------------------------------------------------------------------

VOCAB_GROWTH_BUCKETS = 8


def vocab_growth(
    documents: DataFrame, n_buckets: int = VOCAB_GROWTH_BUCKETS
) -> DataFrame:
    """Heaps-law vocabulary growth curve: the corpus is split into
    ``n_buckets`` equal doc_id prefixes and each bucket reports how
    many NEW distinct words it introduces plus the cumulative
    vocabulary size — the curve a corpus curator reads to judge
    saturation (a flattening curve means more data adds little lexical
    novelty; a straight line means the crawl is still discovering).

    Computed in ONE pass, not n_buckets prefix scans: a word's
    first-occurrence bucket is ``min(bucket(doc_id))`` over its
    postings — a single word-keyed aggregation — and the cumulative
    curve is a running sum over the ``n_buckets``-row histogram (a
    bounded single-partition window, O(n_buckets) rows by
    construction, never corpus-sized).

    Scale: tokens aggregate to (word, first_bucket) with map-side
    combine; text never shuffles; the driver sees nothing but the
    histogram. The doc_id→bucket map uses the corpus row count (one
    scalar job) over dense ids — a real pipeline substitutes
    ``global_index`` ranks for sparse ids.
    """
    n_docs = documents.count()
    width = (n_docs + n_buckets - 1) // n_buckets
    w = spread(documents, "doc_id").select(
        F.expr(f"doc_id DIV {width}").alias("bucket"),
        F.explode(wordcount.words(F.col("text"))).alias("word"),
    )
    first = w.groupBy("word").agg(F.min("bucket").alias("first_bucket"))
    hist = first.groupBy("first_bucket").agg(
        F.count(F.lit(1)).alias("new_words")
    )
    win = (
        Window.orderBy("first_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.withColumn("vocab_size", F.sum("new_words").over(win))
        .select(
            F.col("first_bucket").alias("bucket"),
            "new_words",
            F.col("vocab_size").cast("long").alias("vocab_size"),
        )
        .orderBy("bucket")
    )


def readability_scores(documents: DataFrame, sort: bool = True) -> DataFrame:
    """Flesch-style readability scoring — the prose-complexity quality
    signal (alongside Gopher rules and the LM filters) a curation
    pipeline uses to separate fluent text from keyword soup. Sentences
    are ``[.!?]+`` runs (minimum 1); syllables use the standard
    vowel-group proxy (runs of ``[aeiouy]+`` per word); the score is
    the deterministic double ``206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)`` over those exact int64 counts.

    Scale: PURE per-row JVM expressions — no explode, no shuffle, one
    map over the corpus (the gopher_rules shape). ``sort=False`` (the
    registered form) skips the O(corpus) presentation sort.
    """
    words = wordcount.words(F.col("text"))
    n_words = F.size(words).cast("long")
    n_sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"),
                lambda s: F.trim(s) != F.lit(""),
            )
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    n_syllables = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(
                F.filter(
                    F.split(w, r"[^aeiouy]+"), lambda s: s != F.lit("")
                )
            ),
            F.lit(1),
        ).cast("long"),
    )
    out = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
        F.when(
            n_words > 0,
            F.lit(206.835)
            - F.lit(1.015)
            * (n_words.cast("double") / n_sentences.cast("double"))
            - F.lit(84.6)
            * (n_syllables.cast("double") / n_words.cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("flesch"),
    )
    if not sort:
        return out
    from flink_snappydata_spark.util import presentation_sorted

    return presentation_sorted(out, "doc_id", expect_small=False)


#: Distinct-word ceiling for :func:`bpe_merges`' driver-local merge
#: fold. Rows are narrow (a ≤ 2·max_word_len+2-char symbol string + an
#: int64), so the collect is bounded at a few MB — a driver-memory
#: bound that holds at ANY corpus scale: a vocabulary larger than this
#: (web-scale corpora) takes the distributed loop instead.
BPE_DRIVER_VOCAB_MAX = 1 << 16


def _bpe_driver_fold(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The BPE merge loop as a driver-local fold over a bounded
    (spaced-symbol-string, count) vocabulary — semantics bit-identical
    to the distributed loop in :func:`bpe_merges`:

    * pair counting zips adjacent symbols (``zip(s, s[1:])`` over the
      space-split string = the arrays_zip-of-slices spelling);
    * the winner is (max count, then lexicographically smallest
      (left, right)) — symbols are ``[a-z]+`` only, where Python's
      code-point ordering and Spark's UTF-8 binary string ordering
      agree;
    * the merge is the same TWO passes of left-to-right
      non-overlapping replace of ``" l r "`` with ``" lr "``
      (``str.replace`` and Spark's ``replace`` share replace-all
      left-to-right semantics).
    """
    out_rows: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, cnt in vocab:
            s = sym.strip().split(" ")
            for pair in zip(s, s[1:]):
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        best_c = max(counts.values())
        left, right = min(p for p, c in counts.items() if c == best_c)
        out_rows.append((step, left, right, left + right, int(best_c)))
        pat, rep = f" {left} {right} ", f" {left}{right} "
        vocab = [
            (s.replace(pat, rep).replace(pat, rep), cnt) for s, cnt in vocab
        ]
    return out_rows


def bpe_merges(
    documents: DataFrame, n_merges: int = 8, max_word_len: int = 24
) -> DataFrame:
    """Distributed BPE (byte-pair-encoding) vocabulary induction: run
    ``n_merges`` rounds of the classic merge loop — count adjacent
    symbol pairs across the corpus, merge the most frequent pair
    everywhere, repeat — and return the learned merge table
    ``(step, left_sym, right_sym, merged, pair_count)``. This is the
    tokenizer-training core (GPT-2/SentencePiece style) restricted to
    lowercase alphabetic words, the standard first stage of building a
    tokenizer for a 100-TB corpus.

    Determinism: the winning pair is (max count, then lexicographically
    smallest (left, right)); the corpus-wide merge is two passes of
    plain left-to-right non-overlapping ``replace`` of ``" l r "`` with
    ``" lr "`` over the space-separated symbol string — identical
    semantics in every engine (the second pass catches occurrences whose
    shared separator the first pass consumed; any deeper same-letter run
    is left identically un-merged on both engines and simply re-counts
    next round).

    Scale: everything iterates over the DISTINCT-WORD frequency table
    (vocabulary-sized — millions of rows at 100 TB, not trillions): the
    corpus is tokenized ONCE into (word, count) via a map-side-combined
    groupBy, and each merge round is a pair-explode + groupBy on that
    vocab frame (≤ max_word_len symbols per row) followed by a 1-row
    TakeOrdered for the argmax — the O(corpus) text is never touched
    again. The winning pair is a driver-side literal folded into the
    next round's expression (a 2-value broadcast, same shape as
    `kmeans_train`'s centroid loop); the vocab frame is persisted per
    round so lineage stays flat.

    Bounded-vocab fast path: when the distinct-word frame fits
    :data:`BPE_DRIVER_VOCAB_MAX` rows (a few MB of narrow strings —
    every corpus below web scale), ALL ``n_merges`` rounds run as a
    driver-local fold over the collected (sym, cnt) list instead of
    ``n_merges`` sequential cluster jobs: pair counting is
    ``zip(s, s[1:])`` weighted by cnt, the argmax is (max count, then
    lexicographically smallest pair), the merge is the same two-pass
    left-to-right non-overlapping ``str.replace`` — bit-identical to
    the distributed loop on every input (pinned by
    ``tests/test_round15_ops.py::test_bpe_driver_fold_matches_distributed_loop``).
    The one LocalLimit probe collect replaces ~2 jobs per round; past
    the bound the distributed loop runs unchanged (the 100 TB path).
    This function is ALREADY eager (the per-round argmax collects), so
    the probe adds no construction-time laziness regression.
    """
    spark = documents.sparkSession
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.col("text")), r"\W+")).alias("word")
        )
        .filter(
            F.col("word").rlike("^[a-z]+$")
            & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wf = tracked_persist(
        words.select(
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
                F.lit(" "),
            ).alias("sym"),
            "cnt",
        )
    )
    out_schema = (
        "step long, left_sym string, right_sym string, "
        "merged string, pair_count long"
    )
    probe = wf.limit(BPE_DRIVER_VOCAB_MAX + 1).collect()
    if len(probe) <= BPE_DRIVER_VOCAB_MAX:
        return spark.createDataFrame(
            _bpe_driver_fold(
                [(r.sym, r.cnt) for r in probe], n_merges
            ),
            out_schema,
        ).orderBy("step")
    out_rows: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        syms = F.split(F.trim(F.col("sym")), " ")
        pairs = (
            wf.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(syms, 1, F.size(syms) - 1).alias("l"),
                        F.slice(syms, 2, F.size(syms) - 1).alias("r"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
        )
        best = (
            pairs.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
        )
        if not best:
            break
        b = best[0]
        out_rows.append((step, b.l, b.r, b.l + b.r, int(b.c)))
        pat, rep = F.lit(f" {b.l} {b.r} "), F.lit(f" {b.l}{b.r} ")
        wf = tracked_persist(
            wf.select(
                F.replace(F.replace(F.col("sym"), pat, rep), pat, rep).alias(
                    "sym"
                ),
                "cnt",
            )
        )
    return spark.createDataFrame(out_rows, out_schema).orderBy("step")


def bpe_encode_stats(
    documents: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 8,
    max_word_len: int = 24,
    keep_cols: tuple[str, ...] = (),
    allow_short_merge_table: bool = False,
) -> DataFrame:
    """Apply a trained BPE merge table to the corpus and return exact
    per-document tokenization stats ``(doc_id, n_words, n_alpha_chars,
    n_bpe_tokens)`` — the encode half of the tokenizer pair whose
    training half is :func:`bpe_merges`, i.e. "how many tokens is this
    corpus under the learned vocabulary?", the question every
    token-budget decision (mixing, packing, pricing) starts from.

    ``merges`` is the ordered merge list ``[(left, right), ...]``;
    when ``None`` it is trained here via :func:`bpe_merges` (a
    vocabulary-frame loop, then one driver collect of ``n_merges``
    tiny rows). Encoding mirrors training exactly: each eligible word
    (lowercase alphabetic, ``<= max_word_len`` chars — the training
    filter) becomes the spaced symbol string ``" a b c "`` and each
    merge is the same two-pass left-to-right ``replace`` of
    ``" l r "`` with ``" lr "``, so a word encodes to precisely the
    symbols training would have left it with. Merges never cross word
    boundaries, so words encode independently and per-doc token counts
    are order-free sums.

    Scale: encoding is a pure per-row JVM expression — the merge table
    arrives as ``2 x n_merges`` string literals folded into a chain of
    ``replace`` calls inside ``transform``/``aggregate`` higher-order
    functions, so the corpus is scanned ONCE with zero shuffles, zero
    Python, and nothing but (doc_id, 3 int64s) ever leaving the map
    side. The alternative (encode the distinct-word vocabulary once,
    join back per occurrence) trades that scan for a corpus-sized
    word-level shuffle; per-row re-encoding of duplicate words is
    cheap string work and keeps the op map-only, the right trade at
    100 TB.
    """
    if merges is None:
        merges = [
            (r.left_sym, r.right_sym)
            for r in bpe_merges(documents, n_merges, max_word_len).collect()
        ]
        # Fail LOUDLY on a degenerate corpus: training stops early when
        # fewer than n_merges mergeable pairs exist, but the DuckDB
        # oracles cross-join all n_merges one-row b{i} CTEs — an empty
        # b{i} silently empties the oracle's encode frame, turning a
        # training shortfall into a bogus all-zero parity "result".
        # The guard protects the oracle-parity contract; a genuinely
        # small corpus is a VALID library input (the Spark-side encode
        # with fewer merges is correct), so such callers opt out with
        # allow_short_merge_table=True and keep the shorter table.
        if len(merges) != n_merges and not allow_short_merge_table:
            raise ValueError(
                f"BPE training produced {len(merges)} merges but "
                f"n_merges={n_merges}: corpus has too few mergeable "
                "pairs — pass the trained list explicitly, lower "
                "n_merges, or (library callers outside the SQL-oracle "
                "context) pass allow_short_merge_table=True to encode "
                "with the shorter table"
            )
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\W+"),
        lambda w: w.rlike("^[a-z]+$") & (F.length(w) <= max_word_len),
    )

    def _encode_len(w: Column) -> Column:
        s = F.concat(
            F.lit(" "), F.trim(F.regexp_replace(w, "(.)", "$1 ")), F.lit(" ")
        )
        for left, right in merges:
            pat = F.lit(f" {left} {right} ")
            rep = F.lit(f" {left}{right} ")
            s = F.replace(F.replace(s, pat, rep), pat, rep)
        t = F.trim(s)
        return (
            F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
        ).cast("long")

    zero = F.lit(0).cast("long")
    return documents.select(
        "doc_id",
        *keep_cols,
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            words, zero, lambda acc, w: acc + F.length(w)
        ).alias("n_alpha_chars"),
        F.aggregate(
            F.transform(words, _encode_len), zero, lambda acc, x: acc + x
        ).alias("n_bpe_tokens"),
    )


def tokenizer_fertility(
    documents: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 8,
    max_word_len: int = 24,
) -> DataFrame:
    """Per-language tokenizer fertility under the learned BPE
    vocabulary: ``fertility = bpe_tokens / words`` grouped by the
    document's ``lang`` column — the standard "how fairly does this
    tokenizer treat each language?" diagnostic (a vocabulary trained
    on one language fragments the others into more tokens per word,
    inflating their effective cost in every token-budgeted decision).
    Returns ``(lang, n_docs, n_words, n_bpe_tokens, fertility)``,
    fertility 0.0 for a language with no eligible words.

    Scale: rides :func:`bpe_encode_stats` with ``lang`` carried
    through the map-only encode scan, then ONE map-side-combined
    groupBy to the languages-sized frame — the corpus is scanned once
    and only (lang, 3 int64s) rows shuffle. The division is a single
    int64/int64 double op, engine-identical.
    """
    enc = bpe_encode_stats(
        documents, merges, n_merges, max_word_len, keep_cols=("lang",)
    )
    per = enc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        F.when(
            F.col("n_words") > 0,
            F.col("n_bpe_tokens").cast("double") / F.col("n_words"),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    ).orderBy("lang")


def email_domain_stats(
    documents: DataFrame, synthesize: bool = False
) -> DataFrame:
    """Per-domain rollup of email mentions across the corpus — the
    entity-extraction aggregation behind contact-surface audits and
    domain-level PII triage ("which domains' addresses leak into this
    corpus, how often, how widely"): mention count and the EXACT count
    of distinct documents mentioning each domain.

    Extraction uses :data:`EMAIL_RE` — the backreference-free,
    lookaround-free pattern chosen for identical Java-regex (Spark) /
    RE2 (DuckDB) semantics — over lowercased text, so domains
    normalize; the domain is the suffix after the address's single
    ``@`` (the pattern admits exactly one).

    Returns ``(domain, n_mentions, n_docs)`` in domain order.

    Scale: extraction is a per-row JVM regexp (no Python); only
    (doc_id, domain) rows shuffle — never text; the distinct-docs
    count is the two-stage map-side-combined (domain, doc) fold (no
    count-distinct expand), and mention counts ride the same
    pre-deduped frame's sibling aggregation.

    ``synthesize`` plants one deterministic address per document
    across 7 domains (the `pii_redaction` oracle device) so the
    fixture exercises the rollup; the oracle applies the identical
    enrichment in SQL. It defaults OFF — this op's output is
    specifically an audit artifact, so a library caller running a real
    PII-surface audit must never get planted domains mixed into the
    rollup; only the registry's fixture entry opts in (the
    `audio_silence_stats` / `synthesize_wav_gated` wrapping pattern).
    """
    if synthesize:
        documents = documents.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com"),
            ),
        )
    mentions = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(EMAIL_RE), 0
            )
        ).alias("email"),
    ).select(
        "doc_id", F.substring_index("email", "@", -1).alias("domain")
    )
    per_doc = mentions.groupBy("domain", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_doc.groupBy("domain")
        .agg(
            F.sum("c").alias("n_mentions"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("domain")
    )


def source_token_entropy(documents: DataFrame) -> DataFrame:
    """Quantized Shannon entropy of each source's token distribution —
    the concentration diagnostic that separates "ten templates looping"
    (low entropy) from genuinely varied text (high), complementing
    :func:`source_tv_distance` (BETWEEN-source drift) with a
    WITHIN-source measure.

    Entropy is quantized to exact integer BITS (the
    :func:`unigram_surprisal` device): token ``w`` with count ``c_w``
    of ``N`` contributes ``c_w · (floor(log2 N) − floor(log2 c_w))``,
    an int64 sum that is order-free and engine-exact (``bin()``-length
    arithmetic, no float logs); ``entropy_bits`` is ONE final int/int
    double division, within 1 bit of true Shannon entropy.

    Returns ``(source, n_tokens, n_distinct, bits_sum,
    entropy_bits)`` in source order.

    Scale: one map-side-combined (source, word) histogram — the only
    corpus-sized shuffle — then per-source totals (a |sources|-row
    broadcast) joined back; no tf⋈vocab join exists here, so no
    stopword-skew machinery is needed (the histogram's own keys are
    (source, word), ≤ one row per pair by construction).
    """
    w = documents.select(
        "source", F.explode(wordcount.words(F.col("text"))).alias("word")
    )
    hist = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = hist.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    bits = _floor_log2(F.col("n")) - _floor_log2(F.col("c"))
    per = (
        hist.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(F.sum(F.col("c") * bits).alias("bits_sum"))
    )
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "n_distinct",
            "bits_sum",
            (
                F.col("bits_sum").cast("double")
                / F.col("n").cast("double")
            ).alias("entropy_bits"),
        )
        .orderBy("source")
    )


def source_tv_distance(documents: DataFrame) -> DataFrame:
    """Pairwise total-variation distance between per-source unigram
    word distributions: ``TV(a,b) = ½ Σ_w |p_a(w) − p_b(w)|`` for
    every source pair — the exact, bounded-in-[0,1] drift matrix a
    curator reads to decide which sources are near-duplicates of each
    other's distribution and which bring genuinely different text (the
    rational-arithmetic cousin of KL/JS, which need floating logs).

    Returns ``(source_a, source_b, n_common, tv)`` with ``source_a <
    source_b``, pair order. Exactness: ``|c_a·N_b − c_b·N_a|``
    numerators accumulate in DECIMAL(38,0) (no float sums, no int64
    overflow at 10¹³-token sources), with ONE double division at the
    end; the words missing from one source fold in algebraically via
    ``Σ_{a∖b} c_a = N_a − Σ_∩ c_a``, so only the intersection join is
    ever computed.

    Scale: the corpus collapses FIRST to the per-(source, word)
    histogram (one map-side-combined shuffle — the only corpus-sized
    one; text shuffles as grouping key exactly once, like
    ``frequent_tokens``). The word-keyed pair join runs on that
    histogram where every key holds ≤ |sources| rows — stopwords are
    NOT hot here, unlike the tf⋈vocab joins that need
    ``_join_word_stats_skew_safe`` — and collapses immediately to the
    |sources|²/2-sized pair frame. Totals broadcast.
    """
    w = documents.select(
        "source", F.explode(wordcount.words(F.col("text"))).alias("word")
    )
    hist = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = hist.groupBy("source").agg(F.sum("c").alias("n"))
    a = hist.select(
        F.col("source").alias("source_a"), "word", F.col("c").alias("ca")
    )
    b = hist.select(
        F.col("source").alias("source_b"), "word", F.col("c").alias("cb")
    )
    na = totals.select(
        F.col("source").alias("source_a"), F.col("n").alias("na")
    )
    nb = totals.select(
        F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pair = (
        # vocabulary × vocabulary — pinned shuffle join
        a.join(b.hint("shuffle_hash"), "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.abs(
                    dec(F.col("ca")) * dec(F.col("nb"))
                    - dec(F.col("cb")) * dec(F.col("na"))
                )
            ).alias("iabs"),
            F.sum("ca").alias("sa"),
            F.sum("cb").alias("sb"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    numer = (
        F.col("iabs")
        + dec(F.col("na") - F.col("sa")) * dec(F.col("nb"))
        + dec(F.col("nb") - F.col("sb")) * dec(F.col("na"))
    )
    denom = dec(F.lit(2)) * dec(F.col("na")) * dec(F.col("nb"))
    return pair.select(
        "source_a",
        "source_b",
        "n_common",
        (numer.cast("double") / denom.cast("double")).alias("tv"),
    ).orderBy("source_a", "source_b")


def ngram_diversity(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-source corpus diversity: total word ``n``-grams, EXACT
    distinct ``n``-gram count, and the distinct/total ratio — the
    corpus-level self-repetition diagnostic (the self-BLEU family's
    cheap exact cousin). A source whose ratio collapses is template
    spam or a crawler trap even when every individual document looks
    fine to the per-doc :func:`repetition_scores`.

    Returns ``(source, n_ngrams, n_distinct, diversity)`` in source
    order; a source with no ≥``n``-word document is absent (it has no
    n-grams to measure).

    Scale: n-grams are digested IN the per-row expression (the
    portable md5-prefix 60-bit hash every dedup op shuffles) so only
    (source, int64) rows ever shuffle — text never does. Exact
    distinct runs as the canonical two-stage: map-side-combined
    (source, digest) counts, then one source-keyed fold of that
    already-deduped frame; no count-distinct expand, no second corpus
    scan for the total (it is the sum of the same per-digest counts).
    """
    # Materialize the words array in its own projection so the gram
    # expressions reference a named column — n element_at's over one
    # array, not n inlined split/filter trees (smaller plan, one
    # tokenization per row even without codegen CSE).
    wsdf = documents.select(
        "source", wordcount.words(F.col("text")).alias("_ws")
    )
    ws = F.col("_ws")
    k = F.size(ws)
    gram = lambda i: F.concat_ws(  # noqa: E731 — join n words from i
        " ", *[F.element_at(ws, i + F.lit(j + 1)) for j in range(n)]
    )
    digests = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.conv(
                F.substring(F.md5(gram(i).cast("binary")), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    per_digest = (
        wsdf.select("source", F.explode(digests).alias("h"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_digest.groupBy("source")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            "source",
            "n_ngrams",
            "n_distinct",
            (
                F.col("n_distinct").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("diversity"),
        )
        .orderBy("source")
    )


def token_drift_topk(
    documents: DataFrame,
    source_a: str = "src0",
    source_b: str = "src1",
    k: int = 20,
) -> DataFrame:
    """Top-k drifting tokens between two sources by χ² contribution —
    the corpus-drift detector ("which words distinguish this crawl
    from that one?") that powers DSIR-style importance weighting and
    contamination triage. For each token in either source's
    vocabulary, the 2-cell independence test term
    ``(o_a−e_a)²/e_a + (o_b−e_b)²/e_b`` is computed from exact int64
    counts (expected counts and the fixed two-term sum are identical
    double expressions on both engines), and the ``k`` largest
    (χ² desc, token asc tie-break) are returned as
    ``(token, c_a, c_b, chi2)``.

    Scale: each side collapses to its token histogram (map-side
    combined, vocabulary-sized); the full-outer merge and the χ²
    arithmetic run on the merged vocabulary frame; the top-k is
    :func:`~flink_snappydata_spark.util.top_k`, so no reducer ever
    sorts the whole vocabulary. Text never shuffles (tokens do, bounded
    by vocabulary).
    """

    def hist(src: str, name: str) -> DataFrame:
        return (
            documents.filter(F.col("source") == src)
            .select(F.explode(wordcount.words(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(name))
        )

    m = (
        hist(source_a, "c_a")
        .join(hist(source_b, "c_b").hint("shuffle_hash"), "token", "full_outer")
        .select(
            "token",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    tot = m.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    oa, ob = F.col("c_a").cast("double"), F.col("c_b").cast("double")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    row = oa + ob
    ea = row * na / (na + nb)
    eb = row * nb / (na + nb)
    scored = m.crossJoin(F.broadcast(tot)).select(
        "token",
        "c_a",
        "c_b",
        ((oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb).alias(
            "chi2"
        ),
    )
    order = [F.col("chi2").desc(), "token"]
    return top_k(scored, [], order, k).orderBy(*order)


def _sum_floor_log2(m: Column, squared: bool = False) -> Column:
    """``Σ_{i=1..m} floor(log2 i)`` (or its square with
    ``squared=True``), EXACT and closed-form: ranks are grouped by the
    62 power-of-two bands ``[2^j, 2^{j+1})``, each contributing
    ``j · clamp(min(m, 2^{j+1}−1) − 2^j + 1, 0)``. Pure int64 literal
    arithmetic — no log, no loop over rows — so any SQL engine can
    replay the identical sum from the identically generated literals.
    Valid for ``m < 2^62`` (any realizable vocabulary)."""
    total = F.lit(0).cast("long")
    for j in range(1, 62):  # the j=0 band contributes 0
        lo, hi = 1 << j, (1 << (j + 1)) - 1
        cnt = F.greatest(
            F.least(m, F.lit(hi).cast("long")) - F.lit(lo) + F.lit(1),
            F.lit(0).cast("long"),
        )
        total = total + cnt * F.lit(j * j if squared else j).cast("long")
    return total


def zipf_fit(documents: DataFrame) -> DataFrame:
    """Zipf-law fit of the corpus rank–frequency curve — the
    "does this corpus look like natural language?" diagnostic (organic
    text fits log f ≈ a − s·log r with s near 1; machine-generated or
    template-heavy corpora bend the curve). Fits exact-integer OLS on
    the points ``(floor(log2 rank), floor(log2 freq))`` over the WHOLE
    vocabulary and returns one row ``(vocab_size, slope, intercept,
    r2)``.

    Exactness: both coordinates use the engine's bin()-length floor-log2
    device (`_floor_log2`), so every point is an int64 pair; the five
    OLS sufficient statistics are exact integer sums, and slope /
    intercept are single divisions of DECIMAL(38,0) products (r² is the
    same expression evaluated over the decimal intermediates cast to
    double — its numerator squared would pass 10^38). Ranks within a
    tied-frequency group are consecutive, and ``Σ floor(log2 i)`` over
    a rank RANGE has a closed form over the 62 power-of-two bands
    (:func:`_sum_floor_log2`), so THE TOKENS NEVER NEED INDIVIDUAL
    RANKS — ties contribute in O(1) per distinct frequency.

    Scale: corpus → (word, f) vocabulary (one map-side-combined agg,
    text shuffles only as words) → frequency HISTOGRAM (distinct
    frequency values — thousands of rows for billions of tokens); the
    descending-rank offsets ride
    :func:`~flink_snappydata_spark.util.cell_prefix_sums` over that
    bounded frame, per-band rank sums are literal arithmetic, and the
    fit is a 1-row aggregate. No global sort, no per-token rank.
    """
    from flink_snappydata_spark.util import cell_prefix_sums

    vocab = (
        documents.select(F.explode(wordcount.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    hist = (
        vocab.groupBy("f")
        .agg(F.count(F.lit(1)).alias("t"))
        .withColumn("neg_f", -F.col("f"))
    )
    pref = cell_prefix_sums(hist, "neg_f", ["t"])
    g = pref.select(
        "f",
        "t",
        (F.col("cum_t") - F.col("t")).alias("m0"),
        F.col("cum_t").alias("m1"),
        _floor_log2(F.col("f")).alias("y"),
    ).select(
        "t",
        "y",
        (
            _sum_floor_log2(F.col("m1")) - _sum_floor_log2(F.col("m0"))
        ).alias("sx_g"),
        (
            _sum_floor_log2(F.col("m1"), squared=True)
            - _sum_floor_log2(F.col("m0"), squared=True)
        ).alias("sxx_g"),
    )
    d = "decimal(38,0)"
    agg = g.agg(
        F.sum("t").cast(d).alias("n"),
        F.sum("sx_g").cast(d).alias("sx"),
        F.sum("sxx_g").cast(d).alias("sxx"),
        F.sum(F.col("t") * F.col("y")).cast(d).alias("sy"),
        F.sum(F.col("t") * F.col("y") * F.col("y")).cast(d).alias("syy"),
        F.sum(F.col("y") * F.col("sx_g")).cast(d).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return agg.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.when(den_x > 0, num / den_x).otherwise(F.lit(0.0)).alias("slope"),
        F.when(
            den_x > 0,
            (
                F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
            ).cast("double")
            / den_x,
        )
        .otherwise(F.lit(0.0))
        .alias("intercept"),
        F.when(
            (den_x > 0) & (den_y > 0), num * num / (den_x * den_y)
        )
        .otherwise(F.lit(0.0))
        .alias("r2"),
    )


#: Tag pattern shared by the cleaner and its oracle — deliberately the
#: simple maximal-munch-free ``<[^>]*>`` (identical semantics in Java
#: regex and RE2/DuckDB; no backrefs, no lazy quantifiers).
HTML_TAG_RE = r"<[^>]*>"

#: Whitespace-run class: explicit ``[ \t\n\r]`` instead of ``\s``
#: (Java's \s includes \x0B, RE2's does not — the one-character
#: divergence that would break cross-engine parity on pathological
#: input).
HTML_WS_RE = r"[ \t\n\r]+"


def _with_synthetic_html(documents: DataFrame) -> DataFrame:
    """Wrap every 3rd document in deterministic boilerplate markup
    (the `_with_synthetic_pii` device): the fixture corpus contains no
    HTML, which would make a tag-stripping oracle vacuous; both
    engines wrap the same docs in the same tags + entities so the
    cleaning parity is exercised on real rows."""
    wrapped = F.concat(
        F.lit('<html><body class="doc"><p id="main">'),
        F.col("text"),
        F.lit(
            '</p><br/><div id="footer">&lt;footer&gt; '
            "&amp;copy example&nbsp;inc</div></body></html>"
        ),
    )
    return documents.withColumn(
        "text",
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, wrapped).otherwise(
            F.col("text")
        ),
    )


def html_clean(
    documents: DataFrame, synthesize: bool = True, sort: bool = True
) -> DataFrame:
    """HTML boilerplate cleaning — the web-crawl-to-training-text step
    every pretraining pipeline runs before quality filtering: strip
    tags, unescape the common entities, collapse whitespace runs, and
    report per-document cleaning stats plus a 60-bit content signature
    of the cleaned text (any row the cleaner corrupts moves its
    signature).

    Entity order matters and is fixed: ``&lt;``/``&gt;`` first, then
    ``&amp;``, then ``&nbsp;`` — the same chain on both engines, so
    double-escaped input resolves identically. Returns ``(doc_id,
    was_html, n_tags, clean_chars, clean_sig)``.

    Scale: pure per-row JVM regexp/replace expressions inside
    whole-stage codegen — NO shuffle, NO explode, one map over the
    corpus (the `gopher_rules` plan shape); the text column never
    leaves the scan stage, only ids and int stats come out.
    """
    if synthesize:
        documents = _with_synthetic_html(documents)
    if sort:
        # sort the raw rows, clean above the exchange — an orderBy
        # above the regexp/md5 projection would re-run the cleaning
        # pass in the range exchange's bound-sampling job (2x cost).
        documents = documents.orderBy("doc_id")
    text = F.col("text")
    n_tags = F.size(
        F.regexp_extract_all(text, F.lit(HTML_TAG_RE), F.lit(0))
    ).cast("long")
    stripped = F.regexp_replace(text, HTML_TAG_RE, " ")
    unescaped = F.replace(
        F.replace(
            F.replace(
                F.replace(stripped, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&amp;"),
            F.lit("&"),
        ),
        F.lit("&nbsp;"),
        F.lit(" "),
    )
    cleaned = F.trim(F.regexp_replace(unescaped, HTML_WS_RE, " "))
    return documents.select(
        "doc_id",
        (n_tags > 0).cast("long").alias("was_html"),
        n_tags.alias("n_tags"),
        F.length(cleaned).cast("long").alias("clean_chars"),
        F.conv(
            F.substring(F.md5(cleaned.cast("binary")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("clean_sig"),
    )


def skipgram_pmi(
    documents: DataFrame, window: int = 3, k: int | None = 50
) -> DataFrame:
    """Skip-gram (context-window) co-occurrence PMI — the word2vec /
    GloVe co-occurrence statistic, generalizing
    :func:`frequent_bigrams` from adjacent pairs to every UNORDERED
    word pair within ``window`` positions of each other: the top-``k``
    pairs by co-occurrence count with the same exact integer-bits PMI
    (``(L(c_ab) + 2·L(Nu)) − (L(Np) + L(u_a) + L(u_b))`` over exact
    int64 counts via :func:`_floor_log2`; ``Np`` = total pair count so
    the pair distribution normalizes correctly). Pairs are
    canonicalized (w1 <= w2, binary string order — identical in Spark
    and DuckDB) so "deep learning" and "learning deep" accumulate into
    one cell, the unordered form co-occurrence factorizations use.

    Scale: all ``window`` offset streams are built IN-KERNEL — the
    word array zipped with its own offset-``o`` tail for o = 1..window,
    concatenated per row and exploded ONCE (no per-position explode,
    no self-join on positions — the naive spelling joins the exploded
    token table to itself on doc_id + a position band, shuffling
    O(tokens) rows twice); the pair count is one map-side-combined
    aggregation keyed by the pair, unigram counts and the two totals
    are the same shapes as :func:`frequent_tokens`, the count joins
    carry (word, count) rows only and pin ``shuffle_hash`` on the
    corpus-sized sides, and the global top-k is TakeOrdered. Output
    row count is min(k, distinct pairs); the per-row expansion factor
    is exactly ``window`` (bounded, unlike a sentence-length-squared
    all-pairs window).

    ``k=None`` returns the FULL unordered co-occurrence matrix,
    unsorted — the input a factorization (GloVe-style) consumes; never
    TakeOrdered a corpus-sized k (a huge top-k heap per partition is
    an OOM, not a sort).
    """
    ws = wordcount.words(F.col("text"))

    def tail_zip(off: int):
        n = F.greatest(F.size(ws) - F.lit(off), F.lit(0))
        return F.zip_with(
            F.slice(ws, 1, n),
            F.slice(ws, 1 + off, n),
            lambda a, b: F.struct(
                F.least(a, b).alias("w1"), F.greatest(a, b).alias("w2")
            ),
        )

    pair = F.explode(
        F.concat(*[tail_zip(off) for off in range(1, window + 1)])
    )
    pairs = (
        documents.filter(F.size(ws) >= 2)
        .select(pair.alias("p"))
        .select("p.w1", "p.w2")
    )
    bgc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    uni = (
        documents.select(F.explode(ws).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    return _pmi_topk(bgc, uni, k)
