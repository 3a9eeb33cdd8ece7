"""End-to-end corpus curation: the engine's flagship LLM-data pipeline.

Composes the individual operators this package provides into the
standard pre-training curation flow:

1. exact dedup (one representative per distinct text, copy count kept);
2. quality filtering (word stats / punctuation ratio gates);
3. language ID (keyword-hit heuristic);

returning one row per surviving document with its curation metadata.
Downstream, :func:`flink_snappydata_spark.pipeline.sampling.hash_split`
assigns train/val/test, and the near-dup passes
(:mod:`flink_snappydata_spark.pipeline.dedup`) remove fuzzier copies —
both are separate declared queries.

Scale: dedup is one digest-keyed shuffle; quality and langid are pure
column expressions (no shuffle); the final joins are on doc_id —
Catalyst plans broadcast or shuffle joins by size. Nothing here is
quadratic or driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_snappydata_spark.pipeline.dedup import (
    exact_dedup,
    neardup_clusters,
    ngram_jaccard_pairs,
)
from flink_snappydata_spark.pipeline.sampling import hash_split
from flink_snappydata_spark.pipeline.text import (
    language_id,
    quality_model_scores,
    quality_scores,
)
from flink_snappydata_spark.util import presentation_sorted


def canonical_pick(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """Canonical-document selection: after near-dup clustering, keep the
    highest-quality member of each duplicate cluster — the step that
    turns pairwise dedup output into an actual keep/drop decision (the
    "keep one per cluster, prefer the best copy" rule every curation
    pipeline ends near-dup handling with).

    Quality is the :func:`~flink_snappydata_spark.pipeline.text.
    quality_model_scores` margin (deterministic double over exact int64
    sums); ties break to the smallest doc_id. Returns one row per
    cluster: ``(cluster_id, keep_doc_id, n_members, best_margin)``.

    Scale: clusters come from the prefix-filtered pair graph (bounded
    by pairs, never O(n²)); margins are a pure per-row scan; the join is
    on doc_id and the argmax is ``max_by`` over a grouped aggregation —
    partial aggregates collapse each cluster's members map-side, so the
    shuffle carries one narrow row per (partition, cluster), never the
    member lists. The default pair graph is built UNSORTED
    (``sorted_output=False`` — pair order is irrelevant to the
    clustering that consumes it, and the O(pairs) list must not funnel
    through one partition on a duplicate-heavy corpus). The output sort
    is gated: ``sort=False`` skips it entirely.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents, sorted_output=False)
    labels = neardup_clusters(pairs)
    margins = quality_model_scores(documents, sort=False).select(
        "doc_id", "margin"
    )
    # corpus × corpus — pinned shuffle join, never an estimate-driven
    # broadcast (see dedup._prefix_index's note); same for the joins
    # in canonical_pick/leakage_safe_split/curation_pipeline/
    # snapshot_diff/merge_upsert below
    member = labels.join(margins.hint("shuffle_hash"), "doc_id")
    out = member.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("margin"), (-F.col("doc_id")).alias("nd")),
        ).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("margin").alias("best_margin"),
    )
    if not sort:
        return out
    return presentation_sorted(out, "cluster_id")


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    weights=None,
    salt: str = "fss-split-v1",
    sort: bool = False,
) -> DataFrame:
    """Near-dup-leakage-free train/val/test split: the split decision
    hashes the document's near-dup CLUSTER representative, not the
    document itself, so every member of a duplicate cluster lands on
    the same side — the guard against the classic eval-inflation bug
    where a near-copy of a validation document sits in train. Plain
    :func:`~flink_snappydata_spark.pipeline.sampling.hash_split` over
    doc_id puts an expected ``2·p·(1-p)`` fraction of every near-dup
    pair across the boundary; hashing ``rep_id`` makes that exactly
    zero while keeping the assignment a pure deterministic function of
    the data (stable under corpus growth, no RNG, engine-reproducible).

    Returns one row per document: ``(doc_id, rep_id, split)`` with
    ``rep_id`` = the cluster's smallest reachable doc_id for paired
    documents (:func:`~flink_snappydata_spark.pipeline.dedup.
    neardup_clusters`) and the document's own id otherwise.

    Scale: clusters ride the prefix-filtered pair graph (bounded by
    pairs, never O(n²); built UNSORTED — pair order is irrelevant
    here); the label join is doc_id-keyed; the split itself is the
    per-row portable-hash arithmetic of ``hash_split`` — no extra
    shuffle beyond the cluster join, text never moves. ``sort``
    defaults False: the output is corpus-sized (one row per document)
    and downstream writers do not need an order.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents, sorted_output=False)
    labels = neardup_clusters(pairs, expect_small=False)
    rep = documents.select("doc_id").join(
        labels.hint("shuffle_hash"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep_id"),
    )
    out = hash_split(rep, "rep_id", weights, salt)
    if not sort:
        return out
    return presentation_sorted(out, "doc_id", expect_small=False)


def curation_pipeline(documents: DataFrame) -> DataFrame:
    """(doc_id, n_copies, pred_lang, n_words) for every document that
    survives dedup + quality gates."""
    reps = exact_dedup(documents).select("doc_id", "n_copies")
    quality = quality_scores(documents).select("doc_id", "n_words", "keep")
    lang = language_id(documents).select("doc_id", "pred_lang")
    return (
        reps.join(quality.hint("shuffle_hash"), "doc_id")
        .join(lang.hint("shuffle_hash"), "doc_id")
        .filter(F.col("keep"))
        .select("doc_id", "n_copies", "pred_lang", "n_words")
        .orderBy("doc_id")
    )


def dedup_report(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """One-row corpus duplication report: the summary a pipeline
    operator reads BEFORE choosing dedup policy — how much mass exact
    dedup would remove, how much near-dup clustering would, and whether
    one giant cluster (a template/mirror blowup) dominates.

    Columns: ``n_docs``, ``n_distinct_texts`` (exact), ``exact_dup_docs``
    (rows exact dedup would drop), ``n_neardup_docs`` / ``n_neardup_clusters``
    (documents/components in the near-dup pair graph), ``max_cluster_size``
    (0 when the graph is empty).

    Scale: the distinct-text count groups on the sha256 digest, never
    the text; cluster stats are two tiny aggregations over the label
    frame (itself bounded by the prefix-filtered pair graph); the three
    one-row frames meet in broadcast cross joins. The default pair
    graph is built unsorted (``sorted_output=False``): the O(pairs)
    list feeds only order-free aggregations here, and a
    single-partition presentation sort would defeat the
    ``expect_small=False`` discipline applied to the label frame below.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents, sorted_output=False)
    labels = neardup_clusters(pairs, expect_small=False)
    base = documents.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.sha2(F.col("text").cast("binary"), 256)).alias(
            "n_distinct_texts"
        ),
    )
    cl = (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_neardup_docs"),
            F.count(F.lit(1)).alias("n_neardup_clusters"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("max_cluster_size"),
        )
    )
    return base.crossJoin(F.broadcast(cl)).select(
        "n_docs",
        "n_distinct_texts",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("exact_dup_docs"),
        "n_neardup_docs",
        "n_neardup_clusters",
        "max_cluster_size",
    )


def snapshot_diff(documents: DataFrame) -> DataFrame:
    """Table-version reconciliation: diff two snapshots of the corpus
    by content digest — the data-ops primitive behind incremental
    re-crawls, replication checks, and "what changed since the last
    training set" audits. Returns one row per non-identical document:
    ``(doc_id, status ∈ added | removed | changed)``.

    The "new" snapshot is synthesized deterministically on both
    engines (the PII-oracle enrichment device): every 17th document is
    dropped, every 13th surviving document's text is modified, and
    every 19th document spawns an added derivative at
    ``doc_id + 1_000_000``.

    Scale: each side reduces to ``(doc_id, sha2(text))`` BEFORE the
    join — text never shuffles, the full-outer join carries ids and
    64-hex digests only, and matching-digest rows (the overwhelming
    majority of a real diff) are filtered without ever moving their
    payload. The join is id-keyed and co-partitioned; no broadcast
    needed at any corpus size. The diff output is a corpus-sized
    fraction of the input, so the presentation sort stays a
    distributed range sort (``expect_small=False``).
    """
    digest = F.sha2(F.col("text"), 256)
    old = documents.select("doc_id", digest.alias("old_digest"))
    base = documents.filter(F.pmod(F.col("doc_id"), F.lit(17)) != 0)
    modified = base.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(13)) == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = documents.filter(F.pmod(F.col("doc_id"), F.lit(19)) == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.lit("addendum: "), F.col("text")).alias("text"),
    )
    new = modified.unionByName(added).select(
        "doc_id", digest.alias("new_digest")
    )
    out = (
        old.join(new.hint("shuffle_hash"), "doc_id", "full_outer")
        .filter(
            F.col("old_digest").isNull()
            | F.col("new_digest").isNull()
            | (F.col("old_digest") != F.col("new_digest"))
        )
        .select(
            "doc_id",
            F.when(F.col("old_digest").isNull(), F.lit("added"))
            .when(F.col("new_digest").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )
    return presentation_sorted(out, "doc_id", expect_small=False)


def merge_upsert(documents: DataFrame) -> DataFrame:
    """MERGE INTO semantics (the lakehouse upsert/delete apply — the
    write-side twin of :func:`snapshot_diff`): apply a keyed changeset
    of deletes and upserts to a base table and report the merge
    summary plus an order-free content checksum of the merged table.

    The changeset is synthesized deterministically on both engines:
    delete every 23rd document, upsert a revised text for every 11th
    surviving document, and insert a derivative document at
    ``doc_id + 2_000_000`` for every 29th — updates and inserts ride
    the SAME upsert channel (matched → replace, unmatched → insert),
    which is exactly the MERGE contract.

    Returns one row: ``(n_base, n_deleted, n_updated, n_inserted,
    n_rows, content_checksum)`` where the checksum is the BIGINT sum of
    a 32-bit md5 word of ``doc_id#text`` over the merged table — any
    row lost, duplicated, or mis-texted by the merge moves it.

    Scale: the merge is two id-keyed co-partitioned joins (anti for
    deletes, full-outer for upserts) whose join payload is ids plus the
    changeset's new text — base text rides the base partition and never
    shuffles redundantly; matched/unmatched classification happens in
    the same pass that produces the merged rows, so there is no second
    scan; the summary is a map-side-combined single-row aggregate. No
    broadcast is required at any corpus size, though Catalyst will
    broadcast the changeset side when it is small.
    """
    deletes = documents.filter(
        F.pmod(F.col("doc_id"), F.lit(23)) == 0
    ).select("doc_id")
    upserts = (
        documents.filter(
            (F.pmod(F.col("doc_id"), F.lit(11)) == 0)
            & (F.pmod(F.col("doc_id"), F.lit(23)) != 0)
        )
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" [v2]")).alias("new_text"),
        )
        .unionByName(
            documents.filter(F.pmod(F.col("doc_id"), F.lit(29)) == 0).select(
                (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
                F.concat(F.lit("insert: "), F.col("text")).alias("new_text"),
            )
        )
    )
    survivors = documents.select("doc_id", "text").join(
        deletes.hint("shuffle_hash"), "doc_id", "left_anti"
    )
    merged = survivors.join(
        upserts.hint("shuffle_hash"), "doc_id", "full_outer"
    ).select(
        "doc_id",
        F.coalesce(F.col("new_text"), F.col("text")).alias("text"),
        (F.col("new_text").isNotNull() & F.col("text").isNotNull()).alias(
            "was_update"
        ),
        (F.col("new_text").isNotNull() & F.col("text").isNull()).alias(
            "was_insert"
        ),
    )
    word = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("doc_id"), F.col("text"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    n_base = documents.agg(F.count(F.lit(1)).alias("n_base"))
    n_deleted = deletes.agg(F.count(F.lit(1)).alias("n_deleted"))
    summary = merged.agg(
        F.sum(F.col("was_update").cast("long")).alias("n_updated"),
        F.sum(F.col("was_insert").cast("long")).alias("n_inserted"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(word).alias("content_checksum"),
    )
    return n_base.crossJoin(n_deleted).crossJoin(summary).select(
        "n_base", "n_deleted", "n_updated", "n_inserted", "n_rows",
        "content_checksum",
    )
