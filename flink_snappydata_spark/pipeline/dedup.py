"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All candidate generation is sub-quadratic:

* exact — hash groupBy on the full text (one shuffle on a digest key);
* n-gram Jaccard — prefix filtering over shingle posting lists (only
  each doc's rarest shingles generate candidates, paired inside each
  list), never a cross join, then one exact packed-set verify;
* MinHash+LSH — banded signatures; only same-band-bucket pairs are
  candidates, verified by the same exact set-overlap verify;
* SimHash — 15-bit band blocking over 60-bit portable (md5-derived)
  fingerprints, verified with Hamming distance.

Candidate generation and verification are JVM column expressions
(explode / xxhash64 / joins / aggregation), written as SQL expression
strings where that saves driver round trips; shingling and MinHash
signatures run as Arrow-batched numpy kernels (the sanctioned
vectorized-Python path — interpreted higher-order functions and wide
min-agg fan-outs measured 5-10x slower). Determinism comes from fixed
seeds and content-only hashes, so results are identical at any
parallelism.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from flink_snappydata_spark.operators import wordcount
from flink_snappydata_spark.streaming.runtime import (
    ingest_stream_to_tables,
    read_state_table,
)
from flink_snappydata_spark.util import (
    block_pairs,
    presentation_sorted,
    spread,
    tracked_persist,
)

# Word n-gram size shared by Jaccard and MinHash (3-word shingles).
SHINGLE_N = 3
# MinHash: 64 hash functions → 16 bands x 4 rows (candidate threshold
# ~ (1/b)^(1/r) ≈ 0.5 Jaccard).
MINHASH_K = 64
LSH_BANDS = 16
LSH_ROWS = 4
# 32-bit modular hash family: p > 2^32 prime; a*x fits in int64.
_P32 = 4294967311

_rng = random.Random(42)
_HASH_A = [_rng.randrange(1, _P32) % (1 << 31) + 1 for _ in range(MINHASH_K)]
_HASH_B = [_rng.randrange(0, _P32) % (1 << 31) for _ in range(MINHASH_K)]

#: ``re.ASCII`` reproduces Java's and RE2's ASCII ``\W`` class, so the
#: Python kernels split words exactly as the JVM and DuckDB oracles do.
_ASCII_NONWORD = re.compile(r"\W+", re.ASCII)


def _shingle_set(text: str, n: int) -> dict:
    """The distinct word n-grams of ``text`` as dict keys, in first-seen
    order — the one tokenizer + shingler of the Python kernels. A text
    of fewer than ``n`` words is one whole-text shingle."""
    ws = [w for w in _ASCII_NONWORD.split(text.lower()) if w]
    if len(ws) < n:
        return {" ".join(ws): None}
    return dict.fromkeys(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))


def doc_shingle_arrays(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shs: array<string>) — each document's distinct word
    n-gram shingles as ONE array row (insertion order), the packed form
    :func:`shingles` explodes.

    Arrow-batched kernel: the column-expression formulation
    (``transform(sequence(...))`` with per-gram ``concat_ws``) runs as
    interpreted higher-order functions and dominated the whole dedup
    pipeline (6.1 s vs <1 s at sf0.1). Tokenization semantics match the
    JVM/DuckDB oracles exactly (see :func:`_shingle_set`).

    Callers that need BOTH the exploded index and per-doc sets
    (:func:`ngram_jaccard_pairs`) persist THIS frame and derive each:
    one kernel pass, and the verify skips its collect_list regroup.
    """
    return _shingle_arrays(spread(documents, "doc_id"), n)


def _shingle_arrays(frame: DataFrame, n: int) -> DataFrame:
    """The :func:`doc_shingle_arrays` kernel at ``frame``'s own
    partitioning. Batch callers go through ``doc_shingle_arrays``
    (which spreads a one-split scan first); a stream micro-batch calls
    this directly, because it keeps its source partitioning."""
    import pandas as pd

    # no annotations: PEP-563 lazy hints defeat pandas_udf inference
    @F.pandas_udf("array<string>")
    def _doc_shingles(texts):
        return pd.Series([list(_shingle_set(t, n)) for t in texts])

    return frame.select("doc_id", _doc_shingles(F.col("text")).alias("shs"))


def shingles(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh) — distinct word n-gram shingles per document, one
    row per shingle (the exploded :func:`doc_shingle_arrays`)."""
    return doc_shingle_arrays(documents, n).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text.

    Scale: the shuffle key is ``sha2(text, 256)`` — fixed-width 32-byte
    digests hash, compare, and spill-sort for cents compared to
    arbitrary-length document bodies as grouping keys. The representative
    text rides along as a ``min_by(text, doc_id)`` aggregation payload;
    map-side partial aggregation collapses within-partition duplicates
    before anything moves, so each distinct text crosses the wire at most
    once per input partition. Same result as grouping on the text itself
    on collision-free SHA-256.
    """
    return (
        documents.groupBy(F.sha2(F.col("text").cast("binary"), 256).alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .select("doc_id", "n_copies", "text")
        .orderBy("doc_id")
    )


#: Per-document shingle-set bound for the packed verify path: above
#: this, a document's set is not packed into a single array row (at
#: ~60-100 bytes per word-trigram shingle, 1e6 shingles ≈ a 60-100 MB
#: record — near the practical ceiling for one shuffle record) and its
#: pairs take :func:`_verified_overlap`'s streamed per-shingle count
#: join instead. Results are identical; only the physical verify
#: strategy changes. Exposure note: callers that persist the packed
#: kernel output (`doc_shingle_arrays`) cache each document's full
#: array once — including an oversized one — but `_verified_overlap`
#: never SHUFFLES such a record: with oversized docs present the verify
#: sets are rebuilt from the exploded index (narrow rows filtered
#: before the regroup), not anti-joined from the packed frame.
MAX_PACKED_SHINGLES = 1_000_000


def _verified_overlap(
    documents: DataFrame,
    sh: DataFrame,
    cand: DataFrame,
    packed: DataFrame | None = None,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """(doc_a, doc_b, n_inter, na, nb) — the exact shingle-set overlap
    |A∩B| and both set sizes, as integer counts, for every (doc_a,
    doc_b) candidate pair, against the full shingle index ``sh`` of
    ``documents``. It is the one verifier of the Jaccard and
    containment pair queries; each caller applies its own metric,
    threshold and sort. Values are engine-exact however the candidates
    were generated, and a zero-overlap candidate keeps ``n_inter = 0``.

    ``cand`` may repeat a pair (once per shared prefix shingle or LSH
    band): the verify folds repeats, so generators need no distinct
    shuffle of their own.

    Packed path: each document's distinct shingles are one array row.
    Each candidate explodes into its two ends, the ends meet the sets
    in ONE pinned sort-merge join on doc_id, and one regroup on the
    pair holds both sets — |A∩B| = ``size(array_intersect(...))``. Two
    shuffles of pair-sized rows plus one of the sets frame (one row per
    document, about the size of the corpus text), instead of exploding
    to (pair × shingle) rows (~50x fewer rows than the streamed join).
    ``packed`` (doc_id, shs) — per-doc arrays the caller already holds
    from its kernel pass — replaces the ``collect_list`` regroup of
    ``sh``; element order is irrelevant to set operations.

    Per-document size bound (``max_set_size``, default
    :data:`MAX_PACKED_SHINGLES`): packing makes one shuffle RECORD per
    document, so a pathological multi-GB document would become one
    multi-hundred-MB record. The packed/streamed decision is made here
    and nowhere else, in three steps:

    1. Pre-probe: a document's distinct shingle count is at most its
       word count, which is at most its character length, so when no
       text is longer than ``max_set_size`` no document can exceed the
       bound. One ``isEmpty`` scan of the documents (one job on a
       single-split table; it stops at the first long text); the
       common all-small case stops here with the plan untouched.
    2. Otherwise a per-doc shingle count over ``sh`` looks for
       oversized documents. Its ``limit(1)`` early-exits only when one
       EXISTS; proving there is none takes the full aggregation pass.
    3. If any exist, only sub-bound documents are packed (the others
       are filtered out as narrow rows BEFORE the ``collect_list``
       shuffle, and ``packed`` is not used, so the giant record is
       never built or moved), and every pair touching an oversized
       document takes the streamed join: count the matching
       per-shingle index rows per pair and join the set sizes
       separately, (pair × its shingles) small rows. The counts are
       then BIGINT on both branches; the values are identical.

    ``max_set_size=None`` disables the probes and the bound.
    """
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    big_ids = None
    if max_set_size is not None and not documents.where(
        f"length(text) > {int(max_set_size)}"
    ).isEmpty():
        big_ids = counts.filter(F.col("n_sh") > max_set_size).select("doc_id")
        if big_ids.limit(1).count() == 0:
            big_ids = None

    streamed = None
    if big_ids is None:
        pairs = cand
    else:
        big_ids = tracked_persist(big_ids)
        # The candidate frame is usually an expensive prefix/band join;
        # persist it so the small/big split doesn't run it twice.
        pairs_all = tracked_persist(cand)
        big_a = big_ids.select(F.col("doc_id").alias("doc_a"))
        big_b = big_ids.select(F.col("doc_id").alias("doc_b"))
        touching_big = (
            pairs_all.join(big_a, "doc_a", "left_semi")
            .unionByName(pairs_all.join(big_b, "doc_b", "left_semi"))
            .dropDuplicates(["doc_a", "doc_b"])
        )
        pairs = (
            pairs_all.join(big_a, "doc_a", "left_anti")
            .join(big_b, "doc_b", "left_anti")
        )
        sha = sh.select(F.col("doc_id").alias("doc_a"), "sh")
        shb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
        # index/counts sides are corpus-sized — pinned SMJ, never an
        # estimate-driven broadcast (see _prefix_index's note)
        inter = (
            touching_big.join(sha.hint("merge"), "doc_a")
            .join(shb.hint("merge"), ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        streamed = (
            # Left join + coalesce: a zero-overlap candidate (possible
            # from LSH band collisions) keeps n_inter = 0, as on the
            # packed path, so any threshold including 0 agrees.
            touching_big.join(inter, ["doc_a", "doc_b"], "left")
            .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
            .join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")).hint("merge"), "doc_a")
            .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")).hint("merge"), "doc_b")
            .select("doc_a", "doc_b", "n_inter", "na", "nb")
        )
        # pack only the sub-bound docs, regrouped from narrow index
        # rows — never the caller's packed frame with the giant arrays
        packed, sh = None, sh.join(big_ids, "doc_id", "left_anti")

    if packed is None:
        packed = sh.groupBy("doc_id").agg(F.expr("collect_list(sh) AS shs"))
    # One join of the packed sets: each candidate explodes into its two
    # ends, the ends meet the sets on doc_id, and the regroup on the
    # pair puts both sets in one row (doc_a < doc_b, so the lesser
    # (doc_id, shs) end is A). The set of ends also folds repeated
    # candidates, map-side. The sets frame is corpus-sized (one wide
    # array row per document): the join is pinned sort-merge so it
    # hash-partitions on doc id at ANY scale and can never ride an
    # estimate-driven broadcast of the sets (see _prefix_index's note;
    # SMJ over shuffle_hash because the build rows are wide arrays and
    # SMJ spills gracefully).
    out = (
        pairs.selectExpr("doc_a", "doc_b", "explode(array(doc_a, doc_b)) AS doc_id")
        .join(packed.hint("merge"), "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("collect_set(struct(doc_id, shs)) AS ends"))
        .selectExpr(
            "doc_a", "doc_b",
            "size(array_intersect(array_min(ends).shs, array_max(ends).shs)) AS n_inter",
            "size(array_min(ends).shs) AS na", "size(array_max(ends).shs) AS nb",
        )
    )
    return out if streamed is None else out.unionByName(streamed)


def _jaccard_pairs(
    overlap: DataFrame, threshold: float, sorted_output: bool = True
) -> DataFrame:
    """(doc_a, doc_b, jaccard) with ``jaccard = n_inter / (na + nb −
    n_inter) >= threshold`` from :func:`_verified_overlap`'s counts —
    integer counts and one double division — presentation-sorted on
    (doc_a, doc_b) unless ``sorted_output`` is False."""
    out = overlap.selectExpr(
        "doc_a", "doc_b", "CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard"
    ).where(f"jaccard >= {_dbl(threshold)}")
    return presentation_sorted(out, "doc_a", "doc_b") if sorted_output else out


def _prefix_index(sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, n_sh, rnk, sh) for each doc's prefix — its
    ``n_sh − ⌈t·n_sh⌉ + 1`` globally rarest shingles, ranked by
    ascending document frequency with ties on shingle text.

    Two shuffles, no join: grouping the index by shingle ONCE gives
    each shingle's posting list, whose size is its document frequency,
    and the explode of that list hands ``df_sh`` back to every
    (doc_id, sh) row; one per-doc aggregation + ``sort_array``/``slice``
    then ranks each doc's shingles by (df, sh) and discards the ~80%
    non-prefix rows before the explode (``sort_array``: ``array_sort``
    would run an interpreted lambda comparator). Exposed separately so
    tests can assert the scale property directly: hot (high-DF)
    shingles never enter the candidate generation.

    Estimate safety (the note every pinned join in the engine points
    to): a corpus × corpus join must NEVER ride an estimate-driven
    broadcast — on a memory-sourced input (a range-derived frame, a
    foreachBatch backfill) Catalyst's size estimate can be 100× under
    the true size, and the statically-planned broadcast then dies
    building a GB-scale hash relation ("Not enough memory to build and
    broadcast" — observed at the 100× synthdocs decade). Such joins
    carry an explicit ``shuffle_hash``/``merge`` hint, which keeps the
    decision estimate-independent at every scale; this function avoids
    the question by having no join at all.
    """
    t = _dbl(threshold)
    return (
        sh.groupBy("sh")
        .agg(F.expr("collect_list(doc_id) AS docs"))
        .selectExpr("explode(docs) AS doc_id", "sh", "size(docs) AS df_sh")
        .groupBy("doc_id")
        .agg(F.expr("collect_list(struct(df_sh, sh)) AS items"))
        .selectExpr(
            "doc_id",
            "size(items) AS n_sh",
            "posexplode(slice(sort_array(items), 1, CAST(size(items)"
            f" - ceil(size(items) * {t} - 1e-9) + 1 AS INT))) AS (pos, e)",
        )
        .selectExpr("doc_id", "n_sh", "pos + 1 AS rnk", "e.sh AS sh")
    )


def _dbl(x: float) -> str:
    """``x`` as a SQL DOUBLE literal, so threshold arithmetic in
    expression strings stays binary-double (a bare ``0.8`` would parse
    as DECIMAL)."""
    return f"{float(x)!r}D"


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = SHINGLE_N,
    sorted_output: bool = True,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via prefix filtering
    (AllPairs/PPJoin-style candidate generation, then exact verify).

    Only each document's *prefix* — its ``n_sh − ⌈t·n_sh⌉ + 1``
    globally rarest shingles (global order = ascending document
    frequency, ties by shingle text) — generates candidates. Any pair
    with Jaccard ≥ t overlaps in ≥ ``⌈t·max(|A|,|B|)⌉`` shingles (the
    union contains both sets), so the order-smallest shared shingle
    provably sits inside BOTH prefixes: pairing the documents of each
    prefix posting list finds every qualifying pair with zero recall
    loss. A size-ratio prune (j ≥ t ⟹ t·|B| ≤ |A| ≤ |B|/t) and the
    PPJoin positional filter drop pairs inside each list. Candidates
    are then verified with the exact Jaccard over the *full* shingle
    sets (:func:`_verified_overlap`), so precision and values are
    engine-exact.

    Shuffles: the prefix index is built once (two shuffles, see
    :func:`_prefix_index`), the posting lists are one more
    (:func:`~flink_snappydata_spark.util.block_pairs` over the prefix
    rows), and the verify is a join and a regroup — no self-join, so no
    subtree of the plan runs twice.

    Scale: this kills the inverted-index join's hot-key explosion by
    construction — a stopword-run shingle shared by 1 M documents is,
    by definition of the frequency order, in (almost) nobody's prefix,
    so it never forms a long posting list; no DF cap, no recall caveat.
    At t=0.8 only ~20% of index rows (the rarest, hence least-skewed,
    keys) enter the lists. Float guards: prefix length and ratio bounds
    are padded by 1e-9 toward MORE candidates, so binary-double
    threshold arithmetic can only add a candidate (verified away
    later), never drop one.
    """
    # ONE kernel pass, persisted in packed (per-doc array) form: the
    # exploded index (DF agg, prefix ranking, any streamed-verify
    # fallback) is a cheap JVM explode over it, and the exact verify
    # consumes the arrays directly — no collect_list regroup of the
    # corpus. Callers own cache cleanup for repeated runs (bench
    # clears between queries).
    packed = tracked_persist(doc_shingle_arrays(documents, n))
    sh = packed.selectExpr("doc_id", "explode(shs) AS sh")
    t = _dbl(threshold)
    # Candidates come from each prefix shingle's posting list
    # (block_pairs). Size-ratio prune (j ≥ t ⟹ t·|B| ≤ |A| ≤ |B|/t) and
    # positional filter (PPJoin): all shared shingles sort at-or-after
    # the matched one, so overlap ≤ min(remaining_a, remaining_b) + 1;
    # a qualifying pair needs overlap ≥ ⌈t·max(na,nb)⌉, and its
    # order-smallest shared shingle (in both prefixes) carries the
    # largest bound — so dropping elements whose bound falls short
    # never drops a qualifying pair. A pair sharing several prefix
    # shingles is emitted once per list; the verify folds repeats.
    cand = (
        block_pairs(_prefix_index(sh, threshold), ["sh"], "doc_id", "n_sh", "rnk")
        .where(
            f"a.n_sh >= b.n_sh * {t} - 1e-9"
            f" AND b.n_sh >= a.n_sh * {t} - 1e-9"
            " AND least(a.n_sh - a.rnk, b.n_sh - b.rnk) + 1"
            f" >= greatest(a.n_sh, b.n_sh) * {t} - 1e-9"
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
    )
    overlap = _verified_overlap(documents, sh, cand, packed, max_set_size)
    return _jaccard_pairs(overlap, threshold, sorted_output)


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.9,
    n: int = SHINGLE_N,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """Asymmetric containment (overlap-coefficient) near-dup pairs:
    ``(doc_a, doc_b, containment)`` with
    ``containment = |A∩B| / min(|A|,|B|) >= threshold`` — the metric
    that catches what Jaccard structurally misses: a short document
    quoted nearly whole inside a much longer one has Jaccard
    ``~|A|/|B|`` (arbitrarily small) but containment ~1. The standard
    third member of the dedup triad (exact, Jaccard, containment) for
    training corpora full of quote-heavy and boilerplate-superset
    pages.

    Candidate generation is the asymmetric prefix filter: a qualifying
    pair shares ``>= ceil(t·min(na,nb))`` shingles, so by pigeonhole
    the SMALLER document's prefix — its ``na − ceil(t·na) + 1``
    globally rarest shingles, the same :func:`_prefix_index` frame the
    Jaccard join uses — must contain a shared shingle. Candidates are
    therefore ``prefix(smaller) ⋈ full-index(larger)`` (size order
    enforced in the join condition; equal sizes tie-break on doc_id).
    No size-ratio prune exists for containment — any tiny
    document may be contained in any huge one; that asymmetry is the
    metric, not a bug.

    Scale: the prefix side is rarest-first (hot stopword shingles
    enter nobody's prefix), but the full-index side pays df(sh) fanout
    per matched prefix shingle — the irreducible cost of a containment
    join, minimized by the rarest-first prefix choice. Verification is
    the Jaccard queries' own :func:`_verified_overlap`: packed-set
    ``array_intersect`` per pair, and only the pairs that touch a
    document over ``max_set_size`` shingles take the streamed
    per-shingle count join (identical values, no giant packed record).
    Output is bounded by qualifying pairs and presented unsorted.
    """
    # one kernel pass in packed form (see ngram_jaccard_pairs): the
    # index and its set sizes are one explode over it, the verify
    # reads the arrays directly
    packed = tracked_persist(doc_shingle_arrays(documents, n))
    sh = packed.selectExpr("doc_id", "explode(shs) AS sh")
    full = packed.selectExpr("doc_id", "size(shs) AS n_sh", "explode(shs) AS sh")
    # prefix × full-index is corpus × corpus: estimate-independent
    # shuffle join, never a statically-planned broadcast (see the note
    # in _prefix_index). The hint rides the PREFIX side — the
    # hinted side is the hash build side, and the prefix is ~20% of
    # index rows by construction. Every prefix row already satisfies
    # the positional bound ``na − rnk + 1 >= ceil(t·na)``: that is how
    # the prefix length is defined. Not block_pairs: prefix × full
    # index is asymmetric, so a shingle is not one block.
    cand = (
        _prefix_index(sh, threshold).alias("a").hint("shuffle_hash")
        .join(full.alias("b"), "sh")
        .where(
            "a.n_sh < b.n_sh OR (a.n_sh = b.n_sh AND a.doc_id < b.doc_id)"
        )
        .selectExpr(
            "least(a.doc_id, b.doc_id) AS doc_a",
            "greatest(a.doc_id, b.doc_id) AS doc_b",
        )
    )
    return (
        _verified_overlap(documents, sh, cand, packed, max_set_size)
        .selectExpr(
            "doc_a", "doc_b", "CAST(n_inter AS DOUBLE) / least(na, nb) AS containment"
        )
        .where(f"containment >= {_dbl(threshold)}")
    )


def _minhash_fused(
    documents: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, bands: array<long>, shs: array<string>) — ONE kernel
    pass producing both the LSH band hashes and the distinct shingle
    list per document.

    :func:`minhash_dedup_pairs` needs both: band hashes for candidate
    generation and the shingle sets for the exact-Jaccard verify.
    Separate band and shingle kernels would tokenize and shingle the
    ENTIRE corpus text twice — two full passes over the heaviest
    Python-boundary work in the dedup suite. This kernel tokenizes
    once, reuses the :func:`_shingle_set` dict for the
    crc32→minhash→band fold, and emits both columns; the band table
    and the shingle index are cheap JVM-side explodes of the persisted
    result.

    The signature matrix never leaves the Arrow batch: the kernel
    takes the per-band FNV-style polynomial combine of the ``rows``
    MinHash values and emits only ``bands`` int64s per document, so
    the plan explodes a 16-element array instead of projecting 64
    signature columns into per-band ``xxhash64`` structs (measured ~2x
    faster at sf0.1, identical candidate semantics: equal band hash ⇔
    equal band with overwhelming probability).
    """
    import zlib

    import numpy as np
    import pandas as pd

    k = bands * rows
    a_mat = np.array(_HASH_A[:k], dtype=np.uint64)[:, None]
    b_mat = np.array(_HASH_B[:k], dtype=np.uint64)[:, None]
    p = np.uint64(_P32)
    fnv = np.uint64(1099511628211)

    @F.pandas_udf("struct<bands:array<long>, shs:array<string>>")
    def _both(texts):
        out_bands = []
        out_shs = []
        for t in texts:
            sh = _shingle_set(t, SHINGLE_N)
            x = np.fromiter(
                (zlib.crc32(s.encode()) for s in sh),
                dtype=np.uint64,
                count=len(sh),
            )
            sig = ((a_mat * x[None, :] + b_mat) % p).min(axis=1)
            with np.errstate(over="ignore"):
                bh = np.zeros(bands, dtype=np.uint64)
                for r in range(rows):
                    bh = bh * fnv + sig.reshape(bands, rows)[:, r]
            out_bands.append(bh.astype(np.int64))
            out_shs.append(list(sh))
        return pd.DataFrame({"bands": out_bands, "shs": out_shs})

    return (
        spread(documents, "doc_id")
        .select("doc_id", _both(F.col("text")).alias("_bs"))
        .select(
            "doc_id",
            F.col("_bs.bands").alias("bands"),
            F.col("_bs.shs").alias("shs"),
        )
    )


def minhash_dedup_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    max_set_size: int | None = MAX_PACKED_SHINGLES,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    LSH prunes candidates; each survivor is re-checked against the true
    shingle sets, so precision is exact and only recall depends on the
    banding. Output matches :func:`ngram_jaccard_pairs` whenever LSH
    recall is 1 at the threshold (tested on the fixtures).

    Scale: candidates come from a (band_id, band_hash) self-join of
    the band table, pinned ``shuffle_hash``. Candidate volume is
    Σ bucket² per band, data-dependent but never O(n²) on a corpus of
    distinct documents; the verify touches candidates only.
    """
    # ONE fused kernel pass (see _minhash_fused) yields both the band
    # hashes (candidate generation) and the shingle lists (exact
    # verify); the persisted per-doc frame is the only Python-boundary
    # crossing — the band table and the shingle index are JVM explodes
    # over it, so the corpus text is tokenized exactly once.
    fused = tracked_persist(_minhash_fused(documents))
    sh = fused.selectExpr("doc_id", "explode(shs) AS sh")
    banded = fused.selectExpr("doc_id", "posexplode(bands) AS (band_id, band_hash)")
    # docs colliding in a band bucket pair up, once per shared band;
    # the verify folds the repeats. Not block_pairs: almost every band
    # bucket of distinct documents is a singleton, and collecting a
    # list per bucket measured slower than this join at 50k documents
    # (candidate step 0.61 vs 0.39 s, 4 cores). Corpus × corpus: pinned
    # shuffle_hash, never a statically-planned broadcast (see
    # _prefix_index).
    cand = (
        banded.alias("l")
        .join(banded.alias("r").hint("shuffle_hash"), ["band_id", "band_hash"])
        .where("l.doc_id < r.doc_id")
        .selectExpr("l.doc_id AS doc_a", "r.doc_id AS doc_b")
    )
    overlap = _verified_overlap(
        documents, sh, cand, fused.select("doc_id", "shs"), max_set_size
    )
    return _jaccard_pairs(overlap, threshold)


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """Benchmark decontamination: per training document, how many
    distinct word n-grams it shares with an evaluation/benchmark corpus
    — the standard leak check a training-data pipeline runs before any
    eval set is trusted (any hit means benchmark text is inside the
    training corpus).

    Returns (doc_id, n_hits) for contaminated documents only.

    Scale: inverted-index join on the shingle, never a doc-level cross
    join. The benchmark side collapses to its distinct shingle set
    first — benchmarks are tiny next to a training corpus, so AQE
    broadcasts that side and the corpus's shingle index never shuffles;
    the grouped count then reduces map-side to one row per contaminated
    doc.
    """
    sh_t = shingles(documents, n)
    sh_b = shingles(benchmark, n).select("sh").distinct()
    return (
        sh_t.join(sh_b, "sh")
        # shingles() emits distinct shingles per doc, so the plain count
        # is the distinct-overlap count.
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


def source_contamination(
    documents: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of document
    sources, the number of distinct word ``n``-gram shingles they share
    and the Jaccard overlap of their shingle vocabularies — the
    source-level generalization of :func:`decontaminate` (which screens
    one training corpus against one benchmark). A pipeline mixing many
    crawl/curated sources runs this to find mirror sites, shared
    boilerplate, and cross-source benchmark leakage before trusting
    per-source mixing weights.

    Returns ``(src_a, src_b, n_shared, jaccard)`` for source pairs with
    at least one shared shingle, ``src_a < src_b``.

    Scale: the only wide frame is the distinct ``(shingle, source)``
    index, reduced map-side before its shuffle. Pair generation then
    happens WITHIN each shingle's source list
    (:func:`~flink_snappydata_spark.util.block_pairs`) — a list bounded
    by the source catalog size (tens, a constant next to the corpus) —
    so the worst case is O(#distinct shingles x C(S,2)) with no
    doc-level or row-level self-join anywhere. The final matrix is
    C(S,2) rows.
    """
    sh = shingles(documents, n)
    src_sh = (
        # the (doc_id, source) side is corpus-sized — pinned SMJ so a
        # garbage estimate can never broadcast it (see _prefix_index)
        sh.join(documents.select("doc_id", "source").hint("merge"), "doc_id")
        .select("source", "sh")
        .distinct()
    )
    src_sh = tracked_persist(src_sh)
    vocab = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    # each shingle's source list (distinct, bounded by the source
    # catalog) pairs up in-row
    shared = (
        block_pairs(src_sh, ["sh"], "source")
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    va = F.broadcast(vocab.select(F.col("source").alias("src_a"), F.col("v").alias("va")))
    vb = F.broadcast(vocab.select(F.col("source").alias("src_b"), F.col("v").alias("vb")))
    return (
        shared.join(va, "src_a")
        .join(vb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


#: repeated_passages defaults: window length in words and the anchor
#: density (one expected anchor per PASSAGE_ANCHOR_MOD words).
PASSAGE_WINDOW = 20
PASSAGE_ANCHOR_MOD = 8


def repeated_passages(
    documents: DataFrame,
    window_words: int = PASSAGE_WINDOW,
    anchor_mod: int = PASSAGE_ANCHOR_MOD,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-passage mining: ``window_words``-word passages
    that occur verbatim in at least ``min_docs`` distinct documents —
    the exact-substring flavor of dedup (boilerplate paragraphs, license
    headers, syndicated passages embedded in otherwise-distinct pages)
    that set-based shingle Jaccard deliberately ignores. The reference
    engine has no analog; this extends the dedup family the same way
    ``decontaminate`` does (cf. suffix-array exact-substring dedup in
    the training-data literature, recast as a digest aggregation).

    Windows are CONTENT-DEFINED, not stride-aligned: a window starts at
    every *anchor word* — a word whose portable md5-prefix hash is
    ``0 mod anchor_mod``. Anchoring is a pure function of the word, so
    two documents sharing a passage sample the SAME windows regardless
    of where the passage sits in either document (a fixed-stride grid
    would miss unaligned copies). Detection contract (deterministic,
    not probabilistic): any verbatim shared word run containing an
    anchor word followed by ``window_words - 1`` more shared words is
    reported; expected window density is one per ``anchor_mod`` words.

    Returns ``(digest, n_docs, n_occ, first_doc)`` per repeated
    passage, digest-sorted — sha256 of the passage text, so downstream
    joins (e.g. masking the passage out of each document) key on a
    fixed-width digest.

    Scale: one projection computes anchors and windows in-kernel
    (higher-order functions over the word array — no explode of every
    position); the only shuffle is the digest aggregation with
    map-side combine, carrying ~n_words/anchor_mod fixed-width rows per
    document and never the text. The output is bounded by the number of
    genuinely repeated passages.
    """
    ws = wordcount.words(F.col("text"))
    docs = documents.select("doc_id", ws.alias("ws")).filter(
        F.size("ws") >= window_words
    )
    word_hash = lambda w: F.conv(  # noqa: E731 — md5-prefix portable hash
        F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10
    ).cast("long")
    anchors = F.filter(
        F.sequence(F.lit(1), F.size("ws") - F.lit(window_words - 1)),
        lambda i: F.pmod(word_hash(F.element_at(F.col("ws"), i)), F.lit(anchor_mod))
        == F.lit(0),
    )
    windows = docs.select(
        "doc_id", F.explode(anchors).alias("p"), F.col("ws")
    ).select(
        "doc_id",
        F.sha2(
            F.array_join(
                F.slice(F.col("ws"), F.col("p"), window_words), " "
            ).cast("binary"),
            256,
        ).alias("digest"),
    )
    return (
        windows.groupBy("digest")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy("digest")
    )


def neardup_clusters(
    pairs: DataFrame, max_iter: int = 20, expect_small: bool = True
) -> DataFrame:
    """Connected components over near-dup pairs: every document that
    appears in a pair gets a ``cluster_id`` = the smallest doc_id
    reachable through the pair graph — the "keep one canonical document
    per duplicate cluster" step that follows any pairwise dedup.

    Min-label propagation with pointer jumping: each round every
    vertex takes the min of its own label and its neighbours' labels
    (one edge hop), then the lesser of that and its new label's own
    new label (one pointer jump through this round's labels). The jump
    lets the minimum travel through already-labelled vertices, so a
    chain of length d converges in O(log d) rounds instead of the O(d)
    of plain propagation — the distance covered grows as d → 2d + 2
    per round, so a 1000-document drift chain needs ~9 rounds, not
    1000. Round 0 (a hop and a jump from the identity labels) always
    changes something and is not counted; the loop stops as soon as a
    counted round changes nothing, and **raises** if ``max_iter``
    rounds were not enough: a silently non-converged labelling would
    merge-split clusters wrongly with no signal to the caller.

    Each vertex carries its neighbour list and old label through the
    rounds, so a round is two shuffles and no join: the hop regroups
    the labels sent along the lists on the receiver, the jump regroups
    on the label (see :func:`_pointer_jump`). Every round reads the
    previous one once, so the pair pipeline under round 0 runs once
    with no checkpoint of its own. Each counted round ends in an eager
    ``localCheckpoint`` whose own job also yields the convergence count
    (an observed metric) — no separate counting job. Under AQE each
    shuffle stage is a job of its own: a round is three jobs, or one
    when its input is a single partition (a presentation-sorted pair
    list satisfies both shuffles, so round 0 and round 1 then run as
    one stage). The checkpoint truncates lineage so round N's plan does
    not re-optimize (and on cache eviction re-execute) rounds 1..N-1.
    The driver sees only the change count, never the data.

    ``expect_small=True`` (the near-dup case: output bounded by pairs)
    presents via a single-partition sort; pass ``False`` for a
    duplicate-heavy corpus where one row per paired document is still
    big — the output then uses a range-partitioned ``orderBy``.
    """
    # Round 0 from identity labels: ONE shuffle groups each vertex's
    # neighbour list, and its hop label is min(own id, neighbours) —
    # the ids ARE the initial labels. Its jump runs uncounted into
    # round 1: from identity labels every non-minimal vertex changes.
    state = _pointer_jump(
        pairs.selectExpr(
            "inline(array(struct(doc_a AS doc_id, doc_b AS nbr),"
            " struct(doc_b AS doc_id, doc_a AS nbr)))"
        )
        .groupBy("doc_id")
        .agg(F.expr("collect_list(nbr) AS nbrs"))
        .selectExpr(
            "doc_id", "nbrs", "doc_id AS old", "least(doc_id, array_min(nbrs)) AS hop"
        )
    )
    changed = -1
    for _ in range(max_iter):
        # Edge hop: one explode sends every vertex's label along its
        # neighbour list (element 0 is the vertex itself, carrying the
        # list and the old label) and ONE shuffle on the receiver takes
        # the min — the edge list is never re-joined.
        hop = (
            state.selectExpr(
                "posexplode(concat(array(doc_id), nbrs)) AS (i, to)", "nbrs", "label"
            )
            .selectExpr(
                "i", "to AS doc_id", "IF(i = 0, nbrs, NULL) AS nbrs", "label AS old",
                "min(label) OVER (PARTITION BY to) AS hop",
            )
            .where("i = 0")
        )
        # The convergence count is an observed metric of the eager
        # checkpoint's own job — no separate counting job. The
        # checkpoint cuts lineage, so round N's plan does not
        # re-optimize (or on cache eviction re-execute) rounds 1..N-1.
        seen = Observation()
        state = (
            _pointer_jump(hop)
            .observe(seen, F.expr("count_if(label != old) AS changed"))
            .localCheckpoint()
        )
        changed = seen.get["changed"]
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} iterations "
            f"({changed} labels still changing) — raise max_iter"
        )
    # Presentation order on the labels: pair-bounded and small on a
    # curated corpus (single-partition sort, no range-sampling job);
    # range-partitioned orderBy when the caller expects one row per
    # paired document to still be big.
    return presentation_sorted(
        state.selectExpr("doc_id", "label AS cluster_id"),
        "doc_id",
        expect_small=expect_small,
    )


def _pointer_jump(hop: DataFrame) -> DataFrame:
    """(doc_id, nbrs, old, label) from one round's (doc_id, nbrs, old,
    hop): each vertex's label becomes the lesser of its hop label and
    that label's own hop label — the pointer jump through this round's
    labels. It is a self-join done as ONE shuffle on a single reading
    of ``hop``: every row is also emitted under its own id as the
    target of the vertices pointing at it, and a window over the key
    hands the target's label to each of them (a window streams and
    spills, so a giant cluster never becomes one in-memory list). A
    label is always some vertex's doc_id, so every key has a target.
    """
    return (
        hop.selectExpr(
            "inline(array(struct(hop AS key, doc_id, nbrs, old, hop),"
            " struct(doc_id AS key, NULL AS doc_id, NULL AS nbrs, NULL AS old, hop)))"
        )
        .selectExpr(
            "doc_id", "nbrs", "old",
            "least(hop, min(IF(doc_id IS NULL, hop, NULL)) OVER (PARTITION BY key))"
            " AS label",
        )
        .where("doc_id IS NOT NULL")
    )


def streaming_dedup_ingest(
    stream_docs: DataFrame,
    parts_table: str,
    checkpoint: str | None = None,
    tiered_every: int = 8,
):
    """Streaming-ingest twin of :func:`exact_dedup` through the
    stream→queryable-table loop (the reference's continuous
    stream→SnappyData-table pattern, ``ParquetTableJoin.scala:32-43``):
    each micro-batch groups its documents by SHA-256 text digest ONCE
    at arrival and blind-appends per-digest partials ``(digest,
    doc_id=min, n_copies=count, text=min_by)``; the global dedup is the
    same aggregation over the partials, folded at query time by
    :func:`dedup_from_state` — row-identical to the batch op after a
    bounded stream drains (min/count/min_by partials are
    batching-insensitive, so the batch oracle applies verbatim).

    Scale: per batch one map-side-combined digest aggregation — each
    distinct text crosses the wire at most once per batch regardless of
    how many copies arrive, and the shuffle KEY is always the 32-byte
    digest, never the document body. The state table grows by at most
    |distinct texts in batch| rows per micro-batch. Rides
    :func:`~flink_snappydata_spark.streaming.runtime.
    ingest_stream_to_tables`, so retried micro-batches overwrite their
    own ``batch_id`` partition instead of double-counting copies.

    ``tiered_every`` (default 8): TIERED compaction
    for long-running streams. The live state here is CORPUS-sized (one row per distinct
    text, carrying the text itself), so the floor mechanism's
    full-state rewrite every N batches is O(corpus) write
    amplification — the wrong trade (the r13 analysis). Tiered mode
    merges only the raw batch partitions landed since the previous
    merge (:func:`compact_dedup_partials` — same exact sum-of-sums
    fold as the reader), so every row is rewritten exactly once EVER
    (2x total write amplification, independent of stream age) while
    the read fold opens O(age / tiered_every) merged partitions plus a
    bounded raw tail instead of O(age) raw fragments. Values are
    unchanged either way — the fold's digest re-group is associative.
    """
    return ingest_stream_to_tables(
        stream_docs,
        [(parts_table, None)],
        prepare=dedup_partials,
        checkpoint=checkpoint,
        # coalesce the segment to a few files: the merge's digest
        # shuffle would otherwise leave shuffle_partitions small files
        # per segment — more files than the raws it replaced (the same
        # re-shard trap the raw-log identity merge hit; see
        # streaming_event_log_ingest). 4 matches the harness-scale
        # file layout used by the prebuilt IVFADC index; a real
        # deployment sizes this to its segment bytes.
        compact=lambda f: compact_dedup_partials(f).coalesce(4),
        compact_every=tiered_every,
        compact_mode="tiered",
    )


def dedup_partials(batch_df: DataFrame) -> DataFrame:
    """One batch's per-digest dedup partials — the
    :func:`streaming_dedup_ingest` prepare step, module-level so the
    fold scale probe (``tools/scale_probe.py`` mode ``folds``) lands
    the identical state batch-side."""
    return batch_df.groupBy(
        F.sha2(F.col("text").cast("binary"), 256).alias("digest")
    ).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min_by("text", "doc_id").alias("text"),
    )


def compact_dedup_partials(parts: DataFrame) -> DataFrame:
    """Schema-preserving merge of dedup partials (min of mins, sum of
    sums, min_by representative): the tiered-compaction path collapses
    one window of raw batch partitions into a single merged partition
    with it (a digest-keyed shuffle of window-sized input only), and
    :func:`dedup_from_state` folds the live state with it."""
    return parts.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.sum("n_copies").cast("long").alias("n_copies"),
        F.min_by("text", "doc_id").alias("text"),
    )


def dedup_from_state(spark, parts_table: str) -> DataFrame:
    """Fold the :func:`streaming_dedup_ingest` partials into the global
    exact-dedup result: re-group by digest (min of mins, sum of counts,
    min_by representative — all map-side-combinable), matching
    :func:`exact_dedup` row-for-row. The fold is the loop's own merge
    (:func:`compact_dedup_partials`), so merged segments and the raw
    tail fold identically. The output is O(distinct texts) rows, so
    no presentation sort is bolted on (the driver's hash compare is
    order-insensitive; batch ``exact_dedup`` sorts only for human
    eyes)."""
    return compact_dedup_partials(read_state_table(spark, parts_table)).select(
        "doc_id", "n_copies", "text"
    )


#: SimHash width: 60 bits — 15 hex chars of md5 cast to BIGINT is the
#: widest hex→int both Spark (``conv``) and any-SQL (``'0x…'::BIGINT``)
#: compute without overflowing int64, making fingerprints portable.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per document from portable token hashes, all-JVM.

    Each token hashes to the low 60 bits of its md5 (`conv(substr(md5))`
    — portable: the DuckDB oracle computes the identical value with a
    hex cast, unlike engine-specific xxhash64) and contributes ±1 per
    bit position (weighted by term frequency); fingerprint bit i is the
    sign of the sum. 60 small integer aggregations — partial aggs keep
    the shuffle at one row per doc.

    Measured dead end (round 6, do not retry): pre-aggregating tf per
    (doc_id, word) before hashing — md5 per distinct word, ±tf sums —
    is bit-identical but ~30% SLOWER at sf0.1 (median 2.7s vs 2.0s in
    an A/B on the same harness): the extra (doc_id, word) shuffle costs
    more than the saved hash calls because fixture/document vocabularies
    repeat few words within a doc. Revisit only for corpora with heavy
    within-document repetition.
    """
    tok = spread(documents, "doc_id").select(
        "doc_id",
        F.explode(wordcount.words(F.col("text"))).alias("word"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("word").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.alias("simhash"))


def simhash_dedup_pairs(
    documents: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: 15-bit band blocking + Hamming verify.

    Any pair within Hamming distance ≤3 of a 60-bit fingerprint shares
    at least one of the 4 15-bit bands exactly (pigeonhole), so blocking
    on band equality loses no recall at max_hamming ≤ 3.

    Scale: each (band_id, band_val) bucket's list carries its
    documents' fingerprints, and the Hamming check runs on the pairs
    emitted inside it (:func:`~flink_snappydata_spark.util.block_pairs`)
    — one shuffle of the band rows, no self-join, nothing persisted.
    A pair sharing several bands is emitted once per band and folded
    after the Hamming filter.
    """
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    fps = simhash_fingerprints(documents)
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright(F.col("simhash"), j * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_val")
    return (
        block_pairs(bands, ["band_id", "band_val"], "doc_id", "simhash")
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            "CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming",
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .transform(lambda d: presentation_sorted(d, "doc_a", "doc_b"))
    )


#: A line is "boilerplate" when it occurs more than this many times
#: across the corpus (CCNet/RefinedWeb-style line-level dedup keeps a
#: line's first few occurrences conceptually; here the whole class is
#: dropped from every document, the common bulk-curation policy).
LINE_MAX_OCC = 5

#: Ultra-hot split bound for the boilerplate digest join: digests
#: carrying ≥ 1/4096 of all corpus lines broadcast (at most 4096 of
#: them can exist), so the shuffled remainder has no key above
#: 1/4096 of the line count — the same hot/tail discipline as
#: text._join_word_stats_skew_safe.
LINE_HOT_MAX = 4096


def line_dedup(
    documents: DataFrame,
    max_occurrences: int = LINE_MAX_OCC,
    sort: bool = True,
) -> DataFrame:
    """Boilerplate line removal (CCNet-style line-level dedup): drop
    from every document each line whose corpus-wide occurrence count
    exceeds ``max_occurrences`` — the navigation-bar / cookie-banner /
    footer stripping step that runs before document-level near-dup in
    a web-scale curation pipeline.

    Lines are ``\\n``-separated; a line's identity is the 60-bit
    md5-prefix digest of its exact bytes (the engine's portable-hash
    idiom — DuckDB computes the identical value, and the documented
    collision tradeoff of the fingerprint ops applies: a 60-bit
    collision can only over-drop, at ~2^-60 per pair). Blank lines
    hash together, so repeated blanks count as boilerplate — the
    standard policy. Returns one row per document:
    ``(doc_id, n_lines, n_dropped, kept_text)`` with ``kept_text`` the
    surviving lines re-joined in original order ('' when everything
    was boilerplate).

    Scale: LINE TEXT NEVER SHUFFLES. The digest is projected in-row on
    the scan; the occurrence count groups digests only; membership of
    a line in the drop set is two semi-joins on the digest — the
    ultra-hot slice (≥ 1/:data:`LINE_HOT_MAX` of all lines, ≤
    :data:`LINE_HOT_MAX` digests by construction) broadcasts, so the
    single cookie-banner line shared by 100 M pages never rides one
    reducer, and the shuffled remainder has no key above
    1/:data:`LINE_HOT_MAX` of the corpus. Reassembly joins a
    (doc_id → dropped positions) frame — bounded by dropped lines,
    narrow ints — back to the original scan and filters the split
    array in-row; the only corpus-sized shuffle is that doc_id join.
    """
    arr = F.split(F.col("text"), "\n")
    keyed = documents.select(
        "doc_id", F.posexplode(arr).alias("pos", "line")
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("line").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    counts = keyed.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    total = counts.agg(F.sum("occ").alias("n_total"))
    hot = counts.filter(F.col("occ") > max_occurrences).crossJoin(
        F.broadcast(total)
    )
    ultra = hot.filter(
        F.col("occ") * F.lit(LINE_HOT_MAX) >= F.col("n_total")
    ).select("h")
    tail = hot.filter(
        F.col("occ") * F.lit(LINE_HOT_MAX) < F.col("n_total")
    ).select("h")
    # ultra is ≤4096 digests by construction (broadcast); tail is
    # digest-frame-sized — pinned shuffle join (see _prefix_index)
    dropped = keyed.join(F.broadcast(ultra), "h", "left_semi").unionByName(
        keyed.join(tail.hint("shuffle_hash"), "h", "left_semi")
    )
    drop_pos = dropped.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("dp"),
        F.count(F.lit(1)).alias("n_dropped"),
    )
    dp = F.coalesce(F.col("dp"), F.array().cast("array<int>"))
    # drop_pos is corpus-sized (one row per affected doc) — pinned SMJ
    out = documents.join(drop_pos.hint("merge"), "doc_id", "left").select(
        "doc_id",
        F.size(arr).cast("long").alias("n_lines"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias(
            "n_dropped"
        ),
        F.array_join(
            F.filter(arr, lambda x, i: ~F.array_contains(dp, i)),
            "\n",
        ).alias("kept_text"),
    )
    return out.orderBy("doc_id") if sort else out


# ---------------------------------------------------------------------------
# Fuzzy vocabulary matching (SymSpell deletion-neighborhood join)
# ---------------------------------------------------------------------------

#: Every TYPO_EVERY-th document contributes a synthesized typo (its
#: first ≥4-char word with the 2nd character deleted) — the same
#: deterministic both-engine enrichment device the PII oracle uses,
#: since the fixture vocabulary contains no organic edit-1 pairs.
TYPO_EVERY = 7


def typo_pairs(documents: DataFrame) -> DataFrame:
    """Fuzzy token matching — SymSpell-style (Garbe) edit-distance-1
    correction pairs between a dirty token stream and the corpus
    vocabulary: the entity-resolution / spelling-normalization step a
    curation pipeline runs on OCR or user-generated text. Returns
    ``(typo, word, n_docs)`` — each synthesized typo, every vocabulary
    word within edit distance 1 of it, and how many documents emitted
    that typo.

    The fuzzy join is NOT a quadratic cross-product with a Levenshtein
    filter: both sides expand to their 1-DELETION NEIGHBORHOODS (the
    word plus every single-character deletion — length+1 keys per
    token, built by in-kernel higher-order functions) and equi-join on
    the deletion key; edit-distance-1 pairs of any kind (deletion,
    insertion, substitution) are guaranteed to share a key, and the
    exact ``levenshtein() = 1`` check runs only on those candidates.
    That turns O(|dirty|·|vocab|) into an equi-join with ~len keys per
    word — the SymSpell trick, and the only fuzzy-join shape that
    survives a 100 TB vocabulary.

    Scale: both key frames are vocabulary-sized, never corpus-sized
    (dirty tokens aggregate to distinct typos with doc counts first);
    document text never shuffles; deletion keys are short strings with
    bounded fan-out, so no skewed join key.
    """
    words = wordcount.words(F.col("text"))
    dirty = (
        documents.filter(F.pmod(F.col("doc_id"), F.lit(TYPO_EVERY)) == 0)
        .select(F.element_at(words, 1).alias("w"))
        .filter(F.length("w") >= 4)
        .select(
            F.concat(
                F.substring(F.col("w"), 1, 1), F.expr("substring(w, 3)")
            ).alias("typo")
        )
        .groupBy("typo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    vocab = (
        spread(documents, "doc_id")
        .select(F.explode(words).alias("word"))
        .filter(F.length("word") >= 3)
        .distinct()
    )
    del_keys = (
        "array_union(array({w}), transform(sequence(1, length({w})), "
        "i -> concat(substring({w}, 1, i - 1), substring({w}, i + 1))))"
    )
    dirty_keys = dirty.select(
        "typo",
        "n_docs",
        F.explode(F.expr(del_keys.format(w="typo"))).alias("k"),
    )
    vocab_keys = vocab.select(
        "word", F.explode(F.expr(del_keys.format(w="word"))).alias("k")
    )
    return (
        # both deletion-key sides are vocabulary-sized: pinned shuffle
        # join, never an estimate-driven broadcast (see _prefix_index)
        dirty_keys.join(vocab_keys.hint("shuffle_hash"), "k")
        .filter(F.levenshtein(F.col("typo"), F.col("word")) == 1)
        .select("typo", "word", "n_docs")
        .distinct()
        .orderBy("typo", "word")
    )
