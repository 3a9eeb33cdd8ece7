"""Pipeline-operator tests beyond the oracle gate: LSH recall vs brute
force, MinHash≡Jaccard on fixtures, SimHash behavior, fingerprint
goldens, multimodal plumbing."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.pipeline import dedup, multimodal, similarity
from flink_snappydata_spark.pipeline import text as textops
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.dedup_reference import minhash_band_hashes, naive_shingle_set


def test_minhash_matches_exact_jaccard(spark):
    """On the fixtures, LSH(16x4) recall at threshold 0.8 is total: the
    verified MinHash pairs equal the exact shingle-join pairs."""
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    assert len(exact) > 0
    assert set(lsh) == set(exact)
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-12


def test_minhash_fused_kernel_matches_single_purpose_kernels(spark):
    """The fused band+shingle kernel (one tokenize pass, r14 opt) is
    bit-identical to two single-purpose computations: the same band
    hashes per (doc, band) as the pure-Python reference
    (``tests/dedup_reference.py``), and the same distinct shingle list
    in the same insertion order as :func:`dedup.shingles`."""
    docs = load_table(spark, SF_CORRECT, "documents")
    fused = dedup._minhash_fused(docs)
    got_bands = {
        (r.doc_id, r.band_id): r.band_hash
        for r in fused.select(
            "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
        ).collect()
    }
    want_bands = {
        (r.doc_id, band_id): band_hash
        for r in docs.select("doc_id", "text").collect()
        for band_id, band_hash in enumerate(minhash_band_hashes(r.text))
    }
    assert got_bands == want_bands
    got_shs = {r.doc_id: r.shs for r in fused.select("doc_id", "shs").collect()}
    want_shs = {}
    for r in dedup.shingles(docs).collect():
        want_shs.setdefault(r.doc_id, []).append(r.sh)
    assert got_shs == want_shs


#: Strings where a Unicode-aware ``\W`` or lower-casing would split
#: differently from the ASCII class both tokenizers use, plus texts too
#: short for a trigram (the whole-text shingle).
_TOKENIZER_EDGE_TEXTS = [
    "Café naïve résumé déjà vu",
    "Straße groß Fuß",
    "İstanbul İzmir DİKKAT",
    "snake_case and __dunder__ names",
    "abc123 456 7x8 3.14 1,000",
    "日本語のテキスト 中文 한국어",
    "emoji 😀 in 🚀 text 👍🏽 ok",
    "tabs\there\r\nand CRLF\rlines\n",
    "",
    "   \t\r\n  ",
    "!!! ... ??? --- ;;;",
    "ﬁle ﬂow oﬃce",
    "Ⅻ Ⅳ chapter Ⅸ",
    "ΑΛΦΑ ΒΗΤΑ ΟΔΟΣ",
    "Mixed ÀÉÎ caps ŒUVRE",
    "\u212a Kelvin ﬀ ſ long s",
    "one",
    "two words",
]


def test_shingle_set_matches_jvm_words(spark):
    """The Python kernels' tokenizer + shingler (``dedup._shingle_set``)
    and the JVM word splitter (``wordcount.words``) agree on non-ASCII
    text: distinct words (n=1) and distinct word trigrams (n=3), in
    first-seen order, with the whole-text shingle for short texts."""
    from flink_snappydata_spark.operators import wordcount

    df = spark.createDataFrame(
        list(enumerate(_TOKENIZER_EDGE_TEXTS)), "doc_id long, text string"
    )
    ws = wordcount.words(F.col("text"))
    whole = F.array(F.concat_ws(" ", ws))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
    )
    got = df.select(
        "doc_id",
        F.when(F.size(ws) >= 1, F.array_distinct(ws)).otherwise(whole).alias("n1"),
        F.when(F.size(ws) >= 3, F.array_distinct(grams)).otherwise(whole).alias("n3"),
    ).collect()
    assert len(got) == len(_TOKENIZER_EDGE_TEXTS)
    for r in got:
        text = _TOKENIZER_EDGE_TEXTS[r.doc_id]
        assert r.n1 == list(dedup._shingle_set(text, 1)), text
        assert r.n3 == list(dedup._shingle_set(text, 3)), text


def test_simhash_near_dups(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy cat again and again"),
        (3, "completely different content about spark sql window functions"),
        (4, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(df).collect()}
    assert fps[1] == fps[4]  # identical text → identical fingerprint
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_dedup_pairs(df, max_hamming=10).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 10
    assert (1, 3) not in pairs


def _planted_vectors(n_base: int = 60, n_dup: int = 25, dim: int = 64):
    rng = random.Random(7)
    rows = []
    for i in range(n_base):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    for j in range(n_dup):
        base = rows[j][1]
        rows.append(
            (n_base + j, [x + rng.gauss(0, 0.03) for x in base])
        )
    return rows


def test_lsh_neardup_recall_on_planted_dups(spark):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(_planted_vectors(), schema)
    truth = {
        (r.vec_a, r.vec_b)
        for r in similarity.cosine_neardup_pairs(df, threshold=0.9).collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_neardup_pairs(df, threshold=0.9).collect()
    }
    assert len(truth) >= 20
    assert got <= truth  # exact verify → perfect precision
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall} below 0.9"


def test_ivf_topk_recall(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    truth = similarity.brute_force_cosine_topk(emb, n_queries=5, k=10).collect()
    approx = similarity.ivf_topk(emb, n_queries=5, k=10).collect()
    truth_set = {(r.query_id, r.vec_id) for r in truth}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(truth_set & approx_set) / len(truth_set)
    assert recall >= 0.3, f"IVF recall {recall} below floor"
    # scores of overlapping results are the same exact quantized cosine
    tmap = {(r.query_id, r.vec_id): r.cosine for r in truth}
    for r in approx:
        if (r.query_id, r.vec_id) in tmap:
            assert abs(tmap[(r.query_id, r.vec_id)] - r.cosine) < 1e-15


def test_fingerprint_golden(spark):
    """JVM md5-window fingerprint vs an independent hashlib loop."""
    import hashlib

    def py_fingerprint(text: str) -> int:
        n = max(len(text) - 7, 1)
        return min(
            int(hashlib.md5(text[i : i + 8].encode("utf-8")).hexdigest()[:15], 16)
            for i in range(n)
        )

    texts = [(1, "hello world this is a fingerprint test"), (2, "abc")]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {r.doc_id: r.fingerprint for r in textops.doc_fingerprints(df).collect()}
    assert got == {i: py_fingerprint(t) for i, t in texts}


def test_multimodal_plumbing(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    media = multimodal.attach_binary(docs)
    # same names/types (nullability flags may differ)
    assert media.schema.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 20
    assert all(len(r.feature) == 8 for r in feats)
    assert all(0.0 <= x <= 1.0 for r in feats for x in r.feature)
    frames = multimodal.sample_frames(media, n_frames=4)
    counts = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in counts)
    # the frames tile the payload: nothing dropped at the tail
    payloads = {r.doc_id: bytes(r.content) for r in media.collect()}
    by_doc: dict[int, list] = {}
    for r in frames.collect():
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, bytes(r.frame_bytes)))
    assert by_doc.keys() == payloads.keys()
    for doc_id, parts in by_doc.items():
        assert b"".join(b for _, b in sorted(parts)) == payloads[doc_id]
    # unsupported formats raise explicitly, not silently
    with pytest.raises(ValueError, match="unsupported image format"):
        multimodal.decode_image(b"\x89PNG fake")


def _golden_ppm_p6() -> bytes:
    # 4x2 RGB: row0 = R G B W, row1 = black gray(128) white black
    px = bytes(
        [255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255,
         0, 0, 0,  128, 128, 128,  255, 255, 255,  0, 0, 0]
    )
    return b"P6\n# golden fixture\n4 2\n255\n" + px


def _golden_bmp_24() -> bytes:
    import struct

    # 2x2 24-bit bottom-up BMP; rows padded to 4 bytes (stride 8).
    # Image rows (top to bottom): [red, green], [blue, white]
    row_top = bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"  # BGR!
    row_bot = bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00\x00"
    pixel_data = row_bot + row_top  # bottom-up storage order
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                       len(pixel_data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    return header + info + pixel_data


def test_decode_image_ppm_golden():
    img = multimodal.decode_image(_golden_ppm_p6())
    assert (img["format"], img["width"], img["height"], img["channels"]) == (
        "ppm", 4, 2, 3,
    )
    # first pixel pure red, last pixel black
    assert img["pixels"][:3] == bytes([255, 0, 0])
    assert img["pixels"][-3:] == bytes([0, 0, 0])
    stats = multimodal.image_stats(_golden_ppm_p6())
    assert stats["channel_stats"][0] == {
        "min": 0, "max": 255, "mean": (255 + 0 + 0 + 255 + 0 + 128 + 255 + 0) / 8,
    }


def test_decode_image_ppm_ascii_equals_binary():
    img6 = multimodal.decode_image(_golden_ppm_p6())
    ascii_body = " ".join(str(b) for b in img6["pixels"])
    p3 = f"P3\n4 2\n255\n{ascii_body}\n".encode()
    img3 = multimodal.decode_image(p3)
    assert img3["pixels"] == img6["pixels"]
    assert (img3["width"], img3["height"]) == (4, 2)


def test_decode_image_bmp_golden():
    img = multimodal.decode_image(_golden_bmp_24())
    assert (img["format"], img["width"], img["height"], img["channels"]) == (
        "bmp", 2, 2, 3,
    )
    # decoded top-down RGB: red, green / blue, white
    assert img["pixels"] == bytes(
        [255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255]
    )
    stats = multimodal.image_stats(_golden_bmp_24())
    assert stats["channel_stats"] == [
        {"min": 0, "max": 255, "mean": (255 + 0 + 0 + 255) / 4},
        {"min": 0, "max": 255, "mean": (0 + 255 + 0 + 255) / 4},
        {"min": 0, "max": 255, "mean": (0 + 0 + 255 + 255) / 4},
    ]


def test_image_stats_zero_dimension_raises():
    """A PPM or BMP with no pixels raises a ValueError naming its
    dimensions instead of failing inside min()."""
    import struct

    with pytest.raises(ValueError, match=r"zero-dimension image \(0x2\)"):
        multimodal.image_stats(b"P6\n0 2\n255\n")
    info = struct.pack("<IiiHHIIiiII", 40, 3, 0, 1, 24, 0, 0, 2835, 2835, 0, 0)
    bmp = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + info
    with pytest.raises(ValueError, match=r"zero-dimension image \(3x0\)"):
        multimodal.image_stats(bmp)


def test_decode_image_truncated_raises():
    with pytest.raises(ValueError, match="truncated PPM"):
        multimodal.decode_image(b"P6\n4 2\n255\n\x00\x01")
    with pytest.raises(ValueError, match="truncated BMP"):
        multimodal.decode_image(_golden_bmp_24()[:40])


def test_exact_dedup_with_real_duplicates(spark):
    """Fixture texts are unique; verify collapse semantics on a corpus
    with actual duplicates."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    dup = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1000))
    out = dedup.exact_dedup(dup)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.doc_id < 1000 for r in rows)  # keeps min doc_id


def test_exact_dedup_shuffles_digest_not_text(spark):
    """The 100 TB rule pinned to the plan: the dedup aggregation's
    exchange must hash-partition on the sha2 digest, never on the raw
    text column."""
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = formatted_plan(dedup.exact_dedup(docs))
    # The agg exchange partitions on the sha2 grouping expression
    # (Catalyst names it _groupingexpression); the text column must not
    # appear in any partitioning key.
    exchange_lines = [
        ln for ln in plan.splitlines() if "hashpartitioning" in ln
    ]
    assert exchange_lines, plan
    assert any(
        "digest" in ln or "_groupingexpression" in ln for ln in exchange_lines
    ), plan
    assert not any("text#" in ln for ln in exchange_lines), (
        "shuffle key must be the 32-byte digest, not the document body"
    )


def test_ngram_jaccard_prefix_filter_exact_under_hot_shingles(spark):
    """Stopword-run shingles shared by every document never enter the
    prefix self-join (highest DF = last in the prefix order), yet the
    near-dup pairs and their exact Jaccard values match a brute-force
    all-pairs computation — prefix filtering is recall-exact."""
    common = "alpha beta gamma delta"  # hot 3-grams in every doc
    rows = []
    for i in range(30):
        rows.append((i, common + " " + " ".join(f"w{i}x{j}" for j in range(12))))
    for i in range(10):  # near-dups of the first ten, one word changed
        words = rows[i][1].split()
        words[-1] = "changed"
        rows.append((100 + i, " ".join(words)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.7).collect()
    }

    # brute force: all doc pairs, python-side shingle sets
    import itertools

    sets = {i: naive_shingle_set(t) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.7:
            want[(a, b)] = j
    assert len(want) == 10
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


def test_neardup_clusters_chain_and_components(spark):
    """A 4-doc chain (a-b, b-c, c-d) must collapse to one cluster rooted
    at the smallest id even though a and d share no pair (transitivity
    needs >1 propagation round); a disjoint pair stays its own cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup.neardup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_neardup_clusters_long_chain_converges(spark):
    """A 60-doc drift chain needs 59 plain-propagation hops — far past
    the default max_iter=20. Pointer jumping (label-through-label) must
    converge it in O(log d) rounds; silent wrong labels here were the
    round-2 advisor's top finding."""
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["doc_a", "doc_b"]
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup.neardup_clusters(pairs).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_neardup_clusters_raises_on_exhaustion(spark):
    """Non-convergence must raise, never silently return partial labels."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(pairs, max_iter=2)


def test_dedup_clusters_job_budget_and_one_prefix_index(spark):
    """Drift-proof counters for the pair-graph pipeline: building and
    forcing dedup_clusters from a clean cache launches at most 18 Spark
    jobs — the prefix index is built once and the CC loop carries its
    neighbour lists instead of re-joining the edges — and the executed
    Jaccard plan holds exactly ONE prefix-ranking aggregate."""
    import re

    from flink_snappydata_spark.registry import queries
    from flink_snappydata_spark.util import release_caches

    release_caches()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    queries()["dedup_clusters"](spark, SF_CORRECT).write.format("noop").mode(
        "overwrite"
    ).save()
    n_jobs = dag.numTotalJobs() - before
    assert n_jobs <= 18, f"dedup_clusters launched {n_jobs} Spark jobs"

    pairs = dedup.ngram_jaccard_pairs(load_table(spark, SF_CORRECT, "documents"))
    assert pairs.count() > 0
    final = pairs._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    n_prefix = len(re.findall(r"(?<!partial_)collect_list\(struct\(df_sh, ", final))
    assert n_prefix == 1, f"{n_prefix} prefix aggregates in the executed plan"
    release_caches()


def test_decontaminate_flags_shared_ngrams(spark):
    """A training doc embedding a benchmark sentence is flagged with the
    distinct-overlap count; clean docs are absent from the output."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox appears here"),
            (2, "completely unrelated content with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.n_hits for r in dedup.decontaminate(train, bench).collect()}
    # "the quick brown" and "quick brown fox" are the two shared 3-grams
    assert got == {1: 2}


def test_lsh_multiprobe_improves_recall(spark):
    """Noisier planted dups (cosine ~0.9 boundary): Hamming-1 multiprobe
    must recover at least the single-bucket candidates and more of the
    ground truth, at exact precision (verify step unchanged)."""
    rng = random.Random(99)
    dim, n_base, n_dup = 64, 150, 60
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n_base)]
    for j in range(n_dup):
        base = rows[j][1]
        rows.append((n_base + j, [x + rng.gauss(0, 0.65) for x in base]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    truth = {
        (r.vec_a, r.vec_b)
        for r in similarity.cosine_neardup_pairs(df, threshold=0.75).collect()
    }
    plain = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_neardup_pairs(
            df, threshold=0.75, multiprobe_bits=0
        ).collect()
    }
    multi = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_neardup_pairs(
            df, threshold=0.75, multiprobe_bits=1
        ).collect()
    }
    assert len(truth) >= 30
    assert plain <= multi <= truth, "probing only adds candidates; precision exact"
    r_plain = len(plain) / len(truth)
    r_multi = len(multi) / len(truth)
    # at this noise/threshold plain banding misses pairs (0.877 with these
    # seeds); Hamming-1 probing recovers them
    assert r_multi > r_plain
    assert r_multi >= 0.95, f"multiprobe recall {r_multi:.2f} (plain {r_plain:.2f})"


def test_prefix_index_excludes_hot_shingles(spark):
    """The 100 TB scale property of prefix filtering, asserted directly:
    shingles shared by every document (the hot keys that would explode
    an inverted-index self-join) never enter the prefix index, and the
    candidate join's per-key fan-out stays bounded by the rare-shingle
    document frequencies."""
    import pyspark.sql.functions as F

    common = "alpha beta gamma delta epsilon zeta"  # hot 3-grams everywhere
    rows = [
        (i, common + " " + " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.shingles(df)
    prefix = dedup._prefix_index(sh, 0.8)

    # per-shingle document frequency inside the prefix index
    pdf = (
        prefix.join(sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_sh")), "sh")
        .groupBy("sh")
        .agg(F.max("df_sh").alias("df_sh"), F.count(F.lit(1)).alias("n_prefix"))
        .collect()
    )
    hot_in_prefix = [r.sh for r in pdf if r.df_sh == 40]
    assert hot_in_prefix == [], (
        f"hot shingles leaked into the prefix index: {hot_in_prefix}"
    )
    # every doc still has a prefix (candidate recall intact)
    assert prefix.select("doc_id").distinct().count() == 40


def test_all_pairs_guard_trips_above_cap(spark):
    """The quadratic oracle baselines are guarded by code, not
    convention: above the row cap they raise (pointing at the ANN scale
    paths) instead of launching an O(n²) self-join."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], schema
    )
    with pytest.raises(ValueError, match="lsh_neardup_pairs"):
        similarity.cosine_neardup_pairs(df, row_cap=10)
    # at-or-under the cap: plan builds, no raise
    similarity.cosine_neardup_pairs(df, row_cap=20)
    # cap=None disables the guard entirely (deliberate oracle runs)
    similarity.cosine_neardup_pairs(df, row_cap=None)


def test_image_stats_table_distributed_decode(spark):
    """decode_image runs inside the Spark surface: synthesize one PPM
    payload per document, decode via mapInPandas, and check the typed
    stats columns against the local decoder."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(8).collect()
    rows = []
    for r in docs:
        n = 1 + (r.doc_id % 4)  # widths 1..4, height 2
        px = bytes((r.doc_id * 31 + i) % 256 for i in range(n * 2 * 3))
        rows.append((r.doc_id, b"P6\n%d 2\n255\n" % n + px))
    media = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )
    got = {r.doc_id: r for r in multimodal.image_stats_table(media).collect()}
    assert len(got) == 8
    for doc_id, content in rows:
        expect = multimodal.image_stats(content)
        r = got[doc_id]
        assert (r.format, r.width, r.height, r.channels) == (
            "ppm", expect["width"], 2, 3,
        )
        assert r.mean_r == pytest.approx(expect["channel_stats"][0]["mean"])
        assert r.mean_b == pytest.approx(expect["channel_stats"][2]["mean"])


def _golden_wav_16(samples=(-32768, 0, 12345, 32767), rate=8000, n_ch=1) -> bytes:
    import struct

    pcm = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_ch, rate,
                                rate * n_ch * 2, n_ch * 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def test_decode_audio_wav_golden():
    a = multimodal.decode_audio(_golden_wav_16())
    assert (a["format"], a["sample_rate"], a["channels"], a["bits"]) == (
        "wav", 8000, 1, 16,
    )
    assert a["n_samples"] == 4
    assert a["samples"][0] == [-32768, 0, 12345, 32767]


def test_decode_audio_stereo_deinterleaves():
    import struct

    # stereo frames (L,R): (1,-1), (2,-2), (3,-3)
    pcm = struct.pack("<6h", 1, -1, 2, -2, 3, -3)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    a = multimodal.decode_audio(wav)
    assert a["channels"] == 2 and a["n_samples"] == 3
    assert a["samples"] == [[1, 2, 3], [-1, -2, -3]]


def _riff_test_chunk(cid: bytes, body: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(body) % 2 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def test_decode_audio_skips_odd_chunk_with_pad_byte():
    """An odd-length LIST chunk before ``data`` is followed by one pad
    byte; the reader must step over it to find the samples."""
    import struct

    pcm = struct.pack("<3h", 7, -8, 9)
    body = (
        b"WAVE"
        + _riff_test_chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
        + _riff_test_chunk(b"LIST", b"INFOx")  # 5 bytes + 1 pad byte
        + _riff_test_chunk(b"data", pcm)
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    a = multimodal.decode_audio(wav)
    assert (a["n_samples"], a["samples"]) == (3, [[7, -8, 9]])


def _media_frame(spark, rows):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_audio_stats_table_empty_data_chunk(spark):
    """A valid WAV with an empty ``data`` chunk has 0 samples and a null
    mean, next to a normal payload in the same batch."""
    media = _media_frame(
        spark, [(1, _golden_wav_16(samples=())), (2, _golden_wav_16())]
    )
    got = {r.doc_id: r for r in multimodal.audio_stats_table(media).collect()}
    assert (got[1].n_samples, got[1].mean_amp, got[1].sum_sq) == (0, None, 0)
    assert (got[1].format, got[1].sample_rate, got[1].channels) == ("wav", 8000, 1)
    assert got[2].n_samples == 4
    assert got[2].mean_amp == (-32768 + 0 + 12345 + 32767) / 4


def test_audio_silence_stats_empty_data_chunk(spark):
    """A WAV with no samples has no frames: zero counts, a null ratio
    and -1 trim points."""
    media = _media_frame(
        spark, [(1, _golden_wav_16(samples=())), (2, _golden_wav_16())]
    )
    got = {r.doc_id: r for r in multimodal.audio_silence_stats(media).collect()}
    r = got[1]
    assert (r.n_frames, r.n_silent, r.silence_ratio, r.lead_trim, r.tail_trim) == (
        0, 0, None, -1, -1,
    )
    r = got[2]  # one frame of 4 samples, loud (|-32768| >= 1)
    assert (r.n_frames, r.n_silent, r.silence_ratio, r.lead_trim, r.tail_trim) == (
        1, 0, 0.0, 0, 0,
    )


def _test_avi(frames: list[bytes], hdrl_extra: bytes = b"") -> bytes:
    """Minimal 4x2 uncompressed AVI with the given ``00db`` frames."""
    import struct

    avih = struct.pack("<14I", 33333, 0, 0, 0, len(frames), 0, 1, 0, 4, 2, 0, 0, 0, 0)
    hdrl = _riff_test_chunk(
        b"LIST", b"hdrl" + _riff_test_chunk(b"avih", avih) + hdrl_extra
    )
    movi = _riff_test_chunk(
        b"LIST", b"movi" + b"".join(_riff_test_chunk(b"00db", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_video_skips_odd_chunk_in_hdrl():
    """An odd-length chunk inside ``hdrl`` carries a pad byte; the shared
    RIFF reader keeps word alignment and still finds every frame."""
    frames = [bytes(range(24)), bytes(range(100, 124))]
    v = multimodal.decode_video(_test_avi(frames, _riff_test_chunk(b"JUNK", b"abc")))
    assert (v["width"], v["height"], v["n_frames"]) == (4, 2, 2)
    assert v["frames"] == frames


def test_video_stats_table_no_frames(spark):
    """An AVI with no ``..db`` frames has 0 frames, a 0 byte sum and a
    null mean."""
    media = _media_frame(spark, [(1, _test_avi([])), (2, _test_avi([bytes([2] * 24)]))])
    got = {r.doc_id: r for r in multimodal.video_stats_table(media).collect()}
    r = got[1]
    assert (r.width, r.height, r.n_frames, r.sum_bytes, r.mean_byte) == (
        4, 2, 0, 0, None,
    )
    assert (got[2].n_frames, got[2].sum_bytes, got[2].mean_byte) == (1, 48, 2.0)


def test_decode_audio_rejects_non_pcm_and_non_wav():
    import struct

    with pytest.raises(ValueError, match="unsupported audio format"):
        multimodal.decode_audio(b"OggS fake vorbis stream")
    ieee = _golden_wav_16()
    # flip the fmt audio-format field (offset 20) to 3 (IEEE float)
    ieee = ieee[:20] + struct.pack("<H", 3) + ieee[22:]
    with pytest.raises(ValueError, match="non-PCM"):
        multimodal.decode_audio(ieee)


def test_audio_stats_table_matches_decoder(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(6)
    media = multimodal.synthesize_wav(docs)
    got = {r.doc_id: r for r in multimodal.audio_stats_table(media).collect()}
    raw = {r.doc_id: bytes(r.content) for r in media.collect()}
    assert len(got) == 6
    for doc_id, content in raw.items():
        a = multimodal.decode_audio(content)
        ch0 = a["samples"][0]
        r = got[doc_id]
        assert r.n_samples == 8 + doc_id % 8 == len(ch0)
        assert r.mean_amp == pytest.approx(sum(ch0) / len(ch0))
        assert r.sum_sq == sum(v * v for v in ch0)


def test_decode_video_avi_golden(spark):
    """The synthesized AVI decodes to its declared shape, frame payloads
    match the generating arithmetic, and non-AVI / compressed payloads
    raise explicitly."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(5)
    media = {r.doc_id: bytes(r.content)
             for r in multimodal.synthesize_avi(docs).collect()}
    assert len(media) == 5
    for doc_id, content in media.items():
        v = multimodal.decode_video(content)
        n = 2 + doc_id % 3
        assert (v["format"], v["width"], v["height"], v["n_frames"]) == (
            "avi", 4, 2, n,
        )
        for f, frame in enumerate(v["frames"]):
            assert frame == bytes(
                (doc_id * 7 + f * 11 + j) % 256 for j in range(4 * 2 * 3)
            )
    with pytest.raises(ValueError, match="unsupported video format"):
        multimodal.decode_video(b"\x00\x00\x01\xba mpeg-ps")
    # compressed frame chunk (00dc) is rejected, not silently skipped
    compressed = list(media.values())[0].replace(b"00db", b"00dc")
    with pytest.raises(ValueError, match="compressed AVI"):
        multimodal.decode_video(compressed)


def test_video_stats_table_distributed_decode(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(6)
    got = {r.doc_id: r for r in multimodal.video_stats_table(
        multimodal.synthesize_avi(docs)
    ).collect()}
    assert len(got) == 6
    for doc_id, r in got.items():
        n = 2 + doc_id % 3
        expect = [
            (doc_id * 7 + f * 11 + j) % 256
            for f in range(n) for j in range(24)
        ]
        assert (r.width, r.height, r.n_frames) == (4, 2, n)
        assert r.sum_bytes == sum(expect)
        assert r.mean_byte == pytest.approx(sum(expect) / len(expect))


# ---------------------------------------------------------------------------
# k-means training (iterative Lloyd's, integer-exact)
# ---------------------------------------------------------------------------


def _inertia_proxy(spark, emb, n_clusters, n_iters):
    """Sum of each vector's best cosine to its assigned centroid —
    recomputed from a naive numpy replay so the test judges the Spark
    result against independent arithmetic."""
    import numpy as np

    pdf = emb.orderBy("vec_id").toPandas()
    vecs = {
        int(r.vec_id): np.round(np.array(r.embedding, dtype=np.float64) * 1e6)
        for r in pdf.itertuples()
    }

    def cos(a, b):
        return float(np.dot(a, b)) / (
            np.sqrt(float(np.dot(a, a)) * float(np.dot(b, b)))
        )

    cents = {j: vecs[j].copy() for j in range(n_clusters) if j in vecs}
    assign = {}
    for it in range(n_iters):
        assign = {
            v: max(cents, key=lambda j: (cos(vecs[v], cents[j]), -j))
            for v in vecs
        }
        if it < n_iters - 1:
            new = {}
            for j in cents:
                members = [vecs[v] for v in assign if assign[v] == j]
                if members:
                    s = np.sum(members, axis=0)
                    n = len(members)
                    new[j] = np.trunc(s / n) if n > 1 else s.copy()
                    # exact truncated mean to mirror (s - s % n) / n
                    new[j] = np.array(
                        [int(c) - int(c) % n if int(c) >= 0
                         else -((-int(c)) - (-int(c)) % n)
                         for c in s], dtype=np.float64) / n
                else:
                    new[j] = cents[j]
            cents = new
    return assign


def test_kmeans_matches_naive_replay(spark):
    """The distributed trainer's final membership equals an independent
    numpy replay of the same integer-exact Lloyd's recipe."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r.cluster_id: (r.n_members, r.sum_vec_id)
        for r in similarity.kmeans_train(emb, n_clusters=8, n_iters=2).collect()
    }
    assign = _inertia_proxy(spark, emb, 8, 2)
    want = {}
    for v, j in assign.items():
        n, s = want.get(j, (0, 0))
        want[j] = (n + 1, s + v)
    assert got == want


def test_kmeans_improves_total_cosine(spark):
    """Training must not make clustering worse: total best-cosine after
    2 rounds >= after 1 round (Lloyd's monotonicity, up to the integer
    truncation of centroids — asserted with a small tolerance).

    Both assignments come from the SPARK trainer (``_kmeans_fit``), not
    the numpy replay — a replay-vs-replay comparison would pass even if
    the trainer regressed (ADVICE r6). Only the quality metric (sum of
    member-to-own-centroid cosines over the trainer's assignment) is
    recomputed in numpy.
    """
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pdf = emb.orderBy("vec_id").toPandas()
    vecs = {
        int(r.vec_id): np.round(np.array(r.embedding, dtype=np.float64) * 1e6)
        for r in pdf.itertuples()
    }

    def cos(a, b):
        return float(np.dot(a, b)) / (
            np.sqrt(float(np.dot(a, a)) * float(np.dot(b, b)))
        )

    def total(n_iters):
        _, assigned = similarity._kmeans_fit(
            similarity.quantized(emb), 8, n_iters
        )
        assign = {r.vec_id: r.cent_id for r in assigned.collect()}
        assert len(assign) == len(vecs)
        # recompute centroids from the assignment and sum best cosines
        cents = {}
        for j in set(assign.values()):
            members = [vecs[v] for v in assign if assign[v] == j]
            cents[j] = np.sum(members, axis=0)
        return sum(cos(vecs[v], cents[assign[v]]) for v in assign)

    assert total(2) >= total(1) - 1e-6


def test_kmeans_single_iter_is_init_assignment(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    one = similarity.kmeans_train(emb, n_clusters=4, n_iters=1).collect()
    assert sum(r.n_members for r in one) == emb.count()
    assert {r.cluster_id for r in one} <= set(range(4))


def test_kmeans_empty_cluster_carries_forward(spark):
    """A centroid that captures no members keeps its old vector instead
    of vanishing or dividing by zero."""
    import numpy as np

    rows = []
    # 6 vectors tightly around +e0 ... and centroid seeds 0,1 where seed 1
    # is an outlier direction no vector is nearest to after round 1.
    base = [1.0] + [0.0] * 63
    outlier = [0.0] * 62 + [1.0, 0.0]
    for i in range(6):
        v = list(base)
        v[1] = 0.01 * i
        rows.append((i, v))
    rows[1] = (1, outlier)  # seed centroid 1 starts as the outlier
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.kmeans_train(df, n_clusters=2, n_iters=3).collect()
    got = {r.cluster_id: r.n_members for r in out}
    assert sum(got.values()) == 6
    # the outlier vector keeps its own cluster; everyone else in cluster 0
    assert got == {0: 5, 1: 1}


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------


def test_bm25_ranks_term_rich_docs_first(spark):
    rows = [
        (0, "vector stream window hash vector stream window hash"),
        (1, "vector stream padding words here and there okay fine"),
        (2, "no relevant terms at all in this document body text"),
        (3, "hash hash hash hash hash hash hash hash hash hash"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.bm25_topk(df, k=4)
    got = [(r.doc_id, r.score) for r in out.collect()]
    assert got[0][0] == 0          # all four terms, twice each
    assert [d for d, _ in got].index(2) == 3  # zero-term doc ranks last
    assert got[-1][1] == 0.0       # and scores exactly 0
    # scores strictly ordered, ties impossible here
    scores = [s for _, s in got]
    assert scores == sorted(scores, reverse=True)


def test_bm25_matches_pandas_reference(spark):
    """Spark BM25 equals a pandas replay of the same rational-idf
    formula on the fixture corpus (independent arithmetic path)."""
    import re

    docs = load_table(spark, SF_SMOKE, "documents")
    got = textops.bm25_topk(docs, k=10).toPandas()

    pdf = docs.select("doc_id", "text").toPandas()
    terms = textops.BM25_TERMS
    k1, b = 1.2, 0.75
    toks = {
        int(r.doc_id): [w for w in re.split(r"\W+", r.text.lower()) if w]
        for r in pdf.itertuples()
    }
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df_t = {
        t: sum(1 for w in toks.values() if t in w) for t in terms
    }
    rows = []
    for d, ws in toks.items():
        dl = len(ws)
        score = 0.0
        for t in terms:
            tf = sum(1 for w in ws if w == t)
            idf = (n_docs - df_t[t] + 0.5) / (df_t[t] + 0.5)
            score = score + idf * (
                (tf * (k1 + 1.0))
                / (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
            )
        rows.append((d, dl, score))
    rows.sort(key=lambda r: (-r[2], r[0]))
    want = rows[:10]
    assert [int(r) for r in got["doc_id"]] == [r[0] for r in want]
    for g, w in zip(got["score"], want):
        assert g == pytest.approx(w[2], rel=1e-12)


def _clustered_corpus(spark, n=200, n_clusters=8):
    """n vectors in orthogonal clusters (cluster j direction = e_{8j});
    ids < n_clusters are noisy boundary members mixing two directions,
    so they are poor codebook seeds AND poor initial centroids."""
    rows = []
    for v in range(n):
        j = v % n_clusters
        vec = [0.0] * 64
        if v < n_clusters:
            vec[8 * j] = 0.6
            vec[8 * ((j + 1) % n_clusters)] = 0.5
        else:
            vec[8 * j] = 1.0
            for i in range(64):
                vec[i] += 0.03 * (((v * 31 + i * 7) % 11) - 5)
        rows.append((v, vec))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kmeans_training_recovers_planted_clusters(spark):
    """On clustered data (the realistic embedding-corpus shape) Lloyd's
    rounds repair the impure init assignment: majority-cluster purity
    goes from <0.9 at init to 1.0 after training."""
    from collections import Counter

    df = _clustered_corpus(spark)
    truth = {v: v % 8 for v in range(200)}

    def purity(n_iters):
        qv = similarity.quantized(df)
        _, assigned = similarity._kmeans_fit(qv, 8, n_iters)
        byc = {}
        for r in assigned.collect():
            byc.setdefault(r.cent_id, []).append(truth[r.vec_id])
        good = sum(Counter(ms).most_common(1)[0][1] for ms in byc.values())
        return good / 200

    p_init, p_trained = purity(1), purity(3)
    assert p_init < 0.9          # boundary seeds misassign at init
    assert p_trained == 1.0      # training recovers the structure
    assert p_trained > p_init


def test_ivf_with_trained_codebook(spark):
    """ivf_topk accepts a kmeans_centroids codebook and stays exact on
    clustered data even probing a single list per query."""
    df = _clustered_corpus(spark)
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_cosine_topk(df, 5, 10).collect()
    }
    cents = similarity.kmeans_centroids(df, 8, 3)
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(df, 5, 10, 8, 1, centroids=cents).collect()
    }
    assert len(truth & approx) / len(truth) == 1.0


def test_semantic_neardup_recall_vs_exact(spark):
    """SemDeDup candidates are same-cluster only; on the fixture the
    within-cluster restriction keeps most true >=0.45-cosine pairs and
    every reported pair is a true pair with the exact cosine."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.cosine_neardup_pairs(emb).collect()
    }
    sem = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.semantic_neardup_pairs(emb).collect()
    }
    assert len(exact) > 0
    assert set(sem) <= set(exact)           # no false pairs
    for p, c in sem.items():
        assert c == exact[p]                # identical exact scores
    assert len(sem) / len(exact) >= 0.5     # fixture recall floor


def test_embedding_outliers_flags_planted_outlier(spark):
    """A vector pointing away from its label's tight cluster gets the
    lowest centroid-cosine and the (single) outlier flag."""
    import math

    rows = []
    for v in range(20):
        vec = [0.0] * 64
        if v == 7:
            vec[1] = -1.0          # the planted outlier
        else:
            vec[0] = 1.0
            vec[1] = 0.01 * v
        rows.append((v, 0, vec))
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r.vec_id: r for r in similarity.embedding_outliers(df).collect()}
    assert len(out) == 20
    flagged = [v for v, r in out.items() if r.is_outlier]
    assert flagged == [7]          # ceil(0.05*20)=1 flag, on the plant
    assert out[7].cent_cosine == min(r.cent_cosine for r in out.values())


def test_embedding_outliers_flag_budget_per_label(spark):
    """Each label flags exactly ceil(0.05 * n_label) vectors."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    out = similarity.embedding_outliers(emb).toPandas()
    sizes = out.groupby("label").size()
    flags = out.groupby("label")["is_outlier"].sum()
    import math
    for label, n in sizes.items():
        assert flags[label] == math.ceil(n * 0.05)


def test_novelty_scores_boilerplate_vs_unique(spark):
    """Docs sharing a template shingle get boilerplate_frac > 0;
    a fully unique doc scores novelty 1.0."""
    template = "terms of service apply to this content"
    rows = [(i, f"{template} item number {i} alpha beta") for i in range(12)]
    rows.append((99, "entirely unique prose about quantum marmots dancing"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in textops.novelty_scores(df, boilerplate_df=10).collect()}
    assert out[99].novelty == 1.0
    assert out[99].boilerplate_frac == 0.0
    for i in range(12):
        assert out[i].boilerplate_frac > 0   # template shingles shared by 12
        assert 0.0 < out[i].novelty < 1.0    # "item number i" grams unique


def test_bm25_plan_discipline(spark):
    """BM25's 100 TB promises pinned to the plan: the corpus stats come
    back via a broadcast (no shuffle of per-doc rows for the join), and
    no exchange ever carries the document text column."""
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = formatted_plan(textops.bm25_topk(docs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    exchange_lines = [
        ln for ln in plan.splitlines() if "hashpartitioning" in ln
    ]
    assert not any("text#" in ln for ln in exchange_lines), (
        "no exchange may carry the document body"
    )


def test_novelty_plan_shuffles_shingles_not_text(spark):
    """novelty_scores' exchanges carry shingle keys and counts, never
    the raw text column."""
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = formatted_plan(textops.novelty_scores(docs))
    exchange_lines = [
        ln for ln in plan.splitlines() if "hashpartitioning" in ln
    ]
    assert exchange_lines, plan
    assert not any("text#" in ln for ln in exchange_lines), (
        "shuffle keys must be shingles/doc ids, not the document body"
    )


def test_kmeans_broadcasts_centroids(spark):
    """Every assignment round broadcasts the centroid frame; the corpus
    is never on the build side of a join."""
    from flink_snappydata_spark.plans import formatted_plan

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = formatted_plan(similarity.kmeans_train(emb))
    assert plan.count("BroadcastExchange") >= 2  # one per assignment round


def test_ivf_trained_recall_check_all_pass(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.ivf_trained_recall_check(emb).collect()
    assert len(out) == 5
    assert all(r.recall_ok for r in out)


def test_kmeans_three_iters_matches_naive_replay(spark):
    """The Lloyd's loop generalizes beyond the oracle's unrolled two
    rounds: three assignment rounds still match the numpy replay."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r.cluster_id: (r.n_members, r.sum_vec_id)
        for r in similarity.kmeans_train(emb, n_clusters=8, n_iters=3).collect()
    }
    assign = _inertia_proxy(spark, emb, 8, 3)
    want = {}
    for v, j in assign.items():
        n, s = want.get(j, (0, 0))
        want[j] = (n + 1, s + v)
    assert got == want


def test_new_ops_handle_degenerate_inputs(spark):
    """Empty and smaller-than-config corpora must produce empty/partial
    results, never crash: the 100 TB pipeline runs unattended."""
    from pyspark.sql import types as T

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string"
    )
    assert textops.bm25_topk(empty_docs).collect() == []
    assert textops.novelty_scores(empty_docs).collect() == []

    empty_emb = spark.createDataFrame(
        [],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]),
    )
    assert similarity.kmeans_train(empty_emb).collect() == []
    assert similarity.semantic_neardup_pairs(empty_emb).collect() == []

    # fewer vectors than requested clusters: every vector still lands
    tiny = spark.createDataFrame(
        [(i, [float(i == j) for j in range(64)]) for i in range(3)],
        ["vec_id", "embedding"],
    )
    out = similarity.kmeans_train(tiny, n_clusters=8, n_iters=2).collect()
    assert sum(r.n_members for r in out) == 3

    one_doc = spark.createDataFrame([(0, "vector stream")], ["doc_id", "text"])
    got = textops.bm25_topk(one_doc, k=5).collect()
    assert len(got) == 1 and got[0].doc_id == 0


def test_verified_jaccard_streamed_fallback_identical(spark):
    """Forcing EVERY document over the packed bound (max_set_size=1)
    routes all pairs through the streamed gated join — results must be
    byte-identical to the packed path, for every candidate generator
    (containment's output is unsorted, so its rows compare as sets)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    for fn in (
        dedup.ngram_jaccard_pairs,
        dedup.minhash_dedup_pairs,
        dedup.containment_pairs,
    ):
        order = sorted if fn is dedup.containment_pairs else list
        packed = fn(docs, threshold=0.8, max_set_size=None).collect()
        streamed = fn(docs, threshold=0.8, max_set_size=1).collect()
        assert len(packed) > 0
        assert order(tuple(r) for r in packed) == order(
            tuple(r) for r in streamed
        )


def test_containment_streams_only_pairs_touching_oversized_docs(spark):
    """One document over a small shingle bound must not send every
    containment pair down the streamed join: the small-small pair is
    still verified packed (array_intersect in the plan), the pair with
    the oversized document is streamed, and the rows equal the
    unbounded run."""
    from flink_snappydata_spark.plans.inspect import formatted_plan

    big = " ".join(f"w{i:02d}" for i in range(30))  # 28 shingles
    docs = spark.createDataFrame(
        [
            (1, big),
            (10, " ".join(f"w{i:02d}" for i in range(8))),  # inside doc 1
            (11, "alpha beta gamma delta epsilon zeta eta"),
            (12, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    got = dedup.containment_pairs(docs, threshold=0.9, max_set_size=20)
    want = dedup.containment_pairs(docs, threshold=0.9, max_set_size=None)
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    assert {(a, b) for a, b, _ in rows} == {(1, 10), (11, 12)}
    assert "array_intersect" in formatted_plan(got)


def test_giant_document_never_packed_and_pairs_survive(spark):
    """A pathological multi-MB document (shingle count over the bound)
    must not become one giant collect_list record, yet its qualifying
    near-dup pairs must still be found — via the streamed path — and the
    mixed small/big output must equal the unbounded packed baseline."""
    rng = random.Random(99)
    vocab = [f"tok{i:05d}" for i in range(40_000)]
    big_words = [vocab[rng.randrange(len(vocab))] for _ in range(30_000)]
    # 95%-overlapping twin: drop the last 5% and extend with fresh text
    twin_words = big_words[:-1500] + [
        vocab[rng.randrange(len(vocab))] for _ in range(1500)
    ]
    small = [
        (10, "the quick brown fox jumps over the lazy dog tonight"),
        (11, "the quick brown fox jumps over the lazy dog today"),
        (12, "completely unrelated text about spark physical plans"),
    ]
    docs = spark.createDataFrame(
        [(1, " ".join(big_words)), (2, " ".join(twin_words))] + small,
        ["doc_id", "text"],
    )
    bound = 10_000  # both giants exceed it; the small docs do not
    got = dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, max_set_size=bound
    ).collect()
    want = dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, max_set_size=None
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    pairs = {(r.doc_a, r.doc_b) for r in got}
    assert (1, 2) in pairs  # giant-giant pair found via streamed verify
    assert (10, 11) in pairs  # small-small pair still packed
    # the packed aggregation provably never saw the giants
    sh = dedup.shingles(docs)
    packed_side = sh.join(
        sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        .filter(F.col("n_sh") > bound).select("doc_id"),
        "doc_id",
        "left_anti",
    ).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    assert {r.doc_id for r in packed_side.collect()} == {10, 11, 12}


def test_zero_overlap_candidates_score_zero_on_both_paths(spark):
    """LSH-style candidates can share no shingles; at threshold 0 the
    packed path keeps them with jaccard=0 and the streamed path must
    agree (left join + coalesce, not an inner join that drops them)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    sh = dedup.shingles(docs)
    cand = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    packed, streamed = (
        dedup._jaccard_pairs(
            dedup._verified_overlap(docs, sh, cand, max_set_size=bound), 0.0
        ).collect()
        for bound in (None, 1)
    )
    assert [tuple(r) for r in packed] == [tuple(r) for r in streamed]
    assert len(packed) == 1 and packed[0].jaccard == 0.0


def test_pair_sorts_gate_on_expect_small(spark):
    """expect_small=False must range-partition the presentation sort
    (no single-partition exchange); True keeps the one-materialization
    single-partition sort. Pins VERDICT r6 'What's wrong #3'."""
    from flink_snappydata_spark.plans.inspect import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, sorted_output=False)
    df_small = dedup.neardup_clusters(pairs)
    df_big = dedup.neardup_clusters(pairs, expect_small=False)
    assert "SinglePartition" in formatted_plan(df_small)
    big_plan = formatted_plan(df_big)
    assert "SinglePartition" not in big_plan
    assert "rangepartitioning" in big_plan.lower()
    # identical rows and order either way
    rows = [tuple(r) for r in df_small.collect()]
    assert rows, "non-vacuous"
    assert rows == [tuple(r) for r in df_big.collect()]


def test_quality_model_scores_golden(spark):
    """Independent python replay of the hashed-feature linear scorer:
    md5-prefix bucket, LCG weight, exact int64 sum, mean margin."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "Alpha beta GAMMA alpha"), (2, "")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in textops.quality_model_scores(docs).collect()}

    def w(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % textops.QM_BUCKETS
        return (b * textops.QM_MULT + textops.QM_INC) % (1 << 31) - (1 << 30)

    want = sum(w(t) for t in ["alpha", "beta", "gamma", "alpha"])
    got = rows[1]
    assert got.n_words == 4 and got.score_sum == want
    assert abs(got.margin - want / (4 * (1 << 30))) < 1e-15
    assert got.keep == (got.margin > 0.0)

    empty = rows[2]
    assert empty.n_words == 0 and empty.score_sum == 0
    assert empty.margin == 0.0 and empty.keep is False


def test_quality_model_is_discriminative_on_fixture(spark):
    """The pseudo-weights are mean-zero over buckets, so the margin
    must split the fixture corpus non-trivially (both classes present)
    and be identical across recomputation (pure function of text)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    out = textops.quality_model_scores(docs)
    kept = out.filter(F.col("keep")).count()
    total = out.count()
    assert 0 < kept < total
    first = [tuple(r) for r in out.collect()]
    assert first == [tuple(r) for r in textops.quality_model_scores(docs).collect()]


def test_source_contamination_planted_mirror(spark):
    """Two mirror sources sharing every document plus one unique source:
    the mirror pair's Jaccard must be 1.0; pairs with the unique source
    must either be absent or carry the (known) boilerplate-only overlap.
    Values checked against a pure-python shingle replay."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "iota kappa lambda mu nu xi omicron pi rho sigma",
        3: "tau upsilon phi chi psi omega alef bet gimel",
    }
    rows = []
    for did, t in texts.items():
        rows.append((did, t, "mirror_a"))
        rows.append((did + 100, t, "mirror_b"))
    rows.append((201, "completely unrelated corpus text about spark plans", "solo"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        (r.src_a, r.src_b): (r.n_shared, r.jaccard)
        for r in dedup.source_contamination(docs).collect()
    }

    def sh_set(ts):
        out_s = set()
        for t in ts:
            ws = t.lower().split()
            out_s |= {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        return out_s

    a = sh_set(texts.values())
    solo = sh_set(["completely unrelated corpus text about spark plans"])
    assert out[("mirror_a", "mirror_b")] == (len(a), 1.0)
    assert ("mirror_a", "solo") not in out  # no shared shingles
    assert ("mirror_b", "solo") not in out
    # ordering contract: src_a < src_b always
    assert all(sa < sb for sa, sb in out)
    assert len(solo) > 0  # the replay itself is non-degenerate


def test_source_contamination_matches_naive_on_fixture(spark):
    """Fixture-scale replay: the bounded in-array pair expansion must
    equal the naive (shingle, source) self-join, pair for pair."""
    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r.src_a, r.src_b): (r.n_shared, r.jaccard)
        for r in dedup.source_contamination(docs).collect()
    }
    pdf = docs.select("doc_id", "text", "source").toPandas()
    vocab: dict[str, set] = {}
    for r in pdf.itertuples():
        import re

        ws = [w for w in re.split(r"\W+", r.text.lower()) if w]
        shs = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        vocab.setdefault(r.source, set()).update(shs)
    want = {}
    srcs = sorted(vocab)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            inter = len(vocab[sa] & vocab[sb])
            if inter:
                un = len(vocab[sa] | vocab[sb])
                want[(sa, sb)] = (inter, inter / un)
    assert set(got) == set(want)
    for k, (n, j) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - j) < 1e-12


def test_canonical_pick_keeps_best_member(spark):
    """Planted clusters: the keeper is the max-margin member, ties go
    to the smallest doc_id. Singletons never enter the pair graph so
    they carry no row — they are implicit keeps."""
    from flink_snappydata_spark.pipeline import curation

    docs = spark.createDataFrame(
        [
            # cluster {1,2,3}: near-identical long docs (shingle overlap)
            (1, "the quick brown fox jumps over the lazy dog near the old river bank today"),
            (2, "the quick brown fox jumps over the lazy dog near the old river bank today again"),
            (3, "the quick brown fox jumps over the lazy dog near the old river bank today"),
            # singleton
            (9, "entirely different text about catalyst optimizer internals and shuffles"),
        ],
        ["doc_id", "text"],
    )
    out = {r.cluster_id: r for r in curation.canonical_pick(docs).collect()}
    margins = {
        r.doc_id: r.margin for r in textops.quality_model_scores(docs).collect()
    }
    cl = out[1]
    assert cl.n_members == 3
    best = max(m for d, m in margins.items() if d in (1, 2, 3))
    assert cl.best_margin == best
    # argmax with doc_id tiebreak: docs 1 and 3 share identical text/margin
    members = [1, 2, 3]
    expect = min(d for d in members if margins[d] == best)
    assert cl.keep_doc_id == expect
    assert 9 not in out  # singleton: no pair, no row, implicit keep
    assert set(out) == {1}


def test_canonical_pick_matches_naive_on_fixture(spark):
    """Fixture replay: recompute the per-cluster argmax from the
    collected labels + margins and compare row for row."""
    from flink_snappydata_spark.pipeline import curation

    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    got = {r.cluster_id: r for r in curation.canonical_pick(docs, pairs).collect()}
    labels = dedup.neardup_clusters(pairs).collect()
    margins = {
        r.doc_id: r.margin for r in textops.quality_model_scores(docs).collect()
    }
    byc: dict = {}
    for r in labels:
        byc.setdefault(r.cluster_id, []).append(r.doc_id)
    assert len(got) == len(byc) and len(byc) > 0
    for cid, members in byc.items():
        best = max(margins[d] for d in members)
        keep = min(d for d in members if margins[d] == best)
        row = got[cid]
        assert (row.keep_doc_id, row.n_members, row.best_margin) == (
            keep,
            len(members),
            best,
        )


def test_embedding_gram_matches_numpy_and_partitioning(spark):
    """The mapInPandas partial-Gram reduction must equal a single numpy
    matmul over the quantized matrix — exactly for the int64 gram, to
    double ulps for cov — and be bit-identical under repartitioning
    (the exactness claim that justifies the full hash oracle)."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.embedding_gram(emb).collect()
    pdf = emb.select("vec_id", "embedding").toPandas()
    q = np.array(
        [
            [int(np.floor(float(x) * 1e6 + 0.5)) for x in v]
            for v in pdf["embedding"]
        ],
        dtype=np.int64,
    )
    n = len(q)
    g = q.T @ q
    s = q.sum(axis=0)
    assert len(out) == 64 * 65 // 2
    for r in out:
        assert r.gram == g[r.i, r.j], (r.i, r.j)
        want_cov = (float(g[r.i, r.j]) - float(s[r.i]) * float(s[r.j]) / n) / n
        assert r.cov == pytest.approx(want_cov, rel=1e-12)
    # partition invariance: exact integers -> identical bits any layout
    skew = similarity.embedding_gram(emb.repartition(13)).collect()
    assert sorted(tuple(r) for r in skew) == sorted(tuple(r) for r in out)


def test_unigram_surprisal_golden(spark):
    """Pure-python replay of the integer-bits surprisal on a tiny
    corpus, including the empty-document zeros contract."""
    docs = spark.createDataFrame(
        [
            (1, "the the the cat"),
            (2, "the dog"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in textops.unigram_surprisal(docs).collect()}
    counts = {"the": 4, "cat": 1, "dog": 1}
    n = 6
    bits = {w: n.bit_length() - 1 - (c.bit_length() - 1) for w, c in counts.items()}
    want1 = 3 * bits["the"] + bits["cat"]
    assert (got[1].n_tokens, got[1].bits_sum) == (4, want1)
    assert got[1].avg_bits == want1 / 4
    want2 = bits["the"] + bits["dog"]
    assert (got[2].n_tokens, got[2].bits_sum) == (2, want2)
    assert (got[3].n_tokens, got[3].bits_sum, got[3].avg_bits) == (0, 0, 0.0)


def test_unigram_surprisal_separates_boilerplate_from_rare(spark):
    """A document made of the corpus's most common tokens must score
    strictly below one made of singleton tokens (the filter's point)."""
    rows = [(i, "common words repeated everywhere always") for i in range(20)]
    rows.append((100, "zyx qwv unique singular hapax"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.avg_bits for r in textops.unigram_surprisal(docs).collect()}
    assert out[100] > out[0]
    # all the boilerplate copies score identically
    assert len({out[i] for i in range(20)}) == 1


def test_tfidf_keywords_ranks_discriminative_terms(spark):
    """A term present in every document has idf_bits 0 and can never
    outrank a document-specific term; ranks are contiguous from 1 with
    the word-asc tiebreak."""
    docs = spark.createDataFrame(
        [
            (1, "common alpha alpha beta"),
            (2, "common gamma"),
            (3, "common delta delta delta"),
        ],
        ["doc_id", "text"],
    )
    rows = textops.tfidf_keywords(docs, k=3).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in by_doc.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
    # 'common' appears in all 3 docs: idf_bits = log2(3//1)... floor(log2 3)=1,
    # floor(log2 3)-floor(log2 3)=0 -> score 0, always last
    assert by_doc[1][0].word == "alpha" and by_doc[1][0].tf == 2
    assert by_doc[2][0].word == "gamma"
    assert by_doc[3][0].word == "delta" and by_doc[3][0].score == 3
    for rs in by_doc.values():
        common = [r for r in rs if r.word == "common"]
        assert common and common[0].idf_bits == 0 and common[0].score == 0
        assert common[0].rank == len(rs)


def test_surprisal_and_tfidf_plans_never_shuffle_text(spark):
    """Both operators' exchanges carry tokens/counts/doc ids — the raw
    text column must not appear in any shuffle."""
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    for op in (textops.unigram_surprisal, lambda d: textops.tfidf_keywords(d)):
        plan = formatted_plan(op(docs))
        exchange_lines = [
            ln for ln in plan.splitlines() if "hashpartitioning" in ln
        ]
        assert exchange_lines, plan
        assert not any("text#" in ln for ln in exchange_lines)


def _anchor_word(mod: int = 8, want: bool = True, start: int = 0) -> str:
    """Deterministically find a word whose md5-prefix hash is (or is
    not) 0 mod ``mod`` — mirrors the engine's anchor predicate."""
    import hashlib

    i = start
    while True:
        w = f"tok{i}"
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        if (h % mod == 0) == want:
            return w
        i += 1


def test_repeated_passages_detects_unaligned_copies(spark):
    """A verbatim 25-word passage embedded at DIFFERENT offsets in two
    otherwise-distinct documents must be reported: content-defined
    anchors make window choice alignment-independent."""
    anchor = _anchor_word(want=True)
    fillers = [_anchor_word(want=False, start=1000 + 37 * j) for j in range(40)]
    # passage: anchor first, then 24 non-anchor words -> exactly one
    # window, identical in both documents
    passage = [anchor] + fillers[:24]
    doc_a = " ".join(fillers[24:30] + passage + fillers[30:34])
    doc_b = " ".join(fillers[34:40] + fillers[24:27] + passage)
    doc_c = " ".join(fillers[24:40] + fillers[:9])  # no shared passage
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], ["doc_id", "text"]
    )
    rows = dedup.repeated_passages(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_occ, r.first_doc) == (2, 2, 1)
    import hashlib

    want_digest = hashlib.sha256(
        " ".join(passage[:20]).encode()
    ).hexdigest()
    assert r.digest == want_digest


def test_repeated_passages_ignores_within_doc_and_unique(spark):
    """A passage repeated only WITHIN one document stays below the
    min_docs=2 bar; fully distinct corpora report nothing."""
    anchor = _anchor_word(want=True)
    fillers = [_anchor_word(want=False, start=5000 + 13 * j) for j in range(60)]
    passage = [anchor] + fillers[:19]
    twice = " ".join(passage + fillers[19:25] + passage)
    docs = spark.createDataFrame(
        [(1, twice), (2, " ".join(fillers[25:60]))], ["doc_id", "text"]
    )
    assert dedup.repeated_passages(docs).collect() == []
    # ...but the same repetition across two docs IS reported with
    # occurrence accounting (3 occurrences, 2 docs)
    docs2 = spark.createDataFrame(
        [(1, twice), (2, " ".join(fillers[25:31] + passage))],
        ["doc_id", "text"],
    )
    rows = dedup.repeated_passages(docs2).collect()
    assert len(rows) == 1
    assert (rows[0].n_docs, rows[0].n_occ) == (2, 3)


def test_repeated_passages_matches_python_replay_on_fixture(spark):
    """Full python replay of anchoring + windowing + digesting on the
    fixture corpus (whatever it contains — the replay defines truth)."""
    import hashlib
    import re

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        r.digest: (r.n_docs, r.n_occ, r.first_doc)
        for r in dedup.repeated_passages(docs).collect()
    }
    W, M = dedup.PASSAGE_WINDOW, dedup.PASSAGE_ANCHOR_MOD
    occ: dict = {}
    for row in docs.select("doc_id", "text").collect():
        ws = [w for w in re.split(r"\W+", row.text.lower(), flags=re.ASCII) if w]
        for i in range(len(ws) - W + 1):
            h = int(hashlib.md5(ws[i].encode()).hexdigest()[:15], 16)
            if h % M == 0:
                d = hashlib.sha256(" ".join(ws[i : i + W]).encode()).hexdigest()
                occ.setdefault(d, []).append(row.doc_id)
    want = {
        d: (len(set(ids)), len(ids), min(ids))
        for d, ids in occ.items()
        if len(set(ids)) >= 2
    }
    assert got == want


def test_resize_image_golden():
    """Nearest-neighbor floor-index mapping on the 4x2 PPM golden:
    downsample, identity, and upsample cases, plus input validation."""
    img = multimodal.decode_image(_golden_ppm_p6())
    # downsample 4x2 -> 2x1: picks src (y=0, x=0) and (y=0, x=2)
    small = multimodal.resize_image(img, 2, 1)
    assert (small["width"], small["height"]) == (2, 1)
    assert small["pixels"] == bytes([255, 0, 0, 0, 0, 255])  # red, blue
    # identity resize returns the same buffer
    same = multimodal.resize_image(img, 4, 2)
    assert same["pixels"] == img["pixels"]
    # upsample 4x2 -> 8x2 duplicates each column
    big = multimodal.resize_image(img, 8, 2)
    assert big["pixels"][0:6] == bytes([255, 0, 0, 255, 0, 0])
    assert len(big["pixels"]) == 8 * 2 * 3
    with pytest.raises(ValueError, match="resize target"):
        multimodal.resize_image(img, 0, 1)


def test_image_resize_table_matches_local_kernel(spark):
    """The distributed fused decode+resize pass must equal running the
    same two pure functions locally on each payload."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(8)
    media = multimodal.synthesize_ppm(docs)
    got = {r.doc_id: r for r in multimodal.image_resize_table(media).collect()}
    for row in media.collect():
        img = multimodal.resize_image(
            multimodal.decode_image(bytes(row.content)), 2, 1
        )
        px = img["pixels"]
        r = got[row.doc_id]
        assert r.sum_px == sum(px)
        assert r.mean_r == (px[0] + px[3]) / 2
        assert r.mean_g == (px[1] + px[4]) / 2
        assert r.mean_b == (px[2] + px[5]) / 2


def test_semantic_decontamination_flags_planted_leak(spark):
    """A training vector that is an exact copy of an eval vector is
    flagged with cosine exactly 1.0; orthogonal vectors are not."""
    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    ortho = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    eval_set = spark.createDataFrame([(100, e1), (101, e2)], schema)
    train = spark.createDataFrame(
        [(1, e1), (2, ortho), (3, [x * 0.5 for x in e2])], schema
    )
    rows = {
        r.vec_id: r
        for r in similarity.semantic_decontamination(
            train, eval_set, threshold=0.9
        ).collect()
    }
    assert set(rows) == {1, 3}  # 3 is a scaled copy: cosine 1.0 too
    assert rows[1].best_eval == 100 and rows[1].best_cosine == 1.0
    assert rows[3].best_eval == 101 and rows[3].best_cosine == 1.0
    assert rows[1].n_matches == 1


def test_semantic_decontamination_matches_numpy_replay(spark):
    """Fixture replay: flags, counts, argmaxes, and cosines must equal
    a dense numpy recomputation of the same quantized formula."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    train = emb.filter(F.pmod("vec_id", F.lit(50)) != 0)
    ev = emb.filter(F.pmod("vec_id", F.lit(50)) == 0)
    got = {
        r.vec_id: (r.n_matches, r.best_eval, r.best_cosine)
        for r in similarity.semantic_decontamination(
            train, ev, threshold=0.35
        ).collect()
    }

    def mat(df):
        rows = sorted(
            (r.vec_id, r.embedding) for r in df.collect()
        )
        ids = [i for i, _ in rows]
        q = np.array(
            [[int(np.floor(float(x) * 1e6 + 0.5)) for x in v] for _, v in rows],
            dtype=np.int64,
        )
        return ids, q

    tids, tq = mat(train)
    eids, eq = mat(ev)
    dots = tq @ eq.T
    tn = (tq * tq).sum(axis=1)
    en = (eq * eq).sum(axis=1)
    cos = (dots / 1e12) / np.sqrt(
        (tn[:, None] / 1e12) * (en[None, :] / 1e12)
    )
    want = {}
    for i, tid in enumerate(tids):
        hit = cos[i] >= 0.35
        if hit.any():
            best = int(np.argmax(cos[i]))  # eids sorted asc -> lowest tie
            want[tid] = (int(hit.sum()), eids[best], float(cos[i][best]))
    assert got == want
    assert len(got) > 0


def test_semantic_decontamination_guards_eval_size(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(30)
    with pytest.raises(ValueError, match="eval side"):
        similarity.semantic_decontamination(
            emb, emb, eval_cap=10
        ).collect()


def test_dedup_report_planted_corpus(spark):
    """Three exact copies + one near-dup pair + singletons: every
    column of the one-row report checked against hand counts."""
    from flink_snappydata_spark.pipeline import curation

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),          # exact copy of 1
            (3, base),          # exact copy of 1
            (4, base + " now"),  # near-dup of 1/2/3 (high jaccard)
            (5, "completely different text about catalyst shuffle planning"),
        ],
        ["doc_id", "text"],
    )
    row = curation.dedup_report(docs).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_docs == 5
    assert r.n_distinct_texts == 3
    assert r.exact_dup_docs == 2
    # one cluster {1,2,3,4}; doc 5 has no pair
    assert r.n_neardup_docs == 4
    assert r.n_neardup_clusters == 1
    assert r.max_cluster_size == 4


def test_dedup_report_empty_pair_graph(spark):
    """A corpus with no near-dups reports zero cluster stats (the
    empty-aggregate coalesces), not nulls."""
    from flink_snappydata_spark.pipeline import curation

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        ["doc_id", "text"],
    )
    r = curation.dedup_report(docs).collect()[0]
    assert (r.n_docs, r.n_distinct_texts, r.exact_dup_docs) == (2, 2, 0)
    assert (r.n_neardup_docs, r.n_neardup_clusters, r.max_cluster_size) == (
        0,
        0,
        0,
    )


def test_round7_graph_ops_never_shuffle_text(spark):
    """source_contamination, canonical_pick, and dedup_report shuffle
    shingle/doc/cluster keys and counts — never the document body."""
    from flink_snappydata_spark.pipeline import curation
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    for df in (
        dedup.source_contamination(docs),
        curation.canonical_pick(docs),
        curation.dedup_report(docs),
        dedup.repeated_passages(docs),
    ):
        plan = formatted_plan(df)
        exchange_lines = [
            ln for ln in plan.splitlines() if "hashpartitioning" in ln
        ]
        for ln in exchange_lines:
            # a digest computed FROM text is a fixed-width key, which is
            # the intended design (exact_dedup idiom); the raw column as
            # a partitioning key would be the violation
            assert ln.count("text#") == ln.count("sha2(cast(text#"), ln


def test_frequent_bigrams_golden(spark):
    """Hand corpus: counts, ranking with tiebreak, and the integer-bits
    PMI replayed in python. 'of the' is frequent but low-PMI (both
    words common); 'spark sql' is a true collocation."""
    docs = spark.createDataFrame(
        [
            (1, "spark sql spark sql of the of the of a"),
            (2, "spark sql of the to a to b"),
        ],
        ["doc_id", "text"],
    )
    rows = textops.frequent_bigrams(docs).collect()
    uni: dict = {}
    bg: dict = {}
    seqs = [
        "spark sql spark sql of the of the of a".split(),
        "spark sql of the to a to b".split(),
    ]
    for ws in seqs:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for x, y in zip(ws, ws[1:]):
            bg[(x, y)] = bg.get((x, y), 0) + 1
    nu, nb = sum(uni.values()), sum(bg.values())
    L = lambda x: x.bit_length() - 1  # noqa: E731

    def pmi(p, c):
        return (L(c) + 2 * L(nu)) - (L(nb) + L(uni[p[0]]) + L(uni[p[1]]))

    want = sorted(
        ((w1, w2, c, pmi((w1, w2), c)) for (w1, w2), c in bg.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    assert [(r.w1, r.w2, r.cnt, r.pmi_bits) for r in rows] == want
    by_pair = {(r.w1, r.w2): r for r in rows}
    # the collocation outranks the independently-common pair on PMI
    assert by_pair[("spark", "sql")].pmi_bits > by_pair[("of", "the")].pmi_bits


def test_langid_plan_keeps_scores_as_columns(spark):
    """Codegen-size regression pin (round 10): the langid argmax fold
    references every language's score O(|langs|) times; if a refactor
    lets Catalyst re-inline the multi-keyword replace-chains at each
    reference (the pre-round-10 shape), the fused Project+HashAgg
    codegen exceeds janino's method limits and the aggregation stage
    silently runs INTERPRETED. With the two-projection split each
    keyword's replace() appears once — pin a ceiling of 2x the keyword
    count on the optimized plan (measured post-fix count: 21 for 20
    keywords; pre-fix it was in the hundreds)."""
    from flink_snappydata_spark.pipeline import text as textops

    docs = spark.createDataFrame(
        [(1, "the of and hello", "en")], ["doc_id", "text", "lang"]
    )
    opt = (
        textops.langid_confusion(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    n_keywords = sum(len(v) for v in textops.LANG_KEYWORDS.values())
    assert opt.count("replace(") <= 2 * n_keywords, (
        f"langid scores re-inlined: {opt.count('replace(')} replace() "
        f"calls in the optimized plan (ceiling {2 * n_keywords}) — the "
        "two-projection split in language_id regressed"
    )


def test_langid_confusion_planted(spark):
    """Planted truth labels: diagonal and off-diagonal cells, row
    totals, and shares all checked by hand; 'zh' truth (outside the
    keyword families) must land in 'und'."""
    docs = spark.createDataFrame(
        [
            (1, "the cat is happy and the dog is sleepy", "en"),
            (2, "the dog and the bird is here", "en"),
            (3, "le chat est la et le chien est la", "fr"),
            (4, "some words with no language keywords whatsoever", "en"),
            (5, "zhong wen wen ben mei you guan jian ci", "zh"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {
        (r.lang, r.pred_lang): (r.n, r.lang_total, r.share)
        for r in textops.langid_confusion(docs).collect()
    }
    assert rows[("en", "en")] == (2, 3, 2 / 3)
    assert rows[("en", "und")] == (1, 3, 1 / 3)
    assert rows[("fr", "fr")] == (1, 1, 1.0)
    assert rows[("zh", "und")] == (1, 1, 1.0)
    assert sum(n for n, _, _ in rows.values()) == 5


def test_langid_confusion_consistent_with_language_id(spark):
    """Fixture consistency: the matrix is exactly the groupBy of the
    per-document predictions, and row shares sum to 1 per truth label."""
    docs = load_table(spark, SF_SMOKE, "documents")
    cm = textops.langid_confusion(docs).collect()
    pred = textops.language_id(docs).select("lang", "pred_lang").collect()
    want: dict = {}
    for r in pred:
        want[(r.lang, r.pred_lang)] = want.get((r.lang, r.pred_lang), 0) + 1
    assert {(r.lang, r.pred_lang): r.n for r in cm} == want
    by_lang: dict = {}
    for r in cm:
        by_lang.setdefault(r.lang, []).append(r.share)
    for shares in by_lang.values():
        assert abs(sum(shares) - 1.0) < 1e-12


def test_language_id_zh_script_detection(spark):
    """The Han-script path: genuine Chinese text is identified as zh
    (recall 1.0 on this planted corpus), romanized pinyin stays und
    (no script signal), and a lone quoted ideograph inside an English
    sentence does NOT flip the label (the 1-in-10 ratio guard)."""
    docs = spark.createDataFrame(
        [
            (1, "今天天气很好我们去公园散步吧", "zh"),
            (2, "数据库的查询引擎按列存储数据", "zh"),
            (3, "the word 好 means good in chinese and the text is long", "en"),
            (4, "zhong wen pin yin mei you han zi", "zh"),
            (5, "the cat is happy and the dog is sleepy", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {r.doc_id: r for r in textops.language_id(docs).collect()}
    assert out[1].pred_lang == "zh" and out[1].score_zh == 14
    assert out[2].pred_lang == "zh"
    assert out[3].pred_lang == "en" and out[3].score_zh == 1
    assert out[4].pred_lang == "und" and out[4].score_zh == 0
    assert out[5].pred_lang == "en"
    # confusion matrix: zh recall is 2/3 here (the pinyin doc has no
    # script signal by construction), en recall 1.0
    cm = {
        (r.lang, r.pred_lang): r.share
        for r in textops.langid_confusion(docs).collect()
    }
    assert cm[("zh", "zh")] == 2 / 3
    assert cm[("en", "en")] == 1.0


def test_line_dedup_drops_boilerplate_lines(spark):
    """Planted corpus: a cookie-banner line shared by 6 documents
    (occ > 5) is dropped from every document including repeated
    occurrences within one doc; unique lines survive in original
    order; a fully-boilerplate document keeps ''."""
    docs = spark.createDataFrame(
        [
            (1, "keep me\ncookie banner\nunique line one"),
            (2, "cookie banner\nanother doc"),
            (3, "cookie banner\ncookie banner\nthird"),
            (4, "cookie banner\nfourth"),
            (5, "cookie banner\nfifth"),
            (6, "all alone"),
            (7, "cookie banner"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.line_dedup(docs).collect()}
    assert out[1].kept_text == "keep me\nunique line one"
    assert (out[1].n_lines, out[1].n_dropped) == (3, 1)
    assert out[3].kept_text == "third" and out[3].n_dropped == 2
    assert out[6].kept_text == "all alone" and out[6].n_dropped == 0
    assert out[7].kept_text == "" and out[7].n_dropped == 1


def test_line_dedup_threshold_boundary(spark):
    """occ == max_occurrences survives; occ == max+1 is dropped."""
    rows = [(i, "five times\nu%d" % i) for i in range(5)]
    rows += [(10 + i, "six times\nv%d" % i) for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.line_dedup(docs, max_occurrences=5).collect()}
    assert out[0].kept_text.startswith("five times")
    assert not out[10].kept_text.startswith("six times")


def test_bigram_surprisal_golden(spark):
    """Pure-python replay of the integer-bits transition surprisal on
    a tiny corpus, including the <2-token zeros contract."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b a c"), (3, "a"), (4, "")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in textops.bigram_surprisal(docs).collect()}
    # bigrams: doc1 (a,b),(b,c); doc2 (a,b),(b,a),(a,c)
    # c2: (a,b)=2 (b,c)=1 (b,a)=1 (a,c)=1; contexts: a.=3, b.=2
    L = lambda x: x.bit_length() - 1  # noqa: E731
    bits = {
        ("a", "b"): L(3) - L(2),
        ("b", "c"): L(2) - L(1),
        ("b", "a"): L(2) - L(1),
        ("a", "c"): L(3) - L(1),
    }
    want1 = bits[("a", "b")] + bits[("b", "c")]
    want2 = bits[("a", "b")] + bits[("b", "a")] + bits[("a", "c")]
    assert (got[1].n_bigrams, got[1].bits_sum) == (2, want1)
    assert got[1].avg_bits == want1 / 2
    assert (got[2].n_bigrams, got[2].bits_sum) == (3, want2)
    assert (got[3].n_bigrams, got[3].bits_sum, got[3].avg_bits) == (0, 0, 0.0)
    assert (got[4].n_bigrams, got[4].bits_sum, got[4].avg_bits) == (0, 0, 0.0)


def test_bigram_surprisal_flags_scrambled_word_order(spark):
    """The op's point over the unigram filter: a token-multiset
    permutation is INVISIBLE to unigram surprisal (identical score)
    but lights up the bigram score, because scrambled transitions are
    rare in the corpus bigram model."""
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "mat the on cat the sat"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uni = {r.doc_id: r.avg_bits for r in textops.unigram_surprisal(docs).collect()}
    assert uni[100] == uni[0]
    big = {r.doc_id: r.avg_bits for r in textops.bigram_surprisal(docs).collect()}
    assert big[100] > big[0]


def test_dsir_weights_selects_target_like_documents(spark):
    """Documents whose vocabulary matches the target source score
    positive log-weights (kept) regardless of their own source;
    off-target vocabulary scores negative; featureless docs are zeros
    and not kept."""
    # The raw corpus must dwarf the smoothing constant (B=1024) and the
    # target slice for the 1-bit log quantization to see the enrichment
    # — the regime DSIR actually runs in (small exemplar set, huge web
    # corpus, target-distinctive features 5-100x enriched).
    rows = [(i, "alpha beta gamma delta", "src0") for i in range(10)]
    rows += [(1000 + i, "omega psi chi phi", "srcweb") for i in range(1000)]
    rows += [
        (100, "alpha beta gamma", "srcweb"),   # target-like content
        (101, "omega psi chi", "srcweb"),      # off-target content
        (102, "", "srcweb"),                   # featureless
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.doc_id: r for r in textops.dsir_weights(docs).collect()}
    assert out[100].kept and out[100].logw_bits > 0
    assert not out[101].kept and out[101].logw_bits < 0
    assert (out[102].n_feats, out[102].logw_bits, out[102].kept) == (0, 0, False)
    # exemplar docs themselves lean target
    assert out[0].kept
    # n_feats = unigrams + bigrams
    assert out[100].n_feats == 3 + 2


def test_image_phash_groups_across_resolutions(spark):
    """Each content seed is planted at 1x and 2x resolution with
    DIFFERENT bytes; the dHash must collide within a seed (n_res == 2)
    — grouping a byte digest provably cannot make."""
    docs = spark.createDataFrame([(i,) for i in range(64)], ["doc_id"])
    media = multimodal.synthesize_ppm_multires(docs)
    # byte digests differ between the two resolutions of every seed
    digests = (
        media.select(F.sha2(F.col("content"), 256).alias("d"))
        .distinct()
        .count()
    )
    assert digests == 64
    ph = multimodal.image_phash_table(media).collect()
    by_doc = {r.doc_id: r for r in ph}
    for d in range(32):
        assert by_doc[d].phash == by_doc[d + 32].phash, d
        assert by_doc[d + 32].width == 2 * by_doc[d].width
    groups = multimodal.image_phash_dedup(docs).collect()
    assert sum(g.n_images for g in groups) == 64
    assert all(g.n_res == 2 for g in groups)
    # the 32 seeds don't all collapse into one hash bucket
    assert len(groups) > 4


def test_dsir_plan_broadcasts_stats_and_never_shuffles_text(spark):
    """The bucket-statistics join must be a broadcast (1024-row stats
    side) and no exchange may carry the raw text column."""
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = formatted_plan(textops.dsir_weights(docs))
    assert "BroadcastHashJoin" in plan
    exchange_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert exchange_lines, plan
    assert not any("text#" in ln for ln in exchange_lines)


def test_bigram_surprisal_plan_never_shuffles_text(spark):
    """Bigram statistics joins ride the skew-safe union; exchanges
    carry pairs/counts/doc ids only."""
    from flink_snappydata_spark.plans import formatted_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = formatted_plan(textops.bigram_surprisal(docs))
    exchange_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert exchange_lines, plan
    assert not any("text#" in ln for ln in exchange_lines)


# ---------------------------------------------------------------------------
# Gopher rules (late round 8)
# ---------------------------------------------------------------------------


def test_gopher_rules_planted_branches(spark):
    """Every rule branch fires on a purpose-built doc: bullets,
    ellipsis line ends, symbol spam, non-alpha tokens, stopword
    poverty, and a clean passing document."""
    filler = "the quick brown fox jumps over and over with plenty of text "
    good = (filler * 5).strip()  # 55 words, all rules pass
    docs = [
        (1, good),
        (2, "short doc"),                              # word count < 50
        (3, ("# " * 30 + filler * 5).strip()),         # symbol ratio > 0.1
        (4, "\n".join("- bullet line %d" % i for i in range(10))),  # bullets
        (5, "\n".join("trailing line %d..." % i for i in range(10))),  # ellipsis
        (6, ("123 456 789 " * 20).strip()),            # alpha fraction 0
        (7, ("zebra quartz jolt vex " * 15).strip()),  # no required stopwords
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r.doc_id: r for r in textops.gopher_rules(df).collect()}
    assert rows[1].keep
    assert not rows[2].keep and rows[2].n_words < 50
    assert not rows[3].keep and rows[3].symbol_ratio > 0.1
    assert not rows[4].keep and rows[4].bullet_line_frac >= 0.9
    assert not rows[5].keep and rows[5].ellipsis_line_frac >= 0.3
    assert not rows[6].keep and rows[6].alpha_word_frac < 0.8
    assert not rows[7].keep and rows[7].stop_hits < 2


def test_gopher_rules_no_shuffle(spark):
    """The filter is one map over the scan: no Exchange in the
    unsorted plan."""
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = textops.gopher_rules(docs, sort=False)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Quality AUC (late round 8)
# ---------------------------------------------------------------------------


def test_quality_auc_hand_golden(spark):
    """Midrank AUC on a hand-computed example WITH ties.

    Scores/labels: pos {10, 20, 20}, neg {10, 20, 30}. Midranks:
    value 10 -> (1+2)/2 = 1.5; value 20 -> (3+4+5)/3 = 4; value 30
    -> 6. R_pos = 1.5 + 4 + 4 = 9.5; AUC = (9.5 - 6) / 9 = 7/18.
    """
    # quality_auc scores with the hashed model, so plant TEXTS whose
    # margins realize the wanted tie structure: same text = same
    # margin, and the two tie groups use two distinct texts.
    t_a, t_b, t_c = "alpha alpha", "beta beta", "gamma gamma"
    docs = spark.createDataFrame(
        [
            (1, t_a, "en"), (2, t_b, "en"), (3, t_b, "en"),
            (4, t_a, "fr"), (5, t_b, "fr"), (6, t_c, "fr"),
        ],
        ["doc_id", "text", "lang"],
    )
    row = textops.quality_auc(docs).collect()[0]
    assert row.n_pos == 3 and row.n_neg == 3
    # The hashed margins of t_a/t_b/t_c are distinct (checked below),
    # so the tie structure is exactly the hand example up to relabeling
    # the three score values by their actual order.
    margins = {
        r.margin
        for r in textops.quality_model_scores(docs.select("doc_id", "text")).collect()
    }
    assert len(margins) == 3
    # pos counts per sorted distinct margin are a permutation of the
    # example only if t_a < t_b < t_c in margin order; recompute the
    # expected AUC directly from the definition instead of assuming it:
    import itertools
    scored = {
        r.doc_id: r.margin
        for r in textops.quality_model_scores(docs.select("doc_id", "text")).collect()
    }
    pos = [scored[i] for i in (1, 2, 3)]
    neg = [scored[i] for i in (4, 5, 6)]
    wins = sum(
        1.0 if p > n else 0.5 if p == n else 0.0
        for p, n in itertools.product(pos, neg)
    )
    expected = wins / 9.0
    assert row.auc == pytest.approx(expected, abs=1e-15)
    assert row.auc_num / row.auc_den == pytest.approx(expected, abs=1e-15)


def test_quality_auc_label_flip_symmetry(spark):
    """AUC(pos) + AUC(neg-as-pos) == 1 exactly — with midrank ties the
    integer numerators must sum to the shared denominator."""
    docs = load_table(spark, SF_SMOKE, "documents")
    a = textops.quality_auc(docs).collect()[0]
    flipped = docs.withColumn(
        "lang",
        F.when(F.col("lang") == "en", F.lit("xx")).otherwise(F.lit("en")),
    )
    b = textops.quality_auc(flipped).collect()[0]
    assert a.n_pos == b.n_neg and a.n_neg == b.n_pos
    assert a.auc_den == b.auc_den
    assert a.auc_num + b.auc_num == a.auc_den


# ---------------------------------------------------------------------------
# CCNet buckets (late round 8)
# ---------------------------------------------------------------------------


def test_ccnet_buckets_tercile_sizes_and_rank(spark):
    """Bucket sizes are NTILE-exact per language, and the two-phase
    rank equals the naive per-language window."""
    from pyspark.sql import Window

    docs = load_table(spark, SF_SMOKE, "documents")
    out = textops.ccnet_buckets(docs, sort=False)
    sizes = {
        (r.lang, r.bucket): r.cnt
        for r in out.groupBy("lang", "bucket").agg(F.count("*").alias("cnt")).collect()
    }
    totals = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, c in totals.items():
        q, r = divmod(c, 3)
        expected = [q + 1] * r + [q] * (3 - r)
        got = [sizes.get((lang, b), 0) for b in ("head", "middle", "tail")]
        assert sorted(got, reverse=True) == sorted(expected, reverse=True), (lang, got, expected)
        # head gets the extra documents first (NTILE order)
        assert got == expected, (lang, got, expected)
    # rank parity vs the naive window
    naive = textops.unigram_surprisal(docs, sort=False).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("avg_bits", "doc_id")
    naive_ranks = {
        r.doc_id: r.rk
        for r in naive.select("doc_id", F.row_number().over(w).alias("rk")).collect()
    }
    for r in out.collect():
        assert naive_ranks[r.doc_id] == r.lang_rank


# ---------------------------------------------------------------------------
# PQ codebook (late round 8)
# ---------------------------------------------------------------------------


def test_pq_codebook_distortion_monotone(spark):
    """Lloyd's never increases total distortion: the trained (2-iter)
    codebook's exact residual sum is <= the init (1-iter) codebook's."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    d1 = sum(r.sq_err_sum for r in similarity.pq_codebook(emb, n_iters=1).collect())
    d2 = sum(r.sq_err_sum for r in similarity.pq_codebook(emb, n_iters=2).collect())
    assert d2 <= d1
    assert d1 > 0


def test_pq_subvectors_reassemble(spark):
    """The subspace slices are a partition of the quantized vector:
    concatenating the 4 blocks in subspace order rebuilds qe exactly."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(10)
    qv = similarity.quantized(emb)
    rebuilt = (
        similarity._pq_subvectors(qv)
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "sq"))),
                    lambda x: x["sq"],
                )
            ).alias("re")
        )
    )
    joined = qv.join(rebuilt, "vec_id").select("vec_id", "qe", "re").collect()
    assert len(joined) == 10
    for r in joined:
        assert list(r.qe) == list(r.re)


def test_pq_codebook_covers_all_members(spark):
    """Every (vector, subspace) lands in exactly one centroid: member
    counts per subspace sum to the corpus size."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    out = similarity.pq_codebook(emb).collect()
    per_m = {}
    for r in out:
        per_m[r.subspace] = per_m.get(r.subspace, 0) + r.n_members
    assert per_m == {m: n for m in range(similarity.PQ_SUBSPACES)}
