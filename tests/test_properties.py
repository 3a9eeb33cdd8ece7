"""Property-based tests (hypothesis): the distributed one-pass
operators must agree with naive quadratic reference implementations on
arbitrary small inputs — beyond what fixture-based oracles can probe
(tie pileups, all-one-user, empty sides, duplicate timestamps)."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from flink_snappydata_spark.operators.asof import asof_join_events
from flink_snappydata_spark.streaming.joins import interval_join_events

_T0 = dt.datetime(2024, 1, 1)

# Events: (event_id unique, user in 0..2, seconds offset 0..120, type)
_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),  # user_id
        st.integers(0, 120),  # ts offset seconds
        st.sampled_from(["click", "purchase", "view"]),
        st.integers(0, 1000),  # value scaled
    ),
    min_size=0,
    max_size=25,
)


def _frame(spark, raw):
    rows = [
        (i, user, _T0 + dt.timedelta(seconds=sec), etype, val / 10.0)
        for i, (user, sec, etype, val) in enumerate(raw)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )


def _naive_asof(rows):
    """Quadratic reference: latest click at-or-before each purchase,
    ties broken click-first then highest event_id (the engine's total
    order (ts, left-first, event_id) keeps the *last* qualifying row)."""
    out = {}
    for r in rows:
        if r.event_type != "purchase":
            continue
        best = None
        for c in rows:
            if (
                c.event_type == "click"
                and c.user_id == r.user_id
                and c.ts <= r.ts
                and (best is None or (c.ts, c.event_id) > (best.ts, best.event_id))
            ):
                best = c
        out[r.event_id] = best.event_id if best is not None else None
    return out


def _naive_interval(rows, lookback=dt.timedelta(minutes=30)):
    out = set()
    for r in rows:
        if r.event_type != "purchase":
            continue
        for c in rows:
            if (
                c.event_type == "click"
                and c.user_id == r.user_id
                and r.ts - lookback <= c.ts <= r.ts
            ):
                out.add((r.event_id, c.event_id))
    return out


@settings(max_examples=15, deadline=None)
@given(_events_strategy)
def test_asof_join_matches_naive(spark, raw):
    df = _frame(spark, raw)
    rows = df.collect()
    got = {
        r.right_event_id: r.left_event_id for r in asof_join_events(df).collect()
    }
    assert got == _naive_asof(rows)


@settings(max_examples=15, deadline=None)
@given(_events_strategy)
def test_interval_join_matches_naive(spark, raw):
    df = _frame(spark, raw)
    rows = df.collect()
    got = {
        (r.r_event_id, r.l_event_id) for r in interval_join_events(df).collect()
    }
    assert got == _naive_interval(rows)


def _naive_count_window(rows, size=100, slide=10):
    """Quadratic reference for the batch count window."""
    from collections import defaultdict

    per_key = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        per_key[r.user_id].append(int(round(r.value * 100)))
    out = {}
    for k, vals in per_key.items():
        for i in range(len(vals)):
            seq = i + 1
            if seq % slide == 0:
                window = vals[max(0, i - size + 1) : i + 1]
                out[(k, seq)] = (len(window), sum(window) / 100.0)
    return out


@settings(max_examples=10, deadline=None)
@given(_events_strategy)
def test_count_window_matches_naive(spark, raw):
    from flink_snappydata_spark.streaming.count_window import count_window_sums

    df = _frame(spark, raw)
    got = {
        (r.user_id, r.fire_seq): (r.n_in_window, r.sum_value)
        for r in count_window_sums(df, size=7, slide=3).collect()
    }
    assert got == _naive_count_window(df.collect(), size=7, slide=3)


# Edges: arbitrary small undirected pair graphs (self-loop-free, a<b).
_edges_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


def _naive_components(edges):
    """Union-find reference: every vertex labeled with the min id of its
    connected component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=10, deadline=None)
@given(_edges_strategy)
def test_neardup_clusters_match_union_find(spark, raw):
    from flink_snappydata_spark.pipeline.dedup import neardup_clusters

    edges = [(min(a, b), max(a, b)) for a, b in raw]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(df).collect()}
    assert got == _naive_components(edges)


_docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 10**9),      # doc_id (unique-ified below)
        st.sampled_from(["a", "b"]),  # shard
        st.integers(0, 12),          # token count
    ),
    min_size=1,
    max_size=40,
)


def _naive_pack(rows, capacity):
    """Reference greedy contiguous packing per shard in doc_id order:
    a doc belongs to the pack where its first token lands."""
    out = {}
    for shard in {s for _, s, _ in rows}:
        offset = 0
        for doc_id, _, n in sorted((r for r in rows if r[1] == shard)):
            out[doc_id] = offset // capacity
            offset += n
    return out


@settings(max_examples=10, deadline=None)
@given(_docs_strategy)
def test_pack_sequences_matches_naive(spark, raw):
    from flink_snappydata_spark.pipeline.packing import pack_sequences

    seen, rows = set(), []
    for doc_id, shard, n in raw:
        if doc_id in seen:
            continue
        seen.add(doc_id)
        rows.append((doc_id, shard, n))
    df = spark.createDataFrame(
        [(d, s, "w " * n) for d, s, n in rows],
        "doc_id long, source string, text string",
    )
    got = {r.doc_id: r.pack_id for r in pack_sequences(df, capacity=7).collect()}
    assert got == _naive_pack(rows, capacity=7)


@settings(max_examples=10, deadline=None)
@given(st.sets(st.integers(0, 10**12), min_size=1, max_size=60))
def test_global_index_matches_sorted_rank(spark, ids):
    from flink_snappydata_spark.pipeline.packing import global_index

    df = spark.createDataFrame(
        [(i, "s", "t") for i in ids], "doc_id long, source string, text string"
    )
    got = {r.doc_id: r.idx for r in global_index(df, n_buckets=7).collect()}
    assert got == {v: i for i, v in enumerate(sorted(ids))}


# --- prefix-filtered n-gram Jaccard vs brute force ----------------------

_texts_strategy = st.lists(
    st.lists(
        # tiny vocab + short docs → dense overlap, lots of borderline
        # pairs right at the threshold, heavy shingle sharing
        st.sampled_from([f"w{i}" for i in range(12)]),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=2,
    max_size=24,
)


def _naive_jaccard_pairs(texts, threshold, n=3):
    import itertools

    from tests.dedup_reference import naive_shingle_set

    sets = {i: naive_shingle_set(t, n) for i, t in enumerate(texts)}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


@settings(max_examples=10, deadline=None)
@given(_texts_strategy, st.sampled_from([0.5, 0.7, 0.8, 1.0]))
def test_ngram_jaccard_prefix_filter_matches_naive(spark, texts, threshold):
    """Prefix filtering + positional/size bounds are recall-exact for
    ANY input and threshold: pairs and values equal the all-pairs
    brute force (the candidate pruning may only cut candidates that
    verification would reject anyway)."""
    from flink_snappydata_spark.pipeline.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    want = _naive_jaccard_pairs(texts, threshold)
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


@settings(max_examples=10, deadline=None)
@given(_texts_strategy, st.sampled_from([0.5, 0.8, 0.9, 1.0]))
def test_containment_prefix_filter_matches_naive(spark, texts, threshold):
    """The asymmetric smaller-side prefix filter is recall-exact for
    ANY input and threshold: containment pairs and values equal the
    all-pairs overlap-coefficient brute force."""
    import itertools

    from flink_snappydata_spark.pipeline.dedup import containment_pairs
    from tests.dedup_reference import naive_shingle_set

    sets = {i: naive_shingle_set(t) for i, t in enumerate(texts)}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        c = len(sets[a] & sets[b]) / min(len(sets[a]), len(sets[b]))
        if c >= threshold:
            want[(a, b)] = c
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, threshold=threshold).collect()
    }
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.binary(min_size=0, max_size=8 * 8 * 3),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_ppm_decode_roundtrip(width, height, seed_bytes, ascii_form):
    """Any RGB pixel buffer written as PPM (binary or ASCII) decodes to
    the identical buffer with the declared dimensions."""
    from flink_snappydata_spark.pipeline import multimodal

    n = width * height * 3
    px = (seed_bytes * (n // max(1, len(seed_bytes)) + 1))[:n] if seed_bytes else bytes(n)
    if ascii_form:
        body = " ".join(str(b) for b in px)
        payload = f"P3\n# c\n{width} {height}\n255\n{body}\n".encode()
    else:
        payload = b"P6\n%d %d\n255\n" % (width, height) + px
    img = multimodal.decode_image(payload)
    assert (img["width"], img["height"]) == (width, height)
    assert img["pixels"] == px


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=64
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=40, deadline=None)
def test_wav_decode_roundtrip(samples, n_ch):
    """Interleaved PCM frames written as WAV decode to the identical
    per-channel sequences (frame count = len // channels, trailing
    partial frame bytes ignored by the channel split)."""
    import struct

    from flink_snappydata_spark.pipeline import multimodal

    n_frames = len(samples) // n_ch
    if n_frames == 0:
        return
    samples = samples[: n_frames * n_ch]
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_ch, 16000,
                                16000 * n_ch * 2, n_ch * 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    a = multimodal.decode_audio(wav)
    assert a["channels"] == n_ch and a["n_samples"] == n_frames
    for c in range(n_ch):
        assert a["samples"][c] == list(samples[c::n_ch])


# ---------------------------------------------------------------------------
# Round-6 curation ops vs naive references
# ---------------------------------------------------------------------------

_WORDS = ["vector", "stream", "window", "hash", "data", "spark", "the", "a"]

_docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12),
    min_size=1,
    max_size=12,
)


@settings(max_examples=15, deadline=None)
@given(_docs_strategy)
def test_bm25_matches_naive_on_arbitrary_corpora(spark, raw):
    """Distributed BM25 equals the quadratic pandas-free reference on
    arbitrary tiny corpora (tf=0 rows, every-doc-identical, one-word
    docs)."""
    from flink_snappydata_spark.pipeline.text import BM25_TERMS, bm25_topk

    rows = [(i, " ".join(ws)) for i, ws in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r.doc_id, r.score) for r in bm25_topk(df, k=len(rows)).collect()
    ]

    k1, b = 1.2, 0.75
    n_docs = len(raw)
    avgdl = sum(len(ws) for ws in raw) / n_docs
    df_t = {t: sum(1 for ws in raw if t in ws) for t in BM25_TERMS}
    want = []
    for i, ws in enumerate(raw):
        score = 0.0
        for t in BM25_TERMS:
            tf = sum(1 for w in ws if w == t)
            idf = (n_docs - df_t[t] + 0.5) / (df_t[t] + 0.5)
            # parenthesization must mirror the engine: idf * (num/den),
            # not (idf*num)/den — FP association differs by an ulp
            score = score + idf * (
                (tf * (k1 + 1.0))
                / (tf + k1 * ((1.0 - b) + b * (len(ws) / avgdl)))
            )
        want.append((i, score))
    want.sort(key=lambda r: (-r[1], r[0]))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert g == w  # same IEEE expression -> bitwise equal


@settings(max_examples=15, deadline=None)
@given(_docs_strategy)
def test_novelty_matches_naive_on_arbitrary_corpora(spark, raw):
    """novelty_scores equals a naive shingle-df computation, including
    the short-document whole-text fallback."""
    from collections import Counter

    from flink_snappydata_spark.pipeline.text import novelty_scores

    rows = [(i, " ".join(ws)) for i, ws in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in novelty_scores(df, boilerplate_df=2).collect()}

    def doc_shingles(ws):
        if len(ws) >= 3:
            return set(
                " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
            )
        return {" ".join(ws)}

    sets = {i: doc_shingles(ws) for i, ws in enumerate(raw)}
    dfreq = Counter(sh for s in sets.values() for sh in s)
    assert set(got) == set(sets)
    for i, s in sets.items():
        n = len(s)
        uniq = sum(1 for sh in s if dfreq[sh] == 1)
        common = sum(1 for sh in s if dfreq[sh] >= 2)
        assert got[i].n_shingles == n
        assert got[i].novelty == uniq / n
        assert got[i].boilerplate_frac == common / n


# ---------------------------------------------------------------------------
# Round-7 corpus-statistics ops vs naive references
# ---------------------------------------------------------------------------

_docs_maybe_empty = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12),
    min_size=1,
    max_size=12,
)


@settings(max_examples=15, deadline=None)
@given(_docs_maybe_empty)
def test_unigram_surprisal_matches_naive(spark, raw):
    """Integer-bits surprisal equals a python bit_length replay on
    arbitrary corpora, including empty documents and the all-one-word
    corpus (every token's bits = 0)."""
    from flink_snappydata_spark.pipeline.text import unigram_surprisal

    rows = [(i, " ".join(ws)) for i, ws in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.bits_sum, r.avg_bits)
        for r in unigram_surprisal(df).collect()
    }
    counts: dict = {}
    for ws in raw:
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    n = sum(counts.values())
    for i, ws in enumerate(raw):
        if not ws:
            assert got[i] == (0, 0, 0.0)
            continue
        bits = sum(
            (n.bit_length() - 1) - (counts[w].bit_length() - 1) for w in ws
        )
        assert got[i] == (len(ws), bits, bits / len(ws))
    assert set(got) == set(range(len(raw)))


@settings(max_examples=15, deadline=None)
@given(_docs_strategy)
def test_tfidf_keywords_matches_naive(spark, raw):
    """Quantized tf-idf ranking equals the python replay: same scores,
    same (score desc, word asc) order, top-k cut included."""
    from flink_snappydata_spark.pipeline.text import tfidf_keywords

    rows = [(i, " ".join(ws)) for i, ws in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k = 4
    got: dict = {}
    for r in tfidf_keywords(df, k=k).collect():
        got.setdefault(r.doc_id, []).append(
            (r.rank, r.word, r.tf, r.idf_bits, r.score)
        )
    d = len(raw)
    df_t: dict = {}
    for ws in raw:
        for w in set(ws):
            df_t[w] = df_t.get(w, 0) + 1
    for i, ws in enumerate(raw):
        tf: dict = {}
        for w in ws:
            tf[w] = tf.get(w, 0) + 1
        scored = [
            (
                w,
                tf[w],
                (d.bit_length() - 1) - (df_t[w].bit_length() - 1),
                tf[w] * ((d.bit_length() - 1) - (df_t[w].bit_length() - 1)),
            )
            for w in tf
        ]
        scored.sort(key=lambda t: (-t[3], t[0]))
        want = [
            (r + 1, w, f, ib, s)
            for r, (w, f, ib, s) in enumerate(scored[:k])
        ]
        assert got.get(i, []) == want


@settings(max_examples=15, deadline=None)
@given(_docs_maybe_empty, st.integers(2, 4), st.integers(1, 3))
def test_repeated_passages_matches_naive(spark, raw, window, mod):
    """Anchored passage mining equals the full python replay for any
    corpus, window length, and anchor density (mod=1 anchors every
    eligible position — the stride-1 exhaustive case)."""
    import hashlib

    from flink_snappydata_spark.pipeline.dedup import repeated_passages

    rows = [(i, " ".join(ws)) for i, ws in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.digest: (r.n_docs, r.n_occ, r.first_doc)
        for r in repeated_passages(
            df, window_words=window, anchor_mod=mod
        ).collect()
    }
    occ: dict = {}
    for i, ws in enumerate(raw):
        for p in range(len(ws) - window + 1):
            h = int(hashlib.md5(ws[p].encode()).hexdigest()[:15], 16)
            if h % mod == 0:
                dg = hashlib.sha256(
                    " ".join(ws[p : p + window]).encode()
                ).hexdigest()
                occ.setdefault(dg, []).append(i)
    want = {
        dg: (len(set(ids)), len(ids), min(ids))
        for dg, ids in occ.items()
        if len(set(ids)) >= 2
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10),
            st.sampled_from(["s0", "s1", "s2"]),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_source_contamination_matches_naive(spark, raw):
    """The in-array pair expansion equals the naive per-source shingle
    vocabulary intersection for arbitrary corpora and source labels."""
    from flink_snappydata_spark.pipeline.dedup import source_contamination

    rows = [(i, " ".join(ws), src) for i, (ws, src) in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r.src_a, r.src_b): (r.n_shared, r.jaccard)
        for r in source_contamination(df).collect()
    }
    vocab: dict = {}
    for ws, src in raw:
        if len(ws) >= 3:
            shs = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        else:
            shs = {" ".join(ws)}
        vocab.setdefault(src, set()).update(shs)
    want = {}
    srcs = sorted(vocab)
    for ai, sa in enumerate(srcs):
        for sb in srcs[ai + 1 :]:
            inter = len(vocab[sa] & vocab[sb])
            if inter:
                want[(sa, sb)] = (
                    inter,
                    inter / len(vocab[sa] | vocab[sb]),
                )
    assert got.keys() == want.keys()
    for key, (ns, j) in want.items():
        assert got[key][0] == ns
        assert abs(got[key][1] - j) < 1e-12


@settings(max_examples=15, deadline=None)
@given(_docs_maybe_empty)
def test_frequent_bigrams_matches_naive(spark, raw):
    """Collocation counts + bits-PMI equal the python replay for any
    corpus (empty and one-word documents contribute no pairs)."""
    from flink_snappydata_spark.pipeline.text import frequent_bigrams

    rows = [(i, " ".join(ws)) for i, ws in enumerate(raw)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r.w1, r.w2, r.cnt, r.pmi_bits)
        for r in frequent_bigrams(df, k=1000).collect()
    ]
    uni: dict = {}
    bg: dict = {}
    for ws in raw:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for x, y in zip(ws, ws[1:]):
            bg[(x, y)] = bg.get((x, y), 0) + 1
    if not bg:
        assert got == []
        return
    nu, nb = sum(uni.values()), sum(bg.values())
    L = lambda x: x.bit_length() - 1  # noqa: E731
    want = sorted(
        (
            (w1, w2, c, (L(c) + 2 * L(nu)) - (L(nb) + L(uni[w1]) + L(uni[w2])))
            for (w1, w2), c in bg.items()
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    assert got == want


# Documents: lines drawn from a tiny alphabet so cross-document line
# collisions (the thing line_dedup counts) are common; doc text is the
# newline-join. Empty line lists allowed (empty text => one '' line).
_lines_strategy = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "", "x y"]),
             min_size=0, max_size=5),
    min_size=1,
    max_size=12,
)


def _naive_line_dedup(texts, max_occ):
    """Quadratic/pythonic reference for line_dedup."""
    from collections import Counter

    occ = Counter(ln for t in texts for ln in t.split("\n"))
    out = {}
    for i, t in enumerate(texts):
        lines = t.split("\n")
        kept = [ln for ln in lines if occ[ln] <= max_occ]
        out[i] = (len(lines), len(lines) - len(kept), "\n".join(kept))
    return out


@settings(max_examples=15, deadline=None)
@given(_lines_strategy, st.integers(1, 4))
def test_line_dedup_matches_naive(spark, raw, max_occ):
    from flink_snappydata_spark.pipeline.dedup import line_dedup

    texts = ["\n".join(lines) for lines in raw]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_lines, r.n_dropped, r.kept_text)
        for r in line_dedup(docs, max_occurrences=max_occ).collect()
    }
    assert got == _naive_line_dedup(texts, max_occ)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 5_000_000_000), st.integers(0, 3)),
             min_size=0, max_size=30, unique_by=lambda t: t[0]),
    st.integers(1, 5),
)
def test_per_source_cap_matches_naive(spark, raw, k):
    """Arbitrary (possibly >2^31) doc ids across up to 4 sources: the
    two-phase rank equals the sorted-by-(hash, id) position, and kept
    is rank < k."""
    from flink_snappydata_spark.pipeline.packing import (
        _HASH_MOD, _HASH_MULT, _HASH_MULT2,
    )
    from flink_snappydata_spark.pipeline.sampling import per_source_cap

    def phash(x):
        return ((x % _HASH_MOD) * _HASH_MULT % _HASH_MOD
                + (x >> 31) % _HASH_MOD * _HASH_MULT2 % _HASH_MOD) % _HASH_MOD

    docs = spark.createDataFrame(
        [(i, f"s{s}") for i, s in raw], "doc_id long, source string"
    )
    got = {
        r.doc_id: (r.cap_rank, r.kept)
        for r in per_source_cap(docs, k=k).collect()
    }
    want = {}
    by_src: dict = {}
    for i, s in raw:
        by_src.setdefault(s, []).append(i)
    for s, ids in by_src.items():
        for rank, i in enumerate(sorted(ids, key=lambda x: (phash(x), x))):
            want[i] = (rank, rank < k)
    assert got == want


# ---------------------------------------------------------------------------
# cell_prefix_sums (load-bearing for quality_auc / ccnet_buckets /
# quantile_transform / ks_drift / activity_gini / zipf_fit /
# weighted_median_price): inclusive keyed prefix sums via the
# two-phase value-cell decomposition must equal the naive running sum
# (and the group totals the naive sum ends on)
# for ANY group layout, value distribution (clustered, negative,
# single-valued), order type (BIGINT histogram values, or DOUBLE values
# with ties broken by a ``then_by`` id), and cell count — including
# n_cells=1 (everything in one cell, pure within-cell window) and
# n_cells larger than the row count (the naive window).
# ---------------------------------------------------------------------------

_prefix_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),       # group
        st.integers(min_value=-50, max_value=50),    # order value
        st.integers(min_value=0, max_value=1000),    # summand a
        st.integers(min_value=0, max_value=1000),    # summand b
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=15, deadline=None)
@given(
    raw=_prefix_strategy,
    n_cells=st.sampled_from([1, 3, 4096]),
    frac=st.booleans(),
)
def test_cell_prefix_sums_match_naive(spark, raw, n_cells, frac):
    from flink_snappydata_spark.util import cell_prefix_sums

    if frac:
        # DOUBLE order values with ties kept; the row id breaks them
        rows = [(g, v / 8.0, i, a, b) for i, (g, v, a, b) in enumerate(raw)]
        then_by = ("i",)
    else:
        # distinct order values per group (a histogram frame, one row
        # per (group, value))
        dedup = {}
        for g, v, a, b in raw:
            dedup.setdefault((g, v), (a, b))
        rows = [(g, v, 0, a, b) for (g, v), (a, b) in dedup.items()]
        then_by = ()
    df = spark.createDataFrame(
        rows,
        f"g long, v {'double' if frac else 'long'}, i long, a long, b long",
    )
    got = {
        (r.g, r.v, r.i): (r.cum_a, r.cum_b, r.tot_a, r.tot_b)
        for r in cell_prefix_sums(
            df, "v", ["a", "b"], ("g",), n_cells=n_cells, then_by=then_by
        ).collect()
    }
    want = {}
    for g in {r[0] for r in rows}:
        grp = sorted(
            (r for r in rows if r[0] == g), key=lambda r: (r[1], r[2])
        )
        tot_a, tot_b = sum(r[3] for r in grp), sum(r[4] for r in grp)
        run_a = run_b = 0
        for _, v, i, a, b in grp:
            run_a += a
            run_b += b
            want[(g, v, i)] = (run_a, run_b, tot_a, tot_b)
    assert got == want


# ------------------------------------------------ round-12 CEP family


def _naive_runs(rows, run_type="click"):
    """Shared reference scanner: yields (user, run_rows, next_row) for
    every maximal consecutive run of run_type in per-user (ts,
    event_id) order — consumed by BOTH the match and absence
    references so the two can never pin contradictory run semantics."""
    for u in {r.user_id for r in rows}:
        seq = sorted(
            (r for r in rows if r.user_id == u),
            key=lambda r: (r.ts, r.event_id),
        )
        i = 0
        while i < len(seq):
            if seq[i].event_type != run_type:
                i += 1
                continue
            j = i
            while j + 1 < len(seq) and seq[j + 1].event_type == run_type:
                j += 1
            yield u, seq[i : j + 1], (seq[j + 1] if j + 1 < len(seq) else None)
            i = j + 1


def _followed(run, nxt, within):
    return (
        nxt is not None
        and nxt.event_type == "purchase"
        and nxt.ts <= run[-1].ts + within
    )


def _naive_cep(rows, min_run=2, within=dt.timedelta(minutes=1)):
    """Reference for cep_pattern_match: maximal runs whose next event
    is a purchase within `within` of the run's end."""
    return {
        (u, run[0].ts, run[-1].ts, len(run), nxt.ts)
        for u, run, nxt in _naive_runs(rows)
        if len(run) >= min_run and _followed(run, nxt, within)
    }


@settings(max_examples=15, deadline=None)
@given(_events_strategy)
def test_cep_pattern_match_matches_naive(spark, raw):
    from flink_snappydata_spark.operators.cep import cep_pattern_match

    df = _frame(spark, raw)
    rows = df.collect()
    got = {
        (r.user_id, r.run_start, r.run_end, r.n_run, r.trigger_ts)
        for r in cep_pattern_match(df, within="1 minute").collect()
    }
    assert got == _naive_cep(rows)


def _naive_window_funnel(rows, window=dt.timedelta(minutes=2)):
    """Quadratic reference for window_funnel: greedy-earliest staged
    chain view->click->purchase inside `window` of the anchor."""
    out = {}
    for a in rows:
        if a.event_type != "view":
            continue
        end = a.ts + window
        ts1 = min(
            (c.ts for c in rows
             if c.user_id == a.user_id and c.event_type == "click"
             and a.ts < c.ts <= end),
            default=None,
        )
        ts2 = None
        if ts1 is not None:
            ts2 = min(
                (p.ts for p in rows
                 if p.user_id == a.user_id and p.event_type == "purchase"
                 and ts1 < p.ts <= end),
                default=None,
            )
        stage = 3 if ts2 is not None else (2 if ts1 is not None else 1)
        out[a.user_id] = max(out.get(a.user_id, 0), stage)
    return out


@settings(max_examples=15, deadline=None)
@given(_events_strategy)
def test_window_funnel_matches_naive(spark, raw):
    from flink_snappydata_spark.operators.cep import window_funnel

    df = _frame(spark, raw)
    rows = df.collect()
    got = {
        r.user_id: r.max_stage
        for r in window_funnel(df, window="2 minutes").collect()
    }
    assert got == _naive_window_funnel(rows)


def _naive_temporal(rows):
    """Quadratic reference for temporal_table_join: each purchase
    takes the latest (ts, event_id)-ordered signup with ts <= its own;
    the payload is that signup's props."""
    out = {}
    for f in rows:
        if f.event_type != "purchase":
            continue
        best = None
        for v in rows:
            if (
                v.event_type == "signup"
                and v.user_id == f.user_id
                and v.ts <= f.ts
                and (
                    best is None
                    or (v.ts, v.event_id) > (best.ts, best.event_id)
                )
            ):
                best = v
        out[f.event_id] = (
            (best.ts, best.props) if best is not None else (None, None)
        )
    return out


# signup-bearing variant of the shared strategy
_versioned_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 120),
        st.sampled_from(["signup", "purchase", "view"]),
        st.integers(0, 1000),
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(_versioned_events_strategy)
def test_temporal_table_join_matches_naive(spark, raw):
    from flink_snappydata_spark.operators.cep import temporal_table_join

    rows_in = [
        (i, user, _T0 + dt.timedelta(seconds=sec), etype, f"p{val}")
        for i, (user, sec, etype, val) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows_in,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " props string",
    )
    rows = df.collect()
    got = {
        r.event_id: (r.version_ts, r.version_props)
        for r in temporal_table_join(df).collect()
    }
    assert got == _naive_temporal(rows)


def _naive_cep_absence(rows, min_run=2, within=dt.timedelta(minutes=1)):
    """Complement reference: maximal click runs NOT purchase-followed
    within `within` (wrong next event, too late, or silence) — same
    shared run scanner as the match reference."""
    return {
        (
            u,
            run[0].ts,
            run[-1].ts,
            len(run),
            nxt.event_type if nxt else None,
            nxt.ts if nxt else None,
        )
        for u, run, nxt in _naive_runs(rows)
        if len(run) >= min_run and not _followed(run, nxt, within)
    }


@settings(max_examples=15, deadline=None)
@given(_events_strategy)
def test_cep_absence_matches_naive(spark, raw):
    from flink_snappydata_spark.operators.cep import cep_absence_alerts

    df = _frame(spark, raw)
    rows = df.collect()
    got = {
        (r.user_id, r.run_start, r.run_end, r.n_run, r.next_type, r.next_ts)
        for r in cep_absence_alerts(df, within="1 minute").collect()
    }
    assert got == _naive_cep_absence(rows)


def _naive_pattern(rows, quants, relaxed, within=None):
    """Pure reference for cep_match_pattern: label per first-match-wins
    (view=1, click&value>=50=2, purchase=3), per-user order, optional
    sentinel drop (relaxed), then the reference fold
    (tests/cep_reference.py::advance_pattern_state) with one artificial closing row — the
    batch compiler treats end-of-data as a run close; folding a label
    no event can carry reproduces that exactly."""
    from tests.cep_reference import advance_pattern_state

    def label(r):
        if r.event_type == "view":
            return 1
        if r.event_type == "click" and r.value >= 50.0:
            return 2
        if r.event_type == "purchase":
            return 3
        return -1

    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    out = set()
    for uid, urows in by_user.items():
        urows.sort(key=lambda r: (r.ts, r.event_id))
        labeled = [
            (int(r.ts.timestamp() * 1_000_000), label(r)) for r in urows
        ]
        if relaxed:
            labeled = [x for x in labeled if x[1] != -1]
        if not labeled:
            continue
        labeled.append((labeled[-1][0] + 1, -99))  # end-of-data close
        matches, _ = advance_pattern_state(((), None), labeled, quants)
        for m in matches:
            if within is None or m[1] - m[0] <= within:
                out.add((uid, m[0], m[1], m[2]))
    return out


@settings(max_examples=15, deadline=None)
@given(_events_strategy)
def test_cep_match_pattern_matches_machine(spark, raw):
    """The declarative batch compiler (islands + lead conjunction) and
    the reference fold must agree on EVERY random sequence,
    under strict AND relaxed contiguity, bounded and unbounded
    quantifiers, with and without a within window — the two
    implementations share only the stage spec."""
    from flink_snappydata_spark.operators.cep import (
        PatternStage,
        cep_match_pattern,
    )
    from pyspark.sql import functions as F

    stages = [
        PatternStage("view", "view"),
        PatternStage(
            "click",
            (F.col("event_type") == "click") & (F.col("value") >= 50.0),
            min_count=2,
        ),
        PatternStage("buy", "purchase", min_count=1, max_count=2),
    ]
    quants = [(s.min_count, s.max_count) for s in stages]
    df = _frame(spark, raw)
    rows = df.collect()
    for relaxed, within_s in ((False, None), (True, None), (True, 60)):
        got = {
            (
                r.user_id,
                int(r.match_start.timestamp() * 1_000_000),
                int(r.match_end.timestamp() * 1_000_000),
                (r.n_view, r.n_click, r.n_buy),
            )
            for r in cep_match_pattern(
                df,
                stages,
                sort=False,
                contiguity="relaxed" if relaxed else "strict",
                within=f"{within_s} seconds" if within_s else None,
            ).collect()
        }
        want = _naive_pattern(
            rows,
            quants,
            relaxed,
            within=within_s * 1_000_000 if within_s else None,
        )
        assert got == want, (relaxed, within_s)
