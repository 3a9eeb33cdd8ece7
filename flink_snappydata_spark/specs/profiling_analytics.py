"""Profiling + statistics battery: table profile, BPE tokenizer, drift, cohorts, streaming twins.

Mechanically split from the original single-file registry; declaration
order is preserved by the import order in :mod:`flink_snappydata_spark.specs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from flink_snappydata_spark.catalog import load_table
from flink_snappydata_spark.operators import analytic
from flink_snappydata_spark.operators import grouped
from flink_snappydata_spark.operators import profiling
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
from flink_snappydata_spark.specs.llm_pipeline import _stream_state_scored

_TBLPROF_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
    "o_totalprice_cents", "o_orderdate_us",
]

_register(
    "table_profile",
    ["orders"],
    profiling.table_profile,
    "WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_orderpriority, " + _cents("o_totalprice") + " AS o_totalprice_cents, "
    "epoch_us(o_orderdate) AS o_orderdate_us FROM orders) "
    "SELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_nulls, CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"CAST(MIN({c}) AS VARCHAR) AS min_repr, "
        f"CAST(MAX({c}) AS VARCHAR) AS max_repr FROM base"
        for c in _TBLPROF_COLS
    )
    + ') ORDER BY "column"',
    doc="Per-column table profile (nulls, exact distincts, "
        "engine-portable min/max representations — ints canonical, "
        "money in cents, timestamps as epoch micros): one pass via "
        "Catalyst multi-distinct expand with partial aggregation, "
        "k-row output.",
)

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {__import__('math').log10(1 + 1 / d)!r}"
    for d in range(1, 10)
) + " END"

_register(
    "benford_audit",
    ["orders"],
    profiling.benford_audit,
    f"""
    WITH c AS (
        SELECT CAST(substr(CAST({_cents('o_totalprice')} AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders WHERE {_cents('o_totalprice')} > 0),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM c GROUP BY 1),
    d AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS digit),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM obs),
    j AS (SELECT d.digit, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
          FROM d LEFT JOIN obs o ON o.digit = d.digit),
    sel AS (SELECT j.digit, j.n_obs,
                   CAST(t.total AS DOUBLE) * ({_BENFORD_CASE}) AS expected
            FROM j, t)
    SELECT digit, n_obs, expected,
           (CAST(n_obs AS DOUBLE) - expected)
           * (CAST(n_obs AS DOUBLE) - expected) / expected AS chi2_contrib
    FROM sel ORDER BY digit
    """,
    doc="Benford's-law first-digit audit of the money column: integer "
        "cents' leading decimal digit vs total·log10(1+1/d), chi2 "
        "contribution per digit — Python-literal log constants and "
        "int->string digit extraction keep both engines bit-identical.",
)

_register(
    "key_skew_profile",
    ["lineitem"],
    profiling.key_skew_profile,
    """
    WITH cnt AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                 FROM lineitem GROUP BY 1),
    base AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                    CAST(COUNT(*) AS BIGINT) AS n_keys,
                    MAX(c) AS max_key_rows,
                    SUM(CAST(c * c AS DECIMAL(38,0))) AS sc2
             FROM cnt),
    ranked AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, k) AS r
               FROM cnt),
    top AS (SELECT MAX(CASE WHEN r = 1 THEN c END) AS top1_rows,
                   CAST(SUM(c) AS BIGINT) AS top10_rows
            FROM ranked WHERE r <= 10)
    SELECT n_rows, n_keys, max_key_rows,
           CAST(top1_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)
               AS top1_share,
           CAST(top10_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)
               AS top10_share,
           CAST(sc2 AS DOUBLE)
               / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS hhi
    FROM base, top
    """,
    doc="Join-key skew report (max key, top-1/top-10 shares, "
        "Herfindahl index with a DECIMAL(38,0) sum-of-squares): the "
        "salting/AQE decision measurement; histogram via map-side "
        "groupBy, exact top-10 via util.top_k (per-partition heaps) so "
        "no reducer sorts the whole key histogram.",
)


def _bpe_training_ctes(n_merges: int = 8, max_word_len: int = 24) -> str:
    """The shared training half of the BPE oracles: a chained-CTE
    DuckDB twin of the merge loop — each round counts adjacent symbol
    pairs (parallel UNNESTs zip positionally), picks the
    (count DESC, pair ASC) argmax ``b{{i}}``, and applies the same
    two-pass left-to-right ``replace`` merge. Returns the ``WITH``
    chain up through ``b{{n-1}}``/``w{{n}}`` so both the merge-table
    oracle and the encode oracle re-derive the winning pairs
    independently of the Spark run."""
    parts = [f"""WITH w0 AS (
        SELECT ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '
                   AS sym,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split_regex(lower(text), '\\W+')) AS word
              FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
          AND len(word) <= {max_word_len}
        GROUP BY 1)"""]
    for i in range(n_merges):
        parts.append(f""",
    p{i} AS (SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c
             FROM (SELECT unnest(syms[1:len(syms)-1]) AS l,
                          unnest(syms[2:len(syms)]) AS r, cnt
                   FROM (SELECT string_split(trim(sym), ' ') AS syms, cnt
                         FROM w{i}))
             GROUP BY l, r),
    b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
    w{i + 1} AS (SELECT replace(replace(sym, ' '||l||' '||r||' ',
                                        ' '||l||r||' '),
                                ' '||l||' '||r||' ', ' '||l||r||' ')
                            AS sym, cnt
                 FROM w{i}, b{i})""")
    return "".join(parts)


def _bpe_oracle(n_merges: int = 8, max_word_len: int = 24) -> str:
    """Merge-table oracle: the shared training chain plus a UNION of
    the per-round argmax rows."""
    sels = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, c AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return (_bpe_training_ctes(n_merges, max_word_len)
            + f" SELECT * FROM ({sels}) ORDER BY step")


def _bpe_encode_oracle(n_merges: int = 8, max_word_len: int = 24) -> str:
    """Encode oracle: re-derive the merge table via the shared training
    chain, then encode every eligible word independently — the same
    spaced-symbol string and two-pass ``replace`` per merge, with the
    winning pairs referenced from the cross-joined 1-row ``b{{i}}``
    CTEs — and sum exact per-document stats. Documents with no
    eligible words keep their row with zero counts (LEFT JOIN)."""
    s = "' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '"
    for i in range(n_merges):
        pat = f"' '||b{i}.l||' '||b{i}.r||' '"
        rep = f"' '||b{i}.l||b{i}.r||' '"
        s = f"replace(replace({s}, {pat}, {rep}), {pat}, {rep})"
    bs = ", ".join(f"b{i}" for i in range(n_merges))
    return _bpe_training_ctes(n_merges, max_word_len) + f""",
    dw AS (SELECT doc_id, word
           FROM (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\\W+'))
                            AS word
                 FROM documents)
           WHERE regexp_matches(word, '^[a-z]+$')
             AND len(word) <= {max_word_len}),
    enc AS (SELECT doc_id, len(word) AS wlen,
                   len(trim(es)) - len(replace(trim(es), ' ', '')) + 1
                       AS n_tok
            FROM (SELECT doc_id, word, {s} AS es FROM dw, {bs})),
    agg AS (SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(wlen) AS BIGINT) AS n_alpha_chars,
                   CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
            FROM enc GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(a.n_words, 0) AS n_words,
           COALESCE(a.n_alpha_chars, 0) AS n_alpha_chars,
           COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""


_register(
    "bpe_merges",
    ["documents"],
    textops.bpe_merges,
    _bpe_oracle(),
    doc="Distributed BPE tokenizer-vocabulary induction: 8 merge "
        "rounds over the DISTINCT-WORD frequency table (corpus "
        "tokenized exactly once; each round is a vocab-frame pair "
        "explode + groupBy + 1-row TakeOrdered argmax, winner folded "
        "back as a literal — the kmeans-style broadcast loop).",
)

def _bpe_fertility_oracle(n_merges: int = 8, max_word_len: int = 24) -> str:
    """Per-language fertility oracle: the shared training chain, the
    per-word encode (same nested replaces as the encode oracle), then
    a lang-grouped fold with the single int64/int64 double division."""
    s = "' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '"
    for i in range(n_merges):
        pat = f"' '||b{i}.l||' '||b{i}.r||' '"
        rep = f"' '||b{i}.l||b{i}.r||' '"
        s = f"replace(replace({s}, {pat}, {rep}), {pat}, {rep})"
    bs = ", ".join(f"b{i}" for i in range(n_merges))
    return _bpe_training_ctes(n_merges, max_word_len) + f""",
    dw AS (SELECT doc_id, word
           FROM (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\\W+'))
                            AS word
                 FROM documents)
           WHERE regexp_matches(word, '^[a-z]+$')
             AND len(word) <= {max_word_len}),
    enc AS (SELECT doc_id,
                   len(trim(es)) - len(replace(trim(es), ' ', '')) + 1
                       AS n_tok
            FROM (SELECT doc_id, word, {s} AS es FROM dw, {bs})),
    agg AS (SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tok
            FROM enc GROUP BY 1),
    per_lang AS (
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(COALESCE(a.n_words, 0)) AS BIGINT) AS n_words,
               CAST(SUM(COALESCE(a.n_tok, 0)) AS BIGINT) AS n_bpe_tokens
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        GROUP BY 1)
    SELECT lang, n_docs, n_words, n_bpe_tokens,
           CASE WHEN n_words > 0
                THEN CAST(n_bpe_tokens AS DOUBLE) / n_words
                ELSE 0.0 END AS fertility
    FROM per_lang ORDER BY lang"""


_register(
    "bpe_encode_stats",
    ["documents"],
    textops.bpe_encode_stats,
    _bpe_encode_oracle(),
    doc="BPE encode (the tokenizer pair's apply half): the trained "
        "merge table folds into a per-row chain of replace literals "
        "inside transform/aggregate higher-order functions, so the "
        "corpus is scanned once, map-only, emitting exact "
        "(n_words, n_alpha_chars, n_bpe_tokens) int64s per document.",
)

_register(
    "tokenizer_fertility",
    ["documents"],
    textops.tokenizer_fertility,
    _bpe_fertility_oracle(),
    doc="Per-language tokenizer fertility (bpe_tokens/words) under the "
        "learned vocabulary — the tokenizer-fairness diagnostic; lang "
        "rides the map-only encode scan, one groupBy to the "
        "languages-sized frame.",
)

_register(
    "temperature_mix",
    ["documents"],
    sampling.temperature_mix,
    f"""
    WITH feats AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
                                    w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents),
    tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM feats GROUP BY 1),
    th AS (SELECT source, total_tokens,
                  LEAST(1.0, 100.0 / sqrt(CAST(total_tokens AS DOUBLE)))
                      AS keep_prob,
                  CAST(floor(LEAST(1.0, 100.0
                                   / sqrt(CAST(total_tokens AS DOUBLE)))
                             * 2147483648.0) AS BIGINT) AS threshold
           FROM tot),
    fl AS (SELECT f.source, total_tokens, keep_prob, n_tokens,
                  CASE WHEN ({packing.portable_hash_sql('doc_id')})
                           < threshold THEN 1 ELSE 0 END AS keep
           FROM feats f JOIN th ON f.source = th.source)
    SELECT source, MIN(total_tokens) AS total_tokens,
           MIN(keep_prob) AS keep_prob,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens * keep) AS BIGINT) AS tokens_kept
    FROM fl GROUP BY source ORDER BY source
    """,
    doc="Sqrt-temperature (T=0.5) source rebalancing with the "
        "deterministic portable-hash coin: per-source keep probability "
        "scale/√tokens — sqrt because it is IEEE-correctly-rounded on "
        "every engine where general pow is not; no cross-source float "
        "sums anywhere; text never shuffles.",
)

_register(
    "type_lag_correlation",
    ["events"],
    analytic.type_lag_correlation,
    """
    WITH counts AS (
        SELECT event_type AS t,
               CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM counts),
    days AS (SELECT UNNEST(range((SELECT d0 FROM b),
                                 (SELECT d1 FROM b) + 1)) AS d),
    types AS (SELECT DISTINCT t FROM counts),
    grid AS (SELECT ty.t, dy.d, COALESCE(c.c, 0) AS c
             FROM types ty CROSS JOIN days dy
             LEFT JOIN counts c ON c.t = ty.t AND c.d = dy.d),
    lags AS (SELECT UNNEST(range(0, 4)) AS lag),
    j AS (SELECT a.t AS type_a, bb.t AS type_b, l.lag,
                 a.c AS x, bb.c AS y
          FROM grid a CROSS JOIN lags l
          JOIN grid bb ON bb.d = a.d + l.lag),
    s AS (SELECT type_a, type_b, lag,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM j GROUP BY 1, 2, 3)
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n_days,
           CASE WHEN (n_days * sxx - sx * sx) > 0
                 AND (n_days * syy - sy * sy) > 0
                THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
                ELSE 0.0 END AS r
    FROM s ORDER BY type_a, type_b, lag
    """,
    doc="Exact lagged cross-correlation of per-type daily counts "
        "(lags 0-3; diagonal = autocorrelation): one map-side-combined "
        "(type, day) count shuffle, dense-grid zeros, DECIMAL(38,0) "
        "sufficient statistics, one double closed-form per "
        "(pair, lag).",
)

_register(
    "scd2_state_intervals",
    ["events"],
    analytic.scd2_state_intervals,
    """
    WITH m AS (
        SELECT user_id, event_id, event_type AS state,
               epoch_us(ts) AS ts_us,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r AS (SELECT user_id, state, ts_us,
                 SUM(chg) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS version
          FROM m),
    iv AS (SELECT user_id, CAST(version AS BIGINT) AS version,
                  MIN(state) AS state,
                  MIN(ts_us) AS valid_from_us,
                  CAST(COUNT(*) AS BIGINT) AS n_events
           FROM r GROUP BY 1, 2)
    SELECT user_id, version, state, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version) AS valid_to_us,
           n_events
    FROM iv ORDER BY user_id, version
    """,
    doc="Type-2 SCD build: per-user consecutive same-type runs become "
        "(version, state, valid_from, valid_to) intervals — the "
        "sessionization shape, one user-keyed shuffle with every "
        "window and the run groupBy sharing that partitioning; "
        "valid_to = next interval's start, NULL on the open one.",
)

_register(
    "rolling_active_users",
    ["events"],
    analytic.rolling_active_users,
    """
    WITH du AS (SELECT DISTINCT
                       epoch_us(date_trunc('day', ts)) // 1000000
                           AS day_s,
                       user_id
                FROM events),
    days AS (SELECT DISTINCT day_s FROM du)
    SELECT d.day_s,
           CAST(COUNT(DISTINCT CASE WHEN u.day_s = d.day_s
                                    THEN u.user_id END) AS BIGINT)
               AS dau,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN du u
      ON u.day_s BETWEEN d.day_s - 6 * 86400 AND d.day_s
    GROUP BY 1 ORDER BY 1
    """,
    doc="Exact DAU + trailing-7-day WAU per observed day: the event "
        "log collapses once to the distinct (day, user) frame, rolling "
        "distinct via a bounded 7-way window-end explode of that frame "
        "(never a per-day rescan or DAU sum); oracle states the naive "
        "range-join definition.",
)

_register(
    "user_growth",
    ["events"],
    analytic.user_growth,
    """
    WITH fs AS (SELECT user_id,
                       MIN(epoch_us(date_trunc('day', ts)) // 1000000)
                           AS day_s
                FROM events GROUP BY 1),
    d AS (SELECT day_s, CAST(COUNT(*) AS BIGINT) AS new_users
          FROM fs GROUP BY 1)
    SELECT day_s, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day_s) AS BIGINT)
               AS cum_users
    FROM d ORDER BY day_s
    """,
    doc="User-growth curve (first-seen day per user, daily new users, "
        "cumulative to date): user-keyed min + day histogram, with the "
        "one global cumulative window running over the days-count "
        "frame, never the event log.",
)

_register(
    "itemset_pairs",
    ["events"],
    analytic.itemset_pairs,
    """
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
            FROM u),
    pi AS (SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n_item
           FROM u GROUP BY 1),
    p AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM u a JOIN u b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
    SELECT item_a, item_b, n_users,
           CAST(n_users AS DOUBLE) / CAST(n_total AS DOUBLE) AS support,
           CAST(n_users AS DOUBLE) * CAST(n_total AS DOUBLE)
               / (CAST(na.n_item AS DOUBLE) * CAST(nb.n_item AS DOUBLE))
               AS lift
    FROM p, tot
    JOIN pi na ON na.item = p.item_a
    JOIN pi nb ON nb.item = p.item_b
    ORDER BY item_a, item_b
    """,
    doc="Frequent event-type 2-itemsets with support and lift: corpus "
        "collapses first to the distinct (user, type) frame; pairs are "
        "emitted inside each user's type list, bounded by the type "
        "vocabulary — no user self-join, never corpus-squared.",
)

_register(
    "referential_audit",
    ["orders", "customer", "lineitem"],
    profiling.referential_audit,
    """
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
               AS n_order_orphans,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_lineitems,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
               AS n_lineitem_orphans
    """,
    doc="Referential-integrity audit of the star schema's two big "
        "foreign keys via key-only LEFT ANTI joins (Catalyst prunes "
        "to one int64 per row; dimension side broadcasts) — the "
        "post-ingest data-quality gate.",
)

_register(
    "graph_triangles",
    ["documents"],
    graphops.graph_triangles,
    f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    edges AS (
        SELECT doc_id AS src,
               ({packing.portable_hash_sql('(doc_id * 3 + i + 1)')})
                   % (SELECT n FROM nn) AS dst
        FROM documents, generate_series(0, 2) s(i)),
    und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM edges WHERE src <> dst),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM und
                  UNION ALL SELECT v AS node FROM und)
            GROUP BY 1),
    wg AS (SELECT SUM(CAST((d * (d - 1)) // 2 AS DECIMAL(38,0)))
                      AS n_wedges
           FROM deg),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM und ab
            JOIN und bc ON bc.u = ab.v
            WHERE EXISTS (SELECT 1 FROM und ac
                          WHERE ac.u = ab.u AND ac.v = bc.v))
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges, n_triangles,
           3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
               AS clustering
    FROM wg, tri
    """,
    doc="Triangle census + global clustering coefficient of the "
        "synthesized link graph via the ordered-wedge two-join "
        "(id-pair-only shuffles, degree-bounded fan-out, "
        "DECIMAL(38,0) wedge sum).",
)

_register(
    "ks_drift",
    ["events"],
    analytic.ks_drift,
    f"""
    WITH ha AS (SELECT {_cents('value')} AS v,
                       CAST(COUNT(*) AS BIGINT) AS ca
                FROM events WHERE event_type = 'click' GROUP BY 1),
    hb AS (SELECT {_cents('value')} AS v,
                  CAST(COUNT(*) AS BIGINT) AS cb
           FROM events WHERE event_type = 'error' GROUP BY 1),
    m AS (SELECT COALESCE(ha.v, hb.v) AS v,
                 COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM ha FULL OUTER JOIN hb ON ha.v = hb.v),
    c AS (SELECT v,
                 CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
                 CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b,
                 CAST(SUM(ca) OVER () AS BIGINT) AS n_a,
                 CAST(SUM(cb) OVER () AS BIGINT) AS n_b
          FROM m),
    d AS (SELECT v, n_a, n_b,
                 ABS(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     AS diff
          FROM c),
    k AS (SELECT MAX(diff) AS ks_stat FROM d)
    SELECT MIN(n_a) AS n_a, MIN(n_b) AS n_b,
           MIN(ks_stat) AS ks_stat, MIN(v) AS at_value
    FROM d, k WHERE diff = ks_stat
    """,
    doc="Exact two-sample Kolmogorov-Smirnov distance between two "
        "event types' value distributions: per-side value histograms "
        "(map-side, value-domain-bounded), full-outer CDF merge, "
        "cumulative window over the bounded frame — rational CDFs, "
        "bit-exact statistic.",
)

_register(
    "ab_test_report",
    ["events"],
    analytic.ab_test_report,
    """
    WITH pu AS (SELECT user_id,
                       CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                          THEN 1 ELSE 0 END)
                               > SUM(CASE WHEN event_type = 'error'
                                          THEN 1 ELSE 0 END)
                            THEN 1 ELSE 0 END AS converted
                FROM events GROUP BY user_id),
    arms AS (SELECT user_id % 2 AS arm,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(converted) AS BIGINT) AS conv
             FROM pu GROUP BY 1),
    a AS (SELECT n AS n_a, conv AS conv_a FROM arms WHERE arm = 0),
    b AS (SELECT n AS n_b, conv AS conv_b FROM arms WHERE arm = 1)
    SELECT n_a, conv_a,
           CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
           n_b, conv_b,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS uplift,
           CASE WHEN sqrt((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                          * (1.0 - (CAST(conv_a AS DOUBLE)
                                    + CAST(conv_b AS DOUBLE))
                                   / (CAST(n_a AS DOUBLE)
                                      + CAST(n_b AS DOUBLE)))
                          * (1.0 / CAST(n_a AS DOUBLE)
                             + 1.0 / CAST(n_b AS DOUBLE))) = 0.0
                THEN 0.0
                ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                     / sqrt((CAST(conv_a AS DOUBLE)
                             + CAST(conv_b AS DOUBLE))
                            / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                            * (1.0 - (CAST(conv_a AS DOUBLE)
                                      + CAST(conv_b AS DOUBLE))
                                     / (CAST(n_a AS DOUBLE)
                                        + CAST(n_b AS DOUBLE)))
                            * (1.0 / CAST(n_a AS DOUBLE)
                               + 1.0 / CAST(n_b AS DOUBLE)))
           END AS z_score
    FROM a, b
    """,
    doc="Two-proportion A/B conversion report (arms by user parity, "
        "conversion = any purchase): one user-keyed flag aggregation, "
        "2-row arm rollup, closed-form pooled z-score in identical "
        "double expressions.",
)

_register(
    "activity_heatmap",
    ["events"],
    analytic.activity_heatmap,
    """
    WITH cells AS (
        SELECT event_type,
               (epoch_us(ts) // 1000000 // 3600) % 24 AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2)
    SELECT event_type, hour, n_events,
           CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
               * CAST(SUM(n_events) OVER (PARTITION BY hour) AS DOUBLE)
               / CAST(SUM(n_events) OVER () AS DOUBLE) AS expected,
           (CAST(n_events AS DOUBLE)
            - CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(n_events) OVER (PARTITION BY hour) AS DOUBLE)
              / CAST(SUM(n_events) OVER () AS DOUBLE))
           * (CAST(n_events AS DOUBLE)
              - CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
                * CAST(SUM(n_events) OVER (PARTITION BY hour) AS DOUBLE)
                / CAST(SUM(n_events) OVER () AS DOUBLE))
           / (CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(n_events) OVER (PARTITION BY hour) AS DOUBLE)
              / CAST(SUM(n_events) OVER () AS DOUBLE)) AS chi2_contrib
    FROM cells ORDER BY event_type, hour
    """,
    doc="Hour-of-day x type heatmap with chi-squared independence "
        "contributions per cell (epoch-arithmetic hours, totals via "
        "windows over the kx24 cell frame; the order-sensitive global "
        "chi-squared fold is deliberately left to the reader).",
)

_register(
    "repeat_purchase_stats",
    ["events"],
    analytic.repeat_purchase_stats,
    """
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) // 1000000
                   - LAG(epoch_us(ts) // 1000000)
                         OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS gap_s
        FROM events WHERE event_type = 'purchase'),
    pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purch,
                  SUM(gap_s) AS gap_sum,
                  CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
                  MIN(gap_s) AS gmin, MAX(gap_s) AS gmax
           FROM g GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_purchasers,
           CAST(SUM(CASE WHEN n_purch >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat_purchasers,
           CAST(SUM(n_gaps) AS BIGINT) AS n_gaps,
           CASE WHEN SUM(n_gaps) > 0
                THEN CAST(SUM(gap_sum) AS DOUBLE)
                     / CAST(SUM(n_gaps) AS DOUBLE) END AS mean_gap_s,
           MIN(gmin) AS min_gap_s, MAX(gmax) AS max_gap_s
    FROM pu
    """,
    doc="Repeat-purchase timing (gaps between consecutive purchases "
        "per user in deterministic order): purchases filtered before "
        "any shuffle, one user-bounded lag window, single-row "
        "map-side rollup.",
)

_register(
    "session_conversion",
    ["events"],
    analytic.session_conversion,
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
        FROM seq),
    tagged AS (
        SELECT user_id, sid, event_type,
               FIRST_VALUE(event_type)
                   OVER (PARTITION BY user_id, sid
                         ORDER BY ts, event_id) AS entry
        FROM sess),
    per AS (SELECT user_id, sid, MIN(entry) AS entry,
                   MAX(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS conv
            FROM tagged GROUP BY 1, 2)
    SELECT entry AS channel, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(conv) AS BIGINT) AS n_converted,
           CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS conv_rate
    FROM per GROUP BY 1 ORDER BY 1
    """,
    doc="Session conversion by entry channel: the engine's standard "
        "30-minute session windows, entry = (ts, event_id)-argmin via "
        "min_by, purchase flag per session, channel-vocabulary "
        "rollup — one user-keyed session shuffle.",
)

_register(
    "quantile_transform",
    ["events"],
    profiling.quantile_transform,
    f"""
    WITH h AS (SELECT event_type, {_cents('value')} AS v,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2)
    SELECT event_type, v, n,
           CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY v)
                AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
               AS q
    FROM h ORDER BY event_type, v
    """,
    doc="Exact per-type quantile (CDF) transform table: corpus "
        "collapses to the per-type value histogram first; the "
        "cumulative window is partitioned by type over that "
        "value-domain-bounded frame — rational CDF positions, "
        "bit-exact.",
)

_register(
    "token_drift_topk",
    ["documents"],
    textops.token_drift_topk,
    """
    WITH ha AS (SELECT word AS token, CAST(COUNT(*) AS BIGINT) AS c_a
                FROM (SELECT unnest(list_filter(
                                 string_split_regex(lower(text), '\\W+'),
                                 w -> w <> '')) AS word
                      FROM documents WHERE source = 'src0')
                GROUP BY 1),
    hb AS (SELECT word AS token, CAST(COUNT(*) AS BIGINT) AS c_b
           FROM (SELECT unnest(list_filter(
                            string_split_regex(lower(text), '\\W+'),
                            w -> w <> '')) AS word
                 FROM documents WHERE source = 'src1')
           GROUP BY 1),
    m AS (SELECT COALESCE(ha.token, hb.token) AS token,
                 COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
          FROM ha FULL OUTER JOIN hb ON ha.token = hb.token),
    tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                   CAST(SUM(c_b) AS BIGINT) AS n_b
            FROM m),
    s AS (SELECT token, c_a, c_b,
                 (CAST(c_a AS DOUBLE)
                  - (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                    * CAST(n_a AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 * (CAST(c_a AS DOUBLE)
                    - (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                      * CAST(n_a AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 / ((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                    * CAST(n_a AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 + (CAST(c_b AS DOUBLE)
                    - (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                      * CAST(n_b AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                   * (CAST(c_b AS DOUBLE)
                      - (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                        * CAST(n_b AS DOUBLE)
                        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                   / ((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                      * CAST(n_b AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                     AS chi2
          FROM m, tot)
    SELECT token, c_a, c_b, chi2
    FROM s ORDER BY chi2 DESC, token LIMIT 20
    """,
    doc="Top-20 drifting tokens between two sources by chi-squared "
        "contribution (vocabulary-sized histograms, full-outer merge, "
        "identical fixed-order double arithmetic; exact top-k via "
        "util.top_k so no reducer sorts the whole vocabulary).",
)

_register(
    "rfm_segments",
    ["events"],
    analytic.rfm_segments,
    f"""
    WITH p AS (SELECT user_id, epoch_us(ts) // 1000000 AS t,
                      {_cents('value')} AS v
               FROM events WHERE event_type = 'purchase'),
    tm AS (SELECT MAX(t) AS t1 FROM p),
    u AS (SELECT user_id,
                 MIN((SELECT t1 FROM tm) - t) AS recency_s,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(v) AS BIGINT) AS monetary_cents
          FROM p GROUP BY user_id),
    b AS (SELECT quantile_cont(recency_s, 0.25) AS r25,
                 quantile_cont(recency_s, 0.50) AS r50,
                 quantile_cont(recency_s, 0.75) AS r75,
                 quantile_cont(frequency, 0.25) AS f25,
                 quantile_cont(frequency, 0.50) AS f50,
                 quantile_cont(frequency, 0.75) AS f75,
                 quantile_cont(monetary_cents, 0.25) AS m25,
                 quantile_cont(monetary_cents, 0.50) AS m50,
                 quantile_cont(monetary_cents, 0.75) AS m75
          FROM u),
    sc AS (SELECT CAST(1 + CAST(recency_s > r25 AS INT)
                         + CAST(recency_s > r50 AS INT)
                         + CAST(recency_s > r75 AS INT) AS BIGINT) AS r_q,
                  CAST(1 + CAST(frequency > f25 AS INT)
                         + CAST(frequency > f50 AS INT)
                         + CAST(frequency > f75 AS INT) AS BIGINT) AS f_q,
                  CAST(1 + CAST(monetary_cents > m25 AS INT)
                         + CAST(monetary_cents > m50 AS INT)
                         + CAST(monetary_cents > m75 AS INT) AS BIGINT)
                      AS m_q,
                  frequency, monetary_cents
           FROM u, b)
    SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(frequency) AS BIGINT) AS n_purchases,
           CAST(SUM(monetary_cents) AS BIGINT) AS monetary_cents
    FROM sc GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q
    """,
    doc="RFM customer segmentation: purchases filtered before any "
        "shuffle, one user-keyed aggregation, exact quartile "
        "boundaries broadcast back, <=64-row segment rollup.",
)

_register(
    "funnel_latency",
    ["events"],
    analytic.funnel_latency,
    """
    WITH v0 AS (SELECT user_id, MIN(epoch_us(ts) // 1000000) AS v0
                FROM events WHERE event_type = 'view' GROUP BY user_id),
    lat AS (SELECT e.user_id,
                   MIN(epoch_us(e.ts) // 1000000) - MIN(v0.v0)
                       AS latency_s
            FROM events e JOIN v0 ON e.user_id = v0.user_id
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) // 1000000 > v0.v0
            GROUP BY e.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(latency_s, 0.5) AS p50_s,
           quantile_cont(latency_s, 0.9) AS p90_s,
           quantile_cont(latency_s, 0.99) AS p99_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s,
           CAST(SUM(latency_s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_s
    FROM lat
    """,
    doc="View->purchase conversion-latency distribution: strictly-"
        "after first-view matching (the ordered_funnel contract), "
        "int64 second latencies, exact interpolated percentiles, "
        "single-row output.",
)

_register(
    "activity_gini",
    ["events"],
    analytic.activity_gini,
    """
    WITH pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY user_id),
    h AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS f FROM pu GROUP BY c),
    pr AS (SELECT c, f,
                  CAST(COALESCE(SUM(f) OVER (ORDER BY c
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS r0,
                  (f * (f + 1)) // 2 AS half
           FROM h),
    a AS (SELECT CAST(SUM(f) AS HUGEINT) AS n,
                 CAST(SUM(c * f) AS HUGEINT) AS s,
                 SUM(CAST(c AS HUGEINT)
                     * (CAST(f AS HUGEINT) * CAST(r0 AS HUGEINT)
                        + CAST(half AS HUGEINT))) AS w
          FROM pr)
    SELECT CAST(n AS BIGINT) AS n_users, CAST(s AS BIGINT) AS n_events,
           CAST(2 * w - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)
               AS gini
    FROM a
    """,
    doc="Gini coefficient of per-user event counts: corpus -> user "
        "counts -> count histogram; the rank-weighted sum rides the "
        "two-phase cell prefix (util.cell_prefix_sums) in exact "
        "DECIMAL(38,0) arithmetic; one double division at the end.",
)

_register(
    "embedding_top_pc",
    ["embeddings"],
    similarity.embedding_top_pc,
    """
    WITH comp AS (
        SELECT vec_id, i - 1 AS i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) s(i)),
    g AS (SELECT a.i AS i, b.i AS j,
                 CAST(SUM(a.q * b.q) AS BIGINT) AS gram
          FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY a.i, b.i),
    mat AS (SELECT i, j, gram FROM g
            UNION ALL
            SELECT j, i, gram FROM g WHERE i < j),
    v0 AS (SELECT i - 1 AS j, CAST(1 AS HUGEINT) AS val
           FROM generate_series(1, 64) s(i)),
    u1 AS (SELECT m.i, SUM(CAST(m.gram AS HUGEINT) * v0.val) AS u
           FROM mat m JOIN v0 ON m.j = v0.j GROUP BY m.i),
    m1 AS (SELECT GREATEST(MAX(ABS(u)), 1) AS mx FROM u1),
    v1 AS (SELECT i AS j,
                  CASE WHEN u < 0 THEN -(((-u) * 1048576) // mx)
                       ELSE (u * 1048576) // mx END AS val
           FROM u1, m1),
    u2 AS (SELECT m.i, SUM(CAST(m.gram AS HUGEINT) * v1.val) AS u
           FROM mat m JOIN v1 ON m.j = v1.j GROUP BY m.i),
    m2 AS (SELECT GREATEST(MAX(ABS(u)), 1) AS mx FROM u2),
    v2 AS (SELECT i AS j,
                  CASE WHEN u < 0 THEN -(((-u) * 1048576) // mx)
                       ELSE (u * 1048576) // mx END AS val
           FROM u2, m2),
    u3 AS (SELECT m.i, SUM(CAST(m.gram AS HUGEINT) * v2.val) AS u
           FROM mat m JOIN v2 ON m.j = v2.j GROUP BY m.i),
    m3 AS (SELECT GREATEST(MAX(ABS(u)), 1) AS mx FROM u3),
    v3 AS (SELECT i AS j,
                  CASE WHEN u < 0 THEN -(((-u) * 1048576) // mx)
                       ELSE (u * 1048576) // mx END AS val
           FROM u3, m3),
    sgn AS (SELECT CASE WHEN (SELECT val FROM v3 WHERE val <> 0
                              ORDER BY j LIMIT 1) < 0
                        THEN -1 ELSE 1 END AS sg),
    vc AS (SELECT j, CAST(sg AS HUGEINT) * val AS val FROM v3, sgn),
    gv AS (SELECT m.i, SUM(CAST(m.gram AS HUGEINT) * vc.val) AS gv
           FROM mat m JOIN vc ON m.j = vc.j GROUP BY m.i),
    ray AS (SELECT SUM(vc.val * gv.gv) AS num,
                   (SELECT SUM(val * val) FROM vc) AS den
            FROM vc JOIN gv ON vc.j = gv.i)
    SELECT vc.j AS pos, CAST(vc.val AS BIGINT) AS pc_q,
           CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE)
               AS eigenvalue
    FROM vc, ray ORDER BY pos
    """,
    doc="Top principal direction of the uncentered second-moment "
        "matrix: distributed work is embedding_gram's fixed 2080-row "
        "reduction; 3 integer power-iteration rounds (truncating "
        "2^20 renormalization, sign-canonicalized) replayed as "
        "unrolled CTEs; Rayleigh-quotient eigenvalue from exact "
        "integers.",
)


_register(
    "zipf_fit",
    ["documents"],
    textops.zipf_fit,
    """
    WITH v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS f
               FROM (SELECT unnest(list_filter(
                         string_split_regex(lower(text), '\\W+'),
                         w -> w <> '')) AS word
                     FROM documents)
               GROUP BY word),
    h AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY f),
    p AS (SELECT f, t,
                 CAST(COALESCE(SUM(t) OVER (ORDER BY f DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS m0,
                 CAST(SUM(t) OVER (ORDER BY f DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS m1,
                 CAST(LENGTH(bin(f)) - 1 AS BIGINT) AS y
          FROM h),
    g AS (SELECT t, y,
                 (GREATEST(LEAST(m1, 3) - 2 + 1, 0) * 1 + GREATEST(LEAST(m1, 7) - 4 + 1, 0) * 2 + GREATEST(LEAST(m1, 15) - 8 + 1, 0) * 3 + GREATEST(LEAST(m1, 31) - 16 + 1, 0) * 4 + GREATEST(LEAST(m1, 63) - 32 + 1, 0) * 5 + GREATEST(LEAST(m1, 127) - 64 + 1, 0) * 6 + GREATEST(LEAST(m1, 255) - 128 + 1, 0) * 7 + GREATEST(LEAST(m1, 511) - 256 + 1, 0) * 8 + GREATEST(LEAST(m1, 1023) - 512 + 1, 0) * 9 + GREATEST(LEAST(m1, 2047) - 1024 + 1, 0) * 10 + GREATEST(LEAST(m1, 4095) - 2048 + 1, 0) * 11 + GREATEST(LEAST(m1, 8191) - 4096 + 1, 0) * 12 + GREATEST(LEAST(m1, 16383) - 8192 + 1, 0) * 13 + GREATEST(LEAST(m1, 32767) - 16384 + 1, 0) * 14 + GREATEST(LEAST(m1, 65535) - 32768 + 1, 0) * 15 + GREATEST(LEAST(m1, 131071) - 65536 + 1, 0) * 16 + GREATEST(LEAST(m1, 262143) - 131072 + 1, 0) * 17 + GREATEST(LEAST(m1, 524287) - 262144 + 1, 0) * 18 + GREATEST(LEAST(m1, 1048575) - 524288 + 1, 0) * 19 + GREATEST(LEAST(m1, 2097151) - 1048576 + 1, 0) * 20 + GREATEST(LEAST(m1, 4194303) - 2097152 + 1, 0) * 21 + GREATEST(LEAST(m1, 8388607) - 4194304 + 1, 0) * 22 + GREATEST(LEAST(m1, 16777215) - 8388608 + 1, 0) * 23 + GREATEST(LEAST(m1, 33554431) - 16777216 + 1, 0) * 24 + GREATEST(LEAST(m1, 67108863) - 33554432 + 1, 0) * 25 + GREATEST(LEAST(m1, 134217727) - 67108864 + 1, 0) * 26 + GREATEST(LEAST(m1, 268435455) - 134217728 + 1, 0) * 27 + GREATEST(LEAST(m1, 536870911) - 268435456 + 1, 0) * 28 + GREATEST(LEAST(m1, 1073741823) - 536870912 + 1, 0) * 29 + GREATEST(LEAST(m1, 2147483647) - 1073741824 + 1, 0) * 30 + GREATEST(LEAST(m1, 4294967295) - 2147483648 + 1, 0) * 31 + GREATEST(LEAST(m1, 8589934591) - 4294967296 + 1, 0) * 32 + GREATEST(LEAST(m1, 17179869183) - 8589934592 + 1, 0) * 33 + GREATEST(LEAST(m1, 34359738367) - 17179869184 + 1, 0) * 34 + GREATEST(LEAST(m1, 68719476735) - 34359738368 + 1, 0) * 35 + GREATEST(LEAST(m1, 137438953471) - 68719476736 + 1, 0) * 36 + GREATEST(LEAST(m1, 274877906943) - 137438953472 + 1, 0) * 37 + GREATEST(LEAST(m1, 549755813887) - 274877906944 + 1, 0) * 38 + GREATEST(LEAST(m1, 1099511627775) - 549755813888 + 1, 0) * 39 + GREATEST(LEAST(m1, 2199023255551) - 1099511627776 + 1, 0) * 40 + GREATEST(LEAST(m1, 4398046511103) - 2199023255552 + 1, 0) * 41 + GREATEST(LEAST(m1, 8796093022207) - 4398046511104 + 1, 0) * 42 + GREATEST(LEAST(m1, 17592186044415) - 8796093022208 + 1, 0) * 43 + GREATEST(LEAST(m1, 35184372088831) - 17592186044416 + 1, 0) * 44 + GREATEST(LEAST(m1, 70368744177663) - 35184372088832 + 1, 0) * 45 + GREATEST(LEAST(m1, 140737488355327) - 70368744177664 + 1, 0) * 46 + GREATEST(LEAST(m1, 281474976710655) - 140737488355328 + 1, 0) * 47 + GREATEST(LEAST(m1, 562949953421311) - 281474976710656 + 1, 0) * 48 + GREATEST(LEAST(m1, 1125899906842623) - 562949953421312 + 1, 0) * 49 + GREATEST(LEAST(m1, 2251799813685247) - 1125899906842624 + 1, 0) * 50 + GREATEST(LEAST(m1, 4503599627370495) - 2251799813685248 + 1, 0) * 51 + GREATEST(LEAST(m1, 9007199254740991) - 4503599627370496 + 1, 0) * 52 + GREATEST(LEAST(m1, 18014398509481983) - 9007199254740992 + 1, 0) * 53 + GREATEST(LEAST(m1, 36028797018963967) - 18014398509481984 + 1, 0) * 54 + GREATEST(LEAST(m1, 72057594037927935) - 36028797018963968 + 1, 0) * 55 + GREATEST(LEAST(m1, 144115188075855871) - 72057594037927936 + 1, 0) * 56 + GREATEST(LEAST(m1, 288230376151711743) - 144115188075855872 + 1, 0) * 57 + GREATEST(LEAST(m1, 576460752303423487) - 288230376151711744 + 1, 0) * 58 + GREATEST(LEAST(m1, 1152921504606846975) - 576460752303423488 + 1, 0) * 59 + GREATEST(LEAST(m1, 2305843009213693951) - 1152921504606846976 + 1, 0) * 60 + GREATEST(LEAST(m1, 4611686018427387903) - 2305843009213693952 + 1, 0) * 61) - (GREATEST(LEAST(m0, 3) - 2 + 1, 0) * 1 + GREATEST(LEAST(m0, 7) - 4 + 1, 0) * 2 + GREATEST(LEAST(m0, 15) - 8 + 1, 0) * 3 + GREATEST(LEAST(m0, 31) - 16 + 1, 0) * 4 + GREATEST(LEAST(m0, 63) - 32 + 1, 0) * 5 + GREATEST(LEAST(m0, 127) - 64 + 1, 0) * 6 + GREATEST(LEAST(m0, 255) - 128 + 1, 0) * 7 + GREATEST(LEAST(m0, 511) - 256 + 1, 0) * 8 + GREATEST(LEAST(m0, 1023) - 512 + 1, 0) * 9 + GREATEST(LEAST(m0, 2047) - 1024 + 1, 0) * 10 + GREATEST(LEAST(m0, 4095) - 2048 + 1, 0) * 11 + GREATEST(LEAST(m0, 8191) - 4096 + 1, 0) * 12 + GREATEST(LEAST(m0, 16383) - 8192 + 1, 0) * 13 + GREATEST(LEAST(m0, 32767) - 16384 + 1, 0) * 14 + GREATEST(LEAST(m0, 65535) - 32768 + 1, 0) * 15 + GREATEST(LEAST(m0, 131071) - 65536 + 1, 0) * 16 + GREATEST(LEAST(m0, 262143) - 131072 + 1, 0) * 17 + GREATEST(LEAST(m0, 524287) - 262144 + 1, 0) * 18 + GREATEST(LEAST(m0, 1048575) - 524288 + 1, 0) * 19 + GREATEST(LEAST(m0, 2097151) - 1048576 + 1, 0) * 20 + GREATEST(LEAST(m0, 4194303) - 2097152 + 1, 0) * 21 + GREATEST(LEAST(m0, 8388607) - 4194304 + 1, 0) * 22 + GREATEST(LEAST(m0, 16777215) - 8388608 + 1, 0) * 23 + GREATEST(LEAST(m0, 33554431) - 16777216 + 1, 0) * 24 + GREATEST(LEAST(m0, 67108863) - 33554432 + 1, 0) * 25 + GREATEST(LEAST(m0, 134217727) - 67108864 + 1, 0) * 26 + GREATEST(LEAST(m0, 268435455) - 134217728 + 1, 0) * 27 + GREATEST(LEAST(m0, 536870911) - 268435456 + 1, 0) * 28 + GREATEST(LEAST(m0, 1073741823) - 536870912 + 1, 0) * 29 + GREATEST(LEAST(m0, 2147483647) - 1073741824 + 1, 0) * 30 + GREATEST(LEAST(m0, 4294967295) - 2147483648 + 1, 0) * 31 + GREATEST(LEAST(m0, 8589934591) - 4294967296 + 1, 0) * 32 + GREATEST(LEAST(m0, 17179869183) - 8589934592 + 1, 0) * 33 + GREATEST(LEAST(m0, 34359738367) - 17179869184 + 1, 0) * 34 + GREATEST(LEAST(m0, 68719476735) - 34359738368 + 1, 0) * 35 + GREATEST(LEAST(m0, 137438953471) - 68719476736 + 1, 0) * 36 + GREATEST(LEAST(m0, 274877906943) - 137438953472 + 1, 0) * 37 + GREATEST(LEAST(m0, 549755813887) - 274877906944 + 1, 0) * 38 + GREATEST(LEAST(m0, 1099511627775) - 549755813888 + 1, 0) * 39 + GREATEST(LEAST(m0, 2199023255551) - 1099511627776 + 1, 0) * 40 + GREATEST(LEAST(m0, 4398046511103) - 2199023255552 + 1, 0) * 41 + GREATEST(LEAST(m0, 8796093022207) - 4398046511104 + 1, 0) * 42 + GREATEST(LEAST(m0, 17592186044415) - 8796093022208 + 1, 0) * 43 + GREATEST(LEAST(m0, 35184372088831) - 17592186044416 + 1, 0) * 44 + GREATEST(LEAST(m0, 70368744177663) - 35184372088832 + 1, 0) * 45 + GREATEST(LEAST(m0, 140737488355327) - 70368744177664 + 1, 0) * 46 + GREATEST(LEAST(m0, 281474976710655) - 140737488355328 + 1, 0) * 47 + GREATEST(LEAST(m0, 562949953421311) - 281474976710656 + 1, 0) * 48 + GREATEST(LEAST(m0, 1125899906842623) - 562949953421312 + 1, 0) * 49 + GREATEST(LEAST(m0, 2251799813685247) - 1125899906842624 + 1, 0) * 50 + GREATEST(LEAST(m0, 4503599627370495) - 2251799813685248 + 1, 0) * 51 + GREATEST(LEAST(m0, 9007199254740991) - 4503599627370496 + 1, 0) * 52 + GREATEST(LEAST(m0, 18014398509481983) - 9007199254740992 + 1, 0) * 53 + GREATEST(LEAST(m0, 36028797018963967) - 18014398509481984 + 1, 0) * 54 + GREATEST(LEAST(m0, 72057594037927935) - 36028797018963968 + 1, 0) * 55 + GREATEST(LEAST(m0, 144115188075855871) - 72057594037927936 + 1, 0) * 56 + GREATEST(LEAST(m0, 288230376151711743) - 144115188075855872 + 1, 0) * 57 + GREATEST(LEAST(m0, 576460752303423487) - 288230376151711744 + 1, 0) * 58 + GREATEST(LEAST(m0, 1152921504606846975) - 576460752303423488 + 1, 0) * 59 + GREATEST(LEAST(m0, 2305843009213693951) - 1152921504606846976 + 1, 0) * 60 + GREATEST(LEAST(m0, 4611686018427387903) - 2305843009213693952 + 1, 0) * 61) AS sx_g,
                 (GREATEST(LEAST(m1, 3) - 2 + 1, 0) * 1 + GREATEST(LEAST(m1, 7) - 4 + 1, 0) * 4 + GREATEST(LEAST(m1, 15) - 8 + 1, 0) * 9 + GREATEST(LEAST(m1, 31) - 16 + 1, 0) * 16 + GREATEST(LEAST(m1, 63) - 32 + 1, 0) * 25 + GREATEST(LEAST(m1, 127) - 64 + 1, 0) * 36 + GREATEST(LEAST(m1, 255) - 128 + 1, 0) * 49 + GREATEST(LEAST(m1, 511) - 256 + 1, 0) * 64 + GREATEST(LEAST(m1, 1023) - 512 + 1, 0) * 81 + GREATEST(LEAST(m1, 2047) - 1024 + 1, 0) * 100 + GREATEST(LEAST(m1, 4095) - 2048 + 1, 0) * 121 + GREATEST(LEAST(m1, 8191) - 4096 + 1, 0) * 144 + GREATEST(LEAST(m1, 16383) - 8192 + 1, 0) * 169 + GREATEST(LEAST(m1, 32767) - 16384 + 1, 0) * 196 + GREATEST(LEAST(m1, 65535) - 32768 + 1, 0) * 225 + GREATEST(LEAST(m1, 131071) - 65536 + 1, 0) * 256 + GREATEST(LEAST(m1, 262143) - 131072 + 1, 0) * 289 + GREATEST(LEAST(m1, 524287) - 262144 + 1, 0) * 324 + GREATEST(LEAST(m1, 1048575) - 524288 + 1, 0) * 361 + GREATEST(LEAST(m1, 2097151) - 1048576 + 1, 0) * 400 + GREATEST(LEAST(m1, 4194303) - 2097152 + 1, 0) * 441 + GREATEST(LEAST(m1, 8388607) - 4194304 + 1, 0) * 484 + GREATEST(LEAST(m1, 16777215) - 8388608 + 1, 0) * 529 + GREATEST(LEAST(m1, 33554431) - 16777216 + 1, 0) * 576 + GREATEST(LEAST(m1, 67108863) - 33554432 + 1, 0) * 625 + GREATEST(LEAST(m1, 134217727) - 67108864 + 1, 0) * 676 + GREATEST(LEAST(m1, 268435455) - 134217728 + 1, 0) * 729 + GREATEST(LEAST(m1, 536870911) - 268435456 + 1, 0) * 784 + GREATEST(LEAST(m1, 1073741823) - 536870912 + 1, 0) * 841 + GREATEST(LEAST(m1, 2147483647) - 1073741824 + 1, 0) * 900 + GREATEST(LEAST(m1, 4294967295) - 2147483648 + 1, 0) * 961 + GREATEST(LEAST(m1, 8589934591) - 4294967296 + 1, 0) * 1024 + GREATEST(LEAST(m1, 17179869183) - 8589934592 + 1, 0) * 1089 + GREATEST(LEAST(m1, 34359738367) - 17179869184 + 1, 0) * 1156 + GREATEST(LEAST(m1, 68719476735) - 34359738368 + 1, 0) * 1225 + GREATEST(LEAST(m1, 137438953471) - 68719476736 + 1, 0) * 1296 + GREATEST(LEAST(m1, 274877906943) - 137438953472 + 1, 0) * 1369 + GREATEST(LEAST(m1, 549755813887) - 274877906944 + 1, 0) * 1444 + GREATEST(LEAST(m1, 1099511627775) - 549755813888 + 1, 0) * 1521 + GREATEST(LEAST(m1, 2199023255551) - 1099511627776 + 1, 0) * 1600 + GREATEST(LEAST(m1, 4398046511103) - 2199023255552 + 1, 0) * 1681 + GREATEST(LEAST(m1, 8796093022207) - 4398046511104 + 1, 0) * 1764 + GREATEST(LEAST(m1, 17592186044415) - 8796093022208 + 1, 0) * 1849 + GREATEST(LEAST(m1, 35184372088831) - 17592186044416 + 1, 0) * 1936 + GREATEST(LEAST(m1, 70368744177663) - 35184372088832 + 1, 0) * 2025 + GREATEST(LEAST(m1, 140737488355327) - 70368744177664 + 1, 0) * 2116 + GREATEST(LEAST(m1, 281474976710655) - 140737488355328 + 1, 0) * 2209 + GREATEST(LEAST(m1, 562949953421311) - 281474976710656 + 1, 0) * 2304 + GREATEST(LEAST(m1, 1125899906842623) - 562949953421312 + 1, 0) * 2401 + GREATEST(LEAST(m1, 2251799813685247) - 1125899906842624 + 1, 0) * 2500 + GREATEST(LEAST(m1, 4503599627370495) - 2251799813685248 + 1, 0) * 2601 + GREATEST(LEAST(m1, 9007199254740991) - 4503599627370496 + 1, 0) * 2704 + GREATEST(LEAST(m1, 18014398509481983) - 9007199254740992 + 1, 0) * 2809 + GREATEST(LEAST(m1, 36028797018963967) - 18014398509481984 + 1, 0) * 2916 + GREATEST(LEAST(m1, 72057594037927935) - 36028797018963968 + 1, 0) * 3025 + GREATEST(LEAST(m1, 144115188075855871) - 72057594037927936 + 1, 0) * 3136 + GREATEST(LEAST(m1, 288230376151711743) - 144115188075855872 + 1, 0) * 3249 + GREATEST(LEAST(m1, 576460752303423487) - 288230376151711744 + 1, 0) * 3364 + GREATEST(LEAST(m1, 1152921504606846975) - 576460752303423488 + 1, 0) * 3481 + GREATEST(LEAST(m1, 2305843009213693951) - 1152921504606846976 + 1, 0) * 3600 + GREATEST(LEAST(m1, 4611686018427387903) - 2305843009213693952 + 1, 0) * 3721) - (GREATEST(LEAST(m0, 3) - 2 + 1, 0) * 1 + GREATEST(LEAST(m0, 7) - 4 + 1, 0) * 4 + GREATEST(LEAST(m0, 15) - 8 + 1, 0) * 9 + GREATEST(LEAST(m0, 31) - 16 + 1, 0) * 16 + GREATEST(LEAST(m0, 63) - 32 + 1, 0) * 25 + GREATEST(LEAST(m0, 127) - 64 + 1, 0) * 36 + GREATEST(LEAST(m0, 255) - 128 + 1, 0) * 49 + GREATEST(LEAST(m0, 511) - 256 + 1, 0) * 64 + GREATEST(LEAST(m0, 1023) - 512 + 1, 0) * 81 + GREATEST(LEAST(m0, 2047) - 1024 + 1, 0) * 100 + GREATEST(LEAST(m0, 4095) - 2048 + 1, 0) * 121 + GREATEST(LEAST(m0, 8191) - 4096 + 1, 0) * 144 + GREATEST(LEAST(m0, 16383) - 8192 + 1, 0) * 169 + GREATEST(LEAST(m0, 32767) - 16384 + 1, 0) * 196 + GREATEST(LEAST(m0, 65535) - 32768 + 1, 0) * 225 + GREATEST(LEAST(m0, 131071) - 65536 + 1, 0) * 256 + GREATEST(LEAST(m0, 262143) - 131072 + 1, 0) * 289 + GREATEST(LEAST(m0, 524287) - 262144 + 1, 0) * 324 + GREATEST(LEAST(m0, 1048575) - 524288 + 1, 0) * 361 + GREATEST(LEAST(m0, 2097151) - 1048576 + 1, 0) * 400 + GREATEST(LEAST(m0, 4194303) - 2097152 + 1, 0) * 441 + GREATEST(LEAST(m0, 8388607) - 4194304 + 1, 0) * 484 + GREATEST(LEAST(m0, 16777215) - 8388608 + 1, 0) * 529 + GREATEST(LEAST(m0, 33554431) - 16777216 + 1, 0) * 576 + GREATEST(LEAST(m0, 67108863) - 33554432 + 1, 0) * 625 + GREATEST(LEAST(m0, 134217727) - 67108864 + 1, 0) * 676 + GREATEST(LEAST(m0, 268435455) - 134217728 + 1, 0) * 729 + GREATEST(LEAST(m0, 536870911) - 268435456 + 1, 0) * 784 + GREATEST(LEAST(m0, 1073741823) - 536870912 + 1, 0) * 841 + GREATEST(LEAST(m0, 2147483647) - 1073741824 + 1, 0) * 900 + GREATEST(LEAST(m0, 4294967295) - 2147483648 + 1, 0) * 961 + GREATEST(LEAST(m0, 8589934591) - 4294967296 + 1, 0) * 1024 + GREATEST(LEAST(m0, 17179869183) - 8589934592 + 1, 0) * 1089 + GREATEST(LEAST(m0, 34359738367) - 17179869184 + 1, 0) * 1156 + GREATEST(LEAST(m0, 68719476735) - 34359738368 + 1, 0) * 1225 + GREATEST(LEAST(m0, 137438953471) - 68719476736 + 1, 0) * 1296 + GREATEST(LEAST(m0, 274877906943) - 137438953472 + 1, 0) * 1369 + GREATEST(LEAST(m0, 549755813887) - 274877906944 + 1, 0) * 1444 + GREATEST(LEAST(m0, 1099511627775) - 549755813888 + 1, 0) * 1521 + GREATEST(LEAST(m0, 2199023255551) - 1099511627776 + 1, 0) * 1600 + GREATEST(LEAST(m0, 4398046511103) - 2199023255552 + 1, 0) * 1681 + GREATEST(LEAST(m0, 8796093022207) - 4398046511104 + 1, 0) * 1764 + GREATEST(LEAST(m0, 17592186044415) - 8796093022208 + 1, 0) * 1849 + GREATEST(LEAST(m0, 35184372088831) - 17592186044416 + 1, 0) * 1936 + GREATEST(LEAST(m0, 70368744177663) - 35184372088832 + 1, 0) * 2025 + GREATEST(LEAST(m0, 140737488355327) - 70368744177664 + 1, 0) * 2116 + GREATEST(LEAST(m0, 281474976710655) - 140737488355328 + 1, 0) * 2209 + GREATEST(LEAST(m0, 562949953421311) - 281474976710656 + 1, 0) * 2304 + GREATEST(LEAST(m0, 1125899906842623) - 562949953421312 + 1, 0) * 2401 + GREATEST(LEAST(m0, 2251799813685247) - 1125899906842624 + 1, 0) * 2500 + GREATEST(LEAST(m0, 4503599627370495) - 2251799813685248 + 1, 0) * 2601 + GREATEST(LEAST(m0, 9007199254740991) - 4503599627370496 + 1, 0) * 2704 + GREATEST(LEAST(m0, 18014398509481983) - 9007199254740992 + 1, 0) * 2809 + GREATEST(LEAST(m0, 36028797018963967) - 18014398509481984 + 1, 0) * 2916 + GREATEST(LEAST(m0, 72057594037927935) - 36028797018963968 + 1, 0) * 3025 + GREATEST(LEAST(m0, 144115188075855871) - 72057594037927936 + 1, 0) * 3136 + GREATEST(LEAST(m0, 288230376151711743) - 144115188075855872 + 1, 0) * 3249 + GREATEST(LEAST(m0, 576460752303423487) - 288230376151711744 + 1, 0) * 3364 + GREATEST(LEAST(m0, 1152921504606846975) - 576460752303423488 + 1, 0) * 3481 + GREATEST(LEAST(m0, 2305843009213693951) - 1152921504606846976 + 1, 0) * 3600 + GREATEST(LEAST(m0, 4611686018427387903) - 2305843009213693952 + 1, 0) * 3721) AS sxx_g
          FROM p),
    a AS (SELECT CAST(SUM(t) AS HUGEINT) AS n,
                 CAST(SUM(sx_g) AS HUGEINT) AS sx,
                 CAST(SUM(sxx_g) AS HUGEINT) AS sxx,
                 CAST(SUM(t * y) AS HUGEINT) AS sy,
                 CAST(SUM(t * y * y) AS HUGEINT) AS syy,
                 CAST(SUM(y * sx_g) AS HUGEINT) AS sxy
          FROM g)
    SELECT CAST(n AS BIGINT) AS vocab_size,
           CASE WHEN n * sxx - sx * sx > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                ELSE 0.0 END AS slope,
           CASE WHEN n * sxx - sx * sx > 0
                THEN CAST(sy * sxx - sx * sxy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                ELSE 0.0 END AS intercept,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                ELSE 0.0 END AS r2
    FROM a
""",
    doc="Zipf rank-frequency OLS fit on (floor-log2 rank, floor-log2 "
        "freq) over the whole vocabulary: corpus -> vocab -> frequency "
        "histogram; descending-rank offsets via the two-phase cell "
        "prefix; per-band closed-form rank sums (no per-token rank); "
        "exact integer sufficient statistics, single-division "
        "slope/intercept.",
)


def _drift_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``ks_drift`` under the full
    correctness gate — the continuous drift-monitor service: the
    events fixture arrives as a 2-file stream (maxFilesPerTrigger=1 →
    2 micro-batches); each batch lands its two-type value-histogram
    partials via foreachBatch, and the returned frame folds the
    accumulated state through the same two-phase-prefix CDF compare as
    the batch op. Count sums are batching-insensitive, so the result
    is row-identical to ``ks_drift`` and the batch oracle applies
    verbatim. State is torn down after scoring via
    :func:`_stream_state_scored`."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    return _stream_state_scored(
        spark,
        ev,
        "drift",
        ["partials"],
        stream_windows.streaming_drift_ingest,
        stream_windows.drift_from_state,
    )


def _scd2_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``scd2_state_intervals`` under
    the full correctness gate — the continuously-maintained
    point-in-time dimension: the events fixture arrives as a 2-file
    stream (maxFilesPerTrigger=1 → 2 micro-batches, hash-distributed
    so runs interleave across batches), each batch lands its
    column-pruned events via foreachBatch, and the returned frame
    builds the SCD2 intervals from the accumulated state —
    row-identical to the batch op (the build sorts per user by
    (ts, event_id), so batching order cannot matter) and the batch
    oracle applies verbatim. State torn down via
    :func:`_stream_state_scored`."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return _stream_state_scored(
        spark,
        ev,
        "scd2",
        ["events"],
        stream_windows.streaming_event_log_ingest,
        stream_windows.scd2_from_state,
    )


QUERIES["scd2_streamed"] = QuerySpec(
    fn=_scd2_streamed,
    oracle=QUERIES["scd2_state_intervals"].oracle,
    doc="Streaming-ingest SCD2 dimension: column-pruned events land "
        "per micro-batch into a queryable catalog table (raw log IS "
        "the minimal sufficient state — intervals are not mergeable "
        "under cross-batch time interleaving), interval build at "
        "query time — the stream→table loop on the dimension side.",
)


QUERIES["drift_streamed"] = QuerySpec(
    fn=_drift_streamed,
    oracle=QUERIES["ks_drift"].oracle,
    doc="Streaming-ingest KS drift monitor: per-micro-batch mergeable "
        "two-type value-histogram partials into a queryable catalog "
        "table, CDF-compared at query time — the stream→table loop "
        "on the drift-monitoring side.",
)

_register(
    "html_clean",
    ["documents"],
    textops.html_clean,
    """
    WITH enriched AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN '<html><body class="doc"><p id="main">' || text
                         || '</p><br/><div id="footer">&lt;footer&gt; '
                         || '&amp;copy example&nbsp;inc</div></body></html>'
                    ELSE text END AS text
        FROM documents),
    cleaned AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '<[^>]*>'))
                    AS BIGINT) AS n_tags,
               trim(regexp_replace(
                   replace(replace(replace(replace(
                       regexp_replace(text, '<[^>]*>', ' ', 'g'),
                       '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
                       '&nbsp;', ' '),
                   '[ \t\n\r]+', ' ', 'g')) AS clean
        FROM enriched)
    SELECT doc_id,
           CAST(n_tags > 0 AS BIGINT) AS was_html,
           n_tags,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           CAST(('0x' || substr(md5(clean), 1, 15)) AS BIGINT)
               AS clean_sig
    FROM cleaned ORDER BY doc_id
    """,
    doc="HTML boilerplate cleaning (tag strip, entity unescape, "
        "whitespace collapse) with per-doc stats and a 60-bit cleaned-"
        "content signature: pure per-row JVM expressions, no shuffle — "
        "the gopher_rules plan shape; deterministic markup enrichment "
        "on both engines (the PII-oracle device).",
)


def _sessions_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``events_session_window`` under
    the full correctness gate — the continuously-maintained session
    table: the events fixture arrives as a 2-file stream
    (maxFilesPerTrigger=1 → 2 micro-batches, hash-distributed so user
    timelines interleave across batches), each batch lands its
    per-user session FRAGMENTS via foreachBatch (mergeable state —
    O(sessions/batch), not O(events); see
    :func:`streaming.windows.streaming_sessions_ingest` for the
    sufficiency proof), and the returned frame sweep-merges the
    accumulated fragments into the global session set — row-identical
    to the batch op, so the batch oracle applies verbatim.
    ``compact_every=1`` routes the second batch through the periodic
    fragment COMPACTION (sweep-merge re-land + floor supersession), so
    the driver stamp covers the compacted read path end-to-end. State
    torn down via :func:`_stream_state_scored`."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    return _stream_state_scored(
        spark,
        ev,
        "sess",
        ["fragments"],
        lambda s, t, checkpoint: stream_windows.streaming_sessions_ingest(
            s, t, checkpoint=checkpoint, compact_every=1
        ),
        stream_windows.sessions_from_state,
    )


QUERIES["sessions_streamed"] = QuerySpec(
    fn=_sessions_streamed,
    oracle=QUERIES["events_session_window"].oracle,
    doc="Streaming-ingest session windows: per-micro-batch gap-merged "
        "session fragments land into a queryable catalog table "
        "(fragments are a mergeable sufficient statistic — boundary "
        "sweep reconstructs the exact event-level sessions), global "
        "merge at query time — the stream→table loop on the "
        "sessionization side.",
)


def _hll_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table distinct-user monitor under the full
    correctness gate: the events fixture arrives as a 2-file stream
    (maxFilesPerTrigger=1 → 2 micro-batches), each batch lands ONE
    DataSketches HLL sketch per event_type via foreachBatch (binary
    mergeable state, a few KB per batch — the smallest state of any
    twin), and the returned frame union-folds the sketches and judges
    the estimate against the exact distinct count per type
    (bound-verdict pattern: |approx − exact| ≤ 6%·exact, ≫3σ for the
    default lgK=12 sketch at ~1.6% rsd). The union of per-batch
    sketches equals the single-pass sketch by the register-max merge
    property, so batching cannot move the estimate. State torn down
    via :func:`_stream_state_scored`."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )

    def score(spark_, sketch_table: str) -> DataFrame:
        est = stream_windows.hll_distinct_from_state(spark_, sketch_table)
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_distinct")
        )
        return (
            exact.join(est, "event_type")
            .select(
                "event_type",
                "exact_distinct",
                (
                    F.abs(F.col("approx") - F.col("exact_distinct"))
                    <= F.col("exact_distinct") * F.lit(0.06)
                ).alias("within_bound"),
            )
            .orderBy("event_type")
        )

    return _stream_state_scored(
        spark,
        ev,
        "hll",
        ["sk"],
        stream_windows.streaming_hll_ingest,
        score,
    )


QUERIES["hll_streamed"] = QuerySpec(
    fn=_hll_streamed,
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming-ingest HLL distinct-count monitor: one DataSketches "
        "sketch per (event_type, micro-batch) lands into a queryable "
        "catalog table (binary mergeable state, register-max union = "
        "single-pass sketch), union-fold + exact-judge at query time — "
        "the stream→table loop on the sketch side.",
    judge_bearing=True,
)


def _funnel_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream→queryable-table twin of ``session_funnel`` under the
    full correctness gate — the continuously-maintained conversion
    funnel: 2-micro-batch hash-distributed replay, per-batch funnel
    FRAGMENTS land via foreachBatch (mergeable sums/min/max over the
    click/purchase point set — same sufficiency proof as the session
    twin), sweep-merge + conversion flag at read — row-identical to
    the batch op, so its oracle applies verbatim. ``compact_every=1``
    routes the second batch through fragment compaction (like the
    session twin), so the stamp covers the compacted read path. State
    torn down via :func:`_stream_state_scored`."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return _stream_state_scored(
        spark,
        ev,
        "fnl",
        ["fragments"],
        lambda s, t, checkpoint: stream_windows.streaming_funnel_ingest(
            s, t, checkpoint=checkpoint, compact_every=1
        ),
        stream_windows.funnel_from_state,
    )


QUERIES["funnel_streamed"] = QuerySpec(
    fn=_funnel_streamed,
    oracle=QUERIES["session_funnel"].oracle,
    doc="Streaming-ingest sessionized conversion funnel: per-batch "
        "gap-merged funnel fragments (click/purchase counts, "
        "first-click min, last-purchase max) land into a queryable "
        "catalog table, boundary-sweep merge at query time — the "
        "stream→table loop on the conversion-analytics side.",
)
