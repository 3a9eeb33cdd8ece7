"""Deterministic benchmark inputs.

The store tables have the engine's fixture schemas (TPC-H-ish star
schema, ``events``, ``documents``, ``embeddings``), row counts and
value distributions as measured on the fixture files (NOTES.md,
"Inputs"). They come from a fixed data seed, so the committed
expected results stay valid; the workload seed only decides op order
and which stream slice each row belongs to.

Each table draws from its own generator, so ``documents`` and
``embeddings`` (floored at 500 rows) are identical at scale 0.001 and
0.01.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

#: Bumped whenever generated bytes change, so a checkout's cached data
#: directory is rebuilt instead of reused.
GENERATOR_VERSION = 2

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def table_rows(scale: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _rng(table: str) -> np.random.Generator:
    return np.random.default_rng([DATA_SEED, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets) -> np.ndarray:
    return np.datetime64(start, "D") + offsets.astype("timedelta64[D]")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def build_tables(scale: float) -> dict[str, pa.Table]:
    n = table_rows(scale)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )

    rng = _rng("customer")
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), i64),
            "c_name": [f"Customer#{x:09d}" for x in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
        }
    )

    rng = _rng("supplier")
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), i64),
            "s_name": [f"Supplier#{x:09d}" for x in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )

    rng = _rng("part")
    k = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), i64),
            "p_name": names[rng.integers(0, len(names), k)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
            "p_size": pa.array(rng.integers(1, 51, k), i32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2),
        }
    )

    rng = _rng("orders")
    k = n["orders"]
    order_days = rng.integers(0, 2404, k)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
            "o_orderdate": _ts(_days(dt.date(1995, 1, 1), order_days)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
        }
    )

    rng = _rng("lineitem")
    k = n["lineitem"]
    okey = rng.integers(0, n["orders"], k)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
            "l_quantity": rng.integers(1, 51, k).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _ts(
                _days(dt.date(1995, 1, 1), order_days[okey] + rng.integers(1, 95, k))
            ),
        }
    )

    rng = _rng("events")
    k = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, span_us, k)
    ).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), i64),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), k), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": np.round(rng.exponential(50.0, k) + 0.01, 2),
            "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, k)],
        }
    )

    rng = _rng("documents")
    k = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), m)])
        for m in rng.integers(10, 100, k)
    ]
    # one document in 20 is overwritten, in turn, by a copy of any
    # document (possibly an earlier copy) with " dup" appended
    for d in rng.choice(k, k // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, k))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), i64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, k, p=LANG_P)],
            "source": [f"src{d % 20}" for d in range(k)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    rng = _rng("embeddings")
    k = n["embeddings"]
    vec = rng.standard_normal((k, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, k), i32),
        }
    )
    return out


def ensure_data(cache_root: str, scale: float) -> str:
    """Return a directory holding ``<table>.parquet`` for every table,
    generating it once per checkout. Generation writes to a private
    directory and renames it into place, so a concurrent or interrupted
    run never leaves a partial data set behind."""
    final = os.path.join(cache_root, f"v{GENERATOR_VERSION}-sf{scale:g}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished first; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def slice_ids(ids: np.ndarray, seed: int, n_slices: int) -> np.ndarray:
    """Stream slice of each row: rows ordered by a seeded hash of their
    key (splitmix64 finalizer) are cut into ``n_slices`` runs of equal
    size, so every seed publishes the same amount per cycle."""
    x = ids.astype(np.uint64) ^ np.uint64((seed * 0x9E3779B97F4A7C15) % 2**64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    out = np.empty(len(ids), dtype=np.int64)
    out[np.argsort(x, kind="stable")] = np.arange(len(ids)) * n_slices // len(ids)
    return out
