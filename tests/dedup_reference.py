"""Pure-Python references for the dedup kernels.

:func:`naive_shingle_set` tokenizes on its own, so the tests compare
the package's Arrow kernels (:func:`~flink_snappydata_spark.pipeline.
dedup._shingle_set` and the kernels built on it) against code that
shares nothing with them but the hash constants.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

from flink_snappydata_spark.pipeline.dedup import (
    _HASH_A,
    _HASH_B,
    _P32,
    LSH_BANDS,
    LSH_ROWS,
    SHINGLE_N,
)


def naive_shingle_set(text: str, n: int = 3) -> set[str]:
    """The distinct word n-grams of ``text`` (ASCII ``\\W+`` split of
    the lower-cased text); a text of fewer than ``n`` words is one
    whole-text shingle."""
    ws = [w for w in re.split(r"\W+", text.lower(), flags=re.ASCII) if w]
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def minhash_band_hashes(
    text: str, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> list[int]:
    """The ``bands`` LSH band hashes of one text: MinHash over the crc32
    of each distinct word-trigram shingle, then an FNV-style polynomial
    combine of each band's ``rows`` signature values."""
    sh = naive_shingle_set(text, SHINGLE_N)
    k = bands * rows
    a = np.array(_HASH_A[:k], dtype=np.uint64)[:, None]
    b = np.array(_HASH_B[:k], dtype=np.uint64)[:, None]
    x = np.array([zlib.crc32(s.encode()) for s in sh], dtype=np.uint64)
    sig = ((a * x[None, :] + b) % np.uint64(_P32)).min(axis=1)
    bh = np.zeros(bands, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            bh = bh * np.uint64(1099511628211) + sig.reshape(bands, rows)[:, r]
    return bh.astype(np.int64).tolist()
