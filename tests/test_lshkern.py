"""The shingle-hash kernel (operators/lshkern.py) against a pure-Python
reference.

Only the per-token hashes come from Spark (``xxhash64`` over
``textstats.tokens``); shingle combine, MinHash lanes, shingle sets,
SimHash votes and winnowing minima are recomputed here with plain
Python integers and compared bit for bit with what the kernel returns.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators import dedup as D
from bi_utils_spark.operators import lshkern as K
from bi_utils_spark.operators.textstats import tokens

M31 = (1 << 31) - 1
SHINGLE_P = 1_000_003
MASK64 = (1 << 64) - 1
XP1 = 0x9E3779B185EBCA87
XP2 = 0xC2B2AE3D27D4EB4F
XP3 = 0x165667B19E3779F9
XP4 = 0x85EBCA77C2B2AE63
XP5 = 0x27D4EB2F165667C5
INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def ref_xxh64_long(v: int, seed: int = 42) -> int:
    """XXH64 of one 8-byte little-endian long, plain integers."""
    k1 = _rotl((v & MASK64) * XP2 & MASK64, 31) * XP1 & MASK64
    h = ((seed + XP5 + 8) & MASK64) ^ k1
    h = (_rotl(h, 27) * XP1 + XP4) & MASK64
    h ^= h >> 33
    h = h * XP2 & MASK64
    h ^= h >> 29
    h = h * XP3 & MASK64
    h ^= h >> 32
    return h - (1 << 64) if h > INT64_MAX else h


def ref_shingles(th: list[int], n: int) -> list[int]:
    """n-token shingle hashes in document order. A document shorter
    than n yields one shingle, zero-padded past its last token."""
    h = [t % M31 for t in th]
    out = []
    for p in range(len(h)):
        if p > len(h) - n and not (len(h) < n and p == 0):
            continue
        c = h[p]
        for j in range(1, n):
            c = (c * SHINGLE_P + (h[p + j] if p + j < len(h) else 0)) % M31
        out.append(c)
    return out


def ref_minhash(sh: list[int], coeffs: list[tuple[int, int]]) -> list[int]:
    return [min((a * s + b) % M31 for s in sh) for a, b in coeffs]


def ref_simhash(sh: list[int]) -> int:
    hs = [ref_xxh64_long(s) & MASK64 for s in sh]
    fp = 0
    for i in range(64):
        if 2 * sum((h >> i) & 1 for h in hs) > len(sh):
            fp |= 1 << i
    return fp - (1 << 64) if fp > INT64_MAX else fp


def ref_winnow(sh: list[int], window: int) -> set[int]:
    return {min(sh[p : p + window]) for p in range(len(sh))}


def _corpus() -> list[tuple[int, str | None]]:
    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    fixed = [
        None,
        "",
        "   ",
        " \t\n ",
        "a",
        "a b",
        "a  B\tc",
        "x x x x x x",
        "the quick brown fox jumps over the lazy dog",
    ]
    docs = [(i, t) for i, t in enumerate(fixed)]
    for i in range(len(fixed), 120):
        docs.append(
            (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(1, 14))))
        )
    return docs


@pytest.fixture(scope="module")
def corpus(spark):
    """(docs frame, {id: token hashes}) — token hashes from Spark."""
    df = spark.createDataFrame(_corpus(), "doc_id long, text string").cache()
    th = {
        r["doc_id"]: r["th"]
        for r in df.select(
            "doc_id", F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias("th")
        ).collect()
    }
    yield df, th
    df.unpersist()


def test_xxh64_long_matches_spark(spark):
    rnd = random.Random(3)
    vals = [0, -1, 1, INT64_MIN, INT64_MAX, M31] + [
        rnd.randrange(INT64_MIN, INT64_MAX) for _ in range(200)
    ]
    got = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.xxhash64("v").alias("h")
    ).collect()
    spark_h = {r["v"]: r["h"] for r in got}
    kern = K.xxh64_long(np.array(vals, dtype=np.int64))
    for v, k in zip(vals, kern.tolist()):
        assert k == spark_h[v] == ref_xxh64_long(v), v


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
def test_minhash_and_shingle_sets(corpus, n):
    df, th = corpus
    coeffs = K.minhash_coeffs(8, seed=11)
    got = {
        r["id"]: (r["minhash"], r["sh_set"])
        for r in K.per_doc_signatures(
            df, "doc_id", "text", n, coeffs=coeffs, want_set=True
        ).collect()
    }
    # NULL text vanishes; every other doc (empty and blank included)
    # has at least one token, hence at least one shingle.
    assert set(got) == {i for i, t in th.items() if t is not None}
    for i, (mh, sh_set) in got.items():
        sh = ref_shingles(th[i], n)
        assert mh == ref_minhash(sh, coeffs), (i, n)
        assert sh_set == sorted(set(sh)), (i, n)


def test_minhash_signatures_uses_the_shared_coefficients(corpus):
    df, th = corpus
    coeffs = K.minhash_coeffs(16, seed=42)
    got = D.minhash_signatures(df, "doc_id", "text", num_hashes=16, shingle_n=3)
    for r in got.collect():
        assert r["minhash"] == ref_minhash(ref_shingles(th[r["id"]], 3), coeffs)


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_simhash64_column_and_rows(corpus, n):
    df, th = corpus
    col = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", D.simhash64("text", n).alias("fp")).collect()
    }
    rows = {
        r["id"]: r["fp"]
        for r in D.simhash64_rows(df, "doc_id", "text", n).collect()
    }
    for i, t in th.items():
        if t is None:
            assert col[i] is None and i not in rows
        else:
            assert col[i] == rows[i] == ref_simhash(ref_shingles(t, n)), (i, n)


@pytest.mark.parametrize("k,window", [(1, 1), (2, 3), (4, 5), (6, 2)])
def test_winnowing_fingerprints(corpus, k, window):
    df, th = corpus
    got: dict[int, list[int]] = {}
    for r in D.winnowing_fingerprints(df, "doc_id", "text", k, window).collect():
        got.setdefault(r["id"], []).append(r["fp"])
    want = {
        i: ref_winnow(ref_shingles(t, k), window)
        for i, t in th.items()
        if t is not None
    }
    assert {i: sorted(v) for i, v in got.items()} == {
        i: sorted(v) for i, v in want.items()
    }


def test_list_array_offsets_guard():
    arr = K._list_array(np.array([5, 6, 7]), np.array([2, 0, 1]))
    assert arr.to_pylist() == [[5, 6], [], [7]]
    with pytest.raises(ValueError, match=re.escape("maxRecordsPerBatch")):
        K._list_array(np.empty(0, dtype=np.int64), np.array([1 << 30, 1 << 30]))
