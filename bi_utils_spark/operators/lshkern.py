"""The shingle-hash kernel: the one place text becomes shingle hashes.

Every near-dup operator in ``operators/dedup.py`` — exact Jaccard,
MinHash, SimHash, winnowing — and the streaming SimHash gate read
their shingle hashes from here. Tokenization and per-token
``xxhash64`` stay in the JVM as one map-only projection
(``transform(tokens(text), xxhash64)``), so token hashes are Spark's
own. The shingle combine and everything built on it run per Arrow
batch in vectorized numpy:

- :func:`per_doc_signatures` — one ``mapInArrow`` pass yielding, per
  document, the MinHash lanes, the distinct shingle-hash set and/or
  the winnowed fingerprint set. No exchange anywhere: the corpus
  ships signatures (16–512 B/doc), never token rows.
- :func:`simhash64` — the 64-bit SimHash as a scalar ``arrow_udf``
  Column, so it runs on streams as well as batches
  (``dedup.simhash64`` re-exports it).

Shingle contract: token hashes are taken mod M31 and n consecutive
ones combine as ``c = (c·P + h) mod M31``. A document shorter than n
tokens yields ONE shingle, zero-padded past its last token; every
non-NULL document has at least one token (``tokens("")`` is ``[""]``),
hence at least one shingle.

Exactness: every arithmetic step is int64 with proven headroom
(shingle combine < 2⁵², lane affine map < 2⁶³), ``np.mod`` matches
Spark's ``pmod`` for positive moduli, and the one hash computed in
numpy — ``xxhash64`` over the int64 shingle hash that the SimHash
votes use — is Spark's XXH64 long fast path replicated in uint64.
tests/test_lshkern.py pins all of it against a pure-Python reference.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.textstats import tokens

_M31 = (1 << 31) - 1  # Mersenne-31: a·h + b stays within int64
_SHINGLE_P = 1_000_003  # shingle combine multiplier
_INT32_MAX = np.iinfo(np.int32).max

# XXH64 primes (public domain reference constants)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def xxh64_long(v: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark ``xxhash64`` over a BIGINT column, vectorized: XXH64's
    8-byte fast path (hashLong) with Spark's default seed 42 —
    bit-identical to ``F.xxhash64(col.cast("long"))``."""
    x = np.ascontiguousarray(v).view(np.uint64)
    with np.errstate(over="ignore"):
        k1 = x * _P2
        k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
        k1 = k1 * _P1
        h = (np.uint64(seed) + _P5 + np.uint64(8)) ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * _P1 + _P4
        h = h ^ (h >> np.uint64(33))
        h = h * _P2
        h = h ^ (h >> np.uint64(29))
        h = h * _P3
        h = h ^ (h >> np.uint64(32))
    return h.view(np.int64)


def minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The MinHash family h_i(x) = (a_i·x + b_i) mod M31: ``num_hashes``
    (a, b) pairs drawn from ``random.Random(seed)``."""
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _M31), rnd.randrange(0, _M31))
        for _ in range(num_hashes)
    ]


def _token_hashes(text: Column | str) -> Column:
    """Per-doc ``array<bigint>`` of token hashes, computed in the JVM
    (codegen): ``xxhash64`` of every ``textstats.tokens`` token."""
    return F.transform(tokens(text), lambda t: F.xxhash64(t))


def _flat_token_hashes(th: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A NULL-free list<bigint> Arrow array → (all token hashes
    concatenated, per-doc token counts)."""
    lengths = pc.list_value_length(th).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(th).to_numpy(zero_copy_only=False)
    return flat.astype(np.int64, copy=False), lengths.astype(np.int64)


def _flat_shingles(
    flat_th: np.ndarray, lengths: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes over a flattened batch: token hashes of all docs
    concatenated (``flat_th``) with per-doc token counts (``lengths``)
    → (flat shingle hashes in document order, per-doc shingle counts).
    Implements the module's shingle contract, zero padding and the
    short-document single shingle included."""
    h = np.mod(flat_th.astype(np.int64, copy=False), _M31)
    if n == 1:
        return h, lengths
    total = int(h.shape[0])
    if total == 0:
        return h, lengths
    len_rep = np.repeat(lengths, lengths)
    starts_rep = np.repeat(
        np.concatenate(([0], np.cumsum(lengths)[:-1])), lengths
    )
    pos = np.arange(total, dtype=np.int64) - starts_rep
    dist_end = len_rep - pos  # tokens remaining, current included
    c = h.copy()
    for j in range(1, n):
        nxt = np.zeros_like(h)
        nxt[:-j] = h[j:]
        nxt[dist_end <= j] = 0  # zero-pad past the doc's last token
        c = np.mod(c * _SHINGLE_P + nxt, _M31)
    keep = (pos <= len_rep - n) | ((len_rep < n) & (pos == 0))
    counts = np.where(lengths >= n, lengths - n + 1, np.int64(1))
    return c[keep], counts.astype(np.int64, copy=False)


def _lane_minima(
    sh: np.ndarray, counts: np.ndarray, coeffs: list[tuple[int, int]]
) -> np.ndarray:
    """(ndocs, k) per-doc minima of (a·sh + b) mod M31 — the minhash
    lanes. a, sh < 2³¹ keeps a·sh + b < 2⁶³: int64-exact."""
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.empty((counts.shape[0], len(coeffs)), dtype=np.int64)
    for i, (a, b) in enumerate(coeffs):
        lane = np.mod(np.int64(a) * sh + np.int64(b), _M31)
        out[:, i] = np.minimum.reduceat(lane, starts)
    return out


def _doc_unique(
    sh: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc distinct shingle hashes over the flat batch: composite
    (doc << 31) | sh keys (sh ∈ [0, 2³¹)) make one np.unique do every
    doc at once. Returns (flat distinct values, per-doc counts)."""
    doc = np.repeat(
        np.arange(counts.shape[0], dtype=np.int64), counts
    )
    key = np.unique((doc << np.int64(31)) | sh)
    udoc = key >> np.int64(31)
    uval = key & np.int64(_M31)
    ucounts = np.bincount(udoc, minlength=counts.shape[0]).astype(np.int64)
    return uval, ucounts


def _winnow(
    sh: np.ndarray, counts: np.ndarray, window: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc distinct winnowing fingerprints: the minimum of the
    ``window`` shingle hashes starting at each position, the window
    clipped at the document's end (one minimum per shingle position).
    M31 pads past the end — every shingle hash is below it."""
    idx = np.arange(sh.shape[0], dtype=np.int64)
    end = np.repeat(np.cumsum(counts), counts)
    m = sh.copy()
    for j in range(1, window):
        nxt = np.full_like(sh, _M31)
        nxt[:-j] = sh[j:]
        nxt[idx + j >= end] = _M31
        np.minimum(m, nxt, out=m)
    return _doc_unique(m, counts)


def _simhash_fp(sh: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-doc 64-bit SimHash from the flat shingle hashes: bit i of
    the fingerprint is set iff 2·Σ bit_i(xxhash64(sh)) > n, n the
    doc's shingle count (Charikar's sign vote)."""
    h64 = xxh64_long(sh)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    nd = counts.shape[0]
    fpbits = np.zeros((nd, 64), dtype=bool)
    for i in range(64):
        bit = (h64 >> np.int64(i)) & np.int64(1)
        votes = np.add.reduceat(bit, starts)
        fpbits[:, i] = votes * 2 > counts
    packed = np.packbits(fpbits, axis=1, bitorder="little")
    return np.ascontiguousarray(packed).view(np.int64).ravel()


def _list_array(values: np.ndarray, counts: np.ndarray) -> pa.ListArray:
    """list<bigint> Arrow array from the flat values and per-row
    lengths. List offsets are int32; a batch whose lengths sum past
    2³¹ − 1 would wrap silently, so it is refused instead."""
    offs = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
    if offs[-1] > _INT32_MAX:
        raise ValueError(
            f"one Arrow batch would hold {int(offs[-1])} list elements, "
            "more than int32 list offsets address; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    return pa.ListArray.from_arrays(
        pa.array(offs.astype(np.int32)), pa.array(values, type=pa.int64())
    )


def per_doc_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    coeffs: list[tuple[int, int]] | None = None,
    want_set: bool = False,
    window: int | None = None,
) -> DataFrame:
    """One map-only pass: (id[, minhash][, sh_set][, wfp]) per doc.

    ``minhash`` holds one lane per (a, b) in ``coeffs``; ``sh_set``
    the doc's distinct shingle hashes; ``wfp`` its distinct winnowing
    fingerprints over ``window`` consecutive shingles. Both sets come
    sorted (consumers are set-algebraic). Rows whose text is NULL
    vanish. The kernel works per row, so ids must be unique for a row
    to be a document. The plan is Scan → Project(tokens/xxhash64) →
    MapInArrow: no exchange."""
    id_dt = df.schema[id_col].dataType.simpleString()
    out_fields = [f"id {id_dt}"]
    if coeffs is not None:
        out_fields.append("minhash array<bigint>")
    if want_set:
        out_fields.append("sh_set array<bigint>")
    if window is not None:
        out_fields.append("wfp array<bigint>")
    names = [f.split(" ")[0] for f in out_fields]
    n = shingle_n
    cfs = list(coeffs) if coeffs is not None else None

    th_df = df.select(
        F.col(id_col).alias("id"), _token_hashes(text_col).alias("__th")
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.column(1).null_count:
                rb = rb.filter(pc.is_valid(rb.column(1)))
            if not rb.num_rows:
                continue
            sh, counts = _flat_shingles(*_flat_token_hashes(rb.column(1)), n)
            arrays: list[pa.Array] = [rb.column(0)]
            if cfs is not None:
                arrays.append(
                    _list_array(
                        _lane_minima(sh, counts, cfs).ravel(),
                        np.full(rb.num_rows, len(cfs)),
                    )
                )
            if want_set:
                arrays.append(_list_array(*_doc_unique(sh, counts)))
            if window is not None:
                arrays.append(_list_array(*_winnow(sh, counts, window)))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return th_df.mapInArrow(run, schema=", ".join(out_fields))


def simhash64(c: Column | str, shingle_n: int = 1) -> Column:
    """64-bit SimHash of the text column ``c`` over its
    ``shingle_n``-token shingles; NULL text gives NULL. Charikar's
    construction: every shingle hash votes on every bit and the
    fingerprint takes the majority bit-wise. A scalar ``arrow_udf`` on
    the JVM token-hash array, so it stays a plain Column (map-only,
    stream-safe)."""

    def fp(th: pa.Array) -> pa.Array:
        valid = th.is_valid().to_numpy(zero_copy_only=False)
        out = np.zeros(len(th), dtype=np.int64)
        if valid.any():
            flat, lengths = _flat_token_hashes(th.filter(pa.array(valid)))
            out[valid] = _simhash_fp(*_flat_shingles(flat, lengths, shingle_n))
        return pa.array(out, mask=~valid)

    return F.arrow_udf(fp, "long")(_token_hashes(c))
