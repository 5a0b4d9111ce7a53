"""Streaming deduplication (SURVEY.md §2.12 extension) — the ingest
tier of the dedup ladder (operators/dedup.py) for continuous loads.

A landing stream re-delivers records: at-least-once sources, webhook
retries, replayed pages. Batch `dedup_exact` can't run on an
unbounded frame; the streaming form keys state by a content hash and
BOUNDS it with the event-time watermark —
``dropDuplicatesWithinWatermark`` keeps a key's state only until the
watermark passes it, so state size is (arrival rate × watermark
horizon), not corpus size. That is the correct contract for ingest
dedup: duplicates arrive close together (retries, replays), and the
exact batch tiers downstream catch anything farther apart than the
horizon.

Scale: state lives in the state store keyed by the 256-bit hash —
one shuffle on the hash per micro-batch, partials dedup map-side
first; no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bi_utils_spark.operators.dedup import content_hash


def dedup_stream_keys(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "60 minutes",
) -> DataFrame:
    """Drop re-deliveries of the same business key within the
    watermark horizon. First occurrence wins (its row passes through
    unchanged); later arrivals of the same key are discarded until
    the watermark evicts the key's state."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def dedup_stream_content(
    stream: DataFrame,
    content_cols: list[str],
    ts_col: str,
    watermark: str = "60 minutes",
    num_bits: int = 256,
) -> DataFrame:
    """Content-identity streaming dedup: the SAME identity expression
    as batch ``dedup_exact`` (shared ``content_hash`` — JSON-struct
    sha2, so ("ab","c") ≠ ("a","bc") and ("a",NULL,"b") ≠ ("a","b")),
    so a record re-delivered with a different key but identical
    content is still dropped, and a record admitted here computes the
    identical digest when re-audited by the batch tier. State is
    keyed by the fixed-width digest, never the payload."""
    hashed = stream.withColumn(
        "__content_hash", content_hash(content_cols, num_bits)
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__content_hash"])
        .drop("__content_hash")
    )


def near_dedup_stream_text(
    stream: DataFrame,
    ts_col: str,
    text_col: str = "text",
    watermark: str = "60 minutes",
    shingle_n: int = 1,
    sig_col: str = "sig64",
) -> DataFrame:
    """Streaming NEAR-dedup for text ingest — the text analogue of
    classify.near_dedup_stream_embeddings: fingerprint each arriving
    document with the batch tier's ``simhash64`` (a plain Column — a
    map-only vectorized Arrow UDF, so it runs on unbounded streams),
    then drop documents whose 64-bit signature was already admitted
    inside the watermark horizon. Catches the re-deliveries the EXACT
    content gate misses: whitespace jitter, re-serialized payloads,
    trivial token-order-preserving edits — any variant whose
    whitespace-normalized token shingles vote the same fingerprint.

    Signature parity with batch: there is one SimHash, computed by the
    shingle-hash kernel (operators/lshkern.py). ``sig_col`` equals
    ``simhash64_rows``' ``fp`` for the same text and ``shingle_n``, the
    fingerprint ``simhash_near_dup_join`` bands on — stream-gate
    survivors slot into batch banding unchanged.

    Recall is signature-equality (Hamming 0) — Hamming>0 neighbors
    within the horizon belong to the batch banded tiers; state per
    key is 8 bytes, bounded by arrival rate × horizon. The signature
    rides along in ``sig_col`` for downstream audit."""
    from bi_utils_spark.operators.dedup import simhash64

    sigs = stream.withColumn(sig_col, simhash64(text_col, shingle_n))
    return sigs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [sig_col]
    )
