"""Streaming quality gate — score-and-filter for continuous document
ingest (SURVEY.md §2.12 extension; the streaming face of
operators/textstats.py).

A crawl/landing stream should be gated BEFORE it hits the lake: score
each arriving document with the same column expressions the batch
pipeline uses (quality heuristics, language ID, token counts) and
route it by threshold. Because every signal here is a stateless
map-only projection, the gate adds ZERO streaming state — no
watermark, no state store, no shuffle; it fuses into the source scan
of each micro-batch and composes freely with the stateful stages
(streaming/dedup.py, windowed aggs) downstream.

Batch/stream parity is the point: the SAME column expressions back
the oracle-checked batch queries (q_quality_score, q_lang_id,
q_token_counts), so a document admitted by the stream gate scores
identically in any later batch re-audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.textstats import (
    language_id,
    quality_score,
    token_count,
)


def attach_quality_signals(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Add (quality, lang, n_tokens) columns — stateless, map-only,
    identical expressions to the batch scoring queries."""
    return (
        stream.withColumn("quality", quality_score(text_col))
        .withColumn("lang", language_id(text_col))
        .withColumn("n_tokens", token_count(text_col))
    )


def quality_gate(
    stream: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    allowed_langs: list[str] | None = None,
) -> DataFrame:
    """Admit only documents passing the quality/length/language
    thresholds. Stateless — safe in append mode with no watermark."""
    gated = attach_quality_signals(stream, text_col).filter(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    if allowed_langs is not None:
        gated = gated.filter(F.col("lang").isin(allowed_langs))
    return gated


def quality_split(
    stream: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> DataFrame:
    """Tag instead of drop: adds ``admitted`` bool so one stream write
    can partition into kept/quarantined paths (partitionBy) without
    running the scoring twice."""
    return attach_quality_signals(stream, text_col).withColumn(
        "admitted",
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens),
    )
