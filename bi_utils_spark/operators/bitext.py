"""Bitext mining — margin-based parallel-pair extraction between two
embedding spaces (Artetxe & Schwenk 2019, the LASER/CCMatrix recipe):
a translation pair is not just "high cosine" but "high cosine
RELATIVE to each side's neighborhood density", scored by the ratio
margin

    margin(x, y) = cos(x, y) / ( (avgₖ cos(x, NNₖ(x in tgt))
                                 + avgₖ cos(y, NNₖ(y in src))) / 2 )

which cancels the hubness that makes plain cosine thresholds useless
across languages. The standard mining step for assembling parallel
training corpora from comparable crawls.

Composition: both directions run the existing retrieval kNN join
(similarity.knn_join_exact — broadcast queries, one ranked shuffle;
swap in knn_join_blocked / the IVF index for 10⁹-scale sides), the
per-vector neighborhood mass is one tiny aggregate over the k-NN
rows, and candidates are the forward pairs joined to both masses on
their keyed ids. No all-pairs join outside the kNN primitive chosen.

Determinism: cosine scores arrive rounded to 1e-9 (the knn_join
contract); neighborhood sums quantize each score to 1e-9 fixed point
and sum as BIGINTs, so the margin is one exact integer-ratio division
— bit-identical under any partitioning and engine, hash-exact against
the DuckDB oracle.

No reference counterpart; north-star LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize

_Q9 = 1e9


def _qscore(c: str) -> Column:
    return F.round(F.col(c) * F.lit(_Q9)).cast("long")


def mine_bitext(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    src_id: str = "vec_id",
    tgt_id: str = "vec_id",
    vec_col: str = "embedding",
    min_margin: float | None = None,
    knn=None,
) -> DataFrame:
    """(src_id, tgt_id, score, margin, mutual_best) — forward-mined
    candidate pairs: for every source vector its k target neighbors,
    margin-scored with both sides' neighborhood masses;
    ``mutual_best`` marks pairs where each side is the other's rank-1
    neighbor (the high-precision subset). ``min_margin`` filters
    (ratio margins > 1 mean "closer than the neighborhood average";
    CCMatrix-style pipelines use ~1.06). Averages divide by each
    side's ACTUAL neighbor count (a side smaller than k returns
    fewer), and a non-positive denominator yields NULL margin (which
    fails any min_margin filter) — identically on both engines.

    ``knn``: the neighbor primitive, any callable with
    knn_join_exact's signature returning (query_id, neighbor_id,
    score, rank). Default is the exact join (oracle-hashable); pass
    ``similarity.knn_join_blocked`` (per-partition numpy top-k) or an
    IVF-probe wrapper when either side reaches 10⁸+ — margins are a
    pure function of the returned neighbor lists, so the mining logic
    is unchanged by the substitution."""
    if knn is None:
        from bi_utils_spark.operators.similarity import knn_join_exact

        knn = knn_join_exact
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Each kNN leg feeds THREE consumers (mass aggregate, candidate
    # projection, rank-1 best set) / two for the backward leg. The
    # legs are the expensive subtrees (an all-pairs scoring join in
    # the exact form), so cut the lineage once per leg — without the
    # cut every consumer re-executes its whole kNN join (the plan
    # carried 5 scoring legs; with it, 2). |src|·k rows per leg.
    fwd = materialize(knn(src, tgt, k, src_id, tgt_id, vec_col))
    bwd = materialize(knn(tgt, src, k, tgt_id, src_id, vec_col))

    # per-vector neighborhood mass AND actual neighbor count: Σ of
    # 1e-9-quantized neighbor scores (exact BIGINT — an avg of
    # doubles would be summation-order-dependent) + count(*), because
    # a side smaller than k returns fewer neighbors and the averages
    # must divide by the REAL counts, not k; |src|+|tgt| rows, keyed
    fmass = fwd.groupBy("query_id").agg(
        F.sum(_qscore("score")).alias("__fq"), F.count("*").alias("__fn")
    )
    bmass = bwd.groupBy("query_id").agg(
        F.sum(_qscore("score")).alias("__bq"), F.count("*").alias("__bn")
    )
    cand = fwd.select(
        F.col("query_id").alias("__sid"),
        F.col("neighbor_id").alias("__tid"),
        F.col("score"),
        _qscore("score").alias("__sq"),
    )
    # margin = score / ((fΣ/fn + bΣ/bn)/2)
    #        = 2·score_q·fn·bn / (fΣ·bn + bΣ·fn) —
    # one exact integer ratio, no float accumulation anywhere
    # (|fΣ·bn| ≤ k²·1e9, far inside BIGINT). A non-positive
    # denominator (all-orthogonal or negative neighborhoods) has no
    # meaningful margin: NULL on both engines, and a NULL margin
    # fails any min_margin filter.
    den = (
        F.col("__fq") * F.col("__bn") + F.col("__bq") * F.col("__fn")
    ).cast("double")
    num = (
        F.lit(2) * F.col("__sq") * F.col("__fn") * F.col("__bn")
    ).cast("double")
    joined = (
        cand.join(fmass.withColumnRenamed("query_id", "__sid"), "__sid")
        .join(bmass.withColumnRenamed("query_id", "__tid"), "__tid")
        .withColumn(
            "margin", F.when(den > 0, num / den).otherwise(F.lit(None))
        )
    )
    best_f = fwd.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("__sid"), F.col("neighbor_id").alias("__tid")
    )
    best_b = bwd.filter(F.col("rank") == 1).select(
        F.col("neighbor_id").alias("__sid"), F.col("query_id").alias("__tid")
    )
    mutual = best_f.join(best_b, ["__sid", "__tid"], "left_semi").withColumn(
        "__mb", F.lit(True)
    )
    out = (
        joined.join(mutual, ["__sid", "__tid"], "left")
        .select(
            F.col("__sid").alias(src_id if src_id != tgt_id else "src_id"),
            F.col("__tid").alias(tgt_id if src_id != tgt_id else "tgt_id"),
            "score",
            "margin",
            F.coalesce(F.col("__mb"), F.lit(False)).alias("mutual_best"),
        )
    )
    if min_margin is not None:
        out = out.filter(F.col("margin") >= min_margin)
    return out
