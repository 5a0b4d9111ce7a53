"""Source-mixture sampling — data mixing for pretraining corpora.

A training mix is specified as token quotas per source/domain (the
DoReMi / Pile recipe: "X% of tokens from web, Y% from code, …").
Given per-source mixture weights and a total token budget, select a
deterministic subset of documents whose per-source token mass meets
each source's quota — without ``rand()`` (irreproducible) and without
materializing per-source tables.

Selection rule: within each source, order documents by
md5(id‖salt) (the splits.py portable-hash discipline) and keep every
document whose RUNNING token total before it is below the source's
quota — i.e. the shortest hash-ordered prefix covering the quota
(the last kept doc may overshoot; quotas are met, never undershot
while data remains). Deterministic in (id, salt), stable under
repartitioning, oracle-checkable.

Scale: one shuffle on the source key; each task computes a running
sum over its own source's rows. Group count is small (sources/
domains), so per-group sequential prefix sums are the right trade; a
source too large for one task's sort should use the two-level form:
hash-bucket the source, aggregate bucket token sums, prefix over the
(tiny) bucket table, then keep whole buckets below the quota and
recurse only into the boundary bucket.

No reference counterpart; north-star LLM-pipeline surface.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize
from bi_utils_spark.operators.splits import _bucket_hex
from bi_utils_spark.operators.textstats import token_count


def source_token_counts(
    df: DataFrame, group_col: str, text_col: str = "text"
) -> DataFrame:
    """(group, n_docs, n_tokens) per-source inventory — the input to
    quota planning. One shuffle on the group key with map-side
    partials."""
    return df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(text_col)).alias("n_tokens"),
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    budget_tokens: int,
    text_col: str = "text",
    weights: Mapping[str, float] | None = None,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic quota sample: keep, per source, the hash-ordered
    document prefix whose preceding token total is below the source's
    share of ``budget_tokens``.

    ``weights`` maps group value → mixture weight (normalized over the
    mapping; groups absent from the mapping get quota 0). ``None``
    means equal shares across the groups PRESENT in the data —
    computed inside the plan (a broadcast one-row count), so the
    default needs no driver action.

    Output: input columns + ``n_tokens`` (the doc's token count).
    Every source's kept token mass ≥ its quota whenever the source has
    that much data (prefix rule: the boundary doc is kept).
    """
    nt = token_count(text_col)
    h = _bucket_hex(F.col(id_col), salt)
    staged = df.withColumn("__nt", nt).withColumn("__h", h)
    if weights is None:
        # countDistinct skips NULL groups — the SQL count(DISTINCT ...)
        # semantics the oracle uses (a NULL group gets quota 0)
        ngroups = staged.agg(F.countDistinct(group_col).alias("__ng"))
        staged = staged.crossJoin(F.broadcast(ngroups)).withColumn(
            "__quota", F.lit(float(budget_tokens)) / F.col("__ng")
        )
    else:
        total_w = float(sum(weights.values()))
        if total_w <= 0:
            raise ValueError("weights must sum to a positive number")
        expr = None
        for g, wv in weights.items():
            q = budget_tokens * float(wv) / total_w
            cond = F.col(group_col) == g
            expr = F.when(cond, F.lit(q)) if expr is None else expr.when(
                cond, F.lit(q)
            )
        staged = staged.withColumn("__quota", expr.otherwise(F.lit(0.0)))
    w = (
        Window.partitionBy(group_col)
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        staged.withColumn("__cum_before", F.coalesce(F.sum("__nt").over(w), F.lit(0)))
        .filter(F.col("__cum_before") < F.col("__quota"))
        .withColumn("n_tokens", F.col("__nt"))
        .drop("__nt", "__h", "__quota", "__cum_before", "__ng")
    )
    return out


def mixture_sample_bucketed(
    df: DataFrame,
    id_col: str,
    group_col: str,
    budget_tokens: int,
    text_col: str = "text",
    weights: Mapping[str, float] | None = None,
    salt: str = "mix",
    bucket_hex_chars: int = 3,
) -> DataFrame:
    """Two-level form of :func:`mixture_sample` — IDENTICAL output
    (asserted in tests), built for groups too large to prefix-sum in
    one task.

    The hash order is refined through its own prefix: rows are
    bucketed by the first ``bucket_hex_chars`` hex chars of the hash
    (16^3 = 4096 buckets), so ordering by (bucket, hash) equals
    ordering by hash. Then:

    1. per-(group, bucket) token sums — one small aggregate;
    2. running bucket totals per group — a window over ≤ 4096 rows
       per group, not the corpus;
    3. per-row running totals WITHIN each (group, bucket) — windows
       over ~n/4096 rows each, fully parallel;
    4. keep where bucket_offset + within_bucket_offset < quota.

    No task ever sorts more than a bucket's rows, so a single source
    holding half a 100 TB corpus still parallelizes across 4096
    tasks; the one-level form would serialize it in one window
    partition.
    """
    nt = token_count(text_col)
    h = _bucket_hex(F.col(id_col), salt)
    staged = (
        df.withColumn("__nt", nt)
        .withColumn("__h", h)
        .withColumn("__b", F.substring("__h", 1, bucket_hex_chars))
    )
    if weights is None:
        # countDistinct skips NULL groups — the SQL count(DISTINCT ...)
        # semantics the oracle uses (a NULL group gets quota 0)
        ngroups = staged.agg(F.countDistinct(group_col).alias("__ng"))
        staged = staged.crossJoin(F.broadcast(ngroups)).withColumn(
            "__quota", F.lit(float(budget_tokens)) / F.col("__ng")
        )
    else:
        total_w = float(sum(weights.values()))
        if total_w <= 0:
            raise ValueError("weights must sum to a positive number")
        expr = None
        for g, wv in weights.items():
            q = budget_tokens * float(wv) / total_w
            cond = F.col(group_col) == g
            expr = F.when(cond, F.lit(q)) if expr is None else expr.when(
                cond, F.lit(q)
            )
        staged = staged.withColumn("__quota", expr.otherwise(F.lit(0.0)))
    bsums = staged.groupBy(F.col(group_col).alias("__g"), F.col("__b").alias("__bb")).agg(
        F.sum("__nt").alias("__bt")
    )
    bw = (
        Window.partitionBy("__g")
        .orderBy("__bb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bsums.withColumn(
        "__boff", F.coalesce(F.sum("__bt").over(bw), F.lit(0))
    ).select("__g", "__bb", "__boff")
    rw = (
        Window.partitionBy(group_col, "__b")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        staged.join(
            F.broadcast(boff),
            (F.col(group_col) == F.col("__g")) & (F.col("__b") == F.col("__bb")),
        )
        .withColumn("__roff", F.coalesce(F.sum("__nt").over(rw), F.lit(0)))
        .filter(F.col("__boff") + F.col("__roff") < F.col("__quota"))
        .withColumn("n_tokens", F.col("__nt"))
        .drop(
            "__nt", "__h", "__b", "__quota", "__ng",
            "__g", "__bb", "__boff", "__roff",
        )
    )


def curriculum_order(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    num_phases: int = 4,
    salt: str = "curr",
    bucket_hex_chars: int = 3,
    reuse: bool = True,
) -> DataFrame:
    """Curriculum addresses (phase, pos): band rows into
    ``num_phases`` fluency phases (phase 0 = highest ``score_col`` —
    train easy-to-hard by consuming phases in order) and give each row
    a deterministic position within its phase.

    Banding uses the exact percent-rank CDF
    (operators/filtering.py::attach_percent_rank — two-level bucketed
    CDF, no corpus-wide sort even for continuous scores); within-phase
    order is the md5-hash discipline of :func:`mixture_sample`.
    Positions are TWO-LEVEL like :func:`mixture_sample_bucketed`: rows
    sub-bucket on the first ``bucket_hex_chars`` hex chars of the hash
    (ordering by (bucket, hash) == ordering by hash), row_number runs
    per (phase, bucket) — tasks sort ~n/(num_phases·4096) rows, never
    a whole phase — and broadcast per-bucket offsets lift the local
    ranks to phase-global positions. Reproducible under
    repartitioning and oracle-checkable.

    ``reuse`` (default True, VERDICT r4 #6): the ranked-and-banded
    frame feeds TWO consumers — the per-(phase, bucket) counts and
    the final position join — which would otherwise each re-run the
    upstream scoring + rank join. It is materialized once at the
    fan-out point (the q_llm_pipeline shared-stage discipline); pass
    ``reuse=False`` to keep the plan fully lazy (e.g. when the caller
    already materialized upstream).
    """
    from bi_utils_spark.operators.filtering import attach_percent_rank

    pr = attach_percent_rank(scored, score_col, "__pr")
    phase = F.least(
        F.floor((F.lit(1.0) - F.col("__pr")) * num_phases),
        F.lit(num_phases - 1),
    ).cast("int")
    h = _bucket_hex(F.col(id_col), salt)
    staged = (
        pr.withColumn("phase", phase)
        .withColumn("__h", h)
        .withColumn("__b", F.substring("__h", 1, bucket_hex_chars))
    )
    if reuse:
        staged = materialize(staged)
    bcnt = staged.groupBy("phase", "__b").agg(F.count("*").alias("__c"))
    bw = (
        Window.partitionBy("phase")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bcnt.withColumn(
        "__boff", F.coalesce(F.sum("__c").over(bw), F.lit(0))
    ).select("phase", "__b", "__boff")
    rw = Window.partitionBy("phase", "__b").orderBy("__h", id_col)
    out_cols = list(scored.columns) + ["phase", "pos"]
    return (
        staged.join(F.broadcast(boff), ["phase", "__b"])
        .withColumn(
            "pos", (F.col("__boff") + F.row_number().over(rw)).cast("int")
        )
        .select(*out_cols)
    )
