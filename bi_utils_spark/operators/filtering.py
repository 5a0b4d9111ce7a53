"""Score-quantile corpus filtering — "keep the top X% by quality".

The curation step after scoring (textstats.quality_score,
lm.unigram_logprob_scores): select rows by their rank position in the
corpus-wide score distribution rather than by a fixed threshold that
drifts with the corpus mix.

Scale shape — the naive plan (percent_rank window over the whole
corpus) is a single-partition global sort, a non-starter at 100 TB.
Instead the exact path computes a TWO-LEVEL CDF over DISTINCT scores
(the same bucket-then-prefix discipline as mixing.py's
mixture_sample_bucketed), which stays parallel even when the score is
continuous and |distinct| ≈ |corpus| (e.g. per-doc avg_logprob):

1. ``groupBy(score)`` count — one shuffle, map-side partials; output
   is |distinct scores| rows;
2. one bounded driver aggregate fetches ~``num_buckets`` approximate
   split points over the distinct-score table (the sampling job
   Spark's own range partitioner would run) and bakes them into the
   plan as literals — bucket placement only steers parallelism, the
   rank arithmetic is exact for ANY boundaries;
3. per-bucket cumulative counts run in parallel partitioned windows;
   cross-bucket offsets (and the grand total) come from one bounded
   driver fetch of the ≤ num_buckets bucket totals, prefix-summed and
   baked back as a literal map — no unpartitioned window anywhere in
   the plan;
4. rows join back on score (AQE picks broadcast when the kept-score
   set is small). Corpus rows are never globally sorted.

Ties share a rank by definition (SQL ``percent_rank`` semantics:
rows-strictly-below / (n − 1)), so the kept set is deterministic and
engine-portable — the DuckDB oracle's ``percent_rank() OVER (ORDER BY
score)`` computes the identical value.

For monotone pipelines that only need an approximate cut,
:func:`quantile_thresholds` gives the one-pass sketch path
(``percentile_approx``) whose thresholds broadcast into a map-only
filter — no join at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.functions.litarrays import lit_double_array


def attach_percent_rank(
    df: DataFrame,
    score_col: str,
    out_col: str = "pr",
    num_buckets: int | None = None,
) -> DataFrame:
    """df + exact SQL ``percent_rank`` of ``score_col`` over the whole
    frame, computed without a corpus-wide sort OR a single-partition
    window (see module docstring). Numeric scores are range-bucketed
    via one bounded driver aggregate (~``num_buckets`` approximate
    split points, baked as literals — deterministic downstream plan);
    non-numeric scores fall back to one bucket (distinct values of a
    non-numeric score are assumed bounded). Single-row frames get
    rank 0 (the SQL convention).

    ``num_buckets`` defaults to the session shuffle width capped at
    1024 (r7, matching :func:`bucketed_distinct_cdf`): buckets beyond
    the shuffle width buy no parallelism but inflate the split-point
    job's probe count — rank VALUES are provably identical for any
    boundary set, so the default change is plan-only.

    Plan-build shape: TWO bounded driver jobs (the split-point probe
    and the bucket-totals fetch) each aggregate the distinct-score
    counts, and the returned plan aggregates them once more at exec.
    No storage outlives the call. A caller whose ``df`` is expensive
    to compute materializes it first (operators.materialize), so
    all three read stored rows. Offsets stay baked literals so the
    plan carries NO unpartitioned window (the repo canary) — see the
    lambda-reinlining note below for why the fetch derives from the
    aggregate, never a keys-only projection (measured 38 s vs 0.7 s
    at sf0.1 on quality_score when the aggregate collapses)."""
    return _attach_percent_rank_impl(df, score_col, out_col, num_buckets)


def _apr_plan(
    df: DataFrame, score_col: str, num_buckets: int
) -> DataFrame:
    """Shared percent-rank machinery: the distinct-score counts frame
    with its range bucket attached — see attach_percent_rank.

    The aggregate boundary keeps the lambda-reinlining collapse
    structurally impossible: __cnt is aggregated, so the probe plans
    below can't be pruned into a raw scan."""
    from pyspark.sql.types import NumericType

    counts = df.groupBy(score_col).agg(F.count("*").alias("__cnt"))
    bounds: list[float] = []
    if isinstance(df.schema[score_col].dataType, NumericType) and num_buckets > 1:
        probs = [i / num_buckets for i in range(1, num_buckets)]
        qrow = counts.agg(
            F.percentile_approx(
                F.col(score_col).cast("double"), probs, 100
            ).alias("q")
        ).first()
        bounds = sorted({b for b in (qrow["q"] or []) if b is not None})
    if bounds:
        barr = lit_double_array(bounds)
        sc = F.col(score_col).cast("double")
        # count of boundaries strictly below the score: monotone in
        # the score, so bucket order == score order; equal scores
        # (and NULLs, which sort first and land in bucket 0) share a
        # bucket. The lambda must only ever compare against the score
        # ATTRIBUTE coming out of the counts aggregate (cheap, per
        # distinct score) — see the offsets comment below for the
        # optimizer hazard when a consumer lets the aggregate
        # collapse.
        bucket = F.size(F.filter(barr, lambda x: x < sc))
    else:
        bucket = F.lit(0)
    return counts.withColumn("__bk", bucket)


def _attach_percent_rank_impl(
    df: DataFrame, score_col: str, out_col: str, num_buckets: int | None
) -> DataFrame:
    if num_buckets is None:
        num_buckets = min(
            1024,
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        )
    b = _apr_plan(df, score_col, num_buckets)
    w_in = (
        Window.partitionBy("__bk")
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inner = b.withColumn(
        "__within", F.coalesce(F.sum("__cnt").over(w_in), F.lit(0))
    )
    # Cross-bucket offsets and the grand total: ONE bounded driver
    # fetch of the ≤ num_buckets bucket totals, prefix-summed in
    # Python and baked back as a literal map. A distributed
    # formulation (window/self-join over the totals) either trips the
    # no-unpartitioned-window canary or plans a nested-loop join; and
    # any consumer that needs only __bk lets column pruning +
    # RemoveRedundantAggregates collapse the counts aggregate and
    # re-inline the raw score EXPRESSION into the bucket lambda over
    # the raw scan — re-evaluated per array element per corpus row,
    # since Catalyst CSE stops at lambda boundaries. The fetch
    # derives from `b` (the aggregate is irreducible there: __cnt is
    # aggregated), never from a keys-only projection.
    btot_rows = sorted(
        b.groupBy("__bk").agg(F.sum("__cnt").alias("__bt")).collect(),
        key=lambda r: r["__bk"],
    )
    total = sum(r["__bt"] for r in btot_rows)
    off_map: dict[int, int] = {}
    off = 0
    for r in btot_rows:
        off_map[r["__bk"]] = off
        off += r["__bt"]
    if off_map:
        boff = F.element_at(
            F.create_map(*[F.lit(x) for kv in off_map.items() for x in kv]),
            F.col("__bk"),
        )
    else:
        boff = F.lit(0)
    below = F.coalesce(boff, F.lit(0)) + F.col("__within")
    pr = (
        F.lit(0.0)
        if total <= 1
        else below.cast("double") / F.lit(float(total - 1))
    )
    # Null-safe equi-join: a NULL score is a legitimate rank group
    # (SQL ranks NULLs first); a plain name-list join would silently
    # DROP those rows (NULL = NULL is never true). eqNullSafe is still
    # an equi-join key for the planner — hash/broadcast, no BNLJ.
    ranked = inner.select(F.col(score_col).alias("__prk"), pr.alias(out_col))
    return df.join(
        ranked, F.col(score_col).eqNullSafe(F.col("__prk")), "inner"
    ).drop("__prk")


def attach_percent_ranks(
    df: DataFrame,
    specs: Sequence[tuple[str, str]],
    num_buckets: int | None = None,
) -> DataFrame:
    """df + the exact SQL ``percent_rank`` of SEVERAL numeric columns
    in one pass: ``specs`` is [(score_col, out_col), ...].

    Same rank arithmetic per column as :func:`attach_percent_rank`
    (two-level bucketed CDF, ties share ranks, NULLs rank first) but
    the per-column plan-build driver jobs collapse: the melted
    (metric, value) frame is counted once, ONE bounded job fetches
    every metric's split points (grouped percentile_approx), ONE
    fetches every metric's bucket totals — two driver jobs total
    instead of two per column. rfm_scores' three ranks motivated it
    (guide §1.2: fewer sequential round trips is the distributed-
    algorithm lever at any scale).

    Values are cast to double for the shared melt column — exact for
    integers up to 2⁵³ (the caller's columns must satisfy that, as
    any percent-rank over doubles already assumes); each column's
    ranks join back null-safely on the original column's cast."""
    if not specs:
        return df
    if num_buckets is None:
        num_buckets = min(
            1024,
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        )
    melt = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("__m"),
                        F.col(c).cast("double").alias("__v"),
                    )
                    for i, (c, _) in enumerate(specs)
                ]
            )
        ).alias("__mv")
    ).select(F.col("__mv.__m").alias("__m"), F.col("__mv.__v").alias("__v"))
    counts = melt.groupBy("__m", "__v").agg(F.count("*").alias("__cnt"))
    probs = [i / num_buckets for i in range(1, num_buckets)]
    qrows = (
        counts.groupBy("__m")
        .agg(F.percentile_approx(F.col("__v"), probs, 100).alias("q"))
        .collect()
        if num_buckets > 1
        else []
    )
    bounds_by_m = {
        r["__m"]: sorted({b for b in (r["q"] or []) if b is not None})
        for r in qrows
    }
    bucket = F.lit(0)
    for i in range(len(specs)):
        bs = bounds_by_m.get(i) or []
        if not bs:
            continue
        barr = lit_double_array(bs)
        expr = F.size(F.filter(barr, lambda x: x < F.col("__v")))
        bucket = F.when(F.col("__m") == i, expr).otherwise(bucket)
    b = counts.withColumn("__bk", bucket)
    w_in = (
        Window.partitionBy("__m", "__bk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inner = b.withColumn(
        "__within", F.coalesce(F.sum("__cnt").over(w_in), F.lit(0))
    )
    btot_rows = (
        b.groupBy("__m", "__bk").agg(F.sum("__cnt").alias("__bt")).collect()
    )
    totals: dict[int, int] = {}
    off_maps: dict[int, dict[int, int]] = {}
    for r in sorted(btot_rows, key=lambda r: (r["__m"], r["__bk"])):
        m = r["__m"]
        off_maps.setdefault(m, {})[r["__bk"]] = totals.get(m, 0)
        totals[m] = totals.get(m, 0) + r["__bt"]
    # composite key m·2⁲⁰ + bk keeps the baked offset map one literal
    key = F.col("__m") * (1 << 20) + F.col("__bk")
    flat = {
        m * (1 << 20) + bk: off
        for m, om in off_maps.items()
        for bk, off in om.items()
    }
    if flat:
        boff = F.element_at(
            F.create_map(*[F.lit(x) for kv in flat.items() for x in kv]), key
        )
    else:
        boff = F.lit(0)
    below = F.coalesce(boff, F.lit(0)) + F.col("__within")
    pr = F.lit(0.0)
    for i in range(len(specs)):
        total = totals.get(i, 0)
        pr_i = (
            F.lit(0.0)
            if total <= 1
            else below.cast("double") / F.lit(float(total - 1))
        )
        pr = F.when(F.col("__m") == i, pr_i).otherwise(pr)
    ranked = inner.select("__m", F.col("__v").alias("__prk"), pr.alias("__pr"))
    out = df
    for i, (c, out_col) in enumerate(specs):
        ri = ranked.filter(F.col("__m") == i).select(
            "__prk", F.col("__pr").alias(out_col)
        )
        out = out.join(
            ri, F.col(c).cast("double").eqNullSafe(F.col("__prk")), "inner"
        ).drop("__prk")
    return out


def bucketed_distinct_cdf(
    df: DataFrame,
    score_col: str,
    num_buckets: int | None = None,
) -> DataFrame:
    """The exact CDF over DISTINCT non-null values of ``score_col``,
    computed with the same range-bucketed two-level discipline as
    :func:`attach_percent_rank` — no unpartitioned corpus-scaled
    window anywhere, so the plan stays parallel even when the value
    is continuous and |distinct| ≈ |corpus|.

    One row per distinct value: ``__v`` (the value), ``__c`` (its row
    count), ``__start`` (exclusive cumulative count of rows with
    strictly smaller values — 0-based position of the value's first
    copy in the sorted corpus), ``__n`` (total non-null rows, same on
    every row — consumers read it instead of running their own count
    job).

    Plan shape (r7, after the first cut of this helper benched 5×
    slower than the single-window form it replaced): exactly ONE
    plan-build driver job — a shuffle-free ``percentile_approx`` over
    the RAW column for the ~``num_buckets`` split points (placement
    only steers parallelism; row-balanced buckets, arbitrary
    boundaries are still exact). Everything else is one distributed
    plan: per-bucket partitioned prefix windows; cross-bucket offsets
    and the grand total come from a ≤ ``num_buckets``-row aggregate
    of the SAME counts subtree (ReuseExchange shares the shuffle),
    prefix-summed by a window over those ≤ num_buckets rows
    (model-bounded, canary-exempt) and broadcast-joined back — no
    collect, no persist bookkeeping. The offsets subtree aggregates
    ``__c``, so the counts aggregate is irreducible and the
    attach_percent_rank lambda-reinlining hazard cannot arise.

    Non-numeric values fall back to one bucket (distinct values of a
    non-numeric column are assumed bounded). Shared by
    :func:`winsorize` and ``histogram.equi_depth_histogram``.
    """
    from pyspark.sql.types import NumericType

    if num_buckets is None:
        # Buckets beyond the shuffle width buy no parallelism but DO
        # inflate the split-point job (percentile_approx cost grows
        # with the probe count — measured 1.8 s at 255 probes vs
        # 0.26 s at 31 on sf0.1 orders). Track the session's shuffle
        # width, capped: the cap bounds driver-side quantile-query
        # cost on very wide clusters, where the corpus scan dominates
        # anyway.
        num_buckets = min(
            1024,
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        )
    v = F.col(score_col)
    bounds: list[float] = []
    if (
        isinstance(df.schema[score_col].dataType, NumericType)
        and num_buckets > 1
    ):
        probs = [i / num_buckets for i in range(1, num_buckets)]
        qrow = df.agg(
            F.percentile_approx(v.cast("double"), probs, 100).alias("q")
        ).first()
        bounds = sorted({b for b in (qrow["q"] or []) if b is not None})
    vals = (
        df.where(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if bounds:
        barr = lit_double_array(bounds)
        sc = F.col("__v").cast("double")
        bucket = F.size(F.filter(barr, lambda x: x < sc))
    else:
        bucket = F.lit(0)
    b = vals.withColumn("__bk", bucket)
    # Both frames share one (partition, order) spec, so Spark computes
    # them in a SINGLE WindowExec pass: the running prefix AND the
    # bucket total ride the same sort.
    w_in = (
        Window.partitionBy("__bk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = (
        Window.partitionBy("__bk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    inner = b.select(
        "__v",
        "__c",
        "__bk",
        F.coalesce(F.sum("__c").over(w_in), F.lit(0)).alias("__within"),
        F.sum("__c").over(w_tot).alias("__bt"),
    )
    # Bucket totals fold the WINDOW output grouped by __bk — already
    # hash-partitioned on __bk, so no extra exchange — and the vals
    # exchange under the two window consumers is shared by
    # ReuseExchange (plan-asserted): the corpus is scanned and
    # shuffled ONCE for the whole CDF.
    btot = inner.groupBy("__bk").agg(F.max("__bt").alias("__bt"))
    w_off = Window.orderBy("__bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = btot.select(
        "__bk",
        F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__bt").over(
            Window.orderBy("__bk").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    return inner.join(F.broadcast(offs), "__bk").select(
        "__v",
        "__c",
        (F.col("__off") + F.col("__within")).cast("long").alias("__start"),
        F.col("__n").cast("long").alias("__n"),
    )


def filter_by_score_quantile(
    df: DataFrame,
    score_col: str,
    min_q: float = 0.0,
    max_q: float = 1.0,
) -> DataFrame:
    """Rows whose exact percent-rank lies in [min_q, max_q] — e.g.
    ``min_q=0.5`` keeps the top half by score, ties included the way
    SQL ranks them. Columns pass through unchanged."""
    if not 0.0 <= min_q <= max_q <= 1.0:
        raise ValueError("need 0 <= min_q <= max_q <= 1")
    out = attach_percent_rank(df, score_col, "__pr")
    return out.filter(
        (F.col("__pr") >= min_q) & (F.col("__pr") <= max_q)
    ).drop("__pr")


def quantile_thresholds(
    df: DataFrame,
    score_col: str,
    probs: Sequence[float],
    relative_error: float = 1e-4,
) -> list[float]:
    """Approximate score thresholds at the given quantiles — the
    sketch path (Greenwald–Khanna via ``percentile_approx``): one
    aggregation pass, bounded driver result, then filter map-side
    with the returned constants. Use when an ε-approximate cut is
    acceptable (it usually is at 100 TB)."""
    row = df.agg(
        F.percentile_approx(
            score_col, list(probs), int(1.0 / relative_error)
        ).alias("q")
    ).first()
    return list(row["q"])


def filter_by_approx_quantile(
    df: DataFrame,
    score_col: str,
    min_q: float = 0.0,
    max_q: float = 1.0,
    relative_error: float = 1e-4,
) -> DataFrame:
    """Map-only quantile filter using sketched thresholds: one agg
    pass to get the cut points, then a scan-fused range predicate.
    The 100 TB default; swap in :func:`filter_by_score_quantile`
    when the boundary must be exact."""
    lo, hi = quantile_thresholds(df, score_col, [min_q, max_q], relative_error)
    return df.filter((F.col(score_col) >= lo) & (F.col(score_col) <= hi))


def winsorize(
    df: DataFrame,
    score_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Clip (not drop) values outside the exact [lo_q, hi_q] rank
    quantiles (X95) — metric hygiene before means/tests: one fat
    outlier otherwise owns a mean at any corpus size.

    Thresholds are EXACT rank quantiles (value at ceil(q·n)) off the
    distinct-value CDF, computed via :func:`bucketed_distinct_cdf` —
    the range-bucketed two-level discipline, so no unpartitioned
    window even when the metric is continuous and |distinct| ≈ n
    (the r6 verdict's scale finding: the old form ordered ONE window
    over the whole distinct-value table). Thresholds broadcast back
    as a 1-row frame; the clip itself is a map-only least/greatest.
    Engine-replayable because thresholds are actual data values, not
    interpolations.
    """
    out_col = out_col or f"{score_col}_wins"
    v = F.col(score_col)
    cdf = bucketed_distinct_cdf(df, score_col)
    # value at rank ceil(q*n): min __v whose inclusive cumulative
    # count (__start + __c) reaches the cut. n rides the cdf as the
    # __n column (no extra count job); CEIL over the same IEEE
    # double product matches the SQL the oracle runs.
    thr = cdf.agg(
        F.min(
            F.when(
                F.col("__start") + F.col("__c")
                >= F.ceil(F.lit(float(lo_q)) * F.col("__n")),
                F.col("__v"),
            )
        ).alias("__lo"),
        F.min(
            F.when(
                F.col("__start") + F.col("__c")
                >= F.ceil(F.lit(float(hi_q)) * F.col("__n")),
                F.col("__v"),
            )
        ).alias("__hi"),
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn(
            out_col,
            # greatest/least skip NULLs, which would clip a NULL to
            # the lower threshold — gate explicitly
            F.when(
                v.isNotNull(),
                F.least(F.greatest(v, F.col("__lo")), F.col("__hi")),
            ),
        )
        .drop("__lo", "__hi")
    )
