"""Event-sequence analytics — funnel and cohort-retention operators.

The classic product-analytics pair over an event stream (user_id, ts,
event_type): ordered-funnel conversion (how many users performed step
1, then step 2 AFTER step 1, …) and weekly cohort retention (of the
users whose first event fell in week W, how many were active in
W+k?). Neither exists in the reference (its alerting utilities stop
at threshold checks); both are table-stakes for an analytics engine
serving the same warehouse.

Scale shape: each funnel step is one groupBy(user) aggregation whose
input is pre-filtered map-side, and consecutive steps join on
user_id — all shuffles are keyed on the user, so AQE coalesces and
the whole funnel reuses one partitioning. Cohorts are two
aggregations (first-event week, active weeks) joined on user.
Everything is codegen; no windows over the full stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap: str | None = None,
) -> DataFrame:
    """One row per funnel step: (step, step_name, n_users) where
    n_users completed steps 1..i IN ORDER (each step's event strictly
    at-or-after the previous step's earliest qualifying time — the
    standard ordered-funnel semantics using earliest-event times).
    ``max_gap`` (an interval literal like "7 days") additionally
    bounds each step's latency: step i must occur within max_gap of
    step i−1's time — the conversion-window form.

    Each step is min(ts) of qualifying events per user; step i
    qualifies only where ts >= step i−1's time. len(steps) joins on
    user_id, each reusing the same hash partitioning.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.min(ts_col).alias("__t1"))
    )
    counts = [cur.agg(F.count("*").alias("n")).select(F.lit(1).alias("step"), "n")]
    prev = cur
    for i, step in enumerate(steps[1:], start=2):
        gate = F.col("__ts") >= F.col(f"__t{i-1}")
        if max_gap is not None:
            gate = gate & (
                F.col("__ts")
                <= F.col(f"__t{i-1}") + F.expr(f"INTERVAL {max_gap}")
            )
        nxt = (
            events.filter(F.col(type_col) == step)
            .select(F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts"))
            .join(prev, "__u")
            .filter(gate)
            .groupBy("__u")
            .agg(F.min("__ts").alias(f"__t{i}"))
        )
        counts.append(
            nxt.agg(F.count("*").alias("n")).select(F.lit(i).alias("step"), "n")
        )
        prev = nxt
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    names = F.array(*[F.lit(s) for s in steps])
    return out.select(
        "step",
        F.element_at(names, F.col("step")).alias("step_name"),
        F.col("n").alias("n_users"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_weeks: int | None = None,
) -> DataFrame:
    """(cohort_week, offset_weeks, n_active, cohort_size, retention)
    — weekly cohort retention. cohort_week = Monday-truncated week of
    the user's FIRST event; a user counts as active at offset k if
    they have any event in cohort_week + k weeks.

    Two aggregations (first event per user; distinct active weeks per
    user) + one user-keyed join + one small groupBy on
    (cohort, offset) — never a self-join of the stream.
    """
    firsts = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc("week", F.min(ts_col)).alias("__cohort")
    )
    active = (
        events.select(
            F.col(user_col).alias("__u"),
            F.date_trunc("week", F.col(ts_col)).alias("__week"),
        )
        .distinct()
    )
    joined = active.join(firsts, "__u").withColumn(
        "offset_weeks",
        (F.datediff(F.col("__week"), F.col("__cohort")) / 7).cast("int"),
    )
    if max_offset_weeks is not None:
        joined = joined.filter(F.col("offset_weeks") <= max_offset_weeks)
    per = joined.groupBy(
        F.col("__cohort").alias("cohort_week"), "offset_weeks"
    ).agg(F.countDistinct("__u").alias("n_active"))
    sizes = firsts.groupBy(F.col("__cohort").alias("cohort_week")).agg(
        F.count("*").alias("cohort_size")
    )
    return per.join(sizes, "cohort_week").select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "offset_weeks",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


def funnel_latencies(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap: str | None = None,
) -> DataFrame:
    """(step, step_name, n_converted, p50_seconds, p90_seconds) for
    every step ≥ 2: the time-to-convert distribution from the previous
    step's earliest qualifying event — exact interpolated percentiles
    (Spark ``percentile`` ≡ SQL ``quantile_cont``, engine-portable),
    latencies in seconds from the epoch-microsecond difference.

    Same per-step user-keyed aggregation chain as
    :func:`funnel_counts`; the percentile aggregations run over the
    (tiny) converted-users step tables, never the stream.
    """
    if len(steps) < 2:
        raise ValueError("need at least two steps for latencies")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.min(ts_col).alias("__t1"))
    )
    prev = cur
    outs = []
    for i, step in enumerate(steps[1:], start=2):
        gate = F.col("__ts") >= F.col(f"__t{i-1}")
        if max_gap is not None:
            gate = gate & (
                F.col("__ts")
                <= F.col(f"__t{i-1}") + F.expr(f"INTERVAL {max_gap}")
            )
        nxt = (
            events.filter(F.col(type_col) == step)
            .select(F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts"))
            .join(prev, "__u")
            .filter(gate)
            .groupBy("__u", *[f"__t{j}" for j in range(1, i)])
            .agg(F.min("__ts").alias(f"__t{i}"))
        )
        lat = (
            (F.unix_micros(F.col(f"__t{i}")) - F.unix_micros(F.col(f"__t{i-1}")))
            .cast("double")
            / F.lit(1e6)
        )
        outs.append(
            nxt.select(lat.alias("__lat")).agg(
                F.count("*").alias("n_converted"),
                F.round(F.percentile("__lat", F.lit(0.5)), 6).alias("p50_seconds"),
                F.round(F.percentile("__lat", F.lit(0.9)), 6).alias("p90_seconds"),
            ).select(F.lit(i).alias("step"), "n_converted", "p50_seconds",
                     "p90_seconds")
        )
        prev = nxt
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    names = F.array(*[F.lit(s) for s in steps])
    return out.select(
        "step",
        F.element_at(names, F.col("step")).alias("step_name"),
        "n_converted",
        "p50_seconds",
        "p90_seconds",
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(from_type, to_type, n, prob) — the first-order Markov
    transition matrix of the event stream: for each consecutive event
    pair within a user's timeline, count the (from → to) transition
    and normalize per source state. The path-analysis primitive
    behind "what do users do after X?".

    One window shuffle on user (lead over (ts, tiebreak)), one small
    groupBy on the type pair; the per-source totals ride in as a
    window over the |types|² matrix, not the stream.

    Determinism: with ``tiebreak_col=None``, lead() over equal
    timestamps is partitioning-dependent, so counts can vary run to
    run on ts ties — pass a stable unique column (e.g. an event id)
    whenever one exists; the registry query does.
    """
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.withColumn(
        "prob",
        F.col("n").cast("double") / F.sum("n").over(tot).cast("double"),
    )


def session_paths(
    events: DataFrame,
    gap_sec: int = 1800,
    k: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-session navigation path (X86): the first ``k`` event
    types of each gap-delimited session joined by '>' —
    ``(user, session_id, path, n_events)``.

    One user-keyed window pass for session ids (the q_sessionize
    construction), one groupBy collecting at most each session's own
    events; the path truncates to k AFTER an in-group array sort, so
    ordering is exact under any partitioning. Session arrays are
    bounded by user activity — a 10⁶-event "user" is bot traffic for
    the DQ tier, not a path report.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    # microsecond gaps: a whole-second cast would merge two events
    # gap_sec + 0.5 s apart into one session
    gap = F.unix_micros(ts_col) - F.lag(F.unix_micros(ts_col)).over(w)
    s = events.withColumn(
        "__new",
        F.when(gap.isNull() | (gap > gap_sec * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "session_id",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return s.groupBy(user_col, "session_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                F.col(id_col).alias("i"),
                                F.col(type_col).alias("e"),
                            )
                        )
                    ),
                    lambda x: x["e"],
                ),
                1,
                k,
            ),
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )


def top_session_paths(
    events: DataFrame,
    n: int = 20,
    gap_sec: int = 1800,
    k: int = 3,
    **kwargs,
) -> DataFrame:
    """Top-n session-opening paths by frequency — ties broken by
    path text; TakeOrdered, no full sort."""
    paths = session_paths(events, gap_sec=gap_sec, k=k, **kwargs)
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    return counts.orderBy(
        F.desc("n_sessions"), F.asc("path")
    ).limit(n)


def rfm_scores(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation (X98): per user, recency (days
    since last event, against the stream's max timestamp — no
    wall-clock), frequency (event count), monetary (DECIMAL-exact
    value sum), each scored 1..n_tiles by exact percent_rank
    (recency inverted: most recent = highest score), plus the
    concatenated segment label ("555" = best).

    Scale shape: one partial-aggregable groupBy reduces the stream
    to |users| rows; each score rides
    filtering.py::attach_percent_rank (bucketed — no corpus-wide
    sort, no single-partition window). Scores are
    floor(pr·n)+1 with pr the exact SQL percent_rank — engine-
    replayable, tie-stable.
    """
    now = events.agg(
        F.unix_micros(F.max(ts_col)).alias("__now_us")
    )
    # three percent-rank passes each make bounded driver fetches;
    # they share one materialization of the per-user table instead of
    # re-aggregating the stream
    per_user = materialize(
        events.groupBy(F.col(user_col))
        .agg(
            F.unix_micros(F.max(ts_col)).alias("__last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col(value_col).cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(now))
        .withColumn(
            "r_days",
            F.expr("(__now_us - __last_us) div 86400000000").cast(
                "long"
            ),
        )
        .drop("__now_us", "__last_us")
    )

    def tile(pr_col, invert=False):
        raw = F.least(
            F.floor(F.col(pr_col) * n_tiles).cast("int"),
            F.lit(n_tiles - 1),
        )
        return (
            F.lit(n_tiles) - raw if invert else raw + 1
        ).cast("int")

    # one melt pass ranks all three metrics: two bounded driver jobs
    # total instead of two per metric (r12; values identical — the
    # metrics are exact in double: day counts, event counts, and
    # monetary is already double)
    from bi_utils_spark.operators.filtering import attach_percent_ranks

    scored = attach_percent_ranks(
        per_user,
        [("r_days", "__pr_r"), ("frequency", "__pr_f"), ("monetary", "__pr_m")],
    )
    return scored.select(
        user_col,
        "r_days",
        "frequency",
        "monetary",
        tile("__pr_r", invert=True).alias("r_score"),
        tile("__pr_f").alias("f_score"),
        tile("__pr_m").alias("m_score"),
        F.concat(
            tile("__pr_r", invert=True).cast("string"),
            tile("__pr_f").cast("string"),
            tile("__pr_m").cast("string"),
        ).alias("segment"),
    )
