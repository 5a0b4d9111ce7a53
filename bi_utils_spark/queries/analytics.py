"""Headline analytical queries: grouped-agg / join / HAVING star
schema rows, sessionization, windows, pivots, and the temporal
as-of / range joins."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.queries.core import load, register



# ===========================================================================
# Headline analytical queries (the GROUP BY / join / HAVING surface the
# reference delegated to Exasol via parameterized SQL scripts, S1/P9 —
# utils.py:312-339, :322-323 — expressed TPC-H-style on the star schema).
# Float determinism: sums accumulate in exact DECIMAL then cast back to
# DOUBLE, so accumulation order can't flip bits on either engine.
# ===========================================================================

@register(
    "q_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
             AS avg_qty,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           CAST(epoch_us(o.o_orderdate) AS BIGINT) AS o_orderdate_us,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.filter(F.col("l_shipdate") > "1997-06-01")
        .join(
            orders.filter(F.col("o_orderdate") < "1998-01-01"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name").isin("ASIA", "EUROPE"))),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q_top_suppliers",
    """
    SELECT s.s_suppkey, s.s_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS total_revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY total_revenue DESC, s_suppkey ASC
    LIMIT 5
    """,
)
def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.filter(F.col("l_shipdate") >= "1997-01-01")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum(rev).cast("double").alias("total_revenue"))
        .orderBy(F.desc("total_revenue"), F.asc("s_suppkey"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# S1 parameterized SQL script (utils.py:312-339) — the engine executes
# the reference's .sql-file surface via Catalyst instead of Exasol.
# ---------------------------------------------------------------------------

@register(
    "q_sql_script",
    """
    SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY CAST(o_orderdate AS DATE)
    HAVING count(*) > 5
    """,
)
def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from bi_utils_spark.sources.sql_scripts import (
        register_tables,
        return_df_from_sql_script,
    )

    register_tables(spark, sf_dir, ["orders"])
    # repo root = three levels up (bi_utils_spark/queries/analytics.py)
    script = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "sql",
        "daily_revenue.sql",
    )
    return return_df_from_sql_script(
        spark, script, start_date="1998-01-01 00:00:00", min_orders=5
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions via lag + running sum (the
# "common OLAP pattern" the query layer exposes; W-ops generalized).
# ---------------------------------------------------------------------------

@register(
    "q_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microseconds, as the oracle compares: a whole-second cast would
    # merge two events 1800.5 s apart into one session
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    g = events.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    s = g.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


@register(
    "q_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` (the streaming-ready session
    mechanism — same expression works under ``readStream`` +
    watermark, see streaming/watermark.py::session_counts). The
    oracle rebuilds sessions with the classic gaps-and-islands
    construction; Spark's session end = last event + gap."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP / grouping sets (the aggregation surface Spark gives for free,
# SURVEY.md §2.4 "not present in reference ... exposed by the engine")
# ---------------------------------------------------------------------------

@register(
    "q_rollup_flags",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# PIVOT — event counts per date × type (expressed as CASE sums in the
# oracle; Spark uses the native pivot operator).
# ---------------------------------------------------------------------------

@register(
    "q_pivot_events",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        events.groupBy(F.to_date("ts").cast("string").alias("event_date"))
        .pivot("event_type", types)
        .count()
    )
    # pivot yields NULL for empty cells; the oracle's FILTER yields 0
    return out.select(
        "event_date",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


# ---------------------------------------------------------------------------
# X6 approximate distinct / quantiles — bound-checking oracle (VERDICT
# r3 #2, the q_minhash_near_dup recall-summary pattern): exact ground
# truth is cross-engine-checkable; the approximate answers (HLL++
# distinct, Greenwald–Khanna median — both deterministic given the
# data) are attested via integer within-bound flags the oracle pins.
# ---------------------------------------------------------------------------

@register(
    "q_approx_stats",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           1 AS orders_within_5pct,
           1 AS median_in_p45_p55
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("__approx_orders"),
        F.percentile_approx(price, 0.5, 10_000).alias("__approx_median"),
        F.percentile(price, F.lit(0.45)).alias("__p45"),
        F.percentile(price, F.lit(0.55)).alias("__p55"),
    )
    return agg.select(
        "l_returnflag",
        "n",
        "exact_orders",
        (
            F.abs(F.col("__approx_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        )
        .cast("int")
        .alias("orders_within_5pct"),
        (
            (F.col("__approx_median") >= F.col("__p45"))
            & (F.col("__approx_median") <= F.col("__p55"))
        )
        .cast("int")
        .alias("median_in_p45_p55"),
    )


# ---------------------------------------------------------------------------
# As-of join (SURVEY.md §2.3 "not present in reference"; operators/joins.py)
# — for each purchase, the user's most recent click at or before it.
# Oracle uses DuckDB's native ASOF LEFT JOIN.
# ---------------------------------------------------------------------------

@register(
    "q_asof_click_before_purchase",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           epoch_us(p.ts) AS ts_us,
           c.event_id AS prior_click_id,
           epoch_us(c.ts) AS prior_click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.joins import asof_join

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"event_id": "prior_click_id", "ts": "prior_click_ts"},
        right_tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "prior_click_id",
        F.unix_micros("prior_click_ts").alias("prior_click_ts_us"),
    )


# ---------------------------------------------------------------------------
# Range join (bucketed point-in-interval; operators/joins.py) — clicks in
# the hour before each error, counted per error, zero-click errors kept.
# ---------------------------------------------------------------------------

@register(
    "q_range_clicks_before_error",
    """
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT e.event_id AS err_id,
           e.user_id,
           CAST(count(c.ts) AS BIGINT) AS n_clicks_1h
    FROM e LEFT JOIN c
      ON c.user_id = e.user_id
     AND c.ts >  e.ts - INTERVAL 1 HOUR
     AND c.ts <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def q_range_clicks_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.joins import point_in_interval_join

    events = load(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("start_ts"),
        F.col("ts").alias("end_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    hits = point_in_interval_join(
        clicks,
        errors,
        point_ts="click_ts",
        start_ts="start_ts",
        end_ts="end_ts",
        on=["user_id"],
        bucket_seconds=3600.0,
        closed="right",
    )
    counts = hits.groupBy("err_id").agg(F.count("*").alias("n_clicks_1h"))
    return (
        errors.select("err_id", "user_id")
        .join(counts, "err_id", "left")
        .select(
            "err_id",
            "user_id",
            F.coalesce(F.col("n_clicks_1h"), F.lit(0)).alias("n_clicks_1h"),
        )
    )
