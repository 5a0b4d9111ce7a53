"""Temporal join operators (operators/joins.py): as-of and range join."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators.joins import asof_join, point_in_interval_join


def ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(5), 11.0), (2, ts(3), 20.0)],
        ["k", "qts", "price"],
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [(1, ts(4), "a"), (1, ts(5), "b"), (1, ts(6), "c"), (2, ts(1), "d"), (3, ts(2), "e")],
        ["k", "tts", "trade"],
    )


def test_asof_backward(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"price": "price", "qts": "quote_ts"},
    )
    got = {r["trade"]: (r["price"], r["quote_ts"]) for r in out.collect()}
    assert got["a"] == (10.0, ts(0))          # last quote <= 00:04
    assert got["b"] == (11.0, ts(5))          # exact match included
    assert got["c"] == (11.0, ts(5))
    assert got["d"] == (None, None)           # quote at 00:03 is after 00:01
    assert got["e"] == (None, None)           # key never quoted → left preserved


def test_asof_strict_excludes_exact(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"price": "price"}, allow_exact_matches=False,
    )
    got = {r["trade"]: r["price"] for r in out.collect()}
    assert got["b"] == 10.0                   # 00:05 quote no longer visible


def test_asof_forward(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"price": "price"}, direction="forward",
    )
    got = {r["trade"]: r["price"] for r in out.collect()}
    assert got["a"] == 11.0                   # next quote at 00:05
    assert got["c"] is None                   # nothing after 00:06
    assert got["d"] == 20.0


def test_asof_tolerance(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"price": "price"}, tolerance_seconds=120.0,
    )
    got = {r["trade"]: r["price"] for r in out.collect()}
    assert got["a"] is None                   # 4 min gap > 2 min tolerance
    assert got["b"] == 11.0                   # 0 gap


def test_asof_tiebreak_deterministic(spark):
    left = spark.createDataFrame([(1, ts(9))], ["k", "tts"])
    right = spark.createDataFrame(
        [(1, ts(1), "low"), (1, ts(1), "top")], ["k", "qts", "tag"]
    )
    out = asof_join(
        left, right, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"tag": "tag"}, right_tiebreak="tag",
    )
    assert out.first()["tag"] == "top"        # highest tiebreak wins


def test_asof_row_count_preserved(spark, quotes, trades):
    # left join semantics: exactly one output row per left row
    out = asof_join(
        trades, quotes, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"price": "price"},
    )
    assert out.count() == trades.count()


def test_point_in_interval_closed_variants(spark):
    points = spark.createDataFrame(
        [(1, ts(0), "p0"), (1, ts(5), "p5"), (1, ts(10), "p10")],
        ["k", "pts", "pid"],
    )
    intervals = spark.createDataFrame([(1, ts(0), ts(10), "iv")], ["k", "s", "e", "iid"])
    def hit_ids(closed):
        out = point_in_interval_join(
            points, intervals, "pts", "s", "e",
            on=["k"], bucket_seconds=60.0, closed=closed,
        )
        return sorted(r["pid"] for r in out.collect())
    assert hit_ids("both") == ["p0", "p10", "p5"]
    assert hit_ids("left") == ["p0", "p5"]
    assert hit_ids("right") == ["p10", "p5"]
    assert hit_ids("neither") == ["p5"]


def test_point_in_interval_bucket_smaller_than_interval(spark):
    # interval spans many buckets; every covered point still matches once
    points = spark.createDataFrame(
        [(1, ts(m), f"p{m}") for m in range(0, 60, 7)], ["k", "pts", "pid"]
    )
    intervals = spark.createDataFrame([(1, ts(3), ts(45), "iv")], ["k", "s", "e", "iid"])
    out = point_in_interval_join(
        points, intervals, "pts", "s", "e", on=["k"], bucket_seconds=120.0
    )
    rows = out.collect()
    assert sorted(r["pid"] for r in rows) == sorted(
        f"p{m}" for m in range(0, 60, 7) if 3 <= m <= 45
    )
    assert len(rows) == len({r["pid"] for r in rows})  # no duplicate matches


def test_asof_plan_has_no_nested_loop(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on=["k"], left_ts="tts", right_ts="qts",
        right_cols={"price": "price"},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- event-sequence analytics (operators/events.py) -----------------------


def test_funnel_order_matters(spark):
    import datetime as dt

    from bi_utils_spark.operators.events import funnel_counts

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    rows = [
        # user 1: full ordered funnel
        (1, t(0), "signup"), (1, t(1), "click"), (1, t(2), "purchase"),
        # user 2: purchase BEFORE click -> stops at click
        (2, t(0), "signup"), (2, t(2), "click"), (2, t(1), "purchase"),
        # user 3: signup only
        (3, t(0), "signup"),
        # user 4: click without signup -> not in funnel at all
        (4, t(0), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r["step"]: r["n_users"] for r in
           funnel_counts(df, ["signup", "click", "purchase"]).collect()}
    assert got == {1: 3, 2: 2, 3: 1}


def test_cohort_retention_math(spark):
    import datetime as dt

    from bi_utils_spark.operators.events import cohort_retention

    # cohort week of Mon 2024-01-01: users 1,2. user 1 returns week+1.
    rows = [
        (1, dt.datetime(2024, 1, 2, 9)),
        (2, dt.datetime(2024, 1, 3, 9)),
        (1, dt.datetime(2024, 1, 10, 9)),   # week offset 1
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "event_type", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("x")
    )
    got = {(str(r["cohort_week"]), r["offset_weeks"]):
           (r["n_active"], r["cohort_size"], r["retention"])
           for r in cohort_retention(df).collect()}
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)


def test_funnel_max_gap_bounds_conversion_window(spark):
    import datetime as dt

    from bi_utils_spark.operators.events import funnel_counts

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), "signup"),
        (1, dt.datetime(2024, 1, 1, 10, 30), "click"),     # inside 1h
        (2, dt.datetime(2024, 1, 1, 10, 0), "signup"),
        (2, dt.datetime(2024, 1, 1, 12, 30), "click"),     # outside 1h
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    unbounded = {r["step"]: r["n_users"] for r in
                 funnel_counts(df, ["signup", "click"]).collect()}
    bounded = {r["step"]: r["n_users"] for r in
               funnel_counts(df, ["signup", "click"],
                             max_gap="1 hour").collect()}
    assert unbounded == {1: 2, 2: 2}
    assert bounded == {1: 2, 2: 1}


def test_funnel_latency_hand_math(spark):
    import datetime as dt

    from bi_utils_spark.operators.events import funnel_latencies

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), "signup"),
        (1, dt.datetime(2024, 1, 1, 10, 0, 10), "click"),   # 10 s
        (2, dt.datetime(2024, 1, 1, 10, 0, 0), "signup"),
        (2, dt.datetime(2024, 1, 1, 10, 0, 30), "click"),   # 30 s
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = funnel_latencies(df, ["signup", "click"]).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_converted"] == 2
    assert r["p50_seconds"] == 20.0      # interpolated between 10 and 30
    assert r["p90_seconds"] == 28.0      # 10 + 0.9*(30-10)


def test_event_transitions_probabilities(spark):
    import datetime as dt

    from bi_utils_spark.operators.events import event_transitions

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    rows = [
        (1, 1, t(0), "a"), (1, 2, t(1), "b"), (1, 3, t(2), "a"),
        (2, 4, t(0), "a"), (2, 5, t(1), "c"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts", "event_type"]
    )
    got = {(r["from_type"], r["to_type"]): (r["n"], r["prob"])
           for r in event_transitions(df, tiebreak_col="event_id").collect()}
    # from 'a': a->b once, a->c once (prob 0.5 each); b->a once (prob 1)
    assert got[("a", "b")] == (1, 0.5)
    assert got[("a", "c")] == (1, 0.5)
    assert got[("b", "a")] == (1, 1.0)
    # no cross-user transition (user 1 'a' -> user 2 'a' must not appear)
    assert ("a", "a") not in got


def test_session_paths_order_and_truncation(spark):
    import datetime as dt
    from bi_utils_spark.operators.events import (
        session_paths,
        top_session_paths,
    )
    from pyspark.sql import functions as F

    def t(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    rows = [
        # user 1 session A: view > click > purchase > view (truncates to 3)
        (1, 1, t(0), "view"),
        (2, 1, t(1), "click"),
        (3, 1, t(2), "purchase"),
        (4, 1, t(3), "view"),
        # user 1 session B after a 2h gap: single event
        (5, 1, t(150), "view"),
        # user 2: same opening path as user 1 session A
        (6, 2, t(0), "view"),
        (7, 2, t(1), "click"),
        (8, 2, t(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    paths = {
        (r["user_id"], r["session_id"]): (r["path"], r["n_events"])
        for r in session_paths(df, gap_sec=1800, k=3).collect()
    }
    assert paths[(1, 1)] == ("view>click>purchase", 4)
    assert paths[(1, 2)] == ("view", 1)
    assert paths[(2, 1)] == ("view>click>purchase", 3)

    top = top_session_paths(df, n=5, gap_sec=1800, k=3).collect()
    assert (top[0]["path"], top[0]["n_sessions"]) == ("view>click>purchase", 2)
    # truncation respects (ts, id) order under adversarial partitioning
    shuffled = df.repartition(7)
    again = {
        (r["user_id"], r["session_id"]): r["path"]
        for r in session_paths(shuffled, gap_sec=1800, k=3).collect()
    }
    assert again[(1, 1)] == "view>click>purchase"


def test_session_gap_is_measured_in_microseconds(spark, tmp_path):
    """Events 1800.5 s apart are two 30-minute sessions: the gap test
    compares microseconds, like the DuckDB oracles, not whole seconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from bi_utils_spark.operators.events import session_paths
    from bi_utils_spark.queries.analytics import q_sessionize

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = t0 + dt.timedelta(seconds=1800, microseconds=500_000)
    t2 = t1 + dt.timedelta(seconds=1800)  # exactly 30 min: same session
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array([t0, t1, t2], pa.timestamp("us")),
                "user_id": pa.array([7, 7, 7], pa.int64()),
                "event_type": ["view", "click", "view"],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        (r["session_id"], r["n_events"])
        for r in q_sessionize(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 1), (2, 2)}
    df = spark.createDataFrame(
        [(1, 7, t0, "view"), (2, 7, t1, "click"), (3, 7, t2, "view")],
        ["event_id", "user_id", "ts", "event_type"],
    )
    paths = {
        r["session_id"]: r["path"]
        for r in session_paths(df, gap_sec=1800, k=3).collect()
    }
    assert paths == {1: "view", 2: "click>view"}


def test_rfm_scores_tiles_and_inversion(spark):
    import datetime as dt
    from bi_utils_spark.operators.events import rfm_scores

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 5 users with strictly increasing recency/frequency/monetary
    for u in range(5):
        for i in range(u + 1):  # frequency 1..5
            rows.append(
                (u, base + dt.timedelta(days=u * 10 + i), float(u + 1))
            )
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {r["user_id"]: r for r in rfm_scores(df).collect()}
    # user 4 is most recent, most frequent, most valuable -> 555
    assert out[4]["segment"] == "555"
    # user 0 is oldest, least frequent, least valuable -> 111
    assert out[0]["segment"] == "111"
    # recency inversion: r_days decreasing with user -> r_score increasing
    assert out[0]["r_score"] < out[4]["r_score"]
    assert out[4]["monetary"] == 5.0 * 5
