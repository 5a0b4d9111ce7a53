"""Incremental rollup (operators/incremental.py): continuous-aggregate
contract — deltas fold in without recomputing history."""

import datetime as dt

from pyspark.sql import functions as F

from bi_utils_spark.operators.incremental import (
    apply_rollup_delta,
    read_rollup,
    rollup_delta,
)
from bi_utils_spark.sources.tables import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_incremental_equals_full_recompute(spark, sf_dir, tmp_path):
    events = _events(spark, sf_dir)
    cut = dt.datetime(2024, 1, 15)
    d1 = events.filter(F.col("ts") < cut)
    d2 = events.filter(F.col("ts") >= cut)
    path = str(tmp_path / "rollup")

    kw = dict(
        ts_col="ts", bucket="1 hour", group_cols=["event_type"],
        sum_cols=["value"], distinct_cols=["user_id"],
    )
    apply_rollup_delta(spark, path, d1, **kw)
    apply_rollup_delta(spark, path, d2, **kw)
    incremental = read_rollup(spark, path, ["user_id"])

    full = rollup_delta(events, **kw).withColumn(
        "approx_distinct_user_id", F.hll_sketch_estimate("hll_user_id")
    )

    inc = {
        (r["bucket_start"], r["event_type"]): (
            r["n"], round(r["sum_value"], 6), r["approx_distinct_user_id"]
        )
        for r in incremental.collect()
    }
    ful = {
        (r["bucket_start"], r["event_type"]): (
            r["n"], round(r["sum_value"], 6), r["approx_distinct_user_id"]
        )
        for r in full.collect()
    }
    assert inc == ful            # counts, sums AND sketch estimates agree


def test_second_delta_touches_only_its_partitions(spark, sf_dir, tmp_path):
    events = _events(spark, sf_dir)
    path = str(tmp_path / "rollup2")
    kw = dict(ts_col="ts", bucket="1 hour", group_cols=["event_type"],
              sum_cols=["value"])
    jan1 = events.filter(F.to_date("ts") == "2024-01-01")
    jan2 = events.filter(F.to_date("ts") == "2024-01-02")
    apply_rollup_delta(spark, path, jan1, **kw)
    import os
    import time

    before = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path) if d.startswith("bucket_date=")
    }
    time.sleep(1.1)
    apply_rollup_delta(spark, path, jan2, **kw)
    after = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path) if d.startswith("bucket_date=")
    }
    assert "bucket_date=2024-01-02" in after
    # Jan 1's partition directory was not rewritten by Jan 2's delta
    assert after["bucket_date=2024-01-01"] == before["bucket_date=2024-01-01"]


def test_hll_estimate_close_to_exact(spark, sf_dir):
    events = _events(spark, sf_dir)
    r = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    ).first()
    assert abs(r["approx"] - r["exact"]) / max(r["exact"], 1) < 0.05


def test_dynamic_overwrite_leaves_session_conf_alone(
    spark, sf_dir, tmp_path, monkeypatch
):
    """overwrite_partitions asks for dynamic partition overwrite on the
    writer, so it and the two delta folds built on it never set the
    session-wide key another thread may be writing under."""
    from pyspark.sql.conf import RuntimeConfig

    from bi_utils_spark.operators.fsops import overwrite_partitions
    from bi_utils_spark.operators.lm import apply_model_delta, unigram_model

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    keys_set = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        keys_set.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    try:
        path = str(tmp_path / "parts")
        schema = "v int, p string"
        spark.createDataFrame([(1, "a"), (2, "b")], schema).write.partitionBy(
            "p"
        ).parquet(path)
        overwrite_partitions(
            spark, spark.createDataFrame([(3, "a")], schema), ["p"], path
        )
        got = sorted((r["v"], r["p"]) for r in spark.read.parquet(path).collect())
        assert got == [(2, "b"), (3, "a")]  # only partition a replaced
        day = _events(spark, sf_dir).filter(F.to_date("ts") == "2024-01-01")
        apply_rollup_delta(
            spark, str(tmp_path / "rollup"), day,
            ts_col="ts", bucket="1 hour", group_cols=["event_type"],
        )
        docs = spark.createDataFrame([(1, "a b a")], ["doc_id", "text"])
        apply_model_delta(spark, str(tmp_path / "model"), unigram_model(docs))
        assert key not in keys_set
        assert spark.conf.get(key) == "static"
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
