"""Incremental time-bucket rollups — continuous aggregates over an
append-mostly event stream (the "hypertable rollup" the reference's
DWH would have done with scheduled SQL).

Design for 100 TB:
- the rollup table is partitioned by bucket date; applying a delta
  touches ONLY the partitions the delta's buckets fall in (dynamic
  partition overwrite + partition pruning on the read side), so a
  day's delta against years of history reads/writes a day, not years;
- aggregates must be re-combinable: counts and sums add, min/max
  re-min/max, and distinct counts ride as mergeable HLL sketches
  (`hll_sketch_agg` partials unioned with `hll_union_agg`) — the
  classic "sketch column" pattern, estimable at read time with
  `hll_sketch_estimate`.

Correctness contract (property-tested): applying deltas D1 then D2
yields byte-identical aggregates to recomputing from D1 ∪ D2.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.operators.fsops import fold_partitions


def rollup_delta(
    delta: DataFrame,
    ts_col: str,
    bucket: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate a raw delta to rollup grain: (bucket_start, groups…,
    n, sum_<c>…, hll_<c> sketch…). ``bucket`` is any interval literal
    `date_trunc` accepts via window ("1 hour", "15 minutes", ...)."""
    win = F.window(F.col(ts_col), bucket)
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.hll_sketch_agg(F.col(c)).alias(f"hll_{c}") for c in distinct_cols]
    return (
        delta.groupBy(win.alias("__w"), *[F.col(c) for c in group_cols])
        .agg(*aggs)
        .select(
            F.col("__w.start").alias("bucket_start"),
            F.to_date("__w.start").alias("bucket_date"),
            *group_cols,
            "n",
            *[f"sum_{c}" for c in sum_cols],
            *[f"hll_{c}" for c in distinct_cols],
        )
    )


def _combine(
    frames: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    distinct_cols: Sequence[str],
) -> DataFrame:
    keys = ["bucket_start", "bucket_date", *group_cols]
    aggs = [F.sum("n").alias("n")]
    aggs += [F.sum(F.col(f"sum_{c}")).alias(f"sum_{c}") for c in sum_cols]
    aggs += [
        F.hll_union_agg(F.col(f"hll_{c}")).alias(f"hll_{c}") for c in distinct_cols
    ]
    return frames.groupBy(*keys).agg(*aggs)


def apply_rollup_delta(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    ts_col: str,
    bucket: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
) -> None:
    """Fold a raw delta into the rollup table at ``target_path``.

    Reads ONLY the target partitions whose bucket_date appears in the
    delta (partition pruning), unions the existing partials with the
    delta's, re-combines, and rewrites just those partitions
    (partitionOverwriteMode=dynamic). History never moves.
    """
    fold_partitions(
        spark,
        target_path,
        rollup_delta(delta, ts_col, bucket, group_cols, sum_cols, distinct_cols),
        "bucket_date",
        lambda rows: _combine(rows, group_cols, sum_cols, distinct_cols),
    )


def read_rollup(
    spark: SparkSession,
    target_path: str,
    distinct_cols: Sequence[str] = (),
) -> DataFrame:
    """The rollup table with sketch columns resolved to estimates."""
    df = spark.read.parquet(target_path)
    for c in distinct_cols:
        df = df.withColumn(f"approx_distinct_{c}", F.hll_sketch_estimate(f"hll_{c}"))
    return df
