"""Shared filesystem + partition-overwrite primitives for the table
maintenance tier (merge, widening, compaction, delta folds) — one copy
of the two disciplines those operators must never let diverge:

1. Hadoop FileSystem access (works on file://, hdfs://, s3a:// —
   local-only ``shutil``/``pathlib`` calls silently no-op on object
   storage);
2. the read-then-overwrite safety dance: MATERIALIZE before
   dynamically overwriting partition directories the plan just read
   from, with the overwrite mode set on the writer, never the session.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop API."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_delete(spark, path: str) -> bool:
    """Recursive delete through the Hadoop FileSystem API."""
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.delete(hpath, True))


def overwrite_partitions(
    spark, df: DataFrame, partition_cols: Sequence[str], path: str
) -> None:
    """Dynamic-partition-overwrite ``df`` into ``path``: only the
    partition directories present in ``df`` are replaced; every other
    directory's files stay byte-identical. The frame is materialized
    FIRST because the caller just read those same directories — no
    job may read and overwrite the same files."""
    (
        materialize(df)
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def fold_partitions(
    spark,
    path: str,
    delta: DataFrame,
    partition_col: str,
    combine: Callable[[DataFrame], DataFrame],
) -> None:
    """Fold ``delta`` into the table at ``path``, partitioned by
    ``partition_col``: read ONLY the partitions the delta touches
    (partition pruning), ``combine`` their rows unioned with the
    delta's, and overwrite just those partitions. History never
    moves; a missing table is created from the delta alone."""
    from pyspark.sql.utils import AnalysisException

    # the delta feeds the touched-partition collect and the fold
    d = materialize(delta)
    touched = [r[0] for r in d.select(partition_col).distinct().collect()]
    try:
        existing = spark.read.parquet(path).filter(
            F.col(partition_col).isin(touched)
        )
        combined = combine(existing.unionByName(d))
    except AnalysisException:
        combined = d
    overwrite_partitions(spark, combined, [partition_col], path)
