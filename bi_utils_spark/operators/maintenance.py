"""Table maintenance: small-file compaction for partitioned parquet.

Every incremental pipeline in this repo (partition-scoped MERGE,
streaming sinks, partition-at-a-time widening) appends files per
batch; after months of hourly loads a date partition holds thousands
of KB-sized files and scan planning + open() overhead dominate reads
— the classic small-file problem. Compaction rewrites each afflicted
partition into ⌈bytes/target⌉ right-sized files.

Scale shape: the file inventory comes from one driver-side Hadoop
FileSystem listing (bounded by file COUNT, the thing being fixed —
and the recursive iterator form object stores serve efficiently);
the rewrite is ONE Spark job for all selected partitions — rows get
a file-group number (hash-mod ⌈bytes/target⌉, per partition, baked
as a literal map) and one shuffle on (partition, group) gives every
output file its own task. Untouched partitions' files stay
byte-identical (dynamic partition overwrite, the
merge_into_partitioned_path discipline). Run it in waves via
``partition_values`` exactly like apply_widening_partitioned.

Reference has no counterpart (`utils.py` managed DWH tables where the
engine compacts); this is the lakehouse-side operational gap.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def list_partition_files(
    spark,
    path: str,
    partition_cols: Sequence[str] | None = None,
    partition_values: Sequence[dict] | None = None,
    partition_dirs: Sequence[str] | None = None,
) -> list[dict]:
    """Driver-side recursive listing → one dict per data file:
    {relative_dir, name, bytes}. Goes through the Hadoop FileSystem
    API (works on file://, hdfs://, s3a://). Hidden entries are
    skipped at EVERY level — a file named part-*.parquet under a
    crashed write's ``_temporary/`` tree must not surface as a
    phantom partition.

    With ``partition_values`` (requires ``partition_cols``), only the
    named partition DIRECTORIES are listed — one bounded listing call
    each, none of the rest of the tree (r6: hourly compaction of a
    10⁶-partition table must not re-list a million directories to
    plan a 24-partition wave). A named partition that does not exist
    yields no rows, same as an empty directory."""
    from bi_utils_spark.operators.fsops import hadoop_fs

    fs, hpath = hadoop_fs(spark, path)
    base = fs.getFileStatus(hpath).getPath().toUri().getPath()
    jvm = spark._jvm  # noqa: SLF001

    def walk(target) -> list[dict]:
        out: list[dict] = []
        it = fs.listFiles(target, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath()
            name = p.getName()
            rel = p.getParent().toUri().getPath()
            rel = rel[len(base) :].strip("/")
            segments = [*rel.split("/"), name] if rel else [name]
            if any(seg.startswith(("_", ".")) for seg in segments):
                continue
            out.append(
                {"relative_dir": rel, "name": name, "bytes": st.getLen()}
            )
        return out

    if partition_values is None and partition_dirs is None:
        return walk(hpath)
    if partition_dirs is None:
        if not partition_cols:
            raise ValueError("partition_values requires partition_cols")
        partition_dirs = [
            _partition_dir(partition_cols, pv) for pv in partition_values
        ]
    out: list[dict] = []
    for d in partition_dirs:
        sub = jvm.org.apache.hadoop.fs.Path(hpath, d)
        if fs.exists(sub):
            out.extend(walk(sub))
    return out


def small_file_report(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: Sequence[str] | None = None,
    partition_values: Sequence[dict] | None = None,
) -> DataFrame:
    """(relative_dir, n_files, total_bytes, avg_bytes, n_target_files,
    needs_compaction) per partition directory — the observability
    panel for compaction planning. needs_compaction = more files than
    the byte-optimal count. ``partition_values`` scopes BOTH the
    report and the underlying FS listing to the named partitions
    (incremental planning: an hourly wave lists 24 directories, not
    the whole table)."""
    files = list_partition_files(
        spark, path, partition_cols, partition_values
    )
    rows = [(f["relative_dir"], f["bytes"]) for f in files]
    df = spark.createDataFrame(rows, "relative_dir string, bytes long")
    return df.groupBy("relative_dir").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        (F.sum("bytes") / F.count("*")).alias("avg_bytes"),
        F.ceil(F.sum("bytes") / F.lit(float(target_bytes)))
        .cast("int")
        .alias("n_target_files"),
        (
            F.count("*")
            > F.ceil(F.sum("bytes") / F.lit(float(target_bytes)))
        ).alias("needs_compaction"),
    )


def _partition_dir(partition_cols: Sequence[str], values: dict) -> str:
    return "/".join(f"{c}={values[c]}" for c in partition_cols)


def compact_partitioned_path(
    spark,
    path: str,
    partition_cols: Sequence[str],
    target_bytes: int = 128 * 1024 * 1024,
    partition_values: Sequence[dict] | None = None,
) -> list[dict]:
    """Rewrite partitions suffering small files into ⌈bytes/target⌉
    files each; every other partition's files stay byte-identical.

    ``partition_values``: list of {col: value} dicts to consider this
    wave (None = all). Of those, only partitions whose current file
    count EXCEEDS the byte-optimal count rewrite — an already-compact
    partition is never touched, so the operation is idempotent.

    One Spark job: selected rows take a per-partition file-group
    number (hash of the whole row mod that partition's target count,
    counts baked as a literal map keyed by the partition directory
    string) and repartition on (partition cols, group) with exactly
    Σ groups tasks — each output file gets its own task, so file
    sizes land within a hash-uniformity factor of ``target_bytes``.

    Row→partition matching reads the partition columns as STRINGS
    through a read schema (Spark then takes a declared partition
    column's directory text without type inference, so ``id=00123``
    stays ``"00123"`` — inference would render it back as ``123``,
    silently matching nothing AND renaming the directory on rewrite);
    NULL partitions match Hive's ``__HIVE_DEFAULT_PARTITION__``. The
    session conf is never touched, so concurrent readers on the
    shared session keep their inference. As a backstop against any
    residual naming divergence (e.g. percent-escaped characters), the
    write is VERIFIED by re-listing: a planned partition whose file
    count did not drop to its target raises instead of reporting
    false success.

    Returns one dict per rewritten partition:
    {partition, n_files_before, n_files_target, bytes}.
    """
    from bi_utils_spark.operators.fsops import overwrite_partitions

    if not partition_cols:
        raise ValueError("compact_partitioned_path needs partition columns")
    # scoped listing: a partition_values wave only ever lists (and
    # later re-verifies) its own directories — incremental planning
    files = list_partition_files(spark, path, partition_cols, partition_values)
    stats: dict[str, dict] = {}
    for f in files:
        s = stats.setdefault(
            f["relative_dir"], {"n_files": 0, "bytes": 0}
        )
        s["n_files"] += 1
        s["bytes"] += f["bytes"]
    if partition_values is not None:
        wanted = {_partition_dir(partition_cols, pv) for pv in partition_values}
        stats = {d: s for d, s in stats.items() if d in wanted}
    plan: dict[str, dict] = {}
    for d, s in stats.items():
        n_target = max(1, math.ceil(s["bytes"] / target_bytes))
        if s["n_files"] > n_target:
            plan[d] = {**s, "n_target": n_target}
    if not plan:
        return []

    inferred = spark.read.parquet(path).schema
    missing = [c for c in partition_cols if c not in inferred.fieldNames()]
    if missing:
        raise ValueError(f"compact: partition cols {missing} not in table")
    df = spark.read.schema(
        StructType(
            [f for f in inferred.fields if f.name not in partition_cols]
            + [StructField(c, StringType()) for c in partition_cols]
        )
    ).parquet(path)
    # partition-directory string of each row — a string partition
    # column IS the directory text; NULL renders as Hive's
    # default-partition directory name
    dir_col = F.concat_ws(
        "/",
        *[
            F.concat(
                F.lit(f"{c}="),
                F.coalesce(
                    F.col(c).cast("string"),
                    F.lit("__HIVE_DEFAULT_PARTITION__"),
                ),
            )
            for c in partition_cols
        ],
    )
    n_map = F.create_map(
        *[F.lit(x) for d, s in plan.items() for x in (d, s["n_target"])]
    )
    data_cols = [c for c in df.columns if c not in partition_cols]
    selected = df.withColumn("__dir", dir_col).filter(
        F.element_at(n_map, F.col("__dir")).isNotNull()
    )
    grp_hash = (
        F.xxhash64(*[F.col(c) for c in data_cols])
        if data_cols
        else F.lit(0).cast("long")
    )
    grouped = selected.withColumn(
        "__grp",
        F.pmod(grp_hash, F.element_at(n_map, F.col("__dir"))).cast("int"),
    ).drop("__dir")
    total_tasks = sum(s["n_target"] for s in plan.values())
    compacted = grouped.repartition(
        total_tasks, *partition_cols, F.col("__grp")
    ).drop("__grp")
    overwrite_partitions(spark, compacted, partition_cols, path)
    # Post-write verification: silent no-ops (a directory name the
    # row-side rendering could not reproduce) must FAIL, not report
    # success with the small files still in place. Scoped to the plan
    # directories — verification must not re-list the whole table.
    after: dict[str, int] = {}
    for f in list_partition_files(spark, path, partition_dirs=sorted(plan)):
        after[f["relative_dir"]] = after.get(f["relative_dir"], 0) + 1
    bad = {
        d: after.get(d, 0)
        for d, s in plan.items()
        if after.get(d, 0) == 0 or after[d] > s["n_target"]
    }
    if bad:
        raise RuntimeError(
            f"compaction did not take effect for {sorted(bad)} "
            "(directory naming mismatch between the listing and the "
            "row-side rendering?) — files on disk are unchanged/partial"
        )
    return [
        {
            "partition": d,
            "n_files_before": s["n_files"],
            "n_files_target": s["n_target"],
            "bytes": s["bytes"],
        }
        for d, s in sorted(plan.items())
    ]
