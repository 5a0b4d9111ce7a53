"""Unit tests for MERGE upsert + schema drift (SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators.merge import merge_plan_explain, merge_upsert
from bi_utils_spark.operators.schema_drift import (
    format_schema_change_messages,
    length_drift,
    schema_diff,
    widen_ddl,
)

T0, T1 = "2020-01-01 00:00:00", "2024-06-01 00:00:00"


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "old-a", T0, T0), (2, "old-b", T0, T0)],
        ["id", "payload", "insert_timestamp", "update_timestamp"],
    )


@pytest.fixture()
def source(spark):
    return spark.createDataFrame(
        [(2, "new-b"), (3, "new-c")], ["id", "payload"]
    )


def test_merge_matched_updated_unmatched_inserted(target, source):
    out = merge_upsert(target, source, ["id"], now=F.lit(T1)).orderBy("id")
    rows = out.collect()
    assert [r["id"] for r in rows] == [1, 2, 3]
    # row 1: untouched target row
    assert rows[0]["payload"] == "old-a"
    assert rows[0]["update_timestamp"] == T0
    # row 2: matched — source payload, update_ts restamped, insert_ts kept
    assert rows[1]["payload"] == "new-b"
    assert rows[1]["insert_timestamp"] == T0       # utils.py:273 exclusion
    assert rows[1]["update_timestamp"] == T1
    # row 3: inserted — both timestamps stamped (utils.py:283-290)
    assert rows[2]["payload"] == "new-c"
    assert rows[2]["insert_timestamp"] == T1
    assert rows[2]["update_timestamp"] == T1


def test_merge_accepts_comma_separated_pks(target, source):
    # the reference took pk_columns as a comma-separated string (utils.py:246)
    out = merge_upsert(target, source, "id", now=F.lit(T1))
    assert out.count() == 3


def test_merge_idempotent(target, source):
    once = merge_upsert(target, source, ["id"], now=F.lit(T1))
    twice = merge_upsert(once, source, ["id"], now=F.lit(T1))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_composite_pk(spark):
    t = spark.createDataFrame([(1, "x", 10.0)], ["k1", "k2", "v"])
    s = spark.createDataFrame([(1, "x", 99.0), (1, "y", 7.0)], ["k1", "k2", "v"])
    out = merge_upsert(t, s, ["k1", "k2"]).orderBy("k1", "k2")
    assert [(r["k1"], r["k2"], r["v"]) for r in out.collect()] == [
        (1, "x", 99.0),
        (1, "y", 7.0),
    ]


def test_merge_missing_pk_raises(target, source):
    with pytest.raises(ValueError, match="missing"):
        merge_upsert(target, source, ["nope"])


def test_merge_source_missing_data_column_keeps_target(spark):
    t = spark.createDataFrame([(1, "a", "extra")], ["id", "v", "only_t"])
    s = spark.createDataFrame([(1, "b")], ["id", "v"])
    row = merge_upsert(t, s, ["id"]).first()
    assert row["v"] == "b" and row["only_t"] == "extra"


def test_merge_plan_explain_is_dry_run(target, source):
    text = merge_plan_explain(target, source, ["id"])
    assert "Physical Plan" in text


def test_length_drift(spark):
    incoming = spark.createDataFrame(
        [("abcdef", 123456)], ["name", "code"]
    )
    declared = spark.createDataFrame(
        [("name", 4), ("code", 10)], ["column_name", "declared_max_length"]
    )
    out = length_drift(incoming, declared).collect()
    assert len(out) == 1
    assert out[0]["column_name"] == "name"
    assert out[0]["new_max_length"] == 6
    ddl = widen_ddl(length_drift(incoming, declared), "S", "T")
    assert ddl == ["ALTER TABLE S.T MODIFY COLUMN name VARCHAR(6)"]


def test_merge_into_sql_codegen(spark):
    # mirrors the reference codegen contract (utils.py:265-290):
    # matched updates restamp update_timestamp only; inserts stamp both
    from bi_utils_spark.operators.merge import merge_into_sql

    sql = merge_into_sql("cat.db.dim", "src", "id, ver", ["name", "qty"])
    assert "MERGE INTO cat.db.dim t" in sql
    assert "ON t.`id` = s.`id` AND t.`ver` = s.`ver`" in sql
    assert "t.`name` = s.`name`, t.`qty` = s.`qty`, "
    assert "t.`update_timestamp` = CURRENT_TIMESTAMP" in sql
    assert "t.`insert_timestamp` = " not in sql  # preserved on match
    assert (
        "INSERT (`id`, `ver`, `name`, `qty`, "
        "`insert_timestamp`, `update_timestamp`)" in sql
    )
    assert sql.rstrip().endswith(
        "VALUES (s.`id`, s.`ver`, s.`name`, s.`qty`, "
        "CURRENT_TIMESTAMP, CURRENT_TIMESTAMP)"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pk"):
        merge_into_sql("t", "s", [], ["a"])


def test_merge_into_table_capability_gated(spark):
    # this image has neither Delta nor Iceberg jars: the capability
    # probe must say so and the executor must refuse loudly (never a
    # silent parquet downgrade)
    import pytest as _pytest

    from bi_utils_spark.operators.merge import (
        acid_merge_available,
        merge_into_table,
    )

    src = spark.createDataFrame([(1, "a")], ["id", "name"])
    if acid_merge_available(spark):  # pragma: no cover — cluster image
        _pytest.skip("ACID catalog present; exercised on cluster images")
    with _pytest.raises(RuntimeError, match="Delta/Iceberg"):
        merge_into_table(spark, "t", src, "id")


def test_decimal_widening_round_trip(spark, tmp_path):
    # VERDICT r3 #8: DECIMAL(12,2) -> (18,4) widen applied to a
    # parquet table in place, data preserved exactly
    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from bi_utils_spark.operators.schema_drift import (
        apply_widening,
        decimal_widening_plan,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, Decimal("12345.67")), (2, Decimal("-0.01"))], "id int, amt decimal(12,2)"
    ).write.parquet(path)
    old = spark.read.parquet(path).schema
    incoming = StructType.fromDDL("id int, amt decimal(18,4)")
    plan = decimal_widening_plan(old, incoming)
    assert plan == {"amt": "decimal(18,4)"}
    apply_widening(spark, path, plan)
    back = spark.read.parquet(path)
    assert back.schema["amt"].dataType.simpleString() == "decimal(18,4)"
    got = {r["id"]: r["amt"] for r in back.collect()}
    assert got == {1: Decimal("12345.6700"), 2: Decimal("-0.0100")}
    # temp staging dir cleaned up
    assert not (tmp_path / "t.__widen_tmp").exists()


def test_widening_partitioned_rewrites_only_named_partitions(spark, tmp_path):
    # VERDICT r4 #4: widen one date-partition at a time — untouched
    # partitions' files stay byte-identical; a second wave finishes
    # the sweep and the whole table reads back widened
    import pathlib
    from decimal import Decimal

    from bi_utils_spark.operators.schema_drift import apply_widening_partitioned

    path = str(tmp_path / "wt")
    spark.createDataFrame(
        [("2024-01-01", 1, Decimal("11.11")), ("2024-01-02", 2, Decimal("22.22"))],
        "pdate string, id int, amt decimal(12,2)",
    ).write.partitionBy("pdate").parquet(path)

    def snapshot(day):
        files = sorted(
            p for p in pathlib.Path(path, f"pdate={day}").rglob("*.parquet")
        )
        return [(p.name, p.read_bytes()) for p in files]

    before_day2 = snapshot("2024-01-02")
    plan = {"amt": "decimal(18,4)"}
    done = apply_widening_partitioned(
        spark, path, plan, ["pdate"], [{"pdate": "2024-01-01"}]
    )
    assert done == [{"pdate": "2024-01-01"}]
    assert snapshot("2024-01-02") == before_day2, "untouched partition rewritten"
    # mid-backfill: read with the explicit widened schema
    widened = spark.read.schema(
        "id int, amt decimal(18,4), pdate string"
    ).parquet(path)
    got = {r["id"]: r["amt"] for r in widened.collect()}
    assert got == {1: Decimal("11.1100"), 2: Decimal("22.2200")}
    # second wave (all remaining = all partitions) completes the sweep
    done2 = apply_widening_partitioned(spark, path, plan, ["pdate"])
    # discovery infers pdate as DATE; the directory names are identical
    assert {str(d["pdate"]) for d in done2} == {"2024-01-01", "2024-01-02"}
    back = spark.read.parquet(path)
    assert back.schema["amt"].dataType.simpleString() == "decimal(18,4)"
    assert {r["id"]: r["amt"] for r in back.collect()} == {
        1: Decimal("11.1100"),
        2: Decimal("22.2200"),
    }
    # empty plan / no partitions are no-ops
    assert apply_widening_partitioned(spark, path, {}, ["pdate"]) == []


def test_fs_delete_works_through_hadoop_api(spark, tmp_path):
    # ADVICE r4: temp cleanup must go through the Hadoop FileSystem
    # API (portable to hdfs/s3a), and actually delete recursively
    from bi_utils_spark.operators.schema_drift import _fs_delete

    d = tmp_path / "victim"
    (d / "sub").mkdir(parents=True)
    (d / "sub" / "f.txt").write_text("x")
    assert _fs_delete(spark, str(d)) is True
    assert not d.exists()
    assert _fs_delete(spark, str(d)) is False  # already gone


def test_decimal_widening_plan_union_semantics(spark):
    # widened type must hold BOTH sides: (12,2) vs (10,6) -> int
    # digits max(10,4)=10, scale max(2,6)=6 -> decimal(16,6); equal
    # types and non-decimal columns are no-ops
    from pyspark.sql.types import StructType

    from bi_utils_spark.operators.schema_drift import decimal_widening_plan

    old = StructType.fromDDL("a decimal(12,2), b decimal(5,1), c string")
    new = StructType.fromDDL("a decimal(10,6), b decimal(5,1), c string")
    assert decimal_widening_plan(old, new) == {"a": "decimal(16,6)"}


def test_schema_diff_events(spark):
    old = spark.createDataFrame([(1, "a")], ["id", "v"]).schema
    new = spark.createDataFrame([(1, 2.0, True)], ["id", "v", "flag"]).schema
    events = schema_diff(old, new)
    changes = {(e["column"], e["change"]) for e in events}
    assert changes == {("v", "type_changed"), ("flag", "added")}
    msgs = format_schema_change_messages("t", events)
    assert any("flag" in m and "added" in m for m in msgs)


def test_merge_into_path_lifecycle(spark, tmp_path):
    # M1 end-to-end against a parquet path: read → merge → rewrite
    from bi_utils_spark.operators.merge import merge_into_path

    path = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, "old", T0, T0)],
        ["id", "payload", "insert_timestamp", "update_timestamp"],
    ).write.parquet(path)
    source = spark.createDataFrame([(1, "new"), (2, "ins")], ["id", "payload"])
    merge_into_path(spark, path, source, ["id"], now=F.lit(T1))
    got = {r["id"]: r for r in spark.read.parquet(path).collect()}
    assert got[1]["payload"] == "new" and got[1]["insert_timestamp"] == T0
    assert got[2]["payload"] == "ins" and got[2]["insert_timestamp"] == T1


def test_merge_partition_scoped_leaves_untouched_files_byte_identical(
    spark, tmp_path
):
    # the 100 TB contract: merging a delta that touches partition
    # 2024-01-02 must not rewrite (or even re-encode) 2024-01-01
    import pathlib

    from bi_utils_spark.operators.merge import merge_into_partitioned_path

    path = str(tmp_path / "ptarget")
    spark.createDataFrame(
        [
            ("2024-01-01", 1, "a-old", T0, T0),
            ("2024-01-01", 2, "b-old", T0, T0),
            ("2024-01-02", 3, "c-old", T0, T0),
        ],
        ["pdate", "id", "payload", "insert_timestamp", "update_timestamp"],
    ).write.partitionBy("pdate").parquet(path)

    def snapshot(day):
        files = sorted(
            p for p in pathlib.Path(path, f"pdate={day}").rglob("*.parquet")
        )
        return [(p.name, p.read_bytes()) for p in files]

    before_day1 = snapshot("2024-01-01")

    source = spark.createDataFrame(
        [("2024-01-02", 3, "c-new"), ("2024-01-02", 4, "d-ins")],
        ["pdate", "id", "payload"],
    )
    merge_into_partitioned_path(
        spark, path, source, ["id"], ["pdate"], now=F.lit(T1)
    )

    got = {r["id"]: r for r in spark.read.parquet(path).collect()}
    assert got[3]["payload"] == "c-new" and got[3]["insert_timestamp"] == T0
    assert got[4]["payload"] == "d-ins" and got[4]["insert_timestamp"] == T1
    assert got[1]["payload"] == "a-old" and got[2]["payload"] == "b-old"
    assert snapshot("2024-01-01") == before_day1, "untouched partition rewritten"


def test_merge_partition_scoped_bootstrap(spark, tmp_path):
    from bi_utils_spark.operators.merge import merge_into_partitioned_path

    path = str(tmp_path / "pboot")
    source = spark.createDataFrame(
        [("2024-01-01", 1, "x")], ["pdate", "id", "payload"]
    )
    merge_into_partitioned_path(
        spark, path, source, ["id"], ["pdate"], now=F.lit(T1)
    )
    rows = spark.read.parquet(path).collect()
    # bootstrap schema types the managed columns as real timestamps
    assert len(rows) == 1 and str(rows[0]["insert_timestamp"]) == T1


def test_merge_partition_scoped_missing_partition_col_raises(spark, tmp_path):
    from bi_utils_spark.operators.merge import merge_into_partitioned_path

    source = spark.createDataFrame([(1, "x")], ["id", "payload"])
    with pytest.raises(ValueError, match="partition cols"):
        merge_into_partitioned_path(
            spark, str(tmp_path / "none"), source, ["id"], ["pdate"]
        )


def test_merge_into_path_bootstrap_keeps_custom_timestamp_names(spark, tmp_path):
    # the first merge into an empty path creates the table with the
    # managed timestamp columns the caller named, not the defaults
    from bi_utils_spark.operators.merge import merge_into_path

    path = str(tmp_path / "boot")
    source = spark.createDataFrame([(1, "x")], ["id", "payload"])
    merge_into_path(
        spark, path, source, ["id"], now=F.lit(T1),
        insert_ts_col="ins_ts", update_ts_col="upd_ts",
    )
    rows = spark.read.parquet(path).collect()
    assert sorted(rows[0].asDict()) == ["id", "ins_ts", "payload", "upd_ts"]
    assert len(rows) == 1 and str(rows[0]["ins_ts"]) == T1
