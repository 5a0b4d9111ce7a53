"""Generated columns (r9).

`create_table(generated={col: expr})` declares columns every writer
must keep equal to their expression: computed when missing (create,
append, merge source, overwrite), validated when provided, recomputed
on UPDATE post-images. Reads whose predicate constrains the BASE
column prune files through the monotone expression — including
partition pruning when the generated column partitions the table.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators import txtable as tx


def _rows(spark, ks):
    return spark.createDataFrame(
        [
            (k, dt.datetime(1994 + k % 4, 1 + k % 12, 5, 10, 0), k * 100)
            for k in ks
        ],
        "k int, d timestamp, cents long",
    )


@pytest.fixture()
def gtable(spark, tmp_path):
    path = str(tmp_path / "gt")
    tx.create_table(
        _rows(spark, range(40)),
        path,
        partition_cols=["y"],
        generated={"y": "year(d)"},
    )
    return path


def test_create_computes_and_stamps(spark, gtable):
    snap = tx._fold(gtable)
    assert snap.generated == {"y": "year(d)"}
    assert "generatedColumns" in snap.protocol["writer"]
    got = {
        (r["k"], r["y"]) for r in tx.read_table(spark, gtable).collect()
    }
    assert got == {(k, 1994 + k % 4) for k in range(40)}


def test_append_computes_missing(spark, gtable):
    tx.append_table(_rows(spark, [100]), gtable)
    row = tx.read_table(spark, gtable).where("k = 100").first()
    assert row["y"] == 1994 + 100 % 4


def test_append_validates_provided(spark, gtable):
    bad = _rows(spark, [101]).withColumn("y", F.lit(1900))
    with pytest.raises(ValueError, match="generated column 'y'"):
        tx.append_table(bad, gtable)
    ok = _rows(spark, [101]).withColumn("y", F.year("d"))
    tx.append_table(ok, gtable)  # correct values pass validation


def test_self_reference_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="references itself"):
        tx.create_table(
            _rows(spark, [1]),
            str(tmp_path / "bad"),
            generated={"d": "d + interval 1 day"},
        )


def test_base_range_prunes_generated_partitions(spark, gtable):
    snap = tx._fold(gtable)
    where = "d BETWEEN '1995-01-01 00:00:00' AND '1995-12-31 23:59:59'"
    kept = tx._prune_files(
        snap.files,
        tx.predicate_skip_ranges(where),
        snap.spark_schema(),
        snap.partition_cols,
        snap.generated,
    )
    assert 0 < len(kept) < len(snap.files)
    assert {m["partition_values"]["y"] for m in kept.values()} == {"1995"}
    got = {r["k"] for r in tx.read_table(spark, gtable, where=where).collect()}
    assert got == {k for k in range(40) if 1994 + k % 4 == 1995}


def test_explicit_skip_on_partition_column_prunes(spark, gtable):
    # partition values double as exact zone maps even without
    # generated columns in play
    snap = tx._fold(gtable)
    kept = tx._prune_files(
        snap.files, {"y": (1997, None)}, snap.spark_schema(),
        snap.partition_cols,
    )
    assert {m["partition_values"]["y"] for m in kept.values()} == {"1997"}


def test_update_recomputes_derived(spark, gtable):
    tx.update_table(
        spark, gtable, F.col("k") == 3,
        {"d": "d + interval 366 days"},
    )
    row = tx.read_table(spark, gtable).where("k = 3").first()
    assert row["y"] == row["d"].year
    assert row["y"] == (1994 + 3 % 4) + 1


def test_update_set_generated_rejected(spark, gtable, tmp_path):
    # partition-column guard fires first when the generated column
    # also partitions the table
    with pytest.raises(ValueError, match="partition column"):
        tx.update_table(spark, gtable, F.col("k") == 1, {"y": F.lit(2000)})
    # a NON-partition generated column hits the generated guard
    path = str(tmp_path / "np")
    tx.create_table(
        _rows(spark, range(4)), path, generated={"y": "year(d)"}
    )
    with pytest.raises(ValueError, match="generated column"):
        tx.update_table(spark, path, F.col("k") == 1, {"y": F.lit(2000)})


def test_merge_source_computes_and_validates(spark, gtable):
    src = _rows(spark, [7, 200])  # update + insert, no y column
    tx.merge_tx_table(spark, gtable, src, ["k"])
    got = tx.read_table(spark, gtable).where("k = 200").first()
    assert got["y"] == 1994 + 200 % 4
    bad = _rows(spark, [201]).withColumn("y", F.lit(1900))
    with pytest.raises(ValueError, match="generated column 'y'"):
        tx.merge_tx_table(spark, gtable, bad, ["k"])


def test_rename_and_drop_guards(spark, gtable):
    with pytest.raises(ValueError, match="participates in generated"):
        tx.rename_column(gtable, "d", "ts")
    with pytest.raises(ValueError, match="participates in generated"):
        tx.drop_column(gtable, "d")
    # untouched columns still rename fine
    tx.rename_column(gtable, "cents", "amount")
    assert "amount" in tx.read_table(spark, gtable).columns


def _dated(spark):
    return spark.createDataFrame(
        [(k, dt.date(1995, 3, 1 + k), f"w{k}") for k in range(6)],
        "k int, `event d` date, week string",
    )


def test_backticked_base_guards(spark, tmp_path):
    path = str(tmp_path / "bt")
    tx.create_table(
        _dated(spark), path, generated={"y": "year(`event d`)"}
    )
    with pytest.raises(ValueError, match="participates in generated"):
        tx.rename_column(path, "event d", "ed")
    with pytest.raises(ValueError, match="participates in generated"):
        tx.drop_column(path, "event d")
    tx.append_table(_dated(spark), path)  # the table still writes
    assert tx.read_table(spark, path).where("y = 1995").count() == 12


def test_string_literal_is_not_a_reference(spark, tmp_path):
    # 'week' inside the expression is a literal, not the column week
    path = str(tmp_path / "wk")
    tx.create_table(
        _dated(spark).drop("week").withColumnRenamed("event d", "d"),
        path,
        generated={"week": "trunc(d, 'week')"},
    )
    got = {r["k"]: r["week"] for r in tx.read_table(spark, path).collect()}
    assert got[0] == dt.date(1995, 2, 27) and got[5] == dt.date(1995, 3, 6)
    path2 = str(tmp_path / "wk2")
    tx.create_table(
        _dated(spark).withColumnRenamed("event d", "d"),
        path2,
        generated={"wk": "trunc(D, 'week')"},
    )
    tx.rename_column(path2, "week", "label")
    assert "label" in tx.read_table(spark, path2).columns
    # Spark resolves D to d, so d is still a base column
    with pytest.raises(ValueError, match="participates in generated"):
        tx.rename_column(path2, "d", "day")


def test_clone_carries_definitions(spark, gtable, tmp_path):
    shallow = str(tmp_path / "sc")
    tx.clone_table(spark, gtable, shallow)
    assert tx._fold(shallow).generated == {"y": "year(d)"}
    tx.append_table(_rows(spark, [300]), shallow)
    assert (
        tx.read_table(spark, shallow).where("k = 300").first()["y"]
        == 1994 + 300 % 4
    )
    deep = str(tmp_path / "dc")
    tx.clone_table(spark, gtable, deep, shallow=False)
    assert tx._fold(deep).generated == {"y": "year(d)"}


def test_definitions_survive_checkpoint(spark, gtable):
    for i in range(tx.CHECKPOINT_EVERY + 1):
        tx.append_table(_rows(spark, [400 + i]), gtable)
    assert tx._list_log(gtable)[1], "expected a checkpoint"
    assert tx._fold(gtable).generated == {"y": "year(d)"}


def test_generated_range_derivation_forms(spark):
    assert tx._parse_generated_expr("CAST(ts AS DATE)") == (
        "date", "ts", None,
    )
    assert tx._parse_generated_expr("to_date(ts)") == ("date", "ts", None)
    assert tx._parse_generated_expr("YEAR(ts)") == ("year", "ts", None)
    assert tx._parse_generated_expr("substring(url, 1, 8)") == (
        "prefix", "url", 8,
    )
    assert tx._parse_generated_expr("month(ts)") is None  # not monotone
    assert tx._parse_generated_expr("date_trunc('month', ts)") == (
        "dtrunc", "ts", "month",
    )
    assert tx._parse_generated_expr("trunc(ts, 'MM')") == (
        "trunc", "ts", "month",
    )
    assert tx._parse_generated_expr("year(`event ts`)") == (
        "year", "event ts", None,
    )
    # calendar truncation bounds: month floor, week floor (Monday)
    out = tx._extend_generated(
        {"ts": ("1995-03-17 10:00:00", "1995-09-02 23:59:59")},
        {"m": "date_trunc('month', ts)", "w": "trunc(ts, 'week')"},
    )
    assert out["m"] == ("1995-03-01 00:00:00", "1995-09-01 00:00:00")
    assert out["w"] == ("1995-03-13", "1995-08-28")
    out = tx._extend_generated(
        {"ts": ("1995-03-04 10:00:00", "1995-09-30 23:59:59")},
        {"dt": "CAST(ts AS DATE)", "y": "year(ts)", "m": "month(ts)"},
    )
    assert out["dt"] == ("1995-03-04", "1995-09-30")
    assert out["y"] == (1995, 1995)
    assert "m" not in out
    # prefix truncation on strings
    out = tx._extend_generated(
        {"url": ("http://a.example/x", "http://b.example/z")},
        {"host8": "substr(url, 1, 8)"},
    )
    assert out["host8"] == ("http://a", "http://b")
    # undeducible sides fall open
    out = tx._extend_generated(
        {"ts": (12345, None)}, {"y": "year(ts)"}
    )
    assert "y" not in out
