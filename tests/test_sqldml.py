"""SQL DML front-end (operators/sqldml.py): statement shapes parse to
the tx verbs; string path == verb path; malformed/unsupported raises
with guidance. The full arc is oracle-attested as q_sql_dml_arc."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators import txtable as tx
from bi_utils_spark.operators.sqldml import SqlDmlError, tx_sql


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "a"), (4, 40, "b")],
            "k int, v long, s string",
        ),
        path,
    )
    return path


def _rows(spark, path, version=None):
    return sorted(
        (r["k"], r["v"], r["s"])
        for r in tx.read_table(spark, path, version=version).collect()
    )


def test_insert_values_and_select(spark, tbl):
    res = tx_sql(
        spark, "INSERT INTO t VALUES (5, 50, 'c'), (6, 60, 'c')",
        {"t": tbl},
    )
    assert res == {"op": "insert", "version": 1}
    # literals cast positionally to the table types (int -> long)
    assert (5, 50, "c") in _rows(spark, tbl)
    got = tx_sql(
        spark, "SELECT count(*) AS n FROM t WHERE s = 'c'", {"t": tbl}
    ).collect()
    assert got[0]["n"] == 2


def test_insert_column_list_fills_nulls(spark, tbl):
    tx_sql(spark, "INSERT INTO t (s, k) VALUES ('z', 9)", {"t": tbl})
    assert (9, None, "z") in _rows(spark, tbl)


def test_insert_select_and_overwrite(spark, tbl):
    tx_sql(
        spark,
        "INSERT INTO t SELECT k + 100, v, s FROM t WHERE k <= 2",
        {"t": tbl},
    )
    assert (101, 10, "a") in _rows(spark, tbl)
    tx_sql(
        spark,
        "INSERT OVERWRITE t SELECT k, v, s FROM t WHERE k > 100",
        {"t": tbl},
    )
    assert _rows(spark, tbl) == [(101, 10, "a"), (102, 20, "b")]
    # time travel still sees the pre-overwrite snapshot
    assert len(_rows(spark, tbl, version=0)) == 4


def test_update_delete_match_verbs(spark, tbl, tmp_path):
    twin = str(tmp_path / "twin")
    tx.create_table(tx.read_table(spark, tbl), twin)
    res = tx_sql(
        spark,
        "UPDATE t SET v = v * 2, s = upper(s) WHERE k % 2 = 0",
        {"t": tbl},
    )
    assert res["op"] == "update" and res["rows_updated"] == 2
    tx.update_table(
        spark, twin, "k % 2 = 0", {"v": "v * 2", "s": "upper(s)"}
    )
    assert _rows(spark, tbl) == _rows(spark, twin)
    res = tx_sql(spark, "DELETE FROM t WHERE s = 'A'", {"t": tbl})
    assert res["op"] == "delete" and res["rows_deleted"] == 0
    res = tx_sql(spark, "DELETE FROM t WHERE v >= 40", {"t": tbl}, mode="cow")
    tx.delete_from_table(spark, twin, "v >= 40", mode="cow")
    assert _rows(spark, tbl) == _rows(spark, twin)


def test_merge_upsert_with_flagged_delete(spark, tbl):
    spark.createDataFrame(
        [(1, 111, "x"), (7, 70, "y"), (2, 0, "zz")],
        "k int, v long, s string",
    ).createOrReplaceTempView("msrc")
    tx_sql(
        spark,
        "MERGE INTO t USING msrc AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN MATCHED AND s.s = 'zz' THEN DELETE",
        {"t": tbl},
    )
    rows = _rows(spark, tbl)
    assert (1, 111, "x") in rows  # matched update
    assert (7, 70, "y") in rows  # not-matched insert
    assert not any(k == 2 for k, _, _ in rows)  # flagged delete


def test_merge_subquery_source_with_extra_columns(spark, tbl):
    # extra source columns feed the DELETE condition, then project away
    tx_sql(
        spark,
        "MERGE INTO t AS t USING ("
        "  SELECT k, v + 1 AS v, s, k = 3 AS kill FROM t"
        ") AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN MATCHED AND s.kill THEN DELETE",
        {"t": tbl},
    )
    rows = _rows(spark, tbl)
    assert (1, 11, "a") in rows
    assert not any(k == 3 for k, _, _ in rows)


def test_time_travel_reads(spark, tbl):
    tx_sql(spark, "DELETE FROM t WHERE k > 1", {"t": tbl})
    cur = tx_sql(spark, "SELECT count(*) AS n FROM t", {"t": tbl}).collect()
    old = tx_sql(
        spark, "SELECT count(*) AS n FROM t VERSION AS OF 0", {"t": tbl}
    ).collect()
    assert (cur[0]["n"], old[0]["n"]) == (1, 4)
    # joins across versions in one statement
    both = tx_sql(
        spark,
        "SELECT a.k FROM t VERSION AS OF 0 a LEFT ANTI JOIN t b ON a.k = b.k",
        {"t": tbl},
    )
    assert sorted(r["k"] for r in both.collect()) == [2, 3, 4]


def test_restore_history_vacuum(spark, tbl):
    tx_sql(spark, "DELETE FROM t WHERE k = 1", {"t": tbl})
    res = tx_sql(spark, "RESTORE TABLE t TO VERSION AS OF 0", {"t": tbl})
    assert res["op"] == "restore"
    assert len(_rows(spark, tbl)) == 4
    hist = tx_sql(spark, "DESCRIBE HISTORY t", {"t": tbl})
    assert hist.count() == 3  # create, delete, restore
    res = tx_sql(spark, "VACUUM t RETAIN 10 VERSIONS", {"t": tbl})
    assert res["op"] == "vacuum" and res["files_deleted"] == 0


def test_literal_safety_and_comments(spark, tbl):
    # keyword-looking literals never confuse the dispatcher or the
    # time-travel rewriter; comments are stripped
    tx_sql(
        spark,
        "INSERT INTO t VALUES (8, 80, 'DELETE FROM t WHERE 1=1')",
        {"t": tbl},
    )
    got = tx_sql(
        spark,
        "SELECT v FROM t -- trailing comment\n"
        "WHERE s = 'DELETE FROM t WHERE 1=1' /* t VERSION AS OF 99 */",
        {"t": tbl},
    ).collect()
    assert [r["v"] for r in got] == [80]


@pytest.mark.parametrize(
    "stmt,hint",
    [
        ("DROP TABLE t", "unsupported statement kind"),
        ("DELETE FROM nope WHERE 1=1", "not in the tables mapping"),
        ("UPDATE t SET = 5", "not a column name"),
        ("INSERT INTO t FOO", "expected VALUES"),
        ("INSERT INTO t VALUES (1)", "columns"),
        (
            "MERGE INTO t USING t s ON t.k < s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            "conjunction",
        ),
        (
            "MERGE INTO t USING t s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 1",
            "THEN DELETE only",
        ),
        (
            "MERGE INTO t USING t s ON t.k = s.k "
            "WHEN MATCHED THEN INSERT *",
            "unsupported action",
        ),
        (
            "MERGE INTO t USING t s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT VALUES (1, 2, 'x')",
            "INSERT",
        ),
        (
            "MERGE INTO t USING t s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (v, s) VALUES (s.v, s.s)",
            "merge key",
        ),
        (
            "MERGE INTO t USING t s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED AND s.v > 1 THEN UPDATE SET v = 2",
            "duplicate clause kind",
        ),
        (
            "MERGE INTO t USING t s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET k = 9 "
            "WHEN NOT MATCHED THEN INSERT *",
            "merge key",
        ),
        ("RESTORE TABLE t TO VERSION 3", "malformed RESTORE"),
        ("", "empty statement"),
    ],
)
def test_errors_carry_guidance(spark, tbl, stmt, hint):
    with pytest.raises(SqlDmlError, match=hint):
        tx_sql(spark, stmt, {"t": tbl})


def test_mode_flows_to_verbs(spark, tbl):
    # cow delete rewrites files (no DVs); mor delete records DVs
    tx_sql(spark, "DELETE FROM t WHERE k = 1", {"t": tbl}, mode="cow")
    assert not any(m.get("dv") for m in tx._fold(tbl).files.values())
    res = tx_sql(spark, "DELETE FROM t WHERE k = 2", {"t": tbl}, mode="mor")
    assert res["mode"] == "mor"
    assert any(m.get("dv") for m in tx._fold(tbl).files.values())


def test_script_execution(spark, tbl, tmp_path):
    from bi_utils_spark.operators.sqldml import split_statements, tx_sql_script

    # splitting respects literals and comments
    assert split_statements(
        "DELETE FROM t WHERE s = 'a;b'; -- c;d\nUPDATE t SET v = 1;;"
    ) == ["DELETE FROM t WHERE s = 'a;b'", "UPDATE t SET v = 1"]
    script = tmp_path / "arc.sql"
    script.write_text(
        "INSERT INTO t VALUES (5, 50, '{tag}');\n"
        "UPDATE t SET v = v + {bump} WHERE s = '{tag}';\n"
        "DELETE FROM t WHERE k = 1;\n"
    )
    res = tx_sql_script(
        spark, str(script), {"t": tbl}, tag="zz", bump=7
    )
    assert [r["op"] for r in res] == ["insert", "update", "delete"]
    assert (5, 57, "zz") in _rows(spark, tbl)
    assert not any(k == 1 for k, _, _ in _rows(spark, tbl))
    # a failing statement names its position; prior ones committed
    script.write_text("DELETE FROM t WHERE k = 2;\nDROP TABLE t;\n")
    with pytest.raises(SqlDmlError, match="statement 2"):
        tx_sql_script(spark, str(script), {"t": tbl})
    assert not any(k == 2 for k, _, _ in _rows(spark, tbl))


def test_merge_nested_subquery_source(spark, tbl):
    # two levels of parens in USING — the balanced-paren scan handles
    # what a fixed-depth regex cannot
    tx_sql(
        spark,
        "MERGE INTO t USING ("
        "  SELECT k, v, s FROM (SELECT k, v + 1 AS v, s FROM t) inner_q"
        "  WHERE k <= 2"
        ") AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"t": tbl},
    )
    rows = _rows(spark, tbl)
    assert (1, 11, "a") in rows and (2, 21, "b") in rows
    assert (3, 30, "a") in rows  # untouched


# ===========================================================================
# r12: table-reference binding fixes (r11 advice) + SQL-standard MERGE
# semantics and the widened clause grammar (r11 verdict task 4)
# ===========================================================================


def test_qualified_references_resolve(spark, tbl):
    """The r11 advice repro: `SELECT t.x FROM t` used to rewrite the
    qualifier and the FROM reference to two different temp views."""
    got = tx_sql(
        spark, "SELECT t.k, t.v FROM t WHERE t.s = 'a'", {"t": tbl}
    ).collect()
    assert sorted((r["k"], r["v"]) for r in got) == [(1, 10), (3, 30)]


def test_self_join_and_alias_sharing_name(spark, tbl):
    # self-join through the mapped name
    got = tx_sql(
        spark,
        "SELECT a.k AS k FROM t a JOIN t b ON a.k = b.k WHERE a.s = 'b'",
        {"t": tbl},
    ).collect()
    assert sorted(r["k"] for r in got) == [2, 4]
    # an OUTPUT alias that shares the mapped name is untouched
    got = tx_sql(
        spark, "SELECT max(v) AS t FROM t", {"t": tbl}
    ).collect()
    assert got[0]["t"] == 40


def test_binding_views_are_dropped_after_statement(spark, tbl):
    tx_sql(spark, "SELECT * FROM t", {"t": tbl}).collect()
    assert not any(
        v.name == "t" or v.name.startswith("__tx_sql_")
        for v in spark.catalog.listTables()
    )


def test_asof_and_plain_reference_coexist(spark, tbl):
    tx_sql(spark, "DELETE FROM t WHERE k = 4", {"t": tbl})
    got = tx_sql(
        spark,
        "SELECT (SELECT count(*) FROM t VERSION AS OF 0) AS n0, "
        "count(*) AS n1, (SELECT count(*) FROM t VERSION AS OF 0) AS n0b "
        "FROM t",
        {"t": tbl},
    ).collect()[0]
    assert (got["n0"], got["n1"], got["n0b"]) == (4, 3, 4)


def test_merge_delete_flag_applies_to_matched_only(spark, tbl):
    """SQL standard (r11 advice): WHEN MATCHED AND flag THEN DELETE
    never touches NOT-MATCHED rows — a flagged NEW key still inserts
    via WHEN NOT MATCHED THEN INSERT *."""
    spark.createDataFrame(
        [(2, 21, "b", True),   # matched + flagged -> deleted
         (3, 31, "a", False),  # matched -> updated
         (9, 90, "z", True)],  # NOT matched + flagged -> INSERTS
        "k int, v long, s string, del boolean",
    ).createOrReplaceTempView("m_src")
    tx_sql(
        spark,
        "MERGE INTO t USING m_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN MATCHED AND s.del THEN DELETE",
        {"t": tbl},
    )
    assert _rows(spark, tbl) == [
        (1, 10, "a"), (3, 31, "a"), (4, 40, "b"), (9, 90, "z")
    ]


def test_merge_partial_update_set(spark, tbl):
    """Partial-column UPDATE SET: listed columns take the expression
    (both aliases referencable), unlisted keep TARGET values."""
    spark.createDataFrame(
        [(1, 100), (3, 300), (9, 900)], "k int, bonus long"
    ).createOrReplaceTempView("m_src2")
    tx_sql(
        spark,
        "MERGE INTO t USING m_src2 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.bonus",
        {"t": tbl},
    )
    # s untouched everywhere; unmatched source key 9 NOT inserted
    # (no INSERT clause); unmatched target rows untouched
    assert _rows(spark, tbl) == [
        (1, 110, "a"), (2, 20, "b"), (3, 330, "a"), (4, 40, "b")
    ]


def test_merge_conditional_clauses(spark, tbl):
    """WHEN MATCHED AND c THEN UPDATE + WHEN NOT MATCHED AND c THEN
    INSERT: rows failing the matched condition stay untouched; rows
    failing the insert condition vanish."""
    spark.createDataFrame(
        [(1, 11, "a"), (2, 22, "b"), (8, 80, "y"), (9, 90, "z")],
        "k int, v long, s string",
    ).createOrReplaceTempView("m_src3")
    tx_sql(
        spark,
        "MERGE INTO t USING m_src3 s ON t.k = s.k "
        "WHEN MATCHED AND s.v > 20 THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.s = 'z' THEN INSERT *",
        {"t": tbl},
    )
    assert _rows(spark, tbl) == [
        (1, 10, "a"),   # matched, cond false -> untouched
        (2, 22, "b"),   # matched, cond true -> updated
        (3, 30, "a"), (4, 40, "b"),
        (9, 90, "z"),   # unmatched, insert cond true
    ]


def test_merge_not_matched_by_source_delete(spark, tbl):
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k int, v long, s string"
    ).createOrReplaceTempView("m_src4")
    tx_sql(
        spark,
        "MERGE INTO t USING m_src4 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND t.s = 'b' THEN DELETE",
        {"t": tbl},
    )
    # k=4 (s='b', untouched by source) deleted; k=3 (s='a') kept
    assert _rows(spark, tbl) == [(1, 10, "a"), (2, 20, "b"), (3, 30, "a")]


def test_merge_delete_condition_over_target_columns(spark, tbl):
    """A DELETE condition referencing TARGET columns routes through
    the join path (the pre-r12 front-end refused it)."""
    spark.createDataFrame(
        [(1, 0, "x"), (2, 0, "x"), (9, 99, "z")],
        "k int, v long, s string",
    ).createOrReplaceTempView("m_src5")
    tx_sql(
        spark,
        "MERGE INTO t USING m_src5 s ON t.k = s.k "
        "WHEN MATCHED AND t.v >= 20 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"t": tbl},
    )
    assert _rows(spark, tbl) == [
        (1, 0, "x"),    # matched, t.v=10 < 20 -> updated
        (3, 30, "a"), (4, 40, "b"),  # untouched by source
        (9, 99, "z"),   # inserted
    ]


def test_merge_update_only_and_delete_only(spark, tbl):
    spark.createDataFrame(
        [(2, True), (9, True)], "k int, del boolean"
    ).createOrReplaceTempView("m_src6")
    # DELETE-only merge: matched flagged key deleted, new key ignored
    tx_sql(
        spark,
        "MERGE INTO t USING m_src6 s ON t.k = s.k "
        "WHEN MATCHED AND s.del THEN DELETE",
        {"t": tbl},
    )
    assert _rows(spark, tbl) == [(1, 10, "a"), (3, 30, "a"), (4, 40, "b")]


# ===========================================================================
# r12: DDL statements — CREATE TABLE / ALTER TABLE / OPTIMIZE dispatch
# to the metadata-time tx verbs
# ===========================================================================


def test_create_table_column_list(spark, tmp_path):
    path = str(tmp_path / "c1")
    res = tx_sql(
        spark,
        "CREATE TABLE c1 (k int, v long, s string) PARTITIONED BY (s)",
        {"c1": path},
    )
    assert res == {"op": "create", "version": 0}
    assert tx._fold(path).partition_cols == ["s"]
    tx_sql(spark, "INSERT INTO c1 VALUES (1, 10, 'a')", {"c1": path})
    assert _rows(spark, path) == [(1, 10, "a")]
    # IF NOT EXISTS: second create is a recorded no-op
    res = tx_sql(
        spark, "CREATE TABLE IF NOT EXISTS c1 (k int)", {"c1": path}
    )
    assert res["skipped"] is True
    with pytest.raises(FileExistsError):  # bare CREATE on existing: verb raises
        tx_sql(spark, "CREATE TABLE c1 (k int)", {"c1": path})


def test_create_table_as_select(spark, tbl, tmp_path):
    path = str(tmp_path / "c2")
    tx_sql(
        spark,
        "CREATE TABLE c2 PARTITIONED BY (s) AS "
        "SELECT k, v * 2 AS v, s FROM t WHERE k <= 2",
        {"t": tbl, "c2": path},
    )
    assert _rows(spark, path) == [(1, 20, "a"), (2, 40, "b")]
    assert tx._fold(path).partition_cols == ["s"]


def test_alter_table_forms(spark, tbl):
    t = {"t": tbl}
    tx_sql(spark, "ALTER TABLE t ADD COLUMN note string", t)
    tx_sql(spark, "ALTER TABLE t RENAME COLUMN note TO memo", t)
    tx_sql(spark, "ALTER TABLE t ALTER COLUMN k TYPE bigint", t)
    fields = {
        f.name: f.dataType.typeName()
        for f in tx._fold(tbl).spark_schema().fields
    }
    assert fields["memo"] == "string" and fields["k"] == "long"
    tx_sql(spark, "ALTER TABLE t DROP COLUMN memo", t)
    assert "memo" not in tx._fold(tbl).spark_schema().fieldNames()
    tx_sql(spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (v >= 0)", t)
    assert "pos" in tx._fold(tbl).constraints
    with pytest.raises(tx.CheckViolation):
        tx_sql(spark, "INSERT INTO t VALUES (9, -1, 'z')", t)
    tx_sql(spark, "ALTER TABLE t DROP CONSTRAINT pos", t)
    assert "pos" not in tx._fold(tbl).constraints
    with pytest.raises(SqlDmlError, match="Supported ALTER"):
        tx_sql(spark, "ALTER TABLE t SET TBLPROPERTIES ('a'='b')", t)


def test_optimize_statement(spark, tbl):
    t = {"t": tbl}
    for i in range(3):  # fragment the unpartitioned table
        tx_sql(spark, f"INSERT INTO t VALUES ({10 + i}, {i}, 'f')", t)
    before = _rows(spark, tbl)
    res = tx_sql(spark, "OPTIMIZE t", t)
    assert res["op"] == "optimize" and res["compacted"]
    assert _rows(spark, tbl) == before
    res = tx_sql(spark, "OPTIMIZE t ZORDER BY (v)", t)
    assert res["op"] == "optimize"
    assert _rows(spark, tbl) == before


def test_merge_insert_column_list_values(spark, tbl):
    spark.createDataFrame(
        [(2, 200), (8, 800)], "k int, vv long"
    ).createOrReplaceTempView("m_src7")
    tx_sql(
        spark,
        "MERGE INTO t USING m_src7 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.vv "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.vv + 1)",
        {"t": tbl},
    )
    # unlisted column s fills NULL on the inserted row only
    assert _rows(spark, tbl) == [
        (1, 10, "a"), (2, 200, "b"), (3, 30, "a"), (4, 40, "b"),
        (8, 801, None),
    ]


# ===========================================================================
# Spark's own lexer and parse read every statement: valid SQL the
# hand-written scanner rejected or misread
# ===========================================================================


def test_merge_case_when_in_clauses(spark, tbl):
    """CASE WHEN inside a SET value and inside a clause condition (the
    scanner cut clauses at every WHEN and refused the statement)."""
    spark.createDataFrame(
        [(1, 60, "x"), (2, 5, "y"), (3, 70, "z")], "k int, v long, s string"
    ).createOrReplaceTempView("m_case")
    tx_sql(
        spark,
        "MERGE INTO t USING m_case s ON t.k = s.k "
        "WHEN MATCHED AND CASE WHEN s.s = 'z' THEN false ELSE true END "
        "THEN UPDATE SET v = CASE WHEN s.v > 50 THEN s.v ELSE t.v END",
        {"t": tbl},
    )
    assert _rows(spark, tbl) == [
        (1, 60, "a"),   # s.v > 50 -> source value
        (2, 20, "b"),   # s.v <= 50 -> target value kept
        (3, 30, "a"),   # condition false -> untouched
        (4, 40, "b"),
    ]


def test_double_quoted_literals_stay_literals(spark, tbl):
    """A double-quoted literal is neither rewritten as a table reference
    nor cut at a -- or ; inside it."""
    from bi_utils_spark.operators.sqldml import split_statements

    t = {"t": tbl}
    tx_sql(
        spark,
        "INSERT INTO t VALUES (8, 80, 't VERSION AS OF 0'), (9, 90, 'a--b')",
        t,
    )
    got = tx_sql(
        spark, 'SELECT k FROM t WHERE s = "t VERSION AS OF 0"', t
    ).collect()
    assert [r["k"] for r in got] == [8]
    got = tx_sql(
        spark, 'SELECT k FROM t WHERE s = "a--b" OR k = 1', t
    ).collect()
    assert sorted(r["k"] for r in got) == [1, 9]
    res = tx_sql(spark, 'DELETE FROM t WHERE s = "x -- y" OR k = 1', t)
    assert res["rows_deleted"] == 1
    assert split_statements(
        'DELETE FROM t WHERE s = "a;b"; UPDATE t SET v = 1'
    ) == ['DELETE FROM t WHERE s = "a;b"', "UPDATE t SET v = 1"]


def test_backquoted_table_name(spark, tbl):
    res = tx_sql(spark, "DELETE FROM `t` WHERE k = 1", {"t": tbl})
    assert res["op"] == "delete" and res["rows_deleted"] == 1
    assert not any(k == 1 for k, _, _ in _rows(spark, tbl))


def test_parse_errors_keep_spark_position(spark, tbl):
    # Spark's own message rides along: line and position in the statement
    with pytest.raises(SqlDmlError, match=r"pos 13"):
        tx_sql(spark, "UPDATE t SET = 5", {"t": tbl})
