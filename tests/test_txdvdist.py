"""Distributed deletion-vector sidecar writes (r10).

Every MOR delete/update writes its sidecars executor-side: each
touched file's task writes its own sidecar (tmp+os.replace) and the
driver collects only pointer rows — masking any fraction of the table
succeeds in MOR mode. Crash debris (stray sidecars and .tmp- files)
is invisible to readers and reaped by vacuum's age guard.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from bi_utils_spark.operators import txtable as tx


def _rows(spark, n):
    return spark.createDataFrame(
        [(i, "A" if i % 2 else "B", i * 10) for i in range(n)],
        "k int, status string, v long",
    )


def test_mor_delete_beyond_bound_writes_executor_side(spark, tmp_path):
    a = str(tmp_path / "dist")
    b = str(tmp_path / "collect")
    for p in (a, b):
        tx.create_table(_rows(spark, 200).repartition(4), p)
    # the 100-row mask is written by the executor-side writer
    r = tx.delete_from_table(spark, a, "k % 2 = 0", mode="mor")
    assert r["mode"] == "mor" and r["rows_deleted"] == 100
    r2 = tx.delete_from_table(spark, b, "k % 2 = 0", mode="mor")
    assert r2["rows_deleted"] == 100
    # same result on two identical tables; zero files rewritten
    assert sorted(
        x["k"] for x in tx.read_table(spark, a).collect()
    ) == sorted(x["k"] for x in tx.read_table(spark, b).collect())
    snap = tx._fold(a)
    assert r["files_touched"] == sum(
        1 for m in snap.files.values() if m.get("dv")
    )
    for m in snap.files.values():
        if m.get("dv"):
            assert os.path.exists(os.path.join(a, m["dv"]["path"]))


def test_distributed_path_unions_previous_sidecar(spark, tmp_path):
    path = str(tmp_path / "u")
    tx.create_table(_rows(spark, 100).coalesce(1), path)
    tx.delete_from_table(spark, path, "k < 10", mode="mor")
    tx.delete_from_table(spark, path, "k >= 90", mode="mor")
    got = sorted(r["k"] for r in tx.read_table(spark, path).collect())
    assert got == list(range(10, 90))
    # the live pointer's cardinality is the UNION of both deletes
    (meta,) = tx._fold(path).files.values()
    assert meta["dv"]["cardinality"] == 20
    # re-running the predicate masks nothing new (live-row semantics)
    r = tx.delete_from_table(spark, path, "k < 10", mode="mor")
    assert r["version"] is None and r["rows_deleted"] == 0


def test_mor_update_beyond_bound(spark, tmp_path):
    path = str(tmp_path / "up")
    tx.create_table(_rows(spark, 120).repartition(3), path)
    r = tx.update_table(spark, path, "k < 100", {"v": "v + 1"}, mode="mor")
    assert r["mode"] == "mor" and r["rows_updated"] == 100
    rows = {x["k"]: x["v"] for x in tx.read_table(spark, path).collect()}
    assert len(rows) == 120
    assert all(rows[k] == k * 10 + 1 for k in range(100))
    assert all(rows[k] == k * 10 for k in range(100, 120))


def test_crash_debris_invisible_and_reaped(spark, tmp_path):
    path = str(tmp_path / "crash")
    tx.create_table(_rows(spark, 20).coalesce(1), path)
    # a crashed distributed writer leaves a stray sidecar AND a .tmp-
    ddir = os.path.join(path, tx.DELETES_DIR)
    os.makedirs(ddir, exist_ok=True)
    stray = os.path.join(ddir, "deadbeef.json")
    tmp = os.path.join(ddir, "cafe.json.tmp-1234")
    open(stray, "w").write('{"file": "x", "enc": "pos", "payload": ""}')
    open(tmp, "w").write("partial")
    # readers consult only manifest pointers — all 20 rows intact
    assert tx.read_table(spark, path).count() == 20
    # young debris is protected (possibly in-flight)...
    assert tx.vacuum_table(path, stray_age_seconds=3600.0) == []
    # ...old debris is reaped, the .tmp- file included
    old = time.time() - 7200
    os.utime(stray, (old, old))
    os.utime(tmp, (old, old))
    gone = tx.vacuum_table(path, stray_age_seconds=3600.0)
    assert os.path.relpath(stray, path) in gone
    assert os.path.relpath(tmp, path) in gone
    assert not os.path.exists(stray) and not os.path.exists(tmp)


def test_distributed_dv_cdf_still_typed(spark, tmp_path):
    """The change feed reads executor-written sidecars (same format,
    same pointer discipline as every sidecar)."""
    path = str(tmp_path / "feed")
    tx.create_table(_rows(spark, 50).coalesce(1), path)
    tx.delete_from_table(spark, path, "k < 5", mode="mor")
    feed = tx.table_changes_cdf(spark, path, ["k"], after_version=0)
    got = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert got == {(k, "delete") for k in range(5)}
