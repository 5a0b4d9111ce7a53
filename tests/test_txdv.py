"""Deletion vectors: merge-on-read row-level DELETE (r9).

Covers the full lifecycle: MOR delete masks without rewriting (file
identity asserted), COW delete rewrites only hit files, encoding
round-trips both sparse and dense forms, readers (read_table +
txtable batch source) apply DVs, merges/compactions/purges
materialize them, time travel and RESTORE carry them, vacuum
reclaims superseded sidecars, forget_keys physically erases masked
rows, CDF + streaming change feed emit each delete exactly once, and
concurrent writers conflict on file overlap while composing when
disjoint.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators import txtable as tx


def _rows(spark, *triples):
    return spark.createDataFrame(
        [(k, s, v) for k, s, v in triples], "k int, status string, v long"
    )


def _as_dict(df):
    return {r["k"]: (r["status"], r["v"]) for r in df.collect()}


@pytest.fixture()
def ptable(spark, tmp_path):
    """Partitioned table: status A holds k=1..3, status B k=4..6."""
    path = str(tmp_path / "pt")
    tx.create_table(
        _rows(
            spark,
            (1, "A", 10),
            (2, "A", 20),
            (3, "A", 30),
            (4, "B", 40),
            (5, "B", 50),
            (6, "B", 60),
        ),
        path,
        partition_cols=["status"],
    )
    return path


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------


def test_dv_encode_sparse_picks_positions_form():
    rec = tx._dv_encode([999_983])
    assert rec["enc"] == "pos"
    assert rec["cardinality"] == 1
    assert tx._dv_decode(rec).tolist() == [999_983]


def test_dv_encode_dense_picks_bitmap_form():
    pos = list(range(0, 4096, 2))
    rec = tx._dv_encode(pos)
    assert rec["enc"] == "bitmap"
    assert rec["cardinality"] == len(pos)
    assert tx._dv_decode(rec).tolist() == pos


def test_dv_encode_dedups_and_sorts():
    rec = tx._dv_encode([5, 1, 5, 3, 1])
    assert tx._dv_decode(rec).tolist() == [1, 3, 5]


# ---------------------------------------------------------------------------
# MOR delete
# ---------------------------------------------------------------------------


def test_mor_delete_masks_without_rewriting(spark, ptable):
    before = set(tx._fold(ptable).files)
    out = tx.delete_from_table(spark, ptable, F.col("v") >= 50)
    assert out["mode"] == "mor"
    assert out["rows_deleted"] == 2
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 2, 3, 4}
    # THE point of merge-on-read: the live parquet set is byte-for-
    # byte identical — only sidecar pointers advanced
    after = tx._fold(ptable)
    assert set(after.files) == before
    assert any(m.get("dv") for m in after.files.values())
    # time travel to the pre-delete version still shows the rows
    assert set(_as_dict(tx.read_table(spark, ptable, version=0))) == {
        1,
        2,
        3,
        4,
        5,
        6,
    }


def test_mor_delete_sql_string_predicate(spark, ptable):
    out = tx.delete_from_table(spark, ptable, "k = 1")
    assert out["rows_deleted"] == 1
    assert set(_as_dict(tx.read_table(spark, ptable))) == {2, 3, 4, 5, 6}
    # the predicate is recorded for audit
    with open(tx._commit_file(ptable, out["version"])) as fh:
        assert json.load(fh)["predicate"] == "k = 1"


def test_mor_delete_null_predicate_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k int, v int"
    )
    tx.create_table(df, path)
    out = tx.delete_from_table(spark, path, F.col("v") > 15)
    # v NULL -> predicate NULL -> row KEPT (SQL DELETE semantics)
    assert out["rows_deleted"] == 1
    assert {r["k"] for r in tx.read_table(spark, path).collect()} == {1, 2}


def test_mor_second_delete_unions_same_file(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    out2 = tx.delete_from_table(spark, ptable, F.col("k") == 2)
    assert out2["rows_deleted"] == 1
    assert set(_as_dict(tx.read_table(spark, ptable))) == {3, 4, 5, 6}
    # the file's pointer holds the UNION of both deletes
    snap = tx._fold(ptable)
    cards = [
        m["dv"]["cardinality"]
        for m in snap.files.values()
        if m.get("dv")
    ]
    assert sum(cards) == 2


def test_mor_redelete_same_predicate_commits_nothing(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    v = tx.latest_version(ptable)
    out = tx.delete_from_table(spark, ptable, F.col("k") == 1)
    assert out["version"] is None and out["rows_deleted"] == 0
    assert tx.latest_version(ptable) == v


def test_mor_delete_partition_filter_prunes_scan(spark, ptable):
    out = tx.delete_from_table(
        spark,
        ptable,
        F.col("v") >= 20,
        partition_filter={"status": "A"},
    )
    # B rows match the predicate but are outside the filter
    assert out["rows_deleted"] == 2
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 4, 5, 6}


def test_mor_delete_beyond_max_dv_rows_goes_distributed(spark, ptable):
    # r10: masking every row no longer raises — sidecars are written
    # executor-side (full coverage in test_txdvdist)
    out = tx.delete_from_table(spark, ptable, F.lit(True))
    assert out["mode"] == "mor"
    assert tx.read_table(spark, ptable).count() == 0


def test_delete_unknown_mode_raises(spark, ptable):
    with pytest.raises(ValueError, match="unknown mode"):
        tx.delete_from_table(spark, ptable, "k = 1", mode="nope")


def test_mor_delete_with_zone_skip_and_partition_filter_read(
    spark, ptable
):
    tx.delete_from_table(spark, ptable, F.col("k") == 4)
    got = tx.read_table(
        spark,
        ptable,
        partition_filter={"status": "B"},
        skip={"v": (40, 60)},
    )
    assert set(_as_dict(got)) == {5, 6}


def test_mor_delete_non_broadcast_fallback(spark, ptable, monkeypatch):
    tx.delete_from_table(spark, ptable, F.col("k").isin(1, 5))
    monkeypatch.setattr(tx, "DV_BROADCAST_MAX_ROWS", 0)
    assert set(_as_dict(tx.read_table(spark, ptable))) == {2, 3, 4, 6}


# ---------------------------------------------------------------------------
# COW delete
# ---------------------------------------------------------------------------


def test_cow_delete_rewrites_only_hit_files(spark, ptable):
    before = dict(tx._fold(ptable).files)
    out = tx.delete_from_table(
        spark, ptable, F.col("k") == 5, mode="cow"
    )
    assert out["mode"] == "cow" and out["rows_deleted"] == 1
    after = tx._fold(ptable)
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 2, 3, 4, 6}
    # files NOT containing k=5 survive by reference
    a_files = {
        rel
        for rel, m in before.items()
        if m["partition_values"].get("status") == "A"
    }
    assert a_files <= set(after.files)
    # no deletion vectors in a COW delete
    assert not any(m.get("dv") for m in after.files.values())


def test_cow_delete_whole_partition_leaves_no_files(spark, ptable):
    tx.delete_from_table(
        spark, ptable, F.col("status") == "B", mode="cow"
    )
    snap = tx._fold(ptable)
    assert not any(
        m["partition_values"].get("status") == "B"
        for m in snap.files.values()
    )
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 2, 3}


def test_cow_after_mor_applies_mask(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 4)  # MOR
    tx.delete_from_table(
        spark, ptable, F.col("status") == "B", mode="cow"
    )
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 2, 3}
    # v1 (post-MOR, pre-COW) still masks only k=4
    assert set(_as_dict(tx.read_table(spark, ptable, version=1))) == {
        1,
        2,
        3,
        5,
        6,
    }


# ---------------------------------------------------------------------------
# interplay with merge / compaction / purge / restore
# ---------------------------------------------------------------------------


def test_merge_reads_masked_target_and_drops_dv(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    src = _rows(spark, (1, "A", 111))
    tx.merge_tx_table(spark, ptable, src, ["k"])
    got = _as_dict(tx.read_table(spark, ptable))
    # the deleted row re-inserts with the NEW payload (the merge saw
    # the masked target, so k=1 was an insert, not an update)
    assert got[1] == ("A", 111)
    # the touched partition's rewrite materialized its DV
    snap = tx._fold(ptable)
    assert not any(
        m.get("dv")
        for m in snap.files.values()
        if m["partition_values"].get("status") == "A"
    )


def test_compact_table_materializes_dvs(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k").isin(2, 5))
    tx.compact_table(spark, ptable)
    snap = tx._fold(ptable)
    assert not any(m.get("dv") for m in snap.files.values())
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 3, 4, 6}


def test_materialize_deletes_rewrites_only_dvd_files(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 2)
    before = dict(tx._fold(ptable).files)
    v = tx.materialize_deletes(spark, ptable)
    assert v is not None
    after = tx._fold(ptable)
    # B files (no DV) survive by reference
    b_files = {
        rel
        for rel, m in before.items()
        if m["partition_values"].get("status") == "B"
    }
    assert b_files <= set(after.files)
    assert not any(m.get("dv") for m in after.files.values())
    assert set(_as_dict(tx.read_table(spark, ptable))) == {1, 3, 4, 5, 6}
    # masked rows are PHYSICALLY absent from every live parquet byte
    raw = spark.read.schema(after.spark_schema()).parquet(
        *[
            os.path.join(ptable, rel)
            for rel in after.files
        ]
    )
    assert 2 not in {r["k"] for r in raw.select("k").collect()}


def test_materialize_noop_without_dvs(spark, ptable):
    assert tx.materialize_deletes(spark, ptable) is None


def test_restore_carries_dv_state_both_ways(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)  # v1
    tx.restore_table(spark, ptable, 0)  # v2: rows back
    assert set(_as_dict(tx.read_table(spark, ptable))) == {
        1,
        2,
        3,
        4,
        5,
        6,
    }
    tx.restore_table(spark, ptable, 1)  # v3: masked again
    assert set(_as_dict(tx.read_table(spark, ptable))) == {2, 3, 4, 5, 6}
    snap = tx._fold(ptable)
    assert any(m.get("dv") for m in snap.files.values())


def test_vacuum_reclaims_superseded_sidecars(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    old_dv = next(
        m["dv"]["path"]
        for m in tx._fold(ptable).files.values()
        if m.get("dv")
    )
    tx.delete_from_table(spark, ptable, F.col("k") == 2)  # new union DV
    tx.materialize_deletes(spark, ptable)
    deleted = tx.vacuum_table(
        ptable, retain_versions=1, stray_age_seconds=0.0
    )
    assert old_dv in deleted
    assert not os.path.exists(os.path.join(ptable, old_dv))
    # nothing the live snapshot needs was touched
    assert set(_as_dict(tx.read_table(spark, ptable))) == {3, 4, 5, 6}


def test_vacuum_keeps_live_sidecars(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    dv_rel = next(
        m["dv"]["path"]
        for m in tx._fold(ptable).files.values()
        if m.get("dv")
    )
    deleted = tx.vacuum_table(
        ptable, retain_versions=1, stray_age_seconds=0.0
    )
    assert dv_rel not in deleted
    assert os.path.exists(os.path.join(ptable, dv_rel))


def test_symlink_manifest_refuses_dvd_snapshot(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    with pytest.raises(ValueError, match="materialize_deletes"):
        tx.write_symlink_manifest(ptable)
    tx.materialize_deletes(spark, ptable)
    out = tx.write_symlink_manifest(ptable)
    assert out["n_files"] > 0


def test_maintain_table_purge_step(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    out = tx.maintain_table(
        spark, ptable, purge_dv_rows=1, retain_versions=10
    )
    assert out["purged_version"] is not None
    assert not any(
        m.get("dv") for m in tx._fold(ptable).files.values()
    )


def test_forget_keys_erases_mor_masked_rows(spark, ptable):
    # MOR-delete k=1 first: the row is masked, its bytes still live
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    keys = spark.createDataFrame([(1,)], "k int")
    out = tx.forget_keys(spark, ptable, keys, ["k"])
    assert out["surviving_matches"] == 0
    # raw-scan every surviving parquet byte under the table: k=1 gone
    snap = tx._fold(ptable)
    raw = spark.read.schema(snap.spark_schema()).parquet(
        *[os.path.join(ptable, rel) for rel in snap.files]
    )
    assert 1 not in {r["k"] for r in raw.select("k").collect()}


# ---------------------------------------------------------------------------
# concurrency
# ---------------------------------------------------------------------------


def test_concurrent_deletes_same_file_conflict(spark, ptable):
    """A second MOR delete racing on the SAME file must not lose the
    first one's update: simulate by committing a delete between the
    loser's snapshot read and its commit."""
    snap = tx._fold(ptable)
    # winner commits first
    out = tx.delete_from_table(spark, ptable, F.col("k") == 1)
    # loser staged against the stale snapshot: the SAME file's DV
    # (read the winner's touched file from its commit entry)
    with open(tx._commit_file(ptable, out["version"])) as fh:
        a_file = json.load(fh)["dv"][0]["file"]
    rec = tx._dv_write(ptable, a_file, np.array([1], dtype=np.int64))
    with pytest.raises(tx.ConcurrentWriteError):
        tx._rewrite_commit(
            ptable,
            snap.version,
            "delete",
            [],
            [],
            conflict="files",
            dv=[rec],
        )


def test_concurrent_deletes_disjoint_files_rebase(spark, ptable):
    snap = tx._fold(ptable)
    tx.delete_from_table(
        spark, ptable, (F.col("k") == 1) & (F.col("status") == "A")
    )
    b_file = next(
        rel
        for rel, m in snap.files.items()
        if m["partition_values"].get("status") == "B"
    )
    rec = tx._dv_write(ptable, b_file, np.array([0], dtype=np.int64))
    v = tx._rewrite_commit(
        ptable,
        snap.version,
        "delete",
        [],
        [],
        conflict="files",
        dv=[rec],
    )
    assert v == tx.latest_version(ptable)
    # both deletes visible
    snap2 = tx._fold(ptable)
    dvd = [m for m in snap2.files.values() if m.get("dv")]
    assert len(dvd) == 2


def test_merge_conflicts_with_interleaved_dv_on_removed_file(
    spark, ptable
):
    """A merge that rewrites partition A must conflict with a DV that
    landed on an A file after its snapshot read."""
    snap = tx._fold(ptable)
    tx.delete_from_table(
        spark, ptable, (F.col("k") == 2) & (F.col("status") == "A")
    )
    removed = [
        rel
        for rel, m in snap.files.items()
        if m["partition_values"].get("status") == "A"
    ]
    with pytest.raises(tx.ConcurrentWriteError):
        tx._rewrite_commit(
            ptable,
            snap.version,
            "merge",
            [],
            sorted(removed),
            conflict="partitions",
            touched_partitions={("A",)},
            pcols=["status"],
        )


# ---------------------------------------------------------------------------
# change feeds
# ---------------------------------------------------------------------------


def test_cdf_emits_mor_delete_exactly_once(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)  # v1
    tx.delete_from_table(spark, ptable, F.col("k") == 2)  # v2
    feed = tx.table_changes_cdf(spark, ptable, ["k"], after_version=0)
    rows = {
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    }
    assert rows == {(1, "delete", 1), (2, "delete", 2)}
    # payload columns carry the deleted row's values
    payload = {
        r["k"]: (r["status"], r["v"])
        for r in feed.where(F.col("k") == 1).collect()
    }
    assert payload[1] == ("A", 10)


def test_cdf_purge_emits_nothing(spark, ptable):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    v = tx.materialize_deletes(spark, ptable)
    feed = tx.table_changes_cdf(
        spark, ptable, ["k"], after_version=v - 1, up_to=v
    )
    assert feed.count() == 0


def test_cdf_cow_delete_emits_deletes(spark, ptable):
    out = tx.delete_from_table(
        spark, ptable, F.col("k").isin(1, 4), mode="cow"
    )
    feed = tx.table_changes_cdf(
        spark,
        ptable,
        ["k"],
        after_version=out["version"] - 1,
        up_to=out["version"],
    )
    rows = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(1, "delete"), (4, "delete")}


def test_cdf_merge_after_mor_delete_no_phantom_rows(spark, ptable):
    """A merge rewriting a partition whose file carries a DV must NOT
    re-emit the earlier delete: the pre-image is the MASKED state."""
    tx.delete_from_table(spark, ptable, F.col("k") == 1)  # v1
    v2 = tx.merge_tx_table(
        spark, ptable, _rows(spark, (2, "A", 222)), ["k"]
    )
    feed = tx.table_changes_cdf(
        spark, ptable, ["k"], after_version=v2 - 1, up_to=v2
    )
    rows = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(2, "update_postimage")}


def test_cdf_replay_converges_through_deletes(spark, ptable, tmp_path):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    tx.merge_tx_table(spark, ptable, _rows(spark, (7, "B", 70)), ["k"])
    tx.delete_from_table(spark, ptable, F.col("k") == 7, mode="cow")
    target = str(tmp_path / "replica")
    tx.create_table(
        spark.createDataFrame([], tx._fold(ptable).spark_schema()),
        target,
        partition_cols=["status"],
    )
    feed = tx.table_changes_cdf(spark, ptable, ["k"], after_version=-1)
    tx.cdf_apply_batch(spark, target, feed, ["k"])
    assert _as_dict(tx.read_table(spark, target)) == _as_dict(
        tx.read_table(spark, ptable)
    )


# ---------------------------------------------------------------------------
# txtable data source
# ---------------------------------------------------------------------------


def test_batch_source_applies_dvs(spark, ptable):
    from bi_utils_spark.sources.txsource import register_txtable_source

    register_txtable_source(spark)
    tx.delete_from_table(spark, ptable, F.col("k").isin(1, 5))
    got = (
        spark.read.format("txtable")
        .option("path", ptable)
        .load()
        .collect()
    )
    assert {r["k"] for r in got} == {2, 3, 4, 6}


def test_stream_plain_raises_on_delete_commit(spark, ptable, tmp_path):
    from bi_utils_spark.sources.txsource import register_txtable_source

    register_txtable_source(spark)
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    stream = (
        spark.readStream.format("txtable")
        .option("path", ptable)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("txdv_plain")
        .option(
            "checkpointLocation", str(tmp_path / "ck_plain")
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="delete"):
        q.awaitTermination()


def test_stream_change_feed_emits_mor_deletes(spark, ptable, tmp_path):
    from bi_utils_spark.sources.txsource import register_txtable_source

    register_txtable_source(spark)
    tx.delete_from_table(spark, ptable, F.col("k").isin(1, 5))  # v1
    tx.merge_tx_table(spark, ptable, _rows(spark, (2, "A", 222)), ["k"])
    stream = (
        spark.readStream.format("txtable")
        .option("path", ptable)
        .option("changeFeed", "true")
        .option("pks", "k")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("txdv_feed")
        .option("checkpointLocation", str(tmp_path / "ck_feed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "select k, _change_type, _commit_version from txdv_feed"
    ).collect()
    typed = {(r["k"], r["_change_type"], r["_commit_version"]) for r in rows}
    assert (1, "delete", 1) in typed
    assert (5, "delete", 1) in typed
    assert (2, "update_postimage", 2) in typed
    # the merge's pre-image was masked: no phantom delete of k=1 at v2
    assert (1, "delete", 2) not in typed
    inserts_v0 = {t for t in typed if t[2] == 0}
    assert len(inserts_v0) == 6


# ---------------------------------------------------------------------------
# clone
# ---------------------------------------------------------------------------


def test_shallow_clone_is_metadata_only(spark, ptable, tmp_path):
    dst = str(tmp_path / "clone")
    v = tx.clone_table(spark, ptable, dst)
    assert v == 0
    # zero data copied: the clone's own data dir doesn't exist yet
    assert not os.path.isdir(os.path.join(dst, tx.DATA_DIR))
    assert _as_dict(tx.read_table(spark, dst)) == _as_dict(
        tx.read_table(spark, ptable)
    )


def test_shallow_clone_carries_deletion_vectors(spark, ptable, tmp_path):
    tx.delete_from_table(spark, ptable, F.col("k").isin(1, 5))
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst)
    assert set(_as_dict(tx.read_table(spark, dst))) == {2, 3, 4, 6}


def test_clone_diverges_without_touching_source(spark, ptable, tmp_path):
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst)
    tx.append_table(_rows(spark, (9, "B", 90)), dst)
    tx.delete_from_table(spark, dst, F.col("k") == 1)
    assert set(_as_dict(tx.read_table(spark, dst))) == {2, 3, 4, 5, 6, 9}
    # source untouched, both data and log
    assert set(_as_dict(tx.read_table(spark, ptable))) == {
        1,
        2,
        3,
        4,
        5,
        6,
    }
    assert tx.latest_version(ptable) == 0


def test_clone_vacuum_never_reclaims_borrowed_files(
    spark, ptable, tmp_path
):
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst)
    # rewrite everything at the clone, then vacuum hard
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), dst)
    tx.vacuum_table(dst, retain_versions=1, stray_age_seconds=0.0)
    # the source's files are all still there
    assert set(_as_dict(tx.read_table(spark, ptable))) == {
        1,
        2,
        3,
        4,
        5,
        6,
    }


def test_clone_historical_version(spark, ptable, tmp_path):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst, version=0)
    assert set(_as_dict(tx.read_table(spark, dst))) == {1, 2, 3, 4, 5, 6}


def test_deep_clone_copies_data(spark, ptable, tmp_path):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    dst = str(tmp_path / "deep")
    tx.clone_table(spark, ptable, dst, shallow=False)
    assert set(_as_dict(tx.read_table(spark, dst))) == {2, 3, 4, 5, 6}
    # fully independent: no borrowed paths in the manifest
    snap = tx._fold(dst)
    assert all(
        m["commit_dir"].startswith(tx.DATA_DIR)
        for m in snap.files.values()
    )
    # masked rows were materialized by the copy, no DVs carried
    assert not any(m.get("dv") for m in snap.files.values())


def test_clone_refuses_existing_destination(spark, ptable, tmp_path):
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst)
    with pytest.raises(FileExistsError):
        tx.clone_table(spark, ptable, dst)


def test_clone_cdf_inserts_masked_rows(spark, ptable, tmp_path):
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst)
    feed = tx.table_changes_cdf(spark, dst, ["k"], after_version=-1)
    rows = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(k, "insert") for k in (2, 3, 4, 5, 6)}


def test_clone_batch_source_reads_masked(spark, ptable, tmp_path):
    from bi_utils_spark.sources.txsource import register_txtable_source

    register_txtable_source(spark)
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    dst = str(tmp_path / "clone")
    tx.clone_table(spark, ptable, dst)
    got = (
        spark.read.format("txtable").option("path", dst).load().collect()
    )
    assert {r["k"] for r in got} == {2, 3, 4, 5, 6}


def test_delete_skip_hint_prunes_scan(spark, ptable):
    # zone maps on v: the A files hold 10..30, B files 40..60 — a
    # skip range implied by the predicate prunes the B files
    out = tx.delete_from_table(
        spark, ptable, F.col("v") <= 20, skip={"v": (None, 20)}
    )
    assert out["rows_deleted"] == 2
    assert set(_as_dict(tx.read_table(spark, ptable))) == {3, 4, 5, 6}


# ---------------------------------------------------------------------------
# predicate-derived data skipping
# ---------------------------------------------------------------------------


def test_predicate_skip_ranges_conjunction(spark):
    r = tx.predicate_skip_ranges(
        (F.col("cents") > 100) & (F.col("status") == "P") & (F.col("k") <= 50)
    )
    assert r == {
        "cents": (100, None),
        "status": ("P", "P"),
        "k": (None, 50),
    }
    # an F.expr Column reads like the SQL string it wraps, alone or
    # mixed with Column-API terms
    assert tx.predicate_skip_ranges(F.expr("v >= 1050")) == {
        "v": (1050, None)
    }
    assert tx.predicate_skip_ranges(
        F.expr("v >= 10") & (F.col("k") < 5)
    ) == {"v": (10, None), "k": (None, 5)}


def test_predicate_skip_ranges_sql_string_and_flip(spark):
    assert tx.predicate_skip_ranges("k = 1") == {"k": (1, 1)}
    assert tx.predicate_skip_ranges("100 <= cents") == {
        "cents": (100, None)
    }
    assert tx.predicate_skip_ranges("x between 3 and 9") == {"x": (3, 9)}


def test_predicate_skip_ranges_literal_forms(spark):
    # escaped quotes, backticked names, exponent numbers, typed
    # literals and booleans all come from Spark's own parse
    assert tx.predicate_skip_ranges("s = 'O''Brien'") == {
        "s": ("O'Brien", "O'Brien")
    }
    assert tx.predicate_skip_ranges("`event d` >= 5") == {
        "event d": (5, None)
    }
    assert tx.predicate_skip_ranges("k > 1e3") == {"k": (1000.0, None)}
    assert tx.predicate_skip_ranges(
        F.col("d") == F.lit(datetime.date(2024, 1, 2))
    ) == {"d": ("2024-01-02", "2024-01-02")}
    assert tx.predicate_skip_ranges("d = DATE '2024-01-15'") == {
        "d": ("2024-01-15", "2024-01-15")
    }
    assert tx.predicate_skip_ranges("b = true") == {"b": (True, True)}
    # a conjunct holding an OR contributes nothing; the rest holds
    assert tx.predicate_skip_ranges("k > 1 and (v < 2 or v > 9)") == {
        "k": (1, None)
    }


def test_predicate_skip_ranges_same_column_intersects(spark):
    r = tx.predicate_skip_ranges("v >= 10 and v < 20 and v >= 12")
    assert r == {"v": (12, 20)}


def test_predicate_skip_ranges_in_list(spark):
    assert tx.predicate_skip_ranges(F.col("k").isin(7, 3, 5)) == {
        "k": (3, 7)
    }


def test_predicate_skip_ranges_fails_open(spark):
    # OR is not a conjunction — no implied range
    assert tx.predicate_skip_ranges("k = 1 or k = 99") == {}
    # NOT — no implied range
    assert tx.predicate_skip_ranges("not k > 3") == {}
    assert tx.predicate_skip_ranges(~(F.col("k") > 3)) == {}
    # function-wrapped column — unknown
    assert tx.predicate_skip_ranges("abs(k) < 5") == {}
    # unknown conjunct under AND contributes nothing, the rest holds
    assert tx.predicate_skip_ranges("abs(k) < 5 and v > 3") == {
        "v": (3, None)
    }
    # garbage string
    assert tx.predicate_skip_ranges("not even ( sql") == {}
    # a NULL in the IN-list
    assert tx.predicate_skip_ranges("k in (1, null)") == {}
    assert tx.predicate_skip_ranges(F.col("k").isin(1, None)) == {}


@pytest.fixture(scope="module")
def ftable(spark, tmp_path_factory):
    """Four single-file commits, each a disjoint band of k, so every
    derivable predicate prunes some files. Read-only, so shared."""
    path = str(tmp_path_factory.mktemp("ft") / "ft")
    for band in range(4):
        df = spark.createDataFrame(
            [
                (
                    k,
                    k * 10,
                    "O'Brien" if k % 7 == 0 else f"s{k:03d}",
                    datetime.date(2024, 1, 1) + datetime.timedelta(days=k),
                    k % 2 == 0,
                )
                for k in range(band * 600, band * 600 + 600, 50)
            ],
            "k int, `event d` long, s string, d date, b boolean",
        ).coalesce(1)
        if band == 0:
            tx.create_table(df, path)
        else:
            tx.append_table(df, path)
    return path


@pytest.mark.parametrize(
    "where",
    [
        "`event d` >= 12000",
        "s = 'O''Brien'",
        "k > 1e3",
        "d = DATE '2024-01-01'",
        "k > 1 and (k < 100 or k > 2300)",
        "b = true and k < 700",
    ],
)
def test_where_pruning_keeps_rows_sql(spark, ftable, where):
    pruned = tx.read_table(spark, ftable, where=where)
    full = tx.read_table(spark, ftable).where(where)
    assert sorted(pruned.collect()) == sorted(full.collect())
    assert full.count() > 0


@pytest.mark.parametrize("form", ["expr", "date_lit", "mixed"])
def test_where_pruning_keeps_rows_column(spark, ftable, form):
    where = {
        "expr": lambda: F.expr("k >= 1800"),
        "date_lit": lambda: F.col("d") == F.lit(datetime.date(2024, 2, 20)),
        "mixed": lambda: F.expr("k >= 600") & (F.col("k") < 1200),
    }[form]()
    assert tx.predicate_skip_ranges(where)
    pruned = tx.read_table(spark, ftable, where=where)
    full = tx.read_table(spark, ftable).where(where)
    assert sorted(pruned.collect()) == sorted(full.collect())
    assert full.count() > 0


@pytest.fixture()
def two_files(spark, tmp_path, monkeypatch):
    """One file of v in 0..99 and one of v in 1000..1099, plus a spy
    recording how many files each row-level scan reads."""
    path = str(tmp_path / "t")
    lo = spark.range(0, 100).selectExpr("id AS k", "id AS v").coalesce(1)
    hi = spark.range(1000, 1100).selectExpr("id AS k", "id AS v").coalesce(1)
    tx.create_table(lo, path)
    tx.append_table(hi, path)
    scanned: list[int] = []
    real = tx._read_files_live_meta

    def spy(spark, path, files, schema):
        scanned.append(len(files))
        return real(spark, path, files, schema)

    monkeypatch.setattr(tx, "_read_files_live_meta", spy)
    assert len(tx._fold(path).files) == 2
    return path, scanned


@pytest.mark.parametrize("form", ["column", "sql"])
def test_delete_auto_prunes_from_predicate(spark, two_files, form):
    """Files provably outside the predicate's derived range are never
    scanned NOR touched: the delete commits DVs only for files whose
    zone maps overlap — for a Column and a SQL string alike."""
    path, scanned = two_files
    cond = F.col("v") >= 1050 if form == "column" else "v >= 1050"
    out = tx.delete_from_table(spark, path, cond)
    assert out["rows_deleted"] == 50
    assert scanned == [1]
    # only the high file carries DVs — the low file was pruned by the
    # derived (1050, None) range before any scan
    snap = tx._fold(path)
    for rel, m in snap.files.items():
        stats = m.get("stats", {}).get("v")
        if m.get("dv"):
            assert stats and stats[1] >= 1050
        elif stats:
            assert stats[1] < 1050
    assert tx.read_table(spark, path).count() == 150


def test_update_sql_string_prunes(spark, two_files):
    path, scanned = two_files
    out = tx.update_table(spark, path, "v >= 1050", {"k": "k + 1"})
    assert out["rows_updated"] == 50
    assert scanned == [1]
    got = {r["v"]: r["k"] for r in tx.read_table(spark, path).collect()}
    assert got[1050] == 1051 and got[1049] == 1049 and got[5] == 5


def test_tx_sql_delete_prunes(spark, two_files):
    from bi_utils_spark.operators.sqldml import tx_sql

    path, scanned = two_files
    out = tx_sql(spark, "DELETE FROM t WHERE v >= 1050", {"t": path})
    assert out["rows_deleted"] == 50
    assert scanned == [1]
    assert tx.read_table(spark, path).count() == 150


def test_zone_overlaps_type_mismatch_fails_open():
    meta = {"stats": {"v": [1, 9]}}
    assert tx._zone_overlaps(meta, {"v": ("a", "z")}) is True


# ---------------------------------------------------------------------------
# log expiry
# ---------------------------------------------------------------------------


def test_expire_log_bounds_listing(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(_rows(spark, (0, "A", 0)), path)
    for i in range(1, 12):
        tx.append_table(_rows(spark, (i, "A", i * 10)), path)
    assert tx.latest_version(path) == 11
    out = tx.expire_log(path, retain_versions=3)
    assert out["cutoff_version"] == 9
    assert out["commits_deleted"] == 9
    commits, _ = tx._list_log(path)
    assert commits == [9, 10, 11]
    # the full snapshot still reads (fold from the forced checkpoint)
    assert len(_as_dict(tx.read_table(spark, path))) == 12
    # time travel below the cutoff is gone, at the cutoff works
    assert len(_as_dict(tx.read_table(spark, path, version=9))) == 10
    with pytest.raises(ValueError, match="not in log"):
        tx.read_table(spark, path, version=5)


def test_expire_log_noop_within_retention(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(_rows(spark, (0, "A", 0)), path)
    tx.append_table(_rows(spark, (1, "A", 10)), path)
    out = tx.expire_log(path, retain_versions=100)
    assert out["commits_deleted"] == 0
    assert tx._list_log(path)[0] == [0, 1]


def test_expire_log_retain_hours_keeps_window(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(_rows(spark, (0, "A", 0)), path)
    for i in range(1, 6):
        tx.append_table(_rows(spark, (i, "A", i)), path)
    # all commits are seconds old -> inside any sane window; version
    # retention alone would cut, the window must hold it back
    out = tx.expire_log(path, retain_versions=2, retain_hours=24.0)
    assert out["commits_deleted"] == 0
    assert tx._list_log(path)[0] == [0, 1, 2, 3, 4, 5]


def test_expire_log_then_changes_gap_diagnosed(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(_rows(spark, (0, "A", 0)), path)
    for i in range(1, 6):
        tx.append_table(_rows(spark, (i, "A", i)), path)
    tx.expire_log(path, retain_versions=2)
    with pytest.raises(ValueError, match="truncated"):
        tx.table_changes(spark, path, after_version=1)
    # resuming from the surviving range works
    got = tx.table_changes(spark, path, after_version=4)
    assert {r["k"] for r in got.collect()} == {5}


def test_maintain_table_expires_log(spark, ptable):
    for i in range(7, 20):
        tx.append_table(_rows(spark, (i, "A", i)), ptable)
    out = tx.maintain_table(
        spark,
        ptable,
        max_files=10_000,  # no compaction churn
        retain_versions=2,
        log_retain_versions=4,
    )
    assert out["log_expired"]["commits_deleted"] > 0
    commits, _ = tx._list_log(ptable)
    assert len(commits) == 4


def test_read_table_where_filters_and_prunes(spark, tmp_path):
    path = str(tmp_path / "t")
    lo = spark.range(0, 100).selectExpr("id AS k", "id AS v")
    hi = spark.range(1000, 1100).selectExpr("id AS k", "id AS v")
    tx.create_table(lo, path)
    tx.append_table(hi, path)
    got = tx.read_table(spark, path, where="v >= 1050")
    assert got.count() == 50
    # files provably outside the derived range never reach the plan:
    # every surviving input file's zone max is >= 1050
    snap = tx._fold(path)
    maxes = {
        os.path.basename(rel): m.get("stats", {}).get("v", [None, None])[1]
        for rel, m in snap.files.items()
    }
    in_files = [os.path.basename(f) for f in got.inputFiles()]
    assert in_files and all(maxes[f] >= 1050 for f in in_files)
    # Column form + underivable predicate both stay correct
    assert tx.read_table(spark, path, where=F.col("v") < 10).count() == 10
    assert (
        tx.read_table(spark, path, where="v = 5 or v = 1005").count() == 2
    )


# ---------------------------------------------------------------------------
# UPDATE
# ---------------------------------------------------------------------------


def test_mor_update_masks_and_stages(spark, ptable):
    before = set(tx._fold(ptable).files)
    out = tx.update_table(
        spark, ptable, F.col("k") == 2, {"v": F.col("v") + 1000}
    )
    assert out["mode"] == "mor" and out["rows_updated"] == 1
    got = _as_dict(tx.read_table(spark, ptable))
    assert got[2] == ("A", 1020)
    assert len(got) == 6
    after = tx._fold(ptable)
    # every pre-existing file survives by reference; the post-image
    # landed as a NEW staged file
    assert before <= set(after.files)
    assert len(after.files) > len(before)
    assert any(m.get("dv") for m in after.files.values())
    # time travel shows the original value
    assert _as_dict(tx.read_table(spark, ptable, version=0))[2] == (
        "A",
        20,
    )


def test_mor_update_sql_forms_and_original_row_semantics(spark, ptable):
    # SET expressions see the ORIGINAL row: swap-like updates work
    tx.update_table(
        spark,
        ptable,
        "k = 1",
        {"v": "v * 10"},
    )
    assert _as_dict(tx.read_table(spark, ptable))[1] == ("A", 100)


def test_cow_update_rewrites_hit_files_only(spark, ptable):
    before = dict(tx._fold(ptable).files)
    out = tx.update_table(
        spark,
        ptable,
        F.col("status") == "B",
        {"v": F.col("v") * 2},
        mode="cow",
    )
    assert out["mode"] == "cow" and out["rows_updated"] == 3
    got = _as_dict(tx.read_table(spark, ptable))
    assert got[4] == ("B", 80) and got[1] == ("A", 10)
    after = tx._fold(ptable)
    a_files = {
        rel
        for rel, m in before.items()
        if m["partition_values"].get("status") == "A"
    }
    assert a_files <= set(after.files)
    assert not any(m.get("dv") for m in after.files.values())


def test_update_guards(spark, ptable):
    with pytest.raises(ValueError, match="not in table"):
        tx.update_table(spark, ptable, "k = 1", {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="partition column"):
        tx.update_table(spark, ptable, "k = 1", {"status": F.lit("Z")})
    with pytest.raises(ValueError, match="unknown mode"):
        tx.update_table(spark, ptable, "k = 1", {"v": "v"}, mode="x")
    out = tx.update_table(spark, ptable, "k = 999", {"v": "v"})
    assert out["version"] is None  # no match -> no commit


def test_update_null_predicate_rows_untouched(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(
        spark.createDataFrame([(1, 10), (2, None)], "k int, v int"), path
    )
    out = tx.update_table(spark, path, F.col("v") > 5, {"v": "v + 1"})
    assert out["rows_updated"] == 1
    got = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert got == {1: 11, 2: None}


def test_update_then_delete_stack(spark, ptable):
    tx.update_table(spark, ptable, "k = 2", {"v": "v + 1"})
    tx.delete_from_table(spark, ptable, "k = 2")
    got = _as_dict(tx.read_table(spark, ptable))
    assert 2 not in got and len(got) == 5


def test_update_set_cast_to_table_type(spark, ptable):
    # v is long; an int-typed SET expression must land as long
    tx.update_table(spark, ptable, "k = 3", {"v": F.lit(7)})
    snap = tx._fold(ptable)
    assert snap.spark_schema()["v"].dataType.typeName() == "long"
    assert _as_dict(tx.read_table(spark, ptable))[3] == ("A", 7)


def test_cdf_mor_update_emits_postimage(spark, ptable):
    out = tx.update_table(
        spark, ptable, F.col("k").isin(1, 5), {"v": F.col("v") + 1}
    )
    feed = tx.table_changes_cdf(
        spark,
        ptable,
        ["k"],
        after_version=out["version"] - 1,
        up_to=out["version"],
    )
    rows = {
        (r["k"], r["_change_type"], r["v"]) for r in feed.collect()
    }
    assert rows == {
        (1, "update_postimage", 11),
        (5, "update_postimage", 51),
    }


def test_cdf_mor_update_preimage_parity(spark, ptable):
    out = tx.update_table(spark, ptable, "k = 1", {"v": "v + 1"})
    feed = tx.table_changes_cdf(
        spark,
        ptable,
        ["k"],
        after_version=out["version"] - 1,
        include_preimage=True,
    )
    rows = {(r["_change_type"], r["v"]) for r in feed.collect()}
    assert rows == {("update_preimage", 10), ("update_postimage", 11)}


def test_cdf_replay_converges_through_updates(spark, ptable, tmp_path):
    tx.update_table(spark, ptable, "k = 2", {"v": "v * 3"})
    tx.delete_from_table(spark, ptable, "k = 6")
    tx.update_table(
        spark, ptable, "status = 'B'", {"v": "v + 5"}, mode="cow"
    )
    target = str(tmp_path / "replica")
    tx.create_table(
        spark.createDataFrame([], tx._fold(ptable).spark_schema()),
        target,
        partition_cols=["status"],
    )
    feed = tx.table_changes_cdf(spark, ptable, ["k"], after_version=-1)
    tx.cdf_apply_batch(spark, target, feed, ["k"])
    assert _as_dict(tx.read_table(spark, target)) == _as_dict(
        tx.read_table(spark, ptable)
    )


def test_stream_change_feed_emits_mor_updates(spark, ptable, tmp_path):
    from bi_utils_spark.sources.txsource import register_txtable_source

    register_txtable_source(spark)
    tx.update_table(spark, ptable, "k = 4", {"v": "v + 2"})  # v1
    stream = (
        spark.readStream.format("txtable")
        .option("path", ptable)
        .option("changeFeed", "true")
        .option("pks", "k")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("txdv_upd")
        .option("checkpointLocation", str(tmp_path / "ck_upd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "select k, v, _change_type, _commit_version from txdv_upd"
    ).collect()
    typed = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in rows
    }
    assert (4, 42, "update_postimage", 1) in typed
    assert not any(t[2] == "delete" for t in typed)


def test_materialize_after_update_keeps_result(spark, ptable):
    tx.update_table(spark, ptable, "k = 2", {"v": "v + 1"})
    before = _as_dict(tx.read_table(spark, ptable))
    tx.materialize_deletes(spark, ptable)
    assert _as_dict(tx.read_table(spark, ptable)) == before
    assert not any(
        m.get("dv") for m in tx._fold(ptable).files.values()
    )


# ---------------------------------------------------------------------------
# a snapshot vacuumed under a running verb
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "verb",
    [
        lambda spark, p: tx.delete_from_table(spark, p, F.col("k") == 2),
        lambda spark, p: tx.update_table(spark, p, "k = 2", {"v": "v + 1"}),
        lambda spark, p: tx.merge_tx_table(
            spark, p, _rows(spark, (2, "A", 222)), ["k"]
        ),
    ],
    ids=["delete", "update", "merge"],
)
def test_vacuumed_snapshot_raises_concurrent_write(
    spark, tmp_path, monkeypatch, verb
):
    """A racing commit plus a vacuum that removes the DV sidecar the
    verb's snapshot lists, after the verb resolved it: the verb's
    Spark job dies on the missing file, which must surface as the
    retryable ConcurrentWriteError, and a retry must succeed."""
    ptable = str(tmp_path / "one_file")
    rows = [(k, "A", 10 * k) for k in range(1, 7)]
    tx.create_table(_rows(spark, *rows).coalesce(1), ptable)
    tx.delete_from_table(spark, ptable, F.col("k") == 1)
    real = tx._dv_positions_frame
    raced = []

    def racing(spark_, path, dvd):
        if not raced:
            raced.append(True)
            tx.delete_from_table(spark, ptable, F.col("k") == 3)
            tx.vacuum_table(ptable, retain_versions=1, stray_age_seconds=0.0)
        return real(spark_, path, dvd)

    monkeypatch.setattr(tx, "_dv_positions_frame", racing)
    with pytest.raises(tx.ConcurrentWriteError) as err:
        verb(spark, ptable)
    assert raced and err.value.__cause__ is not None
    verb(spark, ptable)
    assert set(_as_dict(tx.read_table(spark, ptable))) >= {4, 5, 6}
    assert not {1, 3} & set(_as_dict(tx.read_table(spark, ptable)))


# ---------------------------------------------------------------------------
# one row-level DML body
# ---------------------------------------------------------------------------


def _table_files(path):
    """Every file under the table except its commit log."""
    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, _dirs, names in os.walk(path)
        if tx.LOG_DIR not in os.path.relpath(d, path).split(os.sep)
        for n in names
    )


@pytest.mark.parametrize("cdf", [False, True], ids=["cdf_off", "cdf_on"])
@pytest.mark.parametrize("mode", ["mor", "cow"])
@pytest.mark.parametrize("verb", ["delete", "update"])
def test_row_level_dml_matrix(spark, tmp_path, verb, mode, cdf):
    """DELETE and UPDATE share one body: for each verb, mode and
    change-data setting, a statement that matches nothing commits
    nothing and writes no sidecar or data file; a match changes
    exactly the matched rows and the change feed types them; a
    re-run MOR delete masks nothing new."""
    path = str(tmp_path / "t")
    rows = [(k, "A" if k % 2 else "B", 10 * k) for k in range(1, 9)]
    tx.create_table(_rows(spark, *rows).repartition(2), path)
    if cdf:
        tx.enable_change_data(path)
    key = f"rows_{verb}d"

    def run(cond):
        if verb == "delete":
            return tx.delete_from_table(spark, path, cond, mode=mode)
        return tx.update_table(spark, path, cond, {"v": "v + 1"}, mode=mode)

    v0, files0 = tx.latest_version(path), _table_files(path)
    # no derivable range, so the files are scanned and match nothing
    out = run("v % 7 = 100")
    assert out == {"version": None, "mode": mode, key: 0, "files_touched": 0}
    assert (tx.latest_version(path), _table_files(path)) == (v0, files0)
    out = run("k <= 3")
    assert out["version"] == v0 + 1 and out[key] == 3
    got = _as_dict(tx.read_table(spark, path))
    if verb == "delete":
        assert set(got) == set(range(4, 9))
    else:
        assert {k: v for k, (_, v) in got.items()} == {
            k: 10 * k + (k <= 3) for k in range(1, 9)
        }
    feed = tx.table_changes_cdf(
        spark, path, ["k"], after_version=v0, include_preimage=True
    )
    changes = {(r["k"], r["_change_type"], r["v"]) for r in feed.collect()}
    if verb == "delete":
        assert changes == {(k, "delete", 10 * k) for k in (1, 2, 3)}
    else:
        assert changes == {
            (k, t, 10 * k + d)
            for k in (1, 2, 3)
            for t, d in (("update_preimage", 0), ("update_postimage", 1))
        }
    if verb == "delete" and mode == "mor":
        again = run("k <= 3")
        assert again["version"] is None and again[key] == 0


def _next_job(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()  # noqa: SLF001


@pytest.mark.parametrize("verb, most", [("delete", 7), ("update", 10)])
def test_mor_dml_counts_in_the_mask_job(spark, tmp_path, verb, most):
    """The executor-side sidecar writer also returns each file's newly
    masked count, so a MOR statement runs no separate count job. On a
    two-file table that already carries a deletion vector, the
    statement starts at most 7 (delete) or 10 (update) Spark jobs —
    a separate count made those 8 and 11."""
    path = str(tmp_path / "t")
    rows = [(k, "A" if k % 2 else "B", 10 * k) for k in range(40)]
    tx.create_table(_rows(spark, *rows).repartition(2), path)
    tx.delete_from_table(spark, path, "k = 1")
    j0 = _next_job(spark)
    if verb == "delete":
        out = tx.delete_from_table(spark, path, "k < 10")
    else:
        out = tx.update_table(spark, path, "k < 10", {"v": "v + 1"})
    jobs = _next_job(spark) - j0
    assert out[f"rows_{verb}d"] == 9 and out["files_touched"] == 2
    assert jobs <= most, f"{verb} started {jobs} jobs"


def _sidecar_decodes(path):
    """(function, line) of every ``unpackbits`` call and every
    ``b64decode`` of a sidecar ``payload`` in one module."""
    import ast

    tree = ast.parse(path.read_text())
    found = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            if isinstance(child, ast.Call):
                name = getattr(child.func, "attr", getattr(child.func, "id", ""))
                if name == "unpackbits" or (
                    name == "b64decode" and "payload" in ast.unparse(child)
                ):
                    found.append((inner, child.lineno))
            walk(child, inner)

    walk(tree, None)
    return found


def test_sidecar_payload_decodes_in_one_place():
    """The deletion-vector payload format is decoded only by
    `txtable._dv_decode`; every reader goes through it."""
    import pathlib

    pkg = pathlib.Path(tx.__file__).resolve().parent.parent
    txtable = pkg / "operators" / "txtable.py"
    assert {fn for fn, _ in _sidecar_decodes(txtable)} == {"_dv_decode"}
    offenders = [
        f"{p.relative_to(pkg)}:{line} in {fn}"
        for p in sorted(pkg.rglob("*.py"))
        for fn, line in _sidecar_decodes(p)
        if not (p == txtable and fn == "_dv_decode")
    ]
    assert not offenders, "decode sidecars with _dv_decode:\n" + "\n".join(
        offenders
    )
