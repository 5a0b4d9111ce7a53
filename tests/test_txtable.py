from __future__ import annotations

import datetime as dt
import json
import os

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
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    tx.create_table(_rows(spark, (1, "A", 10), (2, "A", 20)), path)
    return path


def test_create_read_roundtrip(spark, table):
    assert _as_dict(tx.read_table(spark, table)) == {
        1: ("A", 10),
        2: ("A", 20),
    }
    assert tx.latest_version(table) == 0


def test_create_refuses_existing(spark, table):
    with pytest.raises(FileExistsError):
        tx.create_table(_rows(spark, (9, "Z", 0)), table)


def test_append_and_time_travel(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    assert _as_dict(tx.read_table(spark, table)) == {
        1: ("A", 10),
        2: ("A", 20),
        3: ("B", 30),
    }
    # version 0 still resolves to the pre-append state
    assert set(_as_dict(tx.read_table(spark, table, version=0))) == {1, 2}


def test_overwrite_swaps_snapshot_keeps_history(spark, table):
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)
    assert _as_dict(tx.read_table(spark, table)) == {7: ("Z", 70)}
    assert _as_dict(tx.read_table(spark, table, version=0)) == {
        1: ("A", 10),
        2: ("A", 20),
    }


def test_readers_never_list_data_dir(spark, table):
    """An unreferenced (crashed-job) file under data/ is invisible."""
    orphan_dir = os.path.join(table, tx.DATA_DIR, "orphan")
    _rows(spark, (99, "X", 0)).write.parquet(orphan_dir)
    assert 99 not in _as_dict(tx.read_table(spark, table))


def test_history_dataframe(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    h = {r["version"]: r for r in tx.table_history(spark, table).collect()}
    assert h[0]["action"] == "create"
    assert h[1]["action"] == "append" and h[1]["n_removed"] == 0


def test_append_rebases_on_lost_race(spark, table):
    # simulate a racing writer owning slot 1
    tx._claim(
        table,
        1,
        {"version": 1, "action": "append", "added": [], "removed": []},
    )
    v = tx.append_table(_rows(spark, (5, "C", 50)), table)
    assert v == 2
    assert 5 in _as_dict(tx.read_table(spark, table))


def test_rewrite_raises_on_stale_snapshot(spark, table):
    snap = tx._fold(table)
    tx.append_table(_rows(spark, (4, "B", 40)), table)  # someone else commits
    with pytest.raises(tx.ConcurrentWriteError):
        tx._rewrite_commit(table, snap.version, "overwrite", [], [])


# ---------------------------------------------------------------------------
# merge
# ---------------------------------------------------------------------------

def _now():
    return F.lit(dt.datetime(2024, 6, 1))


def test_merge_unpartitioned(spark, table):
    src = _rows(spark, (2, "U", 99), (3, "I", 33))
    tx.merge_tx_table(spark, table, src, ["k"], now=_now())
    assert _as_dict(tx.read_table(spark, table)) == {
        1: ("A", 10),  # untouched
        2: ("U", 99),  # updated
        3: ("I", 33),  # inserted
    }


def test_merge_partition_scoped_cow(spark, tmp_path):
    path = str(tmp_path / "p")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d3", 40)],
        "k int, day string, v long",
    )
    tx.create_table(base, path, partition_cols=["day"])
    before = tx._fold(path).files
    d2_files = {
        rel
        for rel, m in before.items()
        if m["partition_values"]["day"] == "d2"
    }
    src = spark.createDataFrame(
        [(3, "d2", 99), (9, "d2", 90)], "k int, day string, v long"
    )
    tx.merge_tx_table(spark, path, src, ["k"], now=_now())
    after = tx._fold(path).files
    # untouched partitions survive by file reference
    untouched = set(before) - d2_files
    assert untouched <= set(after)
    # touched partition files were replaced
    assert not (d2_files & set(after))
    got = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert got == {1: 10, 2: 20, 3: 99, 4: 40, 9: 90}


def test_manifest_level_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "p2")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v long"
    )
    tx.create_table(base, path, partition_cols=["day"])
    pruned = tx.read_table(spark, path, partition_filter={"day": "d2"})
    assert _files_scanned(pruned) == 1
    assert [r["k"] for r in pruned.collect()] == [2]


def _files_scanned(df) -> int:
    return len(df.inputFiles())


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------


def test_compact_preserves_rows_and_history(spark, table):
    for i in range(3, 7):
        tx.append_table(_rows(spark, (i, "B", i * 10)), table)
    pre = _as_dict(tx.read_table(spark, table))
    n_files_pre = len(tx._fold(table).files)
    tx.compact_table(spark, table, target_files=1)
    snap = tx._fold(table)
    assert len(snap.files) < n_files_pre
    assert _as_dict(tx.read_table(spark, table)) == pre
    # pre-compaction version still readable (time travel intact)
    assert 6 in _as_dict(tx.read_table(spark, table, version=4))


def test_vacuum_drops_only_unretained(spark, table):
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)  # v1
    tx.append_table(_rows(spark, (8, "Z", 80)), table)  # v2
    deleted = tx.vacuum_table(table, retain_versions=2)
    assert deleted  # v0's files are unreferenced by v1/v2
    assert _as_dict(tx.read_table(spark, table)) == {
        7: ("Z", 70),
        8: ("Z", 80),
    }
    assert 7 in _as_dict(tx.read_table(spark, table, version=1))


def test_vacuum_tolerates_a_racing_vacuum(spark, table, monkeypatch):
    """Two vacuums racing over one table: a file the other vacuum
    reclaimed between this one's listing and its unlink is skipped,
    not raised as FileNotFoundError into the caller."""
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)  # v1
    tx.append_table(_rows(spark, (8, "Z", 80)), table)  # v2
    real_unlink = os.unlink
    raced = []

    def unlink(p, *a, **kw):
        if p.endswith(".parquet") and not raced:
            raced.append(p)
            real_unlink(p)  # the other vacuum wins the race
        return real_unlink(p, *a, **kw)

    monkeypatch.setattr(tx.os, "unlink", unlink)
    deleted = tx.vacuum_table(table, retain_versions=2)
    assert raced and not os.path.exists(raced[0])
    assert os.path.relpath(raced[0], table) not in deleted
    assert _as_dict(tx.read_table(spark, table)) == {7: ("Z", 70), 8: ("Z", 80)}


def test_vacuum_retain_all_deletes_nothing(spark, table):
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)
    assert tx.vacuum_table(table, retain_versions=10) == []
    assert _as_dict(tx.read_table(spark, table, version=0)) == {
        1: ("A", 10),
        2: ("A", 20),
    }


def test_checkpoint_written_and_used(spark, table):
    for i in range(3, 3 + tx.CHECKPOINT_EVERY):
        tx.append_table(_rows(spark, (i, "B", i)), table)
    _, ckpts = tx._list_log(table)
    assert ckpts, "expected an automatic checkpoint"
    # fold from the checkpoint equals fold from scratch
    snap = tx._fold(table)
    with open(tx._ckpt_file(table, ckpts[-1])) as fh:
        assert json.load(fh)["version"] == ckpts[-1]
    assert len(snap.files) == len(tx._fold(table, snap.version).files)


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------


def test_append_widens_schema_old_files_null_fill(spark, table):
    wide = spark.createDataFrame(
        [(5, "C", 50, "x")], "k int, status string, v long, extra string"
    )
    tx.append_table(wide, table)
    out = {r["k"]: r["extra"] for r in tx.read_table(spark, table).collect()}
    assert out == {1: None, 2: None, 5: "x"}


def test_append_type_conflict_raises(spark, table):
    bad = spark.createDataFrame([(5, "C", "not-a-long")], "k int, status string, v string")
    with pytest.raises(ValueError, match="append column"):
        tx.append_table(bad, table)


# ---------------------------------------------------------------------------
# exactly-once streaming sink
# ---------------------------------------------------------------------------


def test_foreach_batch_sink_idempotent(spark, table):
    sink = tx.foreach_batch_sink(table, app_id="job1")
    b0 = _rows(spark, (10, "S", 100))
    sink(b0, 0)
    v_after_first = tx.latest_version(table)
    sink(b0, 0)  # redelivered micro-batch: no new commit
    assert tx.latest_version(table) == v_after_first
    sink(_rows(spark, (11, "S", 110)), 1)
    got = _as_dict(tx.read_table(spark, table))
    assert got[10] == ("S", 100) and got[11] == ("S", 110)
    # exactly one row per key despite the redelivery
    n = tx.read_table(spark, table).groupBy("k").count()
    assert n.filter(F.col("count") > 1).count() == 0


def test_foreach_batch_sink_real_stream_restart(spark, tmp_path):
    """End-to-end: a rate-less memory stream via foreachBatch, then a
    manual replay of the last batch id — the log absorbs it."""
    path = str(tmp_path / "s")
    tx.create_table(
        spark.createDataFrame([], "k int, status string, v long"), path
    )
    sink = tx.foreach_batch_sink(path, "stream-app")
    # emulate the engine calling the sink across a restart boundary
    sink(_rows(spark, (1, "A", 1)), 0)
    sink(_rows(spark, (2, "A", 2)), 1)
    sink(_rows(spark, (2, "A", 2)), 1)  # restart replays batch 1
    assert sorted(_as_dict(tx.read_table(spark, path))) == [1, 2]


# ---------------------------------------------------------------------------
# change reads: table_diff / table_changes
# ---------------------------------------------------------------------------


def test_table_diff_classifies_transitions(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)  # v1
    src = _rows(spark, (2, "U", 99), (4, "I", 44))
    tx.merge_tx_table(spark, table, src, ["k"], now=_now())  # v2
    d = {
        r["k"]: r["change"]
        for r in tx.table_diff(spark, table, ["k"], 1, 2).collect()
    }
    assert d == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "added"}
    # changed_only drops the noise
    co = tx.table_diff(spark, table, ["k"], 1, 2, changed_only=True)
    assert {r["k"] for r in co.collect()} == {2, 4}
    # diff against v0 sees the append as added
    d01 = {
        r["k"]: r["change"]
        for r in tx.table_diff(spark, table, ["k"], 0, 1).collect()
    }
    assert d01[3] == "added" and d01[1] == "unchanged"


def test_table_changes_incremental_appends(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)  # v1
    tx.append_table(_rows(spark, (4, "B", 40)), table)  # v2
    got = {r["k"] for r in tx.table_changes(spark, table, 0).collect()}
    assert got == {3, 4}
    # a consumer that already saw v1 reads only v2's delta
    assert {
        r["k"] for r in tx.table_changes(spark, table, 1).collect()
    } == {4}
    # the delta read touches ONLY the delta's files
    delta = tx.table_changes(spark, table, 1)
    assert all("data" in f for f in delta.inputFiles())
    assert len(delta.inputFiles()) < len(
        tx.read_table(spark, table).inputFiles()
    )


def test_table_changes_refuses_rewrites(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)  # v1
    tx.merge_tx_table(
        spark, table, _rows(spark, (1, "U", 11)), ["k"], now=_now()
    )  # v2 rewrite
    with pytest.raises(ValueError, match="not append-only"):
        tx.table_changes(spark, table, 0)
    # a purely-append suffix range still works
    assert {
        r["k"] for r in tx.table_changes(spark, table, 0, up_to=1).collect()
    } == {3}


# ---------------------------------------------------------------------------
# property: a random op sequence folds to the same state as a
# driver-side model, at EVERY version (hypothesis, bounded examples)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ops = st.lists(
    st.tuples(
        st.sampled_from(["append", "merge", "overwrite", "compact"]),
        st.dictionaries(
            st.integers(0, 9), st.integers(0, 99), max_size=4
        ),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_ops)
def test_random_op_sequence_matches_model(spark, tmp_path_factory, ops):
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="txprop-")
    shutil.rmtree(path)

    def df_of(d):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(d.items())], "k int, v long"
        )

    model: dict[int, int] = {0: 0}
    tx.create_table(df_of(model), path)
    snapshots = {0: dict(model)}
    try:
        for op, payload in ops:
            if op == "append":
                fresh = {
                    k: v for k, v in payload.items() if k not in model
                }
                ver = tx.append_table(df_of(fresh), path)
                model.update(fresh)
            elif op == "merge":
                ver = tx.merge_tx_table(
                    spark, path, df_of(payload), ["k"], now=_now()
                )
                model.update(payload)
            elif op == "overwrite":
                ver = tx.overwrite_table(df_of(payload), path)
                model = dict(payload)
            else:
                ver = tx.compact_table(spark, path)
            snapshots[ver] = dict(model)
        for ver, snap in snapshots.items():
            got = {
                r["k"]: r["v"]
                for r in tx.read_table(spark, path, version=ver).collect()
            }
            assert got == snap, f"v{ver}: {got} != {snap}"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_register_tx_table_sql_view(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    tx.register_tx_table(spark, "txv", table)
    assert spark.sql("SELECT SUM(v) AS s FROM txv").first()["s"] == 60
    tx.register_tx_table(spark, "txv0", table, version=0)
    assert spark.sql("SELECT COUNT(*) AS n FROM txv0").first()["n"] == 2
    spark.catalog.dropTempView("txv")
    spark.catalog.dropTempView("txv0")


# ---------------------------------------------------------------------------
# zone-map data skipping + z-order compaction
# ---------------------------------------------------------------------------


def test_zone_map_skip_prunes_files(spark, tmp_path):
    path = str(tmp_path / "z")
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(k, k * 10) for k in range(lo, hi)], "k int, v long"
    ).coalesce(1)
    tx.create_table(mk(0, 100), path)
    tx.append_table(mk(100, 200), path)
    tx.append_table(mk(200, 300), path)
    full = tx.read_table(spark, path)
    assert len(full.inputFiles()) == 3
    pruned = tx.read_table(spark, path, skip={"k": (120, 180)})
    assert len(pruned.inputFiles()) == 1
    # pruning is I/O-only: same rows after the row-level filter
    a = sorted(
        r["k"] for r in pruned.where("k BETWEEN 120 AND 180").collect()
    )
    b = sorted(
        r["k"] for r in full.where("k BETWEEN 120 AND 180").collect()
    )
    assert a == b and len(a) == 61
    # open-ended ranges work
    assert len(
        tx.read_table(spark, path, skip={"k": (250, None)}).inputFiles()
    ) == 1


def test_zone_map_missing_stats_never_prunes(spark, tmp_path):
    path = str(tmp_path / "z2")
    tx.create_table(
        spark.createDataFrame([(1, 10)], "k int, v long"), path
    )
    snap = tx._fold(path)
    # simulate a writer that recorded no stats (e.g. older commit)
    for meta in snap.files.values():
        meta["stats"] = {}
    assert all(
        tx._zone_overlaps(m, {"k": (5, 9)}) for m in snap.files.values()
    )


def test_zorder_compact_enables_multi_dim_skipping(spark, tmp_path):
    import random

    path = str(tmp_path / "z3")
    rng = random.Random(7)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "i int, x int, y int").repartition(8)
    tx.create_table(df, path)
    pre = tx.read_table(spark, path)
    n_files_pre = len(pre.inputFiles())
    tx.compact_table(spark, path, target_files=8, zorder_by=["x", "y"])
    post = tx.read_table(spark, path)
    # content identical
    assert sorted(r["i"] for r in post.collect()) == sorted(
        r["i"] for r in pre.collect()
    )
    # a narrow range on EITHER dimension prunes files after z-order
    for col in ("x", "y"):
        got = tx.read_table(spark, path, skip={col: (0, 60)})
        assert len(got.inputFiles()) < len(post.inputFiles()), col
        want = sorted(
            r["i"] for r in post.where(f"{col} <= 60").collect()
        )
        have = sorted(
            r["i"] for r in got.where(f"{col} <= 60").collect()
        )
        assert want == have
    assert n_files_pre >= 1  # silence unused warning


def test_partition_values_with_special_chars_roundtrip(spark, tmp_path):
    """Spark Hive-escapes '/', '=', '%', ... in partition dir names;
    the manifest must record the DATA value so partition_filter and
    the merge's touched-partition match work on str(value)."""
    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a/b=c", 10), (2, "50%off", 20)], "k int, tag string, v long"
    )
    tx.create_table(df, path, partition_cols=["tag"])
    snap = tx._fold(path)
    vals = {m["partition_values"]["tag"] for m in snap.files.values()}
    assert vals == {"a/b=c", "50%off"}
    got = tx.read_table(spark, path, partition_filter={"tag": "a/b=c"})
    assert [r["k"] for r in got.collect()] == [1]
    # partition-scoped merge finds the escaped partition too
    src = spark.createDataFrame(
        [(1, "a/b=c", 99)], "k int, tag string, v long"
    )
    tx.merge_tx_table(spark, path, src, ["k"], now=_now())
    out = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert out == {1: 99, 2: 20}


def test_table_file_report_drives_compaction(spark, table):
    for i in range(3, 8):
        tx.append_table(_rows(spark, (i, "B", i)), table)
    rep = tx.table_file_report(spark, table).collect()
    n_before = sum(r["n_files"] for r in rep)
    assert n_before >= 6 and all(r["total_bytes"] > 0 for r in rep)
    tx.compact_table(spark, table, target_files=1)
    rep2 = tx.table_file_report(spark, table).collect()
    assert sum(r["n_files"] for r in rep2) < n_before


def test_append_checks_gate_at_commit_boundary(spark, table):
    from bi_utils_spark.operators.dq import Check

    checks = [Check(kind="completeness", column="status", min_fraction=1.0)]
    v_before = tx.latest_version(table)
    bad = spark.createDataFrame(
        [(9, None, 90)], "k int, status string, v long"
    )
    with pytest.raises(ValueError, match="data-quality gate failed"):
        tx.append_table(bad, table, checks=checks)
    # failing batch left no commit AND no orphan-visible rows
    assert tx.latest_version(table) == v_before
    assert 9 not in _as_dict(tx.read_table(spark, table))
    tx.append_table(
        _rows(spark, (9, "OK", 90)), table, checks=checks
    )
    assert 9 in _as_dict(tx.read_table(spark, table))


# ---------------------------------------------------------------------------
# bloom file index: point-lookup pruning on unclustered columns
# ---------------------------------------------------------------------------


def test_bloom_index_prunes_point_lookups(spark, tmp_path):
    path = str(tmp_path / "bl")
    # ids INTERLEAVED across files: every file spans ~the full id
    # range, so zone maps cannot prune — the bloom case
    mk = lambda off: spark.createDataFrame(  # noqa: E731
        [(i * 3 + off, f"u{i * 3 + off}") for i in range(400)],
        "k int, uid string",
    ).coalesce(1)
    tx.create_table(mk(0), path)
    tx.append_table(mk(1), path)
    tx.append_table(mk(2), path)
    # zone maps are useless here (all files overlap on k)
    assert len(
        tx.read_table(spark, path, skip={"k": (500, 502)}).inputFiles()
    ) == 3
    tx.build_bloom_index(spark, path, "uid", fpp=0.01)
    hit = tx.read_table(spark, path, point={"uid": "u601"})
    assert len(hit.inputFiles()) == 1
    assert [r["k"] for r in hit.where("uid = 'u601'").collect()] == [601]
    # no false negatives across a sample of present values
    for v in range(0, 1200, 97):
        got = tx.read_table(spark, path, point={"uid": f"u{v}"})
        assert [
            r["k"] for r in got.where(f"uid = 'u{v}'").collect()
        ] == [v], v
    # an absent value prunes everything (or nearly): result still empty
    miss = tx.read_table(spark, path, point={"uid": "nope"})
    assert miss.where("uid = 'nope'").count() == 0


def test_bloom_index_ignores_unindexed_files(spark, tmp_path):
    path = str(tmp_path / "bl2")
    tx.create_table(
        spark.createDataFrame([(1, "a")], "k int, uid string"), path
    )
    tx.build_bloom_index(spark, path, "uid")
    tx.append_table(
        spark.createDataFrame([(2, "b")], "k int, uid string"), path
    )
    # the post-build file has no filter -> never pruned
    got = tx.read_table(spark, path, point={"uid": "b"})
    assert {r["k"] for r in got.collect()} >= {2}
    # and a lookup for the indexed value still finds it
    got_a = tx.read_table(spark, path, point={"uid": "a"})
    assert 1 in {r["k"] for r in got_a.collect()}


def test_restore_rolls_back_as_new_commit(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)  # v1
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)  # v2 (bad load)
    v = tx.restore_table(spark, table, 1)
    assert v == 3
    assert _as_dict(tx.read_table(spark, table)) == {
        1: ("A", 10),
        2: ("A", 20),
        3: ("B", 30),
    }
    # the bad version stays inspectable
    assert _as_dict(tx.read_table(spark, table, version=2)) == {
        7: ("Z", 70)
    }
    # restore after vacuum dropped the target's files fails loudly
    tx.overwrite_table(_rows(spark, (8, "Y", 80)), table)  # v4
    tx.vacuum_table(table, retain_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx.restore_table(spark, table, 2)


def test_merge_delete_clause(spark, table):
    src = spark.createDataFrame(
        [
            (1, "X", 0, True),    # matched delete
            (2, "U", 99, False),  # update
            (3, "I", 33, False),  # insert
            (4, "X", 0, True),    # unmatched delete flag: no-op
        ],
        "k int, status string, v long, _del boolean",
    )
    tx.merge_tx_table(
        spark, table, src, ["k"], now=_now(), delete_col="_del"
    )
    out = tx.read_table(spark, table)
    assert "_del" not in out.columns
    assert _as_dict(out) == {2: ("U", 99), 3: ("I", 33)}


def test_merge_delete_wins_over_same_batch_update(spark, table):
    src = spark.createDataFrame(
        [(2, "U", 99, False), (2, "X", 0, True)],
        "k int, status string, v long, _del boolean",
    )
    tx.merge_tx_table(
        spark, table, src, ["k"], now=_now(), delete_col="_del"
    )
    got = _as_dict(tx.read_table(spark, table))
    assert 2 not in got and 1 in got


def test_concurrent_appends_all_land(spark, table):
    """8 threads race appends; the atomic-link claim serializes them
    into 8 distinct versions with every row surviving."""
    from concurrent.futures import ThreadPoolExecutor

    def app(i: int) -> int:
        return tx.append_table(_rows(spark, (100 + i, "T", i)), table)

    with ThreadPoolExecutor(8) as ex:
        versions = list(ex.map(app, range(8)))
    assert sorted(versions) == list(range(1, 9))
    got = _as_dict(tx.read_table(spark, table))
    assert all(100 + i in got for i in range(8))
    assert tx.latest_version(table) == 8


# ---------------------------------------------------------------------------
# CONVERT: adopt an existing plain-parquet directory in metadata time
# ---------------------------------------------------------------------------


def test_convert_plain_parquet_in_place(spark, tmp_path):
    path = str(tmp_path / "plain")
    _rows(spark, (1, "A", 10), (2, "B", 20)).write.parquet(path)
    tx.convert_to_tx(spark, path)
    assert _as_dict(tx.read_table(spark, path)) == {
        1: ("A", 10),
        2: ("B", 20),
    }
    # no data was rewritten: zero files under data/
    assert not os.path.isdir(os.path.join(path, tx.DATA_DIR))
    # the table is fully operational post-convert
    tx.append_table(_rows(spark, (3, "C", 30)), path)
    tx.merge_tx_table(
        spark, path, _rows(spark, (1, "U", 99)), ["k"], now=_now()
    )
    assert _as_dict(tx.read_table(spark, path)) == {
        1: ("U", 99),
        2: ("B", 20),
        3: ("C", 30),
    }
    # and v0 still reads as the original directory contents
    assert set(_as_dict(tx.read_table(spark, path, version=0))) == {1, 2}


def test_convert_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "plainp")
    spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v long"
    ).write.partitionBy("day").parquet(path)
    tx.convert_to_tx(spark, path, partition_cols=["day"])
    got = tx.read_table(spark, path, partition_filter={"day": "d2"})
    assert [(r["k"], r["day"]) for r in got.collect()] == [(2, "d2")]
    # partition-scoped merge works against converted files
    src = spark.createDataFrame(
        [(2, "d2", 99)], "k int, day string, v long"
    )
    tx.merge_tx_table(spark, path, src, ["k"], now=_now())
    vals = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert vals == {1: 10, 2: 99}


def test_convert_validates_partition_cols(spark, tmp_path):
    path = str(tmp_path / "plainbad")
    spark.createDataFrame(
        [(1, "d1", 10)], "k int, day string, v long"
    ).write.partitionBy("day").parquet(path)
    with pytest.raises(ValueError, match="partition dirs"):
        tx.convert_to_tx(spark, path)  # forgot partition_cols


# ---------------------------------------------------------------------------
# forget_keys: verifiable right-to-be-forgotten
# ---------------------------------------------------------------------------


def test_forget_keys_erases_rows_and_history(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    report = tx.forget_keys(
        spark, table, spark.createDataFrame([(2,)], "k int"), ["k"]
    )
    assert report["surviving_matches"] == 0
    assert report["files_reclaimed"] > 0
    got = _as_dict(tx.read_table(spark, table))
    assert 2 not in got and {1, 3} <= set(got)
    # history that contained the key is GONE (the point of forgetting)
    with pytest.raises(Exception):
        tx.read_table(spark, table, version=0).collect()


def test_forget_keys_partitioned_locates_partitions(spark, tmp_path):
    path = str(tmp_path / "fp")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20), (3, "d2", 30), (4, "d3", 40)],
        "k int, day string, v long",
    )
    tx.create_table(base, path, partition_cols=["day"])
    report = tx.forget_keys(
        spark, path, spark.createDataFrame([(2,)], "k int"), ["k"]
    )
    assert report["surviving_matches"] == 0
    vals = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert vals == {1: 10, 3: 30, 4: 40}  # d2 sibling row survives


def test_forget_keys_discloses_unreclaimed_converted_files(spark, tmp_path):
    path = str(tmp_path / "fc")
    _rows(spark, (1, "A", 10), (2, "B", 20)).write.parquet(path)
    tx.convert_to_tx(spark, path)
    report = tx.forget_keys(
        spark, path, spark.createDataFrame([(1,)], "k int"), ["k"]
    )
    assert report["surviving_matches"] == 0
    assert report["unreclaimed"] > 0  # converted files live outside data/
    assert set(_as_dict(tx.read_table(spark, path))) == {2}


# ---------------------------------------------------------------------------
# r8 hardening: bloom build at scale, incremental maintenance, typed
# probes, vacuum retention/safety, append schema race, history scrub
# ---------------------------------------------------------------------------


def test_bloom_build_collects_only_packed_bitmaps(spark, tmp_path):
    """The BUILD's driver payload is the packed index itself (~m/8
    bytes per file as base64), never raw bit positions — the r7
    scale defect: collect_set of int64 positions was ~50x the packed
    size at high cardinality."""
    import base64

    path = str(tmp_path / "blp")
    n = 3000
    tx.create_table(
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(n)], "k int, uid string"
        ).coalesce(1),
        path,
    )
    idx = tx.build_bloom_index(spark, path, "uid", fpp=0.01)
    (entry,) = idx["files"].values()
    m = entry["m"]
    raw = base64.b64decode(entry["b64"])
    # bitmap is exactly m/8 bytes; raw positions would be ~8*k*n
    assert len(raw) == (m + 7) // 8
    k = idx["k"]
    assert len(raw) < 8 * k * n / 4  # far below the position payload
    # and it actually filters: ~half the bits set at the design fpp,
    # never all (all-ones would prune nothing)
    ones = sum(bin(b).count("1") for b in raw)
    assert 0 < ones < m
    hit = tx.read_table(spark, path, point={"uid": "u17"})
    assert [r["k"] for r in hit.where("uid = 'u17'").collect()] == [17]


def test_bloom_incremental_only_new(spark, tmp_path):
    """only_new=True: carried entries are BYTE-IDENTICAL (old files
    never rescanned), new files get filters and prune, entries for
    vacuumed files are dropped."""
    path = str(tmp_path / "bli")
    mk = lambda off: spark.createDataFrame(  # noqa: E731
        [(i * 3 + off, f"u{i * 3 + off}") for i in range(200)],
        "k int, uid string",
    ).coalesce(1)
    tx.create_table(mk(0), path)
    tx.append_table(mk(1), path)
    first = tx.build_bloom_index(spark, path, "uid", fpp=0.01)
    assert len(first["files"]) == 2
    tx.append_table(mk(2), path)
    second = tx.build_bloom_index(spark, path, "uid", fpp=0.01, only_new=True)
    assert len(second["files"]) == 3
    for rel, entry in first["files"].items():
        assert second["files"][rel] == entry  # byte-identical carry
    # the new file's filter prunes: a value only in file 3 hits 1 file
    hit = tx.read_table(spark, path, point={"uid": "u302"})
    assert len(hit.inputFiles()) == 1
    assert [r["k"] for r in hit.where("uid = 'u302'").collect()] == [302]
    # compact rewrites everything; incremental rebuild drops the dead
    # entries and indexes the new file set
    tx.compact_table(spark, path, target_files=1)
    tx.vacuum_table(path, retain_versions=1)
    third = tx.build_bloom_index(spark, path, "uid", fpp=0.01, only_new=True)
    live = set(tx._fold(path).files)
    assert set(third["files"]) == live
    assert not set(third["files"]) & set(first["files"])


def test_bloom_probe_coerces_value_through_column_type(spark, tmp_path):
    """Probing a double column with a Python int must hash '1.0' like
    the build did (CAST(col AS STRING)) — a str(value)='1' mismatch
    would prove absence everywhere and silently drop existing rows."""
    path = str(tmp_path / "blt")
    tx.create_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(300)], "k int, price double"
        ).coalesce(1),
        path,
    )
    tx.build_bloom_index(spark, path, "price")
    got = tx.read_table(spark, path, point={"price": 7})  # int probe
    assert [r["k"] for r in got.where("price = 7.0").collect()] == [7]
    got2 = tx.read_table(spark, path, point={"price": 7.0})
    assert [r["k"] for r in got2.where("price = 7.0").collect()] == [7]
    # boolean rendering: Python True vs Spark 'true'
    path2 = str(tmp_path / "blb")
    tx.create_table(
        spark.createDataFrame(
            [(1, True), (2, False)], "k int, flag boolean"
        ).coalesce(1),
        path2,
    )
    tx.build_bloom_index(spark, path2, "flag")
    gotb = tx.read_table(spark, path2, point={"flag": True})
    assert 1 in {r["k"] for r in gotb.collect()}


def test_partition_filter_renders_bool_and_null(spark, tmp_path):
    """Manifest-level partition pruning renders values the way Spark
    renders directories: bool -> 'true'/'false', None -> the Hive
    default-partition sentinel."""
    path = str(tmp_path / "pvb")
    tx.create_table(
        spark.createDataFrame(
            [(1, True), (2, False), (3, None)], "k int, flag boolean"
        ),
        path,
        partition_cols=["flag"],
    )
    got = tx.read_table(spark, path, partition_filter={"flag": True})
    assert {r["k"] for r in got.collect()} == {1}
    got_null = tx.read_table(spark, path, partition_filter={"flag": None})
    assert {r["k"] for r in got_null.collect()} == {3}


def test_append_rebase_recomputes_widened_schema(spark, table, monkeypatch):
    """Two racing appends widening with DIFFERENT new columns: the
    rebased commit must merge against the actual predecessor
    snapshot, not its pre-race read — otherwise the race winner's
    column silently disappears from reads."""
    state = {"raced": False}
    orig_claim = tx._claim

    def racing_claim(path, version, payload):
        if not state["raced"]:
            state["raced"] = True
            # another writer lands col_a in this very slot first
            tx.append_table(
                spark.createDataFrame(
                    [(50, "A", 1, "x")],
                    "k int, status string, v long, col_a string",
                ),
                path,
            )
        return orig_claim(path, version, payload)

    monkeypatch.setattr(tx, "_claim", racing_claim)
    tx.append_table(
        spark.createDataFrame(
            [(60, "B", 2, 9.5)],
            "k int, status string, v long, col_b double",
        ),
        table,
    )
    got = tx.read_table(spark, table)
    assert {"col_a", "col_b"} <= set(got.columns)
    vals = {r["k"]: (r["col_a"], r["col_b"]) for r in got.collect()}
    assert vals[50] == ("x", None)
    assert vals[60] == (None, 9.5)


def test_vacuum_spares_inflight_staged_files(spark, table):
    """A file staged by an in-flight writer (on disk, referenced by
    no commit yet) survives vacuum — deleting it would corrupt the
    commit about to claim it. Aged strays ARE collected."""
    staged = tx._stage(_rows(spark, (9, "S", 90)), table, [])
    full = os.path.join(table, staged[0]["path"])
    assert os.path.exists(full)
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)
    deleted = tx.vacuum_table(table, retain_versions=1)
    assert os.path.exists(full), "in-flight staged file was vacuumed"
    assert staged[0]["path"] not in deleted
    # ...but once older than the stray window it is reclaimed
    old = os.path.getmtime(full) - 7200
    os.utime(full, (old, old))
    deleted2 = tx.vacuum_table(table, retain_versions=1)
    assert staged[0]["path"] in deleted2
    assert not os.path.exists(full)


def _age_commit(table, v, seconds):
    cf = tx._commit_file(table, v)
    with open(cf) as fh:
        e = json.load(fh)
    e["ts"] = e["ts"] - seconds
    with open(cf + ".tmp", "w") as fh:
        json.dump(e, fh)
    os.replace(cf + ".tmp", cf)


def test_vacuum_time_retention_keeps_window_live_versions(spark, table):
    """retain_hours keeps every version that was LIVE inside the
    window: versions committed inside it AND the newest version
    committed before it (the table state at window start) — so
    'time travel N hours back' genuinely keeps working and a reader
    of a just-superseded snapshot never loses files."""
    tx.overwrite_table(_rows(spark, (3, "B", 30)), table)  # v1
    tx.overwrite_table(_rows(spark, (7, "Z", 70)), table)  # v2
    # all commits are seconds old: a 1h window retains everything
    deleted = tx.vacuum_table(table, retain_versions=1, retain_hours=1.0)
    assert deleted == []
    assert _as_dict(tx.read_table(spark, table, version=0)) == {
        1: ("A", 10),
        2: ("A", 20),
    }
    # age v0 and v1 out of the window: v1 was still the LIVE table
    # when the window opened, so only v0's files may die
    _age_commit(table, 0, 7200)
    _age_commit(table, 1, 7200)
    deleted2 = tx.vacuum_table(table, retain_versions=1, retain_hours=1.0)
    assert deleted2  # v0-only files reclaimed
    assert _as_dict(tx.read_table(spark, table, version=1)) == {
        3: ("B", 30)
    }
    with pytest.raises(Exception):
        tx.read_table(spark, table, version=0).collect()
    assert _as_dict(tx.read_table(spark, table)) == {7: ("Z", 70)}


def test_forget_keys_reclaims_young_strays(spark, table):
    """Erasure must delete never-committed staged debris too — a
    crashed job's file may hold the forgotten rows; forget_keys
    passes stray_age_seconds=0 (it requires exclusive access, so the
    in-flight protection the default buys does not apply)."""
    staged = tx._stage(_rows(spark, (2, "X", 99)), table, [])
    full = os.path.join(table, staged[0]["path"])
    assert os.path.exists(full)
    report = tx.forget_keys(
        spark, table, spark.createDataFrame([(2,)], "k int"), ["k"]
    )
    assert report["surviving_matches"] == 0
    assert not os.path.exists(full), "young stray survived erasure"


def test_forget_keys_scrubs_log_metadata_and_blooms(spark, tmp_path):
    """After forget_keys, the forgotten value appears NOWHERE under
    _txlog: old commit/checkpoint JSONs (zone-map min/max kept the
    value verbatim) are truncated away and bloom sidecars (still
    membership-testable) are dropped."""
    path = str(tmp_path / "fs")
    tx.create_table(
        spark.createDataFrame(
            [(i, f"user_{i:04d}") for i in range(100)],
            "k int, uid string",
        ).coalesce(1),
        path,
    )
    tx.build_bloom_index(spark, path, "uid")
    # uid 'user_0000' is the file's MIN -> lives verbatim in v0 stats
    log_dir = os.path.join(path, tx.LOG_DIR)
    pre = "".join(
        open(os.path.join(log_dir, f)).read()
        for f in os.listdir(log_dir)
        if f.endswith(".json")
    )
    assert "user_0000" in pre
    report = tx.forget_keys(
        spark, path, spark.createDataFrame([("user_0000",)], "uid string"),
        ["uid"],
    )
    assert report["surviving_matches"] == 0
    assert report["history_truncated"] is True
    assert report["bloom_indexes_dropped"] == 1
    post_files = os.listdir(log_dir)
    assert not [f for f in post_files if f.startswith("bloom.")]
    post = "".join(
        open(os.path.join(log_dir, f)).read()
        for f in post_files
        if f.endswith(".json")
    )
    assert "user_0000" not in post
    # the table stays fully operational after truncation
    tx.append_table(
        spark.createDataFrame([(999, "user_new")], "k int, uid string"),
        path,
    )
    got = {r["k"] for r in tx.read_table(spark, path).collect()}
    assert 0 not in got and 999 in got and len(got) == 100


def test_forget_keys_broadcast_off_identical(spark, tmp_path):
    """broadcast_keys=False: identical erasure, and the keyset join
    the locate step uses carries no forced broadcast (under
    autoBroadcastJoinThreshold=-1 the plan has no BroadcastHashJoin;
    with the default hint it does)."""
    keys = lambda: spark.createDataFrame([(2,)], "k int")  # noqa: E731
    paths = {}
    for flag in (True, False):
        p = str(tmp_path / f"fb{int(flag)}")
        tx.create_table(_rows(spark, (1, "A", 10), (2, "A", 20)), p)
        report = tx.forget_keys(spark, p, keys(), ["k"], broadcast_keys=flag)
        assert report["surviving_matches"] == 0
        paths[flag] = _as_dict(tx.read_table(spark, p))
    assert paths[True] == paths[False]
    # plan-level: the exact join shape forget_keys builds
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = tx.read_table(spark, str(tmp_path / "fb1"))
        hinted = base.join(F.broadcast(keys()), ["k"], "left_semi")
        plain = base.join(keys(), ["k"], "left_semi")
        p_hint = hinted._jdf.queryExecution().executedPlan().toString()
        p_plain = plain._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p_hint
        assert "BroadcastHashJoin" not in p_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_commit_ts_stamped_and_monotonic_enough(spark, table):
    import time as _t

    t0 = _t.time()
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    ts = tx._commit_ts(table, 1)
    assert t0 - 5 <= ts <= _t.time() + 5


def test_merge_validate_partition_stability(spark, tmp_path):
    """Opt-in guard: a source row whose partition value CHANGED
    matches a target row outside the touched partitions — the
    partition-scoped merge would strand the old row; the validator
    raises before anything commits."""
    path = str(tmp_path / "vps")
    tx.create_table(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v long"
        ),
        path,
        partition_cols=["day"],
    )
    moved = spark.createDataFrame(
        [(1, "d2", 99)], "k int, day string, v long"  # k=1 moved d1->d2
    )
    with pytest.raises(ValueError, match="OUTSIDE"):
        tx.merge_tx_table(
            spark, path, moved, ["k"], now=_now(),
            on_partition_move="error",
        )
    # nothing committed
    assert tx.latest_version(path) == 0
    # a partition-stable source passes the validator and merges
    stable = spark.createDataFrame(
        [(1, "d1", 99), (3, "d3", 30)], "k int, day string, v long"
    )
    tx.merge_tx_table(
        spark, path, stable, ["k"], now=_now(),
        on_partition_move="error",
    )
    vals = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert vals == {1: 99, 2: 20, 3: 30}


def test_compact_partitions_rewrites_only_hot_partitions(spark, tmp_path):
    """Partition-scoped compaction: the fragmented partition's files
    fold to one; every healthy partition's files survive by IDENTITY
    (never rewritten); rows and time travel are intact."""
    path = str(tmp_path / "cp")
    mk = lambda day, k, v: spark.createDataFrame(  # noqa: E731
        [(k, day, v)], "k int, day string, v long"
    )
    tx.create_table(
        mk("d1", 1, 10).unionByName(mk("d2", 2, 20)),
        path,
        partition_cols=["day"],
    )
    for i in range(4):  # fragment d1 with four 1-row appends
        tx.append_table(mk("d1", 10 + i, 100 + i), path)
    snap = tx._fold(path)
    d1_files = [
        r for r, m in snap.files.items()
        if m["partition_values"].get("day") == "d1"
    ]
    d2_files = [
        r for r, m in snap.files.items()
        if m["partition_values"].get("day") == "d2"
    ]
    assert len(d1_files) == 5 and len(d2_files) == 1
    v = tx.compact_partitions(spark, path, max_files=2, target_files=1)
    assert v == snap.version + 1
    after = tx._fold(path)
    d1_after = [
        r for r, m in after.files.items()
        if m["partition_values"].get("day") == "d1"
    ]
    d2_after = [
        r for r, m in after.files.items()
        if m["partition_values"].get("day") == "d2"
    ]
    assert len(d1_after) == 1
    assert d2_after == d2_files  # healthy partition untouched
    vals = {r["k"]: r["v"] for r in tx.read_table(spark, path).collect()}
    assert vals == {1: 10, 2: 20, 10: 100, 11: 101, 12: 102, 13: 103}
    # pre-compaction version still resolves
    assert len(tx.read_table(spark, path, version=v - 1).collect()) == 6
    # nothing hot anymore -> no-op, no commit
    assert tx.compact_partitions(spark, path, max_files=2) is None
    assert tx.latest_version(path) == v


def test_table_changes_diagnoses_truncated_history(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    tx.forget_keys(
        spark, table, spark.createDataFrame([(2,)], "k int"), ["k"]
    )
    with pytest.raises(ValueError, match="truncated"):
        tx.table_changes(spark, table, after_version=0)


def test_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True (the autoMerge analog): new nullable source
    columns widen the table at the commit; matched rows take the
    source value, unmatched target rows null-fill; untouched
    partitions' files stay byte-identical; type conflicts raise.
    Default (False): source-only columns are silently dropped —
    target schema wins, the reference's merge semantics."""
    path = str(tmp_path / "ms")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20)], "k int, day string, v long"
    )
    tx.create_table(base, path, partition_cols=["day"])
    before = set(tx._fold(path).files)
    d1_files = {
        rel
        for rel, m in tx._fold(path).files.items()
        if m["partition_values"]["day"] == "d1"
    }
    src = spark.createDataFrame(
        [(2, "d2", 99, "fresh")], "k int, day string, v long, note string"
    )
    # default: extra column dropped, schema unchanged
    tx.merge_tx_table(spark, path, src, ["k"], now=_now())
    assert "note" not in tx.read_table(spark, path).columns
    # with merge_schema: widened, values land, nulls backfill
    tx.merge_tx_table(
        spark, path, src, ["k"], now=_now(), merge_schema=True
    )
    got = {
        r["k"]: (r["v"], r["note"])
        for r in tx.read_table(spark, path).collect()
    }
    assert got == {1: (10, None), 2: (99, "fresh")}
    # untouched partition's files survived BOTH merges by identity
    assert d1_files <= set(tx._fold(path).files)
    # a later plain append must satisfy the WIDENED schema contract
    tx.append_table(
        spark.createDataFrame(
            [(3, "d3", 30, "n3")], "k int, day string, v long, note string"
        ),
        path,
    )
    assert {r["k"] for r in tx.read_table(spark, path).collect()} == {
        1, 2, 3,
    }
    # type conflict on a shared column raises, nothing commits
    v_before = tx.latest_version(path)
    bad = spark.createDataFrame(
        [(2, "d2", "oops", 1.5)], "k int, day string, v string, z double"
    )
    with pytest.raises(ValueError, match="!= table"):
        tx.merge_tx_table(
            spark, path, bad, ["k"], now=_now(), merge_schema=True
        )
    assert tx.latest_version(path) == v_before
    assert before  # silence unused warning


def test_foreach_batch_merge_sink_exactly_once(spark, table):
    """Streaming CDC upserts: redelivered micro-batches are no-ops
    (no double-upsert, no extra commit); distinct batches fold as
    merges (update + insert + delete clause)."""
    sink = tx.foreach_batch_merge_sink(
        table, ["k"], app_id="cdc-app", now=_now(), delete_col="_del"
    )
    b0 = spark.createDataFrame(
        [(2, "U", 99, False), (3, "I", 33, False)],
        "k int, status string, v long, _del boolean",
    )
    sink(b0, 0)
    v1 = tx.latest_version(table)
    sink(b0, 0)  # engine restart replays batch 0
    assert tx.latest_version(table) == v1
    assert _as_dict(tx.read_table(spark, table)) == {
        1: ("A", 10),
        2: ("U", 99),
        3: ("I", 33),
    }
    b1 = spark.createDataFrame(
        [(1, "X", 0, True), (4, "I", 44, False)],
        "k int, status string, v long, _del boolean",
    )
    sink(b1, 1)
    sink(b1, 1)  # replay again
    got = _as_dict(tx.read_table(spark, table))
    assert got == {2: ("U", 99), 3: ("I", 33), 4: ("I", 44)}
    # mixed-app marks don't interfere: the append app's mark is separate
    tx.append_table(_rows(spark, (9, "Z", 9)), table, app=("other", 0))
    sink(b1, 1)  # still a no-op for cdc-app
    assert 1 not in _as_dict(tx.read_table(spark, table))


def test_foreach_batch_merge_sink_retries_lost_race(spark, table, monkeypatch):
    """A concurrent writer steals the slot between snapshot read and
    claim; the sink re-reads and retries, folding against the
    racer's committed state."""
    state = {"raced": False}
    orig_claim = tx._claim

    def racing_claim(path, version, payload):
        if payload.get("action") == "merge" and not state["raced"]:
            state["raced"] = True
            tx.append_table(_rows(spark, (7, "R", 70)), path)
        return orig_claim(path, version, payload)

    monkeypatch.setattr(tx, "_claim", racing_claim)
    sink = tx.foreach_batch_merge_sink(
        table, ["k"], app_id="race-app", now=_now()
    )
    sink(_rows(spark, (2, "U", 99)), 0)
    got = _as_dict(tx.read_table(spark, table))
    assert got[2] == ("U", 99)  # the merge landed on retry
    assert got[7] == ("R", 70)  # the racer's append survived


def test_merge_type_drift_raises_even_without_merge_schema(spark, table):
    """Shared-column type validation is NOT gated behind
    merge_schema: a type-drifted source (v as string) must raise
    before staging — otherwise the commit lands parquet files that
    disagree with the manifest schema and the snapshot becomes
    unreadable."""
    bad = spark.createDataFrame(
        [(2, "U", "oops")], "k int, status string, v string"
    )
    v0 = tx.latest_version(table)
    with pytest.raises(ValueError, match="!= table"):
        tx.merge_tx_table(spark, table, bad, ["k"], now=_now())
    assert tx.latest_version(table) == v0
    tx.read_table(spark, table).collect()  # still readable


def test_merge_schema_ignores_managed_ts_columns(spark, table):
    """A CDC source carrying insert_timestamp/update_timestamp must
    not widen the table with columns merge_upsert will never fill
    (managed ts come from the merge, not the source)."""
    src = spark.createDataFrame(
        [(2, "U", 99, dt.datetime(2020, 1, 1))],
        "k int, status string, v long, insert_timestamp timestamp",
    )
    tx.merge_tx_table(spark, table, src, ["k"], now=_now(),
                      merge_schema=True)
    assert "insert_timestamp" not in tx.read_table(spark, table).columns


def test_merge_sink_skips_empty_batches(spark, table):
    """An empty micro-batch commits nothing — on an unpartitioned
    table it would otherwise be a full-snapshot identity rewrite per
    trigger."""
    sink = tx.foreach_batch_merge_sink(table, ["k"], app_id="e", now=_now())
    v0 = tx.latest_version(table)
    empty = spark.createDataFrame([], "k int, status string, v long")
    sink(empty, 0)
    assert tx.latest_version(table) == v0


def test_table_changes_rejects_future_up_to(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    with pytest.raises(ValueError, match="exceeds the latest"):
        tx.table_changes(spark, table, after_version=0, up_to=99)


def test_maintain_table_composes_compact_vacuum_bloom(spark, tmp_path):
    path = str(tmp_path / "mt")
    mk = lambda k, uid: spark.createDataFrame(  # noqa: E731
        [(k, "d1", uid)], "k int, day string, uid string"
    )
    tx.create_table(mk(1, "u1"), path, partition_cols=["day"])
    tx.build_bloom_index(spark, path, "uid")
    for i in range(2, 6):  # fragment d1
        tx.append_table(mk(i, f"u{i}"), path)
    report = tx.maintain_table(
        spark, path, max_files=2, retain_versions=1,
        bloom_cols=["uid"],
    )
    assert report["compacted_version"] is not None
    assert report["files_reclaimed"] > 0  # pre-compact files vacuumed
    live = set(tx._fold(path).files)
    assert len(live) == 1  # d1 folded to one file
    assert report["bloom_files"] == {"uid": 1}
    # the refreshed filter prunes and finds post-compaction
    got = tx.read_table(spark, path, point={"uid": "u3"})
    assert [r["k"] for r in got.where("uid = 'u3'").collect()] == [3]
    # idempotent second run: nothing fragmented, nothing reclaimed
    report2 = tx.maintain_table(
        spark, path, max_files=2, retain_versions=1, bloom_cols=["uid"]
    )
    assert report2["compacted_version"] is None


def test_merge_accepts_lossless_upcast_source(spark, table):
    """Default merges tolerate lossless source upcasts (int source
    into a long column — merge coercion lands the TABLE type); the
    dangerous directions (downcast, cross-kind) still raise."""
    up = spark.createDataFrame(
        [(2, "U", 99)], "k int, status string, v int"  # v int -> long
    )
    tx.merge_tx_table(spark, table, up, ["k"], now=_now())
    assert _as_dict(tx.read_table(spark, table))[2] == ("U", 99)
    down = spark.createDataFrame(
        [(2, "U", 1.5)], "k int, status string, v double"  # double -> long
    )
    with pytest.raises(ValueError, match="not a lossless upcast"):
        tx.merge_tx_table(spark, table, down, ["k"], now=_now())


def test_maintain_table_survives_compaction_race_and_unpartitioned(
    spark, table, tmp_path, monkeypatch
):
    # unpartitioned: compaction skipped with a reason, rest runs
    report = tx.maintain_table(spark, table, retain_versions=1)
    assert report["compacted_version"] is None
    assert "unpartitioned" in report["compaction_skipped"]
    # partitioned + racing writer: race recorded, vacuum still runs
    path = str(tmp_path / "mr")
    mk = lambda k: spark.createDataFrame(  # noqa: E731
        [(k, "d1", k)], "k int, day string, v long"
    )
    tx.create_table(mk(1), path, partition_cols=["day"])
    for i in range(2, 5):
        tx.append_table(mk(i), path)
    state = {"raced": False}
    orig_claim = tx._claim

    def racing_claim(p, version, payload):
        # a GENUINE conflict: the racing merge rewrites (removes) the
        # very files the compaction is folding — disjoint-footprint
        # races rebase since r9, so only an overlapping rewrite still
        # records compaction_raced
        if payload.get("action") == "compact" and not state["raced"]:
            state["raced"] = True
            tx.merge_tx_table(spark, p, mk(99), ["k"])
        return orig_claim(p, version, payload)

    monkeypatch.setattr(tx, "_claim", racing_claim)
    report2 = tx.maintain_table(spark, path, max_files=2, retain_versions=1)
    assert report2["compaction_raced"] is True
    assert report2["compacted_version"] is None
    assert 99 in {r["k"] for r in tx.read_table(spark, path).collect()}


def test_table_changes_rejects_future_after_version(spark, table):
    with pytest.raises(ValueError, match="after_version"):
        tx.table_changes(spark, table, after_version=99)


def test_table_changes_rejects_inverted_bounds(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    with pytest.raises(ValueError, match="swapped or stale"):
        tx.table_changes(spark, table, after_version=1, up_to=0)
    # equality = "no new commits" — an empty frame, not an error
    assert tx.table_changes(spark, table, after_version=1, up_to=1).count() == 0


def test_partition_filter_coerces_value_through_column_type(spark, tmp_path):
    """partition_filter={col: 1} against a double partition column
    must render '1.0' (the manifest's directory text), not '1' —
    the same type-faithful chain bloom point probes use."""
    path = str(tmp_path / "pf")
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.5)], "k int, price double"
    )
    tx.create_table(df, path, partition_cols=["price"])
    got = tx.read_table(spark, path, partition_filter={"price": 1})
    assert [r["k"] for r in got.collect()] == [1]
    # int column probed with a float that IS integral also matches
    path2 = str(tmp_path / "pf2")
    tx.create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, b int"),
        path2,
        partition_cols=["b"],
    )
    got2 = tx.read_table(spark, path2, partition_filter={"b": 10.0})
    assert [r["k"] for r in got2.collect()] == [1]


def test_bloom_sidecar_write_is_atomic(spark, table, monkeypatch):
    """A crash mid-persist must leave the OLD sidecar intact (or
    none), never truncated JSON — build writes tmp + os.replace."""
    tx.build_bloom_index(spark, table, "k")
    sc = tx._bloom_sidecar(table, "k")
    with open(sc) as fh:
        before = json.load(fh)

    boom = RuntimeError("crash mid-write")
    orig_replace = os.replace

    def failing_replace(src, dst):
        if dst == sc:
            raise boom
        return orig_replace(src, dst)

    monkeypatch.setattr(tx.os, "replace", failing_replace)
    tx.append_table(_rows(spark, (7, "C", 70)), table)
    with pytest.raises(RuntimeError, match="crash mid-write"):
        tx.build_bloom_index(spark, table, "k", only_new=True)
    monkeypatch.setattr(tx.os, "replace", orig_replace)
    with open(sc) as fh:
        assert json.load(fh) == before  # old sidecar intact, parseable
    # probes still work off the stale-but-valid sidecar
    got = tx.read_table(spark, table, point={"k": 1})
    assert 1 in {r["k"] for r in got.collect()}


# ---------------------------------------------------------------------------
# r9: grouped compaction topology + partition-disjoint rewrite rebase
# ---------------------------------------------------------------------------


def _frag_table(spark, tmp_path, n_parts, files_per_part, name="frag"):
    """A status-partitioned table with `n_parts` partitions, each
    fragmented into `files_per_part` single-row commits."""
    path = str(tmp_path / name)
    mk = lambda k, s: _rows(spark, (k, s, k * 10))  # noqa: E731
    tx.create_table(mk(0, "P00"), path, partition_cols=["status"])
    k = 1
    for p in range(n_parts):
        s = f"P{p:02d}"
        for _ in range(files_per_part - (1 if p == 0 else 0)):
            tx.append_table(mk(k, s), path)
            k += 1
    return path


def _files_per_partition(path):
    snap = tx._fold(path)
    out = {}
    for meta in snap.files.values():
        key = tuple(sorted(meta["partition_values"].items()))
        out[key] = out.get(key, 0) + 1
    return out


def test_compact_topology_scales_with_partitions(spark, tmp_path):
    """The r8 scale defect: the rewrite ran as `target_files` tasks
    (default ONE) regardless of how much data it moved. Now the
    shuffle is planned as Σ per-partition groups tasks and
    `target_files` means files PER PARTITION — exactly (identity-seed
    placement, not hash-approximate)."""
    path = _frag_table(spark, tmp_path, n_parts=8, files_per_part=4)
    before = _files_per_partition(path)
    assert all(n == 4 for n in before.values()) and len(before) == 8

    # plan-level assertion: the layout the rewrite writes through has
    # one task per output file — 8 partitions x 2 = 16 tasks
    snap = tx._fold(path)
    df = tx.read_table(spark, path)
    counts = tx._group_counts(snap, path, list(snap.files), 2, None)
    laid = tx._compaction_layout(spark, df, snap.partition_cols, counts)
    assert laid.rdd.getNumPartitions() == 16

    v = tx.compact_partitions(spark, path, max_files=2, target_files=2)
    assert v is not None
    after = _files_per_partition(path)
    assert len(after) == 8
    assert all(n == 2 for n in after.values()), after  # exact, per partition
    # row content survives the rewrite
    got = tx.read_table(spark, path)
    assert got.count() == 32
    assert {r["k"] for r in got.collect()} == set(range(32))


def test_compact_target_bytes_sizes_counts_from_manifest(spark, tmp_path):
    path = str(tmp_path / "tb")
    big = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        F.lit("D1").alias("status"),
        (F.col("id") * 7).alias("v"),
    )
    tx.create_table(big, path, partition_cols=["status"])
    for i in range(3):  # fragment
        tx.append_table(
            spark.range(20000 + i, 20001 + i).select(
                F.col("id").alias("k"),
                F.lit("D1").alias("status"),
                F.lit(0).cast("long").alias("v"),
            ),
            path,
        )
    snap = tx._fold(path)
    part_bytes = sum(m.get("bytes") or 0 for m in snap.files.values())
    assert part_bytes > 0  # manifest carries file sizes since r9
    target = part_bytes // 3
    v = tx.compact_partitions(
        spark, path, max_files=2, target_bytes=target
    )
    assert v is not None
    import math as _math

    expected = _math.ceil(part_bytes / target)
    after = _files_per_partition(path)
    assert sum(after.values()) == expected
    assert tx.read_table(spark, path).count() == 20003


def test_compact_partitions_zorder_clusters_hot_partition(spark, tmp_path):
    """OPTIMIZE WHERE ZORDER: a fragmented partition whose files each
    span the whole v-domain (zero zone-map selectivity) compacts into
    v-clustered files that `read_table(skip=...)` can prune."""
    path = str(tmp_path / "zc")
    import random

    rnd = random.Random(7)

    def mk(seed):
        vals = [(i, "H", rnd.randrange(0, 100000)) for i in range(200)]
        return spark.createDataFrame(
            [(seed * 1000 + i, s, v) for i, s, v in vals],
            "k long, status string, v long",
        ).coalesce(1)  # one full-domain-span file per commit

    tx.create_table(mk(0), path, partition_cols=["status"])
    for i in range(1, 6):
        tx.append_table(mk(i), path)
    # before: every file spans ~the whole domain -> skip prunes nothing
    snap0 = tx._fold(path)
    lo, hi = 0, 5000
    spanning = [
        rel
        for rel, m in snap0.files.items()
        if tx._zone_overlaps(m, {"v": (lo, hi)})
    ]
    assert len(spanning) == len(snap0.files)  # no selectivity
    v = tx.compact_partitions(
        spark, path, max_files=2, target_files=4, zorder_by=["v"]
    )
    assert v is not None
    snap1 = tx._fold(path)
    kept = [
        rel
        for rel, m in snap1.files.items()
        if tx._zone_overlaps(m, {"v": (lo, hi)})
    ]
    assert len(snap1.files) >= 3  # clustered output is multi-file
    assert len(kept) < len(snap1.files)  # zone maps now prune
    # and the pruned read is result-identical to the full filter
    a = (
        tx.read_table(spark, path, skip={"v": (lo, hi)})
        .where(F.col("v").between(lo, hi))
        .count()
    )
    b = tx.read_table(spark, path).where(F.col("v").between(lo, hi)).count()
    assert a == b


def test_merge_rebases_over_disjoint_partition_merge(spark, tmp_path, monkeypatch):
    """Two merges into DIFFERENT partitions: the loser re-claims the
    next slot with the SAME staged files — both commit, no re-merge
    (stage dir count stays 2), both results land."""
    path = str(tmp_path / "dj")
    tx.create_table(
        _rows(spark, (1, "A", 10), (2, "B", 20)),
        path,
        partition_cols=["status"],
    )
    orig_claim = tx._claim
    state = {"interleaved": False}

    def racing_claim(p, version, payload):
        if payload.get("action") == "merge" and not state["interleaved"]:
            state["interleaved"] = True
            # merge B lands first, into partition B only
            tx.merge_tx_table(
                spark, p, _rows(spark, (2, "B", 99)), ["k"], now=_now()
            )
        return orig_claim(p, version, payload)

    monkeypatch.setattr(tx, "_claim", racing_claim)
    n_dirs_before = len(os.listdir(os.path.join(path, "data")))
    # merge A: partition A only; its claim races against merge B
    v = tx.merge_tx_table(
        spark, path, _rows(spark, (1, "A", 77)), ["k"], now=_now()
    )
    monkeypatch.setattr(tx, "_claim", orig_claim)
    n_dirs_after = len(os.listdir(os.path.join(path, "data")))
    assert n_dirs_after - n_dirs_before == 2  # each merge staged ONCE
    assert v == 2  # v1 = B's merge; A's rebase claimed the next slot
    d = _as_dict(tx.read_table(spark, path))
    assert d[1] == ("A", 77) and d[2] == ("B", 99)
    # and the log shows both merges as separate commits
    hist = {r["version"]: r["action"] for r in tx.table_history(spark, path).collect()}
    assert list(hist.values()).count("merge") == 2


def test_merge_overlapping_partition_race_still_raises(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "ov")
    tx.create_table(
        _rows(spark, (1, "A", 10), (2, "B", 20)),
        path,
        partition_cols=["status"],
    )
    orig_claim = tx._claim
    state = {"interleaved": False}

    def racing_claim(p, version, payload):
        if payload.get("action") == "merge" and not state["interleaved"]:
            state["interleaved"] = True
            tx.merge_tx_table(
                spark, p, _rows(spark, (3, "A", 30)), ["k"], now=_now()
            )
        return orig_claim(p, version, payload)

    monkeypatch.setattr(tx, "_claim", racing_claim)
    with pytest.raises(tx.ConcurrentWriteError):
        tx.merge_tx_table(
            spark, path, _rows(spark, (1, "A", 77)), ["k"], now=_now()
        )


def test_compact_rebases_over_interleaved_append(spark, tmp_path, monkeypatch):
    """An append racing a compaction is NOT a conflict: the appended
    file stays live beside the compacted output (the fold composes
    both), and the compaction's staged files commit unchanged."""
    path = _frag_table(spark, tmp_path, n_parts=2, files_per_part=4, name="ra")
    orig_claim = tx._claim
    state = {"interleaved": False}

    def racing_claim(p, version, payload):
        if payload.get("action") == "compact" and not state["interleaved"]:
            state["interleaved"] = True
            tx.append_table(_rows(spark, (500, "P00", 5000)), p)
        return orig_claim(p, version, payload)

    monkeypatch.setattr(tx, "_claim", racing_claim)
    v = tx.compact_partitions(spark, path, max_files=2, target_files=1)
    assert v is not None  # no ConcurrentWriteError
    got = tx.read_table(spark, path)
    assert got.count() == 9  # 8 original rows + the racing append
    assert 500 in {r["k"] for r in got.collect()}
    per = _files_per_partition(path)
    # P00: 1 compacted + 1 appended-after-snapshot; P01: 1 compacted
    assert per[(("status", "P00"),)] == 2
    assert per[(("status", "P01"),)] == 1


def test_merge_source_partition_bound_guard(spark, table):
    src = _rows(spark, (1, "A", 1), (2, "B", 2), (3, "C", 3))
    path = str(table) + "_bound"
    tx.create_table(
        _rows(spark, (1, "A", 10)), path, partition_cols=["status"]
    )
    with pytest.raises(ValueError, match="distinct partitions"):
        tx.merge_tx_table(
            spark, path, src, ["k"], now=_now(), max_source_partitions=2
        )
    # at or under the bound: merges fine
    v = tx.merge_tx_table(
        spark, path, src, ["k"], now=_now(), max_source_partitions=3
    )
    assert v == 1


# ---------------------------------------------------------------------------
# r9: row-level change data feed (CDF)
# ---------------------------------------------------------------------------


def _cdf_rows(df):
    return {
        (r["k"], r["_change_type"], r["_commit_version"]): (
            r["status"],
            r["v"],
        )
        for r in df.collect()
    }


def test_cdf_replays_create_append_merge_delete_arc(spark, tmp_path):
    path = str(tmp_path / "cdf")
    tx.create_table(
        _rows(spark, (1, "A", 10), (2, "B", 20)),
        path,
        partition_cols=["status"],
    )
    tx.append_table(_rows(spark, (3, "A", 30)), path)
    src = _rows(spark, (1, "A", 11), (4, "B", 40), (3, "A", 0)).withColumn(
        "__del", F.col("k") == 3
    )
    tx.merge_tx_table(
        spark, path, src, ["k"], now=_now(), delete_col="__del"
    )
    got = _cdf_rows(tx.table_changes_cdf(spark, path, ["k"], after_version=-1))
    assert got == {
        (1, "insert", 0): ("A", 10),
        (2, "insert", 0): ("B", 20),
        (3, "insert", 1): ("A", 30),
        (1, "update_postimage", 2): ("A", 11),
        (4, "insert", 2): ("B", 40),
        (3, "delete", 2): ("A", 30),  # delete carries the PRE-image
    }
    # resuming mid-stream sees only the merge's changes
    tail = _cdf_rows(tx.table_changes_cdf(spark, path, ["k"], after_version=1))
    assert set(tail) == {
        (1, "update_postimage", 2),
        (4, "insert", 2),
        (3, "delete", 2),
    }


def test_cdf_compaction_and_unchanged_merge_rows_emit_nothing(spark, tmp_path):
    path = str(tmp_path / "cdfc")
    tx.create_table(
        _rows(spark, (1, "A", 10)), path, partition_cols=["status"]
    )
    for i in range(2, 5):
        tx.append_table(_rows(spark, (i, "A", i * 10)), path)
    v = tx.compact_partitions(spark, path, max_files=2)
    assert v is not None
    cdf = tx.table_changes_cdf(spark, path, ["k"], after_version=v - 1, up_to=v)
    assert cdf.count() == 0  # pure file movement: no row-level change
    # a merge that rewrites a partition but changes ONE row emits one
    tx.merge_tx_table(spark, path, _rows(spark, (2, "A", 999)), ["k"], now=_now())
    tail = _cdf_rows(tx.table_changes_cdf(spark, path, ["k"], after_version=v))
    assert set(tail) == {(2, "update_postimage", v + 1)}


def test_cdf_restore_emits_net_changes_only(spark, tmp_path):
    path = str(tmp_path / "cdfr")
    tx.create_table(
        _rows(spark, (1, "A", 10), (2, "A", 20)), path, partition_cols=["status"]
    )
    tx.merge_tx_table(spark, path, _rows(spark, (2, "A", 99)), ["k"], now=_now())
    v = tx.restore_table(spark, path, 1 - 1)  # back to v0
    tail = _cdf_rows(tx.table_changes_cdf(spark, path, ["k"], after_version=1))
    # the restore undoes the update: one update back to the old value;
    # row 1 (file unchanged between v0 and v2... rewritten partition) —
    # only genuinely-changed rows appear
    assert set(tail) == {(2, "update_postimage", v)}
    assert tail[(2, "update_postimage", v)] == ("A", 20)


def test_cdf_validates_bounds_and_truncation(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    with pytest.raises(ValueError, match="exceeds the latest"):
        tx.table_changes_cdf(spark, table, ["k"], after_version=0, up_to=9)
    with pytest.raises(ValueError, match="swapped or stale"):
        tx.table_changes_cdf(spark, table, ["k"], after_version=1, up_to=0)
    with pytest.raises(ValueError, match="not a table column"):
        tx.table_changes_cdf(spark, table, ["nope"], after_version=0)


def test_cdf_schema_evolution_null_fills_old_commits(spark, tmp_path):
    path = str(tmp_path / "cdfw")
    tx.create_table(_rows(spark, (1, "A", 10)), path)
    widened = spark.createDataFrame(
        [(2, "B", 20, "x")], "k int, status string, v long, extra string"
    )
    tx.append_table(widened, path)
    cdf = tx.table_changes_cdf(spark, path, ["k"], after_version=-1)
    rows = {r["k"]: (r["extra"], r["_change_type"]) for r in cdf.collect()}
    assert rows == {1: (None, "insert"), 2: ("x", "insert")}


def test_cdf_apply_batch_converges_downstream(spark, tmp_path):
    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    tx.create_table(
        _rows(spark, (1, "A", 10), (2, "B", 20)), up, partition_cols=["status"]
    )
    tx.create_table(
        tx.read_table(spark, up).limit(0), down, partition_cols=["status"]
    )
    tx.append_table(_rows(spark, (3, "A", 30)), up)
    src = _rows(spark, (1, "A", 11), (3, "A", 0)).withColumn(
        "__del", F.col("k") == 3
    )
    tx.merge_tx_table(spark, up, src, ["k"], now=_now(), delete_col="__del")
    changes = tx.table_changes_cdf(spark, up, ["k"], after_version=-1)
    tx.cdf_apply_batch(spark, down, changes, ["k"], now=_now())
    assert _as_dict(tx.read_table(spark, down)) == _as_dict(
        tx.read_table(spark, up)
    )
    # net-effect fold: k=3 was inserted at v1 then deleted at v2 ->
    # absent downstream (the delete won, not the stale insert)
    assert 3 not in _as_dict(tx.read_table(spark, down))


def test_symlink_manifest_external_engine_reads_snapshot(spark, tmp_path):
    """The interop contract: an engine that only understands file
    lists (DuckDB here) reads the manifest'd snapshot and matches
    read_table row-for-row — across appends, a merge, and a stale
    re-export."""
    import duckdb

    path = str(tmp_path / "sm")
    tx.create_table(
        _rows(spark, (1, "A", 10), (2, "B", 20)), path, partition_cols=["status"]
    )
    tx.append_table(_rows(spark, (3, "A", 30)), path)
    tx.merge_tx_table(
        spark, path, _rows(spark, (2, "B", 99), (4, "N", 40)), ["k"], now=_now()
    )
    rep = tx.write_symlink_manifest(path)
    assert rep["n_partitions"] == 3  # A, B, N
    files = []
    for root, _dirs, names in os.walk(rep["manifest_dir"]):
        for n in names:
            if n == "manifest":
                with open(os.path.join(root, n)) as fh:
                    files += [
                        ln[len("file://"):]
                        for ln in fh.read().splitlines()
                        if ln
                    ]
    assert rep["n_files"] == len(files)
    got = duckdb.sql(
        "SELECT k, status, v FROM read_parquet(?, hive_partitioning=true)",
        params=[files],
    ).fetchall()
    assert {(k, s, v) for k, s, v in got} == {
        (r["k"], r["status"], r["v"])
        for r in tx.read_table(spark, path).collect()
    }
    # re-export after another commit drops stale partition manifests
    tx.merge_tx_table(
        spark,
        path,
        _rows(spark, (4, "N", 41)).withColumn("__d", F.lit(True)),
        ["k"],
        now=_now(),
        delete_col="__d",
    )
    rep2 = tx.write_symlink_manifest(path)
    dirs = {
        d
        for d in os.listdir(rep2["manifest_dir"])
        if os.path.isdir(os.path.join(rep2["manifest_dir"], d))
    }
    assert dirs == {"status=A", "status=B"}  # N emptied -> manifest gone


# ---------------------------------------------------------------------------
# r9 follow-ups: TIMESTAMP AS OF, merge checks, CDF pre-images,
# manifest-derived zorder bounds
# ---------------------------------------------------------------------------


def test_read_table_timestamp_as_of(spark, table, monkeypatch):
    # deterministic stamps: v0 at t=1000, v1 at t=2000
    cf = tx._commit_file(table, 0)
    e = json.loads(open(cf).read())
    e["ts"] = 1000.0
    open(cf, "w").write(json.dumps(e))
    orig_time = tx.time.time
    monkeypatch.setattr(tx.time, "time", lambda: 2000.0)
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    monkeypatch.setattr(tx.time, "time", orig_time)
    assert tx.version_at_timestamp(table, 1500.0) == 0
    assert tx.version_at_timestamp(table, 2000.0) == 1
    assert set(_as_dict(tx.read_table(spark, table, timestamp=1500.0))) == {1, 2}
    assert set(_as_dict(tx.read_table(spark, table, timestamp=9e9))) == {1, 2, 3}
    with pytest.raises(ValueError, match="predates"):
        tx.version_at_timestamp(table, 10.0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        tx.read_table(spark, table, version=0, timestamp=1500.0)
    # ISO string form resolves through the same path
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(1500.0).isoformat()
    assert tx.version_at_timestamp(table, iso) == 0


def test_merge_checks_gate_before_staging(spark, table):
    from bi_utils_spark.operators.dq import Check

    checks = [Check(kind="completeness", column="status", min_fraction=1.0)]
    bad = spark.createDataFrame(
        [(2, None, 99)], "k int, status string, v long"
    )
    v_before = tx.latest_version(table)
    n_dirs = len(os.listdir(os.path.join(table, "data")))
    with pytest.raises(ValueError, match="data-quality gate failed"):
        tx.merge_tx_table(spark, table, bad, ["k"], now=_now(), checks=checks)
    assert tx.latest_version(table) == v_before
    assert len(os.listdir(os.path.join(table, "data"))) == n_dirs  # nothing staged
    # delete tombstones carrying nulls pass: only LANDING rows are gated
    tomb = spark.createDataFrame(
        [(2, None, None, True), (1, "A", 11, False)],
        "k int, status string, v long, is_del boolean",
    )
    tx.merge_tx_table(
        spark, table, tomb, ["k"], now=_now(), delete_col="is_del", checks=checks
    )
    assert _as_dict(tx.read_table(spark, table)) == {1: ("A", 11)}


def test_cdf_include_preimage(spark, tmp_path):
    path = str(tmp_path / "cdfpre")
    tx.create_table(_rows(spark, (1, "A", 10)), path)
    tx.merge_tx_table(spark, path, _rows(spark, (1, "A", 11)), ["k"], now=_now())
    got = _cdf_rows(
        tx.table_changes_cdf(
            spark, path, ["k"], after_version=0, include_preimage=True
        )
    )
    assert got == {
        (1, "update_preimage", 1): ("A", 10),
        (1, "update_postimage", 1): ("A", 11),
    }
    # apply ignores pre-images: downstream converges, not regresses
    down = str(tmp_path / "cdfpre_down")
    tx.create_table(_rows(spark, (1, "A", 10)), down)
    full = tx.table_changes_cdf(
        spark, path, ["k"], after_version=0, include_preimage=True
    )
    tx.cdf_apply_batch(spark, down, full, ["k"], now=_now())
    assert _as_dict(tx.read_table(spark, down)) == {1: ("A", 11)}


def test_zorder_bounds_come_from_manifest(spark, tmp_path, monkeypatch):
    """When every input file's footer stats cover the zorder columns,
    the bounds agg never runs — the rewrite reads the data exactly
    once."""
    path = str(tmp_path / "zb")
    mk = lambda lo: spark.createDataFrame(  # noqa: E731
        [(i, "H", lo + i) for i in range(50)], "k long, status string, v long"
    ).coalesce(1)
    tx.create_table(mk(0), path, partition_cols=["status"])
    for i in range(1, 4):
        tx.append_table(mk(i * 1000), path)
    snap = tx._fold(path)
    b = tx._zorder_bounds_from_manifest(snap, list(snap.files), ["v"])
    assert b == {"v": (0.0, 3049.0)}
    calls = {"agg": 0}
    orig_agg = type(tx.read_table(spark, path)).agg

    def counting_agg(self, *a, **kw):
        calls["agg"] += 1
        return orig_agg(self, *a, **kw)

    monkeypatch.setattr("pyspark.sql.DataFrame.agg", counting_agg)
    v = tx.compact_partitions(
        spark, path, max_files=2, target_files=2, zorder_by=["v"]
    )
    monkeypatch.undo()
    assert v is not None
    assert calls["agg"] == 0  # bounds came from the manifest
    assert tx.read_table(spark, path).count() == 200
    # a column with no numeric stats falls back to None (caller aggs)
    assert (
        tx._zorder_bounds_from_manifest(snap, list(snap.files), ["status"])
        is None
    )


def test_table_history_carries_commit_ts(spark, table):
    tx.append_table(_rows(spark, (3, "B", 30)), table)
    hist = tx.table_history(spark, table).orderBy("version").collect()
    assert [r["version"] for r in hist] == [0, 1]
    assert all(r["commit_ts"] > 0 for r in hist)
    assert hist[0]["commit_ts"] <= hist[1]["commit_ts"]
    # the stamp is the TIMESTAMP AS OF resolution basis
    assert tx.version_at_timestamp(table, hist[0]["commit_ts"]) == 0


def test_vacuum_dry_run_deletes_nothing(spark, table):
    tx.overwrite_table(_rows(spark, (9, "Z", 90)), table)
    would = tx.vacuum_table(table, retain_versions=1, dry_run=True)
    assert would  # v0's files are reclaimable
    for rel in would:
        assert os.path.exists(os.path.join(table, rel))  # still there
    done = tx.vacuum_table(table, retain_versions=1)
    assert done == would  # the dry run predicted exactly the deletion
    for rel in done:
        assert not os.path.exists(os.path.join(table, rel))


def test_maintain_table_refreshes_symlink_manifest(spark, tmp_path):
    path = str(tmp_path / "msm")
    mk = lambda k: spark.createDataFrame(  # noqa: E731
        [(k, "d1", k)], "k int, day string, v long"
    )
    tx.create_table(mk(1), path, partition_cols=["day"])
    for i in range(2, 5):
        tx.append_table(mk(i), path)
    report = tx.maintain_table(
        spark, path, max_files=2, retain_versions=1,
        refresh_symlink_manifest=True,
    )
    m = report["symlink_manifest"]
    assert m is not None and m["n_files"] == 1  # post-compaction layout
    with open(os.path.join(m["manifest_dir"], "day=d1", "manifest")) as fh:
        uris = [ln for ln in fh.read().splitlines() if ln]
    live = set(tx._fold(path).files)
    assert {u[len("file://"):] for u in uris} == {
        os.path.abspath(os.path.join(path, rel)) for rel in live
    }
