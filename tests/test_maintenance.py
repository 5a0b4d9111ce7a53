"""operators/maintenance.py — small-file compaction."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from bi_utils_spark.operators.maintenance import (
    compact_partitioned_path,
    list_partition_files,
    small_file_report,
)


def _fragged_table(spark, tmp_path, frags=8):
    """Two date partitions; 2024-01-01 written in `frags` fragments."""
    path = str(tmp_path / "frag")
    day1 = spark.range(400).select(
        F.lit("2024-01-01").alias("pdate"),
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    day1.repartition(frags).write.partitionBy("pdate").parquet(path)
    day2 = spark.range(400, 500).select(
        F.lit("2024-01-02").alias("pdate"),
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    day2.coalesce(1).write.partitionBy("pdate").mode("append").parquet(path)
    return path


def _files(path, day):
    return sorted(
        p for p in pathlib.Path(path, f"pdate={day}").rglob("*.parquet")
    )


def test_report_flags_fragmented_partition(spark, tmp_path):
    path = _fragged_table(spark, tmp_path)
    rep = {r["relative_dir"]: r for r in small_file_report(spark, path).collect()}
    assert rep["pdate=2024-01-01"]["n_files"] == 8
    assert rep["pdate=2024-01-01"]["needs_compaction"] is True
    assert rep["pdate=2024-01-02"]["needs_compaction"] is False


def test_compaction_rewrites_only_fragmented_partitions(spark, tmp_path):
    path = _fragged_table(spark, tmp_path)
    before = spark.read.parquet(path)
    before_rows = sorted(map(tuple, before.collect()))
    day2_before = [(p.name, p.read_bytes()) for p in _files(path, "2024-01-02")]

    done = compact_partitioned_path(spark, path, ["pdate"])
    assert [d["partition"] for d in done] == ["pdate=2024-01-01"]
    assert done[0]["n_files_before"] == 8 and done[0]["n_files_target"] == 1

    assert len(_files(path, "2024-01-01")) == 1
    # untouched partition byte-identical
    assert [
        (p.name, p.read_bytes()) for p in _files(path, "2024-01-02")
    ] == day2_before
    # data identical
    after_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after_rows == before_rows
    # idempotent: a second pass finds nothing to do
    assert compact_partitioned_path(spark, path, ["pdate"]) == []


def test_compaction_respects_partition_wave(spark, tmp_path):
    path = str(tmp_path / "waves")
    for day in ("2024-01-01", "2024-01-02"):
        spark.range(200).select(
            F.lit(day).alias("pdate"), F.col("id")
        ).repartition(5).write.partitionBy("pdate").mode("append").parquet(path)
    done = compact_partitioned_path(
        spark, path, ["pdate"], partition_values=[{"pdate": "2024-01-01"}]
    )
    assert [d["partition"] for d in done] == ["pdate=2024-01-01"]
    assert len(_files(path, "2024-01-01")) == 1
    assert len(_files(path, "2024-01-02")) == 5  # not in this wave


class _CountingFS:
    """Delegating proxy over the Hadoop FileSystem that records every
    listFiles() target — the fake-FS layer for asserting that scoped
    planning never lists the whole table."""

    def __init__(self, fs):
        self._fs = fs
        self.list_targets: list[str] = []

    def listFiles(self, path, recursive):  # noqa: N802 — Hadoop API name
        self.list_targets.append(path.toUri().getPath())
        return self._fs.listFiles(path, recursive)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_scoped_listing_call_count(spark, tmp_path, monkeypatch):
    # 6 fragmented partitions; an incremental wave over 2 of them must
    # list exactly those 2 directories — never the table root
    path = str(tmp_path / "scoped")
    for day in [f"2024-01-0{i}" for i in range(1, 7)]:
        spark.range(60).select(
            F.lit(day).alias("pdate"), F.col("id")
        ).repartition(4).write.partitionBy("pdate").mode("append").parquet(path)

    from bi_utils_spark.operators import fsops

    real = fsops.hadoop_fs
    counters: list[_CountingFS] = []

    def counting(spark_, p):
        fs, hpath = real(spark_, p)
        cfs = _CountingFS(fs)
        counters.append(cfs)
        return cfs, hpath

    monkeypatch.setattr(fsops, "hadoop_fs", counting)
    wave = [{"pdate": "2024-01-02"}, {"pdate": "2024-01-05"}]

    rep = small_file_report(
        spark, path, partition_cols=["pdate"], partition_values=wave
    ).collect()
    assert sorted(r["relative_dir"] for r in rep) == [
        "pdate=2024-01-02", "pdate=2024-01-05",
    ]
    listed = [t for c in counters for t in c.list_targets]
    assert len(listed) == 2
    assert all(t.endswith(("pdate=2024-01-02", "pdate=2024-01-05")) for t in listed)

    # the wave compaction (plan + verify) also stays inside its scope
    counters.clear()
    done = compact_partitioned_path(
        spark, path, ["pdate"], partition_values=wave
    )
    assert sorted(d["partition"] for d in done) == [
        "pdate=2024-01-02", "pdate=2024-01-05",
    ]
    listed = [t for c in counters for t in c.list_targets]
    assert listed and all(
        t.endswith(("pdate=2024-01-02", "pdate=2024-01-05")) for t in listed
    )
    assert len(_files(path, "2024-01-02")) == 1
    assert len(_files(path, "2024-01-01")) == 4  # untouched, unlisted

    # idempotence preserved under scoping; a missing partition is a no-op
    assert compact_partitioned_path(
        spark, path, ["pdate"],
        partition_values=[*wave, {"pdate": "2099-12-31"}],
    ) == []

    # unscoped planning still takes the one-recursive-listing path
    counters.clear()
    files = list_partition_files(spark, path)
    assert len({f["relative_dir"] for f in files}) == 6
    assert len([t for c in counters for t in c.list_targets]) == 1


def test_compaction_target_splits_large_partitions(spark, tmp_path):
    path = str(tmp_path / "split")
    spark.range(5000).select(
        F.lit("2024-01-01").alias("pdate"),
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("p1"),
        F.sha2(F.col("id").cast("string"), 256).alias("p2"),
    ).repartition(40).write.partitionBy("pdate").parquet(path)
    total = sum(
        f["bytes"] for f in list_partition_files(spark, path)
    )
    target = total // 3  # want ~3-4 files
    done = compact_partitioned_path(spark, path, ["pdate"], target_bytes=target)
    n_target = done[0]["n_files_target"]
    assert 2 <= n_target <= 5
    # hash collisions can only merge groups, never exceed the target
    assert 1 <= len(_files(path, "2024-01-01")) <= n_target


def test_compaction_validations(spark, tmp_path):
    path = _fragged_table(spark, tmp_path)
    with pytest.raises(ValueError, match="partition columns"):
        compact_partitioned_path(spark, path, [])
    with pytest.raises(ValueError, match="not in table"):
        compact_partitioned_path(spark, path, ["nope"])


def test_listing_skips_hidden_trees(spark, tmp_path):
    # review r5: files under _temporary/.staging trees must not
    # surface as phantom partitions
    import pathlib

    path = _fragged_table(spark, tmp_path)
    ghost = pathlib.Path(path, "_temporary", "0")
    ghost.mkdir(parents=True)
    (ghost / "part-00000.parquet").write_bytes(b"junk")
    dirs = {f["relative_dir"] for f in list_partition_files(spark, path)}
    assert all(not d.startswith("_") for d in dirs)
    rep = {r["relative_dir"] for r in small_file_report(spark, path).collect()}
    assert not any("_temporary" in d for d in rep)


def test_compaction_handles_zero_padded_partition_values(spark, tmp_path):
    # review r5: partition type inference would render dir 'id=00123'
    # back as '123' — matching nothing and (worse) renaming the dir
    # on rewrite; inference is disabled inside the compactor
    import pathlib

    from pyspark.sql import functions as F

    path = str(tmp_path / "zeropad")
    spark.range(100).select(
        F.lit("00123").alias("pid"), F.col("id")
    ).repartition(4).write.partitionBy("pid").parquet(path)
    done = compact_partitioned_path(spark, path, ["pid"])
    assert [d["partition"] for d in done] == ["pid=00123"]
    files = sorted(pathlib.Path(path, "pid=00123").rglob("*.parquet"))
    assert len(files) == 1  # compacted IN PLACE, dir name preserved
    assert not pathlib.Path(path, "pid=123").exists()
    assert spark.read.parquet(path).count() == 100


def test_compaction_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """The compactor reads partition columns as their directory text
    through a read schema, so it never sets the session-wide inference
    key another thread may be reading under."""
    from pyspark.sql.conf import RuntimeConfig

    keys_set = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        keys_set.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    path = str(tmp_path / "conf")
    spark.range(100).select(
        F.lit("00123").alias("pid"), F.col("id")
    ).repartition(4).write.partitionBy("pid").parquet(path)
    done = compact_partitioned_path(spark, path, ["pid"])
    assert [d["partition"] for d in done] == ["pid=00123"]
    assert spark.read.parquet(path).count() == 100
    assert keys_set == []
