"""sources.tables.load_table: footer-built schema, no Spark job."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bi_utils_spark.sources.tables import load_table


def _inferred(spark, path):
    """The former load_table: let Spark infer the schema (one job),
    then truncate nanosecond columns to micros."""
    ns = [f.name for f in pq.read_schema(path)
          if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    df = spark.read.parquet(path)
    for c in ns:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def _next_job(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory):
    """One parquet file holding every type the footer map covers,
    nanosecond timestamps included."""
    d = tmp_path_factory.mktemp("mixed")
    t = pa.table({
        "id": pa.array([1, 2, None], pa.int64()),
        "ts": pa.array([1_000_000_123, None, -5_999], pa.timestamp("ns")),
        "us": pa.array([1, None, 3], pa.timestamp("us")),
        "utc": pa.array([1, 2, 3], pa.timestamp("us", tz="UTC")),
        "ms": pa.array([1, 2, 3], pa.timestamp("ms")),
        "d": pa.array([1, None, 3], pa.date32()),
        "dec": pa.array([None, 1, 2], pa.decimal128(12, 2)),
        "lst": pa.array([[1.0], [2.0, None], None], pa.list_(pa.float32())),
        "st": pa.array([{"a": 1, "b": "x"}, None, {"a": 2, "b": None}]),
        "mp": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int64())),
        "i8": pa.array([1, 2, 3], pa.int8()),
        "i16": pa.array([1, 2, 3], pa.int16()),
        "bin": pa.array([b"x", None, b""]),
        "f": pa.array([1.5, 2.0, None], pa.float32()),
        "b": pa.array([True, None, False]),
        "cat": pa.array(["a", "b", "a"]).dictionary_encode(),
        "ls": pa.array(["x", "y", None], pa.large_string()),
    })
    pq.write_table(t, str(d / "mixed.parquet"), row_group_size=2)
    return str(d)


def test_load_table_starts_no_job_and_matches_inference(spark, sf_dir, mixed_dir):
    cases = [(sf_dir, os.path.basename(p)[: -len(".parquet")])
             for p in sorted(glob.glob(f"{sf_dir}/*.parquet"))]
    cases.append((mixed_dir, "mixed"))
    assert len(cases) == 11
    for d, name in cases:
        j0 = _next_job(spark)
        df = load_table(spark, d, name)
        assert _next_job(spark) == j0, name
        ref = _inferred(spark, f"{d}/{name}.parquet")
        assert df.schema == ref.schema, name
        assert _rows(df) == _rows(ref), name
    ts = [r["ts"] for r in load_table(spark, mixed_dir, "mixed").orderBy("i8").collect()]
    assert ts[1] is None
    assert [t.microsecond for t in (ts[0], ts[2])] == [0, 999995]  # div truncates toward zero


def test_load_table_schema_follows_the_file(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), str(path))
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), str(path))
    os.utime(path, ns=(0, os.stat(path).st_mtime_ns + 1_000_000))
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]


def test_unmapped_footers_fall_back_to_inference(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "r.parquet"))  # a directory
    assert load_table(spark, str(tmp_path), "r").count() == 3
    t = pa.table({
        "u8": pa.array([1, 2, 3], pa.uint8()),
        "u64": pa.array([1, 2, None], pa.uint64()),
        "ns": pa.array([1_000, 2_000, None], pa.timestamp("ns")),
    })
    pq.write_table(t, str(tmp_path / "u.parquet"))
    df = load_table(spark, str(tmp_path), "u")
    ref = _inferred(spark, str(tmp_path / "u.parquet"))
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)


def test_spark_written_directory_loads_without_a_job(spark, tmp_path):
    """A flat directory Spark wrote takes Spark's own stored schema from
    its first data file: no job, and the schema and rows Spark's
    inference gives (INT96 timestamps included)."""
    src = spark.sql(
        "SELECT id, CAST(id AS INT) AS i, "
        "TIMESTAMP'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts, "
        "CAST(id AS DECIMAL(12, 2)) AS dec, array(id) AS arr, "
        "named_struct('a', id, 'b', 'x') AS st, map('k', id) AS mp, "
        "DATE'2020-01-01' AS d, CAST(NULL AS STRING) AS n FROM range(7)"
    ).repartition(3)
    src.write.parquet(str(tmp_path / "flat.parquet"))
    j0 = _next_job(spark)
    df = load_table(spark, str(tmp_path), "flat")
    assert _next_job(spark) == j0
    ref = spark.read.parquet(str(tmp_path / "flat.parquet"))
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)
    # a partitioned (nested) directory still lets Spark infer
    src.write.partitionBy("i").parquet(str(tmp_path / "nested.parquet"))
    df = load_table(spark, str(tmp_path), "nested")
    ref = spark.read.parquet(str(tmp_path / "nested.parquet"))
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)
