"""Parquet table loader with timestamp-unit normalization.

Spark rejects parquet TIMESTAMP(NANOS) columns outright
(PARQUET_TYPE_ILLEGAL), and pandas/Arrow write timestamp[ns] by
default, so such columns are read as raw INT64 and truncated to microseconds
with integer division — byte-identical to how DuckDB/Arrow truncate
ns → µs, which keeps the oracle comparison exact.

The Spark schema is built from the parquet footer that pyarrow reads
(memoized per path, size and mtime) and handed to the reader, so a load
starts no Spark job: schema inference would cost one job per call. The
footer's arrow types go through PySpark's own Arrow conversion, which
maps them the way Spark's parquet inference does under the session
invariants ``get_spark`` sets: naive and UTC timestamps read as
``TimestampType`` (instants, not NTZ), decimals keep precision and
scale, and every field is nullable (Spark reads files as nullable);
nanosecond columns read as ``LongType`` before the micros projection.
A file Spark wrote carries Spark's own schema in its footer metadata;
Spark's inference reads that schema, so the loader does too (with every
field nullable, as file sources read them) — INT96 timestamps, which
Arrow reports as nanoseconds, stay timestamps. A flat directory of
data files (a Spark-written dataset) takes the schema of its first data
file in sorted order: the one file Spark's inference reads when schema
merging is off. A footer that cannot be read locally (a remote path), a
nested or summary-file directory, schema merging, or a type that
conversion does not map leaves inference to Spark.

Scale note: the conversion is a codegen'd projection on the scan (no
shuffle, no UDF); predicate pushdown on other columns is unaffected.
"""

from __future__ import annotations

import json
import os
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

# (path, size, mtime_ns) -> (Spark schema, or None when Spark infers
# it; nanosecond columns)
_FOOTER_SCHEMAS: dict[tuple[str, int, int], tuple[T.StructType | None, list[str]]] = {}
_PINNED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def _nullable(node):
    """Spark's ``asNullable`` over a schema's JSON form."""
    if isinstance(node, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _nullable(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    return node


def _first_data_file(path: str) -> str | None:
    """The data file Spark's schema inference reads in a flat dataset
    directory (sorted names, ``_``/``.`` files hidden); None for nested
    (partitioned) directories or ones holding summary files."""
    entries = sorted(os.scandir(path), key=lambda e: e.name)
    if any(e.name.startswith(("_metadata", "_common_metadata")) for e in entries):
        return None
    data = [e for e in entries if not e.name.startswith(("_", "."))]
    if not data or any(e.is_dir() for e in data):
        return None
    return data[0].path


def _schema_from_footer(path: str) -> tuple[T.StructType | None, list[str]]:
    try:
        arrow = pq.read_schema(path)
    except Exception:  # noqa: BLE001 — unreadable footer; let Spark infer
        return None, []
    stored = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored:
        return T.StructType.fromJson(_nullable(json.loads(stored))), []
    ns_cols = [
        f.name
        for f in arrow
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    others = [f for f in arrow if f.name not in ns_cols]
    if any("[ns" in str(f.type) for f in others):  # nested nanoseconds
        return None, ns_cols
    try:
        types = {f.name: from_arrow_type(f.type) for f in others}
    except TypeError:  # unsigned integers etc.
        return None, ns_cols
    return T.StructType([
        T.StructField(f.name, types.get(f.name, T.LongType())) for f in arrow
    ]), ns_cols


def _footer_schema(path: str) -> tuple[T.StructType | None, list[str]]:
    """(Spark read schema, nanosecond columns) from the parquet footer
    of ``path`` or, for a flat dataset directory, of its first data
    file, memoized per (file, size, mtime_ns); the schema is None when
    no footer can be read or it holds a type PySpark's Arrow conversion
    does not map (unsigned integers, nested nanosecond timestamps)."""
    try:
        if os.path.isdir(path):
            path = _first_data_file(path)
            if path is None:
                return None, []
        st = os.stat(path)
    except OSError:
        return None, []
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _FOOTER_SCHEMAS:
        _FOOTER_SCHEMAS[key] = _schema_from_footer(path)
    return _FOOTER_SCHEMAS[key]


def _pin_session(spark: SparkSession) -> None:
    """The engine's read invariants, once per session: ``get_spark``
    sets them at build time, this covers sessions built elsewhere (a
    plain ``SparkSession.builder.getOrCreate()``). All date/time semantics are UTC
    (the reference's Exasol DWH was implicitly UTC), naive parquet
    timestamps are instants read as epoch-UTC micros — exactly how
    DuckDB's epoch_us sees the same bytes — and inferred nanosecond
    columns read as longs."""
    if spark in _PINNED:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _PINNED.add(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with ns-timestamp handling."""
    path = f"{sf_dir}/{name}.parquet"
    _pin_session(spark)
    schema, ns_cols = _footer_schema(path)
    if os.path.isdir(path) and spark.conf.get(
        "spark.sql.parquet.mergeSchema", "false"
    ).lower() == "true":  # inference would read every file
        schema = None
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df
