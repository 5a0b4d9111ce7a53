"""operators/materialize.py: the one helper that holds a reused frame."""

from __future__ import annotations

import gc
import io
import pathlib
import tokenize

from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bi_utils_spark"
STORAGE_CALLS = {"localCheckpoint", "persist", "cache", "unpersist"}


def _n_stored(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def test_rows_equal_input(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 7}", i * 0.5) for i in range(50)], "k int, s string, x double"
    )
    out = materialize(df.groupBy("s").agg(F.sum("x").alias("x")))
    want = df.groupBy("s").agg(F.sum("x").alias("x"))
    assert out.schema == want.schema
    assert sorted(out.collect()) == sorted(want.collect())


def test_upstream_udf_runs_once_per_row(spark):
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x * 3

    src = spark.range(0, 200, numPartitions=4)
    m = materialize(src.select("id", counted("id").alias("y")))
    assert calls.value == 200  # computed when the call returns
    total = m.agg(F.sum("y")).first()[0]
    odd = m.filter(F.col("y") % 2 == 1).count()
    assert (total, odd) == (3 * sum(range(200)), 100)
    assert calls.value == 200  # neither consumer re-ran the UDF


def test_storage_drains_after_frame_is_dropped(spark, drain_stored):
    gc.collect()
    spark._jvm.System.gc()  # noqa: SLF001
    base = _n_stored(spark)

    def use_and_drop():
        m = materialize(spark.range(1000).withColumn("y", F.col("id") % 7))
        assert m.count() == 1000
        assert _n_stored(spark) > base

    use_and_drop()
    n = drain_stored(base, budget_s=24)  # ContextCleaner is async
    assert n <= base, f"{n - base} materialized RDDs left behind"


def _storage_calls(path: pathlib.Path) -> list[tuple[int, str]]:
    """(line, name) of every ``.<storage call>(`` in the file's code —
    comments and strings are separate tokens, so they never match."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        if t.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT)
    ]
    return [
        (t.start[0], t.string)
        for prev, t, nxt in zip(toks, toks[1:], toks[2:])
        if t.type == tokenize.NAME
        and t.string in STORAGE_CALLS
        and prev.string == "."
        and nxt.string == "("
    ]


def test_only_materialize_holds_frames():
    """cache/persist/unpersist/localCheckpoint appear in no package
    code but the helper's, so every reused frame shares its policy."""
    helper = PACKAGE / "operators" / "materialize.py"
    assert _storage_calls(helper), "scanner no longer sees the helper's call"
    offenders = [
        f"{p.relative_to(PACKAGE)}:{line}: .{name}("
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != helper
        for line, name in _storage_calls(p)
    ]
    assert not offenders, "use operators.materialize instead:\n" + "\n".join(
        offenders
    )
