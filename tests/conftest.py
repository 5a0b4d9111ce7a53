from __future__ import annotations

import gc
import time

import pytest

from bi_utils_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bi_utils_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture()
def drain_stored(spark):
    """``drain(base, budget_s)``: poll the session's stored-RDD count
    until it is at most ``base`` or ``budget_s`` seconds have passed,
    and return the last count. Freed storage drains asynchronously
    (py4j detach, JVM GC, ContextCleaner), and each
    ``getPersistentRDDs()`` map is a py4j object in a Python reference
    cycle: collect it, then give py4j's finalizer thread (it wakes
    once a second) time to release it on the JVM side before the JVM
    GC, or the probe pins what it counts."""

    def drain(base: int, budget_s: float) -> int:
        deadline = time.monotonic() + budget_s
        while True:
            gc.collect()
            time.sleep(1.2)
            spark._jvm.System.gc()  # noqa: SLF001
            n = spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001
            if n <= base or time.monotonic() >= deadline:
                return n

    return drain
