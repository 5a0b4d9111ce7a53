"""session.get_spark: split sizing and the driver-memory default."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bi_utils_spark.session import _default_driver_mem


def _table(n, seed=0):
    rng = np.random.default_rng(seed)
    return pa.table({
        "id": np.arange(n),
        "s": [rng.bytes(48).hex() for _ in range(n)],  # incompressible
    })


def test_small_multi_row_group_file_splits_across_cores(spark, tmp_path):
    # ~3.5 MB in 8 row groups: under the 4 MB default open cost it was
    # one split; at 256k it is max(256k, bytes/cores) per split
    path = str(tmp_path / "rg8.parquet")
    pq.write_table(_table(32_000), path, row_group_size=4_000, compression="none")
    df = spark.read.parquet(path)
    want = min(4, spark.sparkContext.defaultParallelism)
    assert df.rdd.getNumPartitions() >= want
    assert sum(1 for n in df.rdd.glom().map(len).collect() if n) >= want
    assert df.count() == 32_000


def test_single_row_group_stays_in_one_partition(spark, tmp_path):
    small = str(tmp_path / "small.parquet")
    pq.write_table(_table(2_000), small, compression="none")  # < 256k
    assert spark.read.parquet(small).rdd.getNumPartitions() == 1
    big = str(tmp_path / "rg1.parquet")
    pq.write_table(_table(32_000), big, compression="none")
    # byte-range splits of one row group: one of them reads every row
    sizes = spark.read.parquet(big).rdd.glom().map(len).collect()
    assert sorted(sizes)[-1] == 32_000


def test_driver_memory_default_fits_the_machine():
    import os

    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    mem = _default_driver_mem()
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= min(48, max(1, ram_gb / 2))
