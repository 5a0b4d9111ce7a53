"""The one way an operator holds a frame it reuses.

An operator that feeds one frame to several consumers (a self-join's
two sides, a driver probe and the returned plan, the rounds of an
iterative algorithm) computes it once through :func:`materialize` —
the reference's compute-once, reuse-in-driver-memory discipline.
No operator calls ``cache``/``persist``/``unpersist`` or
``localCheckpoint`` itself; ``tests/test_materialize.py`` enforces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once, as an eager ``localCheckpoint``.

    - The rows are computed when the call returns, inside the
      operator that asked for them.
    - Lineage is cut. If an executor is lost, the job fails loudly:
      it never re-reads a source that is nondeterministic (``sample``,
      an unordered ``limit``) or that has since been overwritten or
      vacuumed.
    - Storage lives as long as the returned frame: once it is
      unreachable, Spark's ContextCleaner frees the blocks
      asynchronously after GC. There is nothing to release by hand.
    - Storage is not durable. At 100 TB, write the frame out instead.
    """
    return df.localCheckpoint(eager=True)
