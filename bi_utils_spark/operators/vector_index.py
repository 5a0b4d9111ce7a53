"""Persisted IVF vector index (X107, r7) — train once, probe many.

``similarity.ivf_topk`` re-derives centroids and assignments on every
call: fine for one-shot analytics, wrong for the serving/repeated-
query pattern where the corpus is 100 TB and each of thousands of
queries should touch nprobe/num_cells of it. This module persists the
index as plain parquet (the FAISS split, on Spark storage):

    <path>/centroids/        num_cells rows (cell_id, centroid) —
                             index METADATA, always driver-small
    <path>/vectors/          (id, u) rows partitioned by cell_id —
                             the corpus, unit-normalized once at
                             build time
    <path>/_MANIFEST.json    num_cells, num_assign, id column name

Probe-time, the centroid table ranks cells driver-side and the vector
scan carries ``cell_id IN (<nprobe cells>)`` — because ``cell_id`` is
a PARTITION column, Spark's partition discovery prunes the scan to
exactly those directories (plan-asserted: the predicate lands in
``PartitionFilters``, not a post-scan row filter), so probe I/O is
nprobe/num_cells of the corpus by construction. Exactness contract:
with ``nprobe = num_cells`` the probe equals the exact cosine top-k
(oracle-checked by ``q_ivf_index_topk``); partial probes trade recall
for I/O exactly like ``ivf_topk`` (same assignment code path).

The manifest/pointer uses local-file semantics like
``streaming/scd.py``'s ``_VERSION``; an object-store deployment swaps
in its own manifest write (or a metastore entry) — documented, not
gated, because the parquet layout itself is storage-agnostic.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.functions.litarrays import lit_double_array
from bi_utils_spark.operators.materialize import materialize

_MANIFEST = "_MANIFEST.json"


def write_ivf_index(
    df: DataFrame,
    path: str,
    num_cells: int = 16,
    iters: int = 2,
    num_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> dict:
    """Build and persist the index: bounded-sample k-means (unless
    ``centroids`` is supplied — e.g. re-indexing under last month's
    quantizer), ONE map-only assignment pass over the corpus, one
    shuffle-free partitioned write. Returns the manifest dict."""
    from bi_utils_spark.operators.similarity import (
        ivf_assign_multi,
        kmeans_centroids,
    )

    if centroids is None:
        centroids = kmeans_centroids(df, num_cells, id_col, vec_col, iters)
    assigned = ivf_assign_multi(df, centroids, num_assign, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        os.path.join(path, "vectors")
    )
    centroids.write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    manifest = {
        "num_cells": int(centroids.count()),
        "num_assign": int(num_assign),
        "id_col": id_col,
    }
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def _load_manifest(path: str) -> dict:
    with open(os.path.join(path, _MANIFEST)) as fh:
        return json.load(fh)


def ivf_index_append(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    id_col: str | None = None,
    vec_col: str = "embedding",
) -> None:
    """Add a vector delta WITHOUT retraining (the ivfpq_append
    contract, lossless tier): assign the new vectors against the
    STORED centroids — one map-only pass over the delta, the
    existing corpus is never read — and append into the cell
    partitions. Standard trade: the quantizer drifts as the
    distribution shifts; watch :func:`ivf_index_stats` (or a PSI
    monitor on cell shares) and rebuild when balance degrades.
    ``id_col`` defaults to the manifest's id column."""
    from bi_utils_spark.operators.similarity import ivf_assign_multi

    man = _load_manifest(path)
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    assigned = ivf_assign_multi(
        new_df,
        centroids,
        man["num_assign"],
        id_col or man["id_col"],
        vec_col,
    )
    assigned.write.mode("append").partitionBy("cell_id").parquet(
        os.path.join(path, "vectors")
    )


def ivf_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """(cell_id, n_vectors) per cell — the rebalance probe: heavily
    skewed cells mean probe cost concentrates and the quantizer no
    longer fits the data (rebuild signal). Metadata-cheap: a
    partition-column count, no vector payloads read."""
    return (
        spark.read.parquet(os.path.join(path, "vectors"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def ivf_index_probe(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k by cosine against a persisted index. Reads the
    ``nprobe`` nearest cells ONLY (partition-pruned scan); exact
    dot-product re-rank inside them (vectors are stored unit-length,
    so dot == cosine). Multi-assigned ids dedupe by max score —
    scores per id are identical across its cells, the groupBy just
    restores uniqueness."""
    man = _load_manifest(path)
    cents = spark.read.parquet(os.path.join(path, "centroids")).collect()
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    qu = [float(x) / qn for x in query_vec]
    ranked = sorted(
        cents,
        key=lambda r: (
            -sum(a * b for a, b in zip(qu, r["centroid"])),
            r["cell_id"],
        ),
    )
    probe = [int(r["cell_id"]) for r in ranked[:nprobe]]
    from bi_utils_spark.operators.similarity import dot

    qcol = lit_double_array(qu)
    vecs = spark.read.parquet(os.path.join(path, "vectors")).where(
        F.col("cell_id").isin(probe)
    )
    scored = vecs.select("id", dot(F.col("u"), qcol).alias("score"))
    if man["num_assign"] > 1:
        scored = scored.groupBy("id").agg(F.max("score").alias("score"))
    return (
        scored.orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .select(F.col("id").alias(man["id_col"]), "score")
    )


def ivf_index_probe_many(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "qid",
    query_vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Bulk probe: top-k per row of a query TABLE against the
    persisted index — the serving shape for re-ranking / linking
    jobs where thousands-to-millions of queries hit one corpus (the
    `similarity.knn_join` topology, but over the stored layout
    instead of a rebuilt one).

    Queries are assigned to their ``nprobe`` nearest cells with the
    SAME map-only assignment pass the build used; the union of
    probed cell ids (≤ num_cells ints — index metadata, driver-safe
    to collect) becomes an ``isin`` predicate on the vector scan, so
    partition pruning caps I/O at |probed cells|/num_cells of the
    corpus exactly like the single-query probe. Candidates meet in
    an equi-join ON cell_id; exact dot re-rank inside (unit vectors,
    dot == cosine); per-query top-k via a row_number window bounded
    by each query's candidate count. A (query, vector) pair can meet
    in several cells (multi-assigned corpus vectors × overlapping
    probes) — a max-score groupBy restores uniqueness; the scores
    are identical across cells, so this changes nothing but
    multiplicity.

    Exactness contract (oracle ``q_ivf_batch_topk``): with
    ``nprobe = num_cells`` the result EQUALS the exact per-query
    cosine top-k; partial probes trade recall for I/O like
    ``ivf_topk``. ``broadcast_queries=True`` (default) broadcasts
    the assigned query side — right while |queries|·nprobe rows fit
    an executor; flip off for corpus-scale query tables and the join
    shuffles on cell_id (AQE still picks a broadcast when the side
    is runtime-small)."""
    from pyspark.sql.window import Window

    from bi_utils_spark.operators.similarity import dot, ivf_assign_multi

    man = _load_manifest(path)
    if query_id_col == man["id_col"]:
        raise ValueError(
            f"query_id_col {query_id_col!r} collides with the index id "
            "column; alias the query id first"
        )
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    q = ivf_assign_multi(
        queries, centroids, nprobe, query_id_col, query_vec_col
    ).select(
        F.col("id").alias("__qid"), F.col("u").alias("__qu"), "cell_id"
    )
    # One materialization feeds BOTH the probed-cell collect and the
    # candidate join, so both see one assignment of queries to cells.
    q = materialize(q)
    probe_cells = sorted(
        int(r["cell_id"])
        for r in q.select("cell_id").distinct().collect()
    )
    vecs = spark.read.parquet(os.path.join(path, "vectors")).where(
        F.col("cell_id").isin(probe_cells)
    )
    qj = F.broadcast(q) if broadcast_queries else q
    scored = vecs.join(qj, "cell_id").select(
        "__qid", "id", dot(F.col("u"), F.col("__qu")).alias("score")
    )
    if man["num_assign"] > 1 or nprobe > 1:
        scored = scored.groupBy("__qid", "id").agg(
            F.max("score").alias("score")
        )
    w = Window.partitionBy("__qid").orderBy(
        F.desc("score"), F.asc("id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("id").alias(man["id_col"]),
            "score",
        )
    )
