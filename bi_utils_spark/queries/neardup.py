"""Similarity + near-dup attestations: exact cosine ground truths,
MinHash-LSH / SimHash bound attestations, hyperplane-LSH ANN,
k-means and embedding diagnostics."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.functions.litarrays import lit_double_array

from bi_utils_spark.queries.core import load, register
from bi_utils_spark.queries.llmtext import (
    _jaccard_pairs_sql,
    _pair_recall_summary,
)



# --- X3 exact cosine top-k -------------------------------------------------

TARGET_VEC_SQL = """
  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)
"""

@register(
    "q_topk_cosine_exact",
    f"""
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], {TARGET_VEC_SQL}), 9)
             AS score
    FROM embeddings
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_topk_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    q = lit_double_array(target)
    scored = emb.select(
        "vec_id", F.round(cosine(F.col("embedding"), q), 9).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


# --- X4 cosine similarity self-join with threshold -------------------------

@register(
    "q_cosine_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 9) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 9) >= 0.45
    """,
)
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                cosine(F.col("a.embedding"), F.col("b.embedding")), 9
            ).alias("score"),
        )
        .filter(F.col("score") >= 0.45)
    )


# --- X6 embedding grouped stats (order-free aggregates) --------------------

@register(
    "q_emb_label_stats",
    """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_distinct,
           round(min(embedding[1]::DOUBLE), 9) AS min_e0,
           round(max(embedding[1]::DOUBLE), 9) AS max_e0
    FROM embeddings
    GROUP BY label
    """,
)
def q_emb_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    e0 = F.element_at("embedding", 1).cast("double")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.countDistinct("vec_id").alias("n_distinct"),
        F.round(F.min(e0), 9).alias("min_e0"),
        F.round(F.max(e0), 9).alias("max_e0"),
    )


# --- approximate variants: no SQL oracle (rows-only check; recall is
# property-tested against the exact baselines in tests/test_llmdata.py) ----

def raw_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw LSH near-dup pair join (benched; attested by the
    oracle-backed q_minhash_near_dup summary)."""
    from bi_utils_spark.operators.dedup import minhash_near_dup_join

    docs = load(spark, sf_dir, "documents")
    return minhash_near_dup_join(
        docs, "doc_id", "text", threshold=0.6, num_hashes=64, num_bands=16
    )


@register(
    "q_minhash_near_dup",
    _jaccard_pairs_sql(
        0.6,
        """
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(0 AS BIGINT) AS false_positives,
           1 AS recall_ge_090
    FROM jac
    """,
    ),
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-bound oracle row for MinHash LSH (VERDICT r2 #5): the
    exact Jaccard pair count is ground truth DuckDB recomputes from
    the raw text; the LSH join (same threshold, seeded) must find
    ≥ 90% of those pairs and may not report any pair outside them."""
    from bi_utils_spark.operators.dedup import (
        jaccard_similarity_join,
        minhash_near_dup_join,
    )

    docs = load(spark, sf_dir, "documents")
    exact = jaccard_similarity_join(docs, "doc_id", "text", threshold=0.6, shingle_n=3)
    approx = minhash_near_dup_join(
        docs, "doc_id", "text", threshold=0.6, num_hashes=64, num_bands=16
    )
    return _pair_recall_summary(exact, approx, 0.9, "recall_ge_090")


def raw_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw banded SimHash join (benched; attested by the
    oracle-backed q_simhash_near_dup summary)."""
    from bi_utils_spark.operators.dedup import simhash_near_dup_join

    docs = load(spark, sf_dir, "documents")
    return simhash_near_dup_join(docs, "doc_id", "text", max_hamming=3)


@register(
    "q_simhash_near_dup",
    """
    WITH norm AS (
      SELECT doc_id, trim(lower(text)) AS t FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_text_dup_pairs,
           CAST(0 AS BIGINT) AS text_dups_missed,
           CAST(0 AS BIGINT) AS banded_vs_brute_mismatch
    FROM norm a JOIN norm b ON a.t = b.t AND a.doc_id < b.doc_id
    """,
)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness attestation for the banded SimHash join: (1) the
    pigeonhole banding must return EXACTLY the brute-force
    hamming ≤ 3 pair set (symmetric difference = 0 — the hard
    guarantee, checked on the full table, not a sample); (2) every
    identical-normalized-text pair (ground truth DuckDB recomputes)
    has identical fingerprints and must be reported."""
    from bi_utils_spark.operators.dedup import (
        hamming64,
        simhash64_rows,
        simhash_near_dup_join,
    )
    from bi_utils_spark.operators.materialize import materialize

    docs = load(spark, sf_dir, "documents")
    # One fingerprint pass shared by the banded join (5 plan consumers)
    # and the brute-force check (2 sides): 16 B/doc materialized once
    # instead of re-running the 65-lane aggregation per consumer.
    fp = materialize(simhash64_rows(docs, "doc_id", "text"))
    banded = simhash_near_dup_join(
        docs, "doc_id", "text", max_hamming=3, fingerprints=fp
    ).select("id_a", "id_b")
    a, b = fp.alias("a"), fp.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .filter(hamming64(F.col("a.fp"), F.col("b.fp")) <= 3)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    norm = docs.select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("t")
    )
    na, nb = norm.alias("na"), norm.alias("nb")
    text_dups = (
        na.join(
            nb,
            (F.col("na.t") == F.col("nb.t"))
            & (F.col("na.doc_id") < F.col("nb.doc_id")),
        )
        .select(
            F.col("na.doc_id").alias("id_a"), F.col("nb.doc_id").alias("id_b")
        )
    )
    keys = ["id_a", "id_b"]
    n_text = text_dups.agg(F.count("*").alias("n_text_dup_pairs"))
    missed = text_dups.join(banded, keys, "left_anti").agg(
        F.count("*").alias("text_dups_missed")
    )
    mismatch = (
        banded.join(brute, keys, "left_anti")
        .unionByName(brute.join(banded, keys, "left_anti"))
        .agg(F.count("*").alias("banded_vs_brute_mismatch"))
    )
    return n_text.crossJoin(missed).crossJoin(mismatch)


def raw_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw hyperplane-LSH top-k self-join (benched; attested by
    the oracle-backed q_ann_topk summary)."""
    from bi_utils_spark.operators.similarity import ann_self_join_topk

    emb = load(spark, sf_dir, "embeddings")
    return ann_self_join_topk(emb, k=3, num_planes=16, num_bands=8, dim=64)


@register(
    "q_ann_topk",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(3 * count(*) AS BIGINT) AS n_exact_rows,
           1 AS recall_ge_050
    FROM embeddings WHERE vec_id % 25 = 0
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-bound oracle row for hyperplane-LSH ANN: exact k-NN is
    computed Spark-side for a deterministic query sample (vec_id %
    25 = 0 — whose size and k·size DuckDB recomputes), and the ANN
    join must recall ≥ 50% of those (query, neighbor) edges — the
    bound the recall property test has enforced since r1."""
    from bi_utils_spark.operators.similarity import ann_self_join_topk, exact_knn_all

    emb = load(spark, sf_dir, "embeddings")
    sampled = F.col("query_id") % 25 == 0
    exact = (
        exact_knn_all(emb, k=3)
        .filter(sampled)
        .select(F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b"))
    )
    ann = (
        ann_self_join_topk(emb, k=3, num_planes=16, num_bands=8, dim=64)
        .filter(sampled)
        .select(F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b"))
    )
    keys = ["id_a", "id_b"]
    n_q = emb.filter(F.col("vec_id") % 25 == 0).agg(
        F.count("*").alias("n_queries")
    )
    n_exact = exact.agg(F.count("*").alias("n_exact_rows"))
    found = ann.join(exact, keys, "left_semi").agg(F.count("*").alias("__found"))
    return (
        n_q.crossJoin(n_exact)
        .crossJoin(found)
        .select(
            "n_queries",
            "n_exact_rows",
            (
                F.col("__found").cast("double")
                >= 0.5 * F.col("n_exact_rows").cast("double")
            )
            .cast("int")
            .alias("recall_ge_050"),
        )
    )


# Shared oracle CTE: two exact-fixed-point Lloyd steps from the
# smallest-id seed (k=8), ending in fin(vec_id, c, d2) — the final
# assignment. Composable: q_kmeans_clusters aggregates it,
# q_cluster_balanced_sample windows over it.
_KMEANS_CTE = """
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    edq AS (
      SELECT vec_id, dim,
             CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT) AS xq,
             CAST(x AS DOUBLE) AS xd
      FROM (SELECT vec_id,
                   UNNEST(range(1, len(v)+1)) AS dim,
                   UNNEST(v) AS x
            FROM e)
    ),
    seed AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                      AS c
             FROM e ORDER BY vec_id LIMIT 8),
    cd0 AS (SELECT s.c, edq.dim, CAST(edq.xq AS DOUBLE) / 1e7 AS cx
            FROM seed s JOIN edq USING (vec_id)),
    d1 AS (SELECT edq.vec_id, cd0.c,
                  sum(CAST(round((edq.xd - cd0.cx) * 1e7) AS BIGINT)
                      * CAST(round((edq.xd - cd0.cx) * 1e7) AS BIGINT)) AS d2
           FROM edq JOIN cd0 USING (dim) GROUP BY edq.vec_id, cd0.c),
    a1 AS (SELECT vec_id, c FROM (
             SELECT vec_id, c,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c)
                      AS rn
             FROM d1) WHERE rn = 1),
    u1 AS (SELECT a1.c, edq.dim,
                  round(CAST(sum(edq.xq) AS DOUBLE) / count(*)) / 1e7 AS cx
           FROM a1 JOIN edq USING (vec_id) GROUP BY a1.c, edq.dim),
    c1 AS (SELECT cd0.c, cd0.dim, coalesce(u1.cx, cd0.cx) AS cx
           FROM cd0 LEFT JOIN u1 ON u1.c = cd0.c AND u1.dim = cd0.dim),
    d2_ AS (SELECT edq.vec_id, c1.c,
                   sum(CAST(round((edq.xd - c1.cx) * 1e7) AS BIGINT)
                       * CAST(round((edq.xd - c1.cx) * 1e7) AS BIGINT)) AS d2
            FROM edq JOIN c1 USING (dim) GROUP BY edq.vec_id, c1.c),
    a2 AS (SELECT vec_id, c FROM (
             SELECT vec_id, c,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c)
                      AS rn
             FROM d2_) WHERE rn = 1),
    u2 AS (SELECT a2.c, edq.dim,
                  round(CAST(sum(edq.xq) AS DOUBLE) / count(*)) / 1e7 AS cx
           FROM a2 JOIN edq USING (vec_id) GROUP BY a2.c, edq.dim),
    c2 AS (SELECT c1.c, c1.dim, coalesce(u2.cx, c1.cx) AS cx
           FROM c1 LEFT JOIN u2 ON u2.c = c1.c AND u2.dim = c1.dim),
    d3 AS (SELECT edq.vec_id, c2.c,
                  sum(CAST(round((edq.xd - c2.cx) * 1e7) AS BIGINT)
                      * CAST(round((edq.xd - c2.cx) * 1e7) AS BIGINT)) AS d2
           FROM edq JOIN c2 USING (dim) GROUP BY edq.vec_id, c2.c),
    fin AS (SELECT vec_id, c, d2 FROM (
              SELECT vec_id, c, d2,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, c)
                       AS rn
              FROM d3) WHERE rn = 1)
"""


@register(
    "q_kmeans_clusters",
    _KMEANS_CTE
    + """
    SELECT CAST(c AS INTEGER) AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(d2 AS HUGEINT)) AS DOUBLE) / 1e14 AS inertia
    FROM fin GROUP BY c
    """,
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 2 update steps from the
    deterministic smallest-id seed) over the embeddings table —
    cluster sizes and exact inertia. The whole iteration runs in
    engine-exact fixed-point (pre-quantized residuals, BIGINT
    distance sums, quantized centroid updates), so the oracle can
    replay both Lloyd steps in SQL and hash-match the result — an
    iterative clustering algorithm held to the same bit-exact
    standard as the relational tier."""
    from bi_utils_spark.operators.clustering import kmeans_summary

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_summary(emb, "vec_id", "embedding", k=8, iters=2)


@register(
    "q_cluster_balanced_sample",
    _KMEANS_CTE
    + """
    SELECT vec_id, CAST(c AS INTEGER) AS cluster FROM (
      SELECT vec_id, c,
             row_number() OVER (
               PARTITION BY c
               ORDER BY md5(CAST(vec_id AS VARCHAR) || 'bal'), vec_id)
               AS rn
      FROM fin) WHERE rn <= 25
    """,
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced subset: ≤ 25 vectors per k-means cluster, chosen
    by smallest md5(id‖salt) — the cluster-quota curation move ("equal
    representation per semantic topic"). The Spark side ranks in two
    levels (per-(cluster, hash-prefix) then per-cluster over ≤ 256·cap
    survivors — no cluster-sized single-task sort); the oracle's
    one-level window over the shared k-means CTE proves the two-level
    result identical."""
    from bi_utils_spark.operators.clustering import cluster_balanced_sample

    emb = load(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(
        emb, "vec_id", "embedding", k=8, iters=2, cap=25
    )


@register(
    "q_embedding_outliers",
    _KMEANS_CTE
    + """
    SELECT vec_id, CAST(c AS INTEGER) AS cluster,
           CAST(d2 AS BIGINT) AS d2q,
           (percent_rank() OVER (ORDER BY d2) > 0.95) AS is_outlier
    FROM fin
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-hygiene pass: rows whose distance to their k-means
    centroid sits in the top 5% corpus-wide are flagged (corrupt
    decodes / wrong-model vectors land far from every topic). The
    flag comes from the exact two-level percent-rank CDF over the
    fixed-point distances, so the oracle is the shared Lloyd-replay
    CTE plus one percent_rank window."""
    from bi_utils_spark.operators.clustering import embedding_outliers

    emb = load(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, "vec_id", "embedding", k=8, iters=2)


@register(
    "q_centroids_by_label",
    """
    SELECT label, dim,
           (SUM(CAST(round(CAST(v AS DOUBLE) * 1e7) AS BIGINT)) / 1e7)
                / COUNT(*) AS c,
           COUNT(*) AS n
    FROM (
      SELECT label,
             UNNEST(embedding) AS v,
             UNNEST(range(1, len(embedding)+1)) AS dim
      FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def q_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.similarity import centroid_dims

    emb = load(spark, sf_dir, "embeddings")
    return centroid_dims(emb)
