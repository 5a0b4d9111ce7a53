"""Training-data pipeline mechanics: packing, chunking, BM25 and
hybrid retrieval, bitext mining, decontamination (n-gram and
semantic), DSIR importance, classifier, LM scoring, BPE stats,
mixing / curriculum / encoding / global shuffle, event funnels."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.functions.litarrays import lit_double_array

from bi_utils_spark.queries.core import load, load_fanout, register



# ===========================================================================
# Sequence packing (operators/packing.py): the conservation invariant —
# every doc packed exactly once, token mass preserved — is oracle-checked;
# the per-sequence FFD layout is deterministic but not SQL-expressible
# (rows-only check on the sequence-level output).
# ===========================================================================

@register(
    "q_pack_conservation",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_tokens
    FROM documents
    """,
)
def q_pack_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.packing import pack_sequences

    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(docs, "doc_id", "n_chars", max_tokens=2048, num_buckets=32)
    return packed.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
    )


@register(
    "q_pack_sequences",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_tokens,
           CAST(count(*) FILTER (WHERE n_chars > 2048) AS BIGINT) AS n_oversize,
           CAST(0 AS BIGINT) AS n_multi_doc_overflow,
           1 AS n_seqs_ge_lower_bound,
           1 AS half_empty_bins_le_buckets
    FROM documents
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-packing layout attestation (VERDICT r3 #2): the FFD layout
    itself is engine-specific, but its invariants are not — the oracle
    pins (a) conservation (every doc packed once, token mass
    preserved), (b) the exact oversize count (docs above the budget
    get dedicated bins), (c) zero multi-doc bins over the budget,
    (d) n_sequences ≥ the ceil(total/budget) lower bound, and (e) the
    FFD half-full guarantee: at most one bin per bucket (32 buckets)
    can end less than half full."""
    from bi_utils_spark.operators.packing import pack_sequences

    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(docs, "doc_id", "n_chars", max_tokens=2048, num_buckets=32)
    over = F.col("total_tokens") > 2048
    agg = packed.agg(
        F.count("*").alias("__n_seqs"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum(over.cast("long")).alias("n_oversize"),
        F.sum(((F.col("n_docs") > 1) & over).cast("long")).alias(
            "n_multi_doc_overflow"
        ),
        F.sum(F.when(over, F.col("total_tokens")).otherwise(F.lit(0))).alias(
            "__oversize_toks"
        ),
        F.sum((F.col("total_tokens") < 1024).cast("long")).alias("__half_empty"),
    )
    return agg.select(
        "n_docs",
        "total_tokens",
        "n_oversize",
        "n_multi_doc_overflow",
        (
            F.col("__n_seqs")
            >= F.col("n_oversize")
            + F.ceil(
                (F.col("total_tokens") - F.col("__oversize_toks")) / F.lit(2048.0)
            )
        )
        .cast("int")
        .alias("n_seqs_ge_lower_bound"),
        (F.col("__half_empty") <= F.lit(32))
        .cast("int")
        .alias("half_empty_bins_le_buckets"),
    )


# ===========================================================================
# Document chunking (operators/chunking.py): overlapping token windows,
# full-row oracle — DuckDB recomputes every chunk's exact text and token
# counts from the same window math.
# ===========================================================================

@register(
    "q_chunk_documents",
    r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    base AS (
      SELECT doc_id, len(t) AS n, t,
             greatest(CAST(floor((len(t) - 8 + 55) / 56.0) AS INT), 1)
               AS n_chunks
      FROM toks
    ),
    ch AS (
      SELECT doc_id, n, t, unnest(range(0, n_chunks)) AS i FROM base
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(n AS INT) AS n_doc_tokens,
           CAST(least(n - i * 56, 64) AS INT) AS n_chunk_tokens,
           array_to_string(t[i*56+1 : i*56+64], ' ') AS chunk_text
    FROM ch
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=8)


# ===========================================================================
# BM25 keyword search (operators/ranking.py): corpus stats in one agg
# pass, scoring map-side. Full-match-set output (tf > 0 is an integer
# property) keeps the oracle row set engine-independent; scores are
# computed with the identical expression tree on both sides.
# ===========================================================================

@register(
    "q_bm25_search",
    r"""
    WITH base AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x = 'vector')) AS tf0,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x = 'merge')) AS tf1,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x = 'stream')) AS tf2
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM base
    )
    SELECT doc_id,
           round(
             0.0
             + ln((CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5) + 1.0)
               * CAST(tf0 AS DOUBLE) * 2.2
               / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
             + ln((CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5) + 1.0)
               * CAST(tf1 AS DOUBLE) * 2.2
               / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
             + ln((CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5) + 1.0)
               * CAST(tf2 AS DOUBLE) * 2.2
               / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
           , 6) AS score
    FROM base, stats
    WHERE greatest(tf0, tf1, tf2) > 0
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.ranking import bm25_scores

    docs = load(spark, sf_dir, "documents")
    return bm25_scores(docs, ["vector", "merge", "stream"])


# ===========================================================================
# Snapshot diff (operators/snapshot.py): corpus-version audit —
# old = documents minus ids ≡ 0 (mod 7); new = documents minus ids
# ≡ 0 (mod 5), with text rewritten for ids ≡ 0 (mod 11). The oracle
# replays the same synthetic snapshots and classifies with null-safe
# value comparison (the operator's hash is injective over values).
# ===========================================================================

@register(
    "q_snapshot_diff",
    r"""
    WITH old AS (
      SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 != 0
    ),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text,
             lang
      FROM documents WHERE doc_id % 5 != 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN (old.text IS DISTINCT FROM new.text)
                  OR (old.lang IS DISTINCT FROM new.lang) THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old FULL OUTER JOIN new USING (doc_id)
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot audit: added/removed/changed/unchanged per
    doc_id between two deterministic synthetic versions of the
    documents table (mod-7 deletions vs mod-5 deletions with mod-11
    text rewrites). The operator compares via the injective
    content_hash; the oracle compares raw values null-safely — equal
    classifications prove the hash identity faithful."""
    from bi_utils_spark.operators.snapshot import snapshot_diff

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new, ["doc_id"])


# ===========================================================================
# Bitext mining (operators/bitext.py): margin-scored parallel-pair
# candidates between two embedding spaces (label parity splits the
# test table into the two "languages"). The oracle replays both kNN
# directions, the integer neighborhood masses, the exact margin
# ratio, and the mutual-best flag.
# ===========================================================================

@register(
    "q_bitext_mine",
    r"""
    WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE label % 2 = 0),
    tgt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE label % 2 = 1),
    fwd AS (
      SELECT s.vec_id AS sid, t.vec_id AS tid,
             round(list_cosine_similarity(s.v, t.v), 9) AS score,
             row_number() OVER (
               PARTITION BY s.vec_id
               ORDER BY round(list_cosine_similarity(s.v, t.v), 9) DESC,
                        t.vec_id) AS rank
      FROM src s, tgt t
    ),
    bwd AS (
      SELECT t.vec_id AS tid, s.vec_id AS sid,
             round(list_cosine_similarity(t.v, s.v), 9) AS score,
             row_number() OVER (
               PARTITION BY t.vec_id
               ORDER BY round(list_cosine_similarity(t.v, s.v), 9) DESC,
                        s.vec_id) AS rank
      FROM tgt t, src s
    ),
    fk AS (SELECT * FROM fwd WHERE rank <= 4),
    bk AS (SELECT * FROM bwd WHERE rank <= 4),
    fmass AS (SELECT sid, sum(CAST(round(score * 1e9) AS BIGINT)) AS fq,
                     count(*) AS fn
              FROM fk GROUP BY sid),
    bmass AS (SELECT tid, sum(CAST(round(score * 1e9) AS BIGINT)) AS bq,
                     count(*) AS bn
              FROM bk GROUP BY tid),
    mutual AS (
      SELECT f.sid, f.tid FROM fk f JOIN bk b USING (sid, tid)
      WHERE f.rank = 1 AND b.rank = 1
    )
    SELECT fk.sid AS src_id, fk.tid AS tgt_id, fk.score,
           CASE WHEN fmass.fq * bmass.bn + bmass.bq * fmass.fn > 0
                THEN CAST(2 * CAST(round(fk.score * 1e9) AS BIGINT)
                            * fmass.fn * bmass.bn AS DOUBLE)
                     / CAST(fmass.fq * bmass.bn + bmass.bq * fmass.fn
                            AS DOUBLE)
                ELSE NULL END AS margin,
           (mutual.sid IS NOT NULL) AS mutual_best
    FROM fk
    JOIN fmass USING (sid) JOIN bmass USING (tid)
    LEFT JOIN mutual ON mutual.sid = fk.sid AND mutual.tid = fk.tid
    """,
)
def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk ratio margin)
    between the two label-parity halves of the embeddings table:
    forward/backward exact kNN (k=4), BIGINT neighborhood masses, one
    exact integer-ratio margin per candidate pair, mutual-best flag.
    Every number replays in SQL — the whole mining pipeline is
    hash-exact, not a recall bound."""
    from bi_utils_spark.operators.bitext import mine_bitext

    emb = load(spark, sf_dir, "embeddings")
    src, tgt = _bitext_sides(spark, emb)
    return mine_bitext(src, tgt, k=4)


def _bitext_sides(spark: SparkSession, emb: DataFrame):
    """The two label-parity halves, fanned out adaptively: the test
    table is one small input split, so the quadratic scoring needs an
    explicit repartition to use the cluster — but a fixed
    defaultParallelism fan-out gives each task only a handful of rows
    at test scale and per-task (Python worker + Arrow batch) overhead
    dominates (measured 1.9 s vs 1.2 s per kNN leg at sf0.1 for 32 vs
    8 tasks over 1 000 rows/side). Derive the width from the actual
    row count — >=128 rows per task, clamped to the session's
    parallelism, so at production scale it is exactly
    defaultParallelism (the count is a parquet-metadata job, ~0.1 s).
    Partitioning does not affect results: pair scores are
    partition-independent and ranks tie-break deterministically."""
    from bi_utils_spark.queries.core import adaptive_width

    width = adaptive_width(spark, emb.count() // 2)
    src = emb.filter(F.col("label") % 2 == 0).repartition(width)
    tgt = emb.filter(F.col("label") % 2 == 1).repartition(width)
    return src, tgt


@register(
    "q_bitext_mine_blocked",
    r"""
    WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE label % 2 = 0),
    tgt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE label % 2 = 1),
    fwd AS (
      SELECT s.vec_id AS sid, t.vec_id AS tid,
             row_number() OVER (
               PARTITION BY s.vec_id
               ORDER BY round(list_cosine_similarity(s.v, t.v), 9) DESC,
                        t.vec_id) AS rank
      FROM src s, tgt t
    ),
    fk AS (SELECT * FROM fwd WHERE rank <= 4)
    SELECT CAST((SELECT count(*) FROM src) AS BIGINT) AS n_src,
           CAST((SELECT count(*) FROM fk) AS BIGINT) AS n_pairs,
           CAST(0 AS BIGINT) AS only_blocked,
           CAST(0 AS BIGINT) AS only_exact,
           TRUE AS margins_within_tol
    """,
)
def q_bitext_mine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining through the SCALE kNN primitive
    (similarity.knn_join_blocked: per-partition numpy top-k, shuffle
    shrinks from |src|·|tgt| to |src|·k·partitions, no broadcast-
    nested-loop legs) — attested equivalent to the exact form, the
    substitution-invariance mine_bitext's contract claims (bitext.py):
    the Spark side runs BOTH forms and reports pair-set symmetric
    difference (must be 0/0) and margin agreement within 1e-6; the
    oracle independently recomputes the expected pair count from the
    exact SQL replay. This is the 10⁸+-rows-per-side configuration —
    see SCALE.md (bitext entry)."""
    from bi_utils_spark.operators.bitext import mine_bitext
    from bi_utils_spark.operators.similarity import knn_join_blocked

    emb = load(spark, sf_dir, "embeddings")
    src, tgt = _bitext_sides(spark, emb)
    blocked = mine_bitext(src, tgt, k=4, knn=knn_join_blocked).select(
        "src_id", "tgt_id", F.col("margin").alias("__mb"), F.lit(True).alias("__b")
    )
    exact = mine_bitext(src, tgt, k=4).select(
        "src_id", "tgt_id", F.col("margin").alias("__me"), F.lit(True).alias("__e")
    )
    cmp = blocked.join(exact, ["src_id", "tgt_id"], "full_outer")
    both = F.col("__b").isNotNull() & F.col("__e").isNotNull()
    agree = (
        (F.col("__mb").isNull() & F.col("__me").isNull())
        | (F.abs(F.col("__mb") - F.col("__me")) < 1e-6)
    )
    summary = cmp.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("__e").isNull().cast("bigint")).alias("only_blocked"),
        F.sum(F.col("__b").isNull().cast("bigint")).alias("only_exact"),
        F.coalesce(
            F.every(F.when(both, agree)), F.lit(True)
        ).alias("margins_within_tol"),
    )
    n_src = src.agg(F.count("*").alias("n_src"))
    return summary.crossJoin(n_src).select(
        "n_src", "n_pairs", "only_blocked", "only_exact", "margins_within_tol"
    )


# ===========================================================================
# Hybrid retrieval (operators/retrieval.py): BM25 + dense-cosine legs
# fused by Reciprocal Rank Fusion — the standard RAG first stage.
# Both legs are TakeOrdered(depth); fusion operates on <= 2·depth
# rows; the oracle replays ranks and the fixed-point RRF sum in SQL.
# ===========================================================================

@register(
    "q_hybrid_search",
    r"""
    WITH base AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x = 'vector')) AS tf0,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x = 'merge')) AS tf1,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> x = 'stream')) AS tf2
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM base
    ),
    bm25 AS (
      SELECT doc_id,
             round(
               0.0
               + ln((CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5) + 1.0)
                 * CAST(tf0 AS DOUBLE) * 2.2
                 / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
               + ln((CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5) + 1.0)
                 * CAST(tf1 AS DOUBLE) * 2.2
                 / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
               + ln((CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5) + 1.0)
                 * CAST(tf2 AS DOUBLE) * 2.2
                 / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
             , 6) AS score
      FROM base, stats
      WHERE greatest(tf0, tf1, tf2) > 0
    ),
    bm25_r AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM bm25 ORDER BY score DESC, doc_id LIMIT 50
    ),
    dense AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(embedding::DOUBLE[],
               (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 9)
               AS score
      FROM embeddings
    ),
    dense_r AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM dense ORDER BY score DESC, doc_id LIMIT 50
    ),
    contrib AS (
      SELECT doc_id, 'bm25' AS leg, rank,
             CAST(round(1e7 / (60 + rank)) AS BIGINT) AS q FROM bm25_r
      UNION ALL
      SELECT doc_id, 'dense' AS leg, rank,
             CAST(round(1e7 / (60 + rank)) AS BIGINT) AS q FROM dense_r
    ),
    fused AS (
      SELECT doc_id,
             CAST(sum(q) AS DOUBLE) / 1e7 AS rrf_score,
             CAST(max(CASE WHEN leg = 'bm25' THEN rank END) AS INTEGER) AS bm25_rank,
             CAST(max(CASE WHEN leg = 'dense' THEN rank END) AS INTEGER) AS dense_rank
      FROM contrib GROUP BY doc_id
    )
    SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval end to end: BM25 over the documents table
    and exact cosine against a query embedding over the embeddings
    table (same id space), each cut to its top-50, fused by RRF
    (k0=60, 1e-7 fixed-point contributions) into the final top-10.
    Every stage past the two corpus scans operates on ≤ 100 rows; the
    oracle replays both rankings and the fusion arithmetic in SQL."""
    from bi_utils_spark.operators.ranking import bm25_scores
    from bi_utils_spark.operators.retrieval import hybrid_topk
    from bi_utils_spark.operators.similarity import cosine

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    qv = lit_double_array(target)
    dense = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(cosine(F.col("embedding"), qv), 9).alias("score"),
    )
    lex = bm25_scores(docs, ["vector", "merge", "stream"])
    return hybrid_topk({"bm25": lex, "dense": dense}, k=10, depth=50)


# ===========================================================================
# Stratified sampling (operators/splits.py): per-stratum md5-threshold
# keep fractions — corpus balancing (downsample the dominant language,
# keep rare strata whole). md5 is identical across engines, so the
# exact kept row set is oracle-checkable.
# ===========================================================================

@register(
    "q_stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || chr(31) || lang || 'sample'),
                    1, 16)
          < CASE lang WHEN 'en' THEN '8000000000000000'
                      WHEN 'zh' THEN 'ccccccccccccd000'
                      ELSE 'ffffffffffffffff' END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.splits import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "zh": 0.8}, default_fraction=1.0
    ).select("doc_id", "lang")


# ===========================================================================
# Unigram LM quality scoring (operators/lm.py): avg token log-prob under
# a corpus unigram model — per-token log-probs quantized to fixed point
# before summing so the oracle hash-matches exactly.
# ===========================================================================

@register(
    "q_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    model AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    consts AS (SELECT sum(c) AS total, count(*) AS v FROM model),
    scored AS (
      SELECT t.doc_id,
             CAST(round(ln((CAST(m.c AS DOUBLE) + 1.0)
                           / CAST(total + v AS DOUBLE)) * 1e7) AS BIGINT) AS q
      FROM toks t JOIN model m USING (term), consts
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           (CAST(sum(q) AS DOUBLE) / 1e7) / count(*) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import unigram_logprob_scores

    docs = load(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs)


# ===========================================================================
# OOV-rate / vocabulary-coverage scoring (operators/lm.py): fraction of
# each doc's tokens outside the corpus top-200 vocabulary. Vocabulary is
# deterministic (count desc, term asc), so the exact per-doc rates are
# oracle-checkable.
# ===========================================================================

@register(
    "q_oov_rate",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    model AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    vocab AS (SELECT term FROM model ORDER BY c DESC, term ASC LIMIT 200)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import oov_rate, top_vocab, unigram_model

    docs = load(spark, sf_dir, "documents")
    vocab = top_vocab(unigram_model(docs), 200)
    return oov_rate(docs, vocab)


# ===========================================================================
# Benchmark decontamination (operators/decontam.py): GPT-3-style n-gram
# overlap against a held-out eval set, plus Lee-et-al duplicated-span
# diagnostics. Benchmark split for the fixture: doc_id % 10 == 0 plays
# the eval suite; the rest is the training corpus. n-grams here are
# 64-bit xxhash64 of the space-joined token window — counts equal the
# oracle's string-n-gram counts (tokens contain no whitespace).
# ===========================================================================

_DECONTAM_CTE = r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    ng AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(a[i:i+4], ' ')
                     for i in range(1, len(a) - 3)]) AS ng
      FROM t WHERE len(a) >= 5
    ),
    bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 10 = 0),
    corpus AS (SELECT * FROM ng WHERE doc_id % 10 <> 0)
"""


@register(
    "q_contamination",
    _DECONTAM_CTE
    + """
    SELECT c.doc_id,
           CAST(count(b.ng) AS BIGINT) AS n_shared,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(b.ng) AS DOUBLE) / count(*) AS contamination
    FROM corpus c LEFT JOIN bench b USING (ng)
    GROUP BY c.doc_id
    HAVING count(b.ng) > 0
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import contamination_report

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return contamination_report(corpus, bench, "doc_id", "text", n=5).filter(
        F.col("n_shared") > 0
    )


@register(
    "q_decontaminate",
    _DECONTAM_CTE
    + """
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 10 <> 0
      AND d.doc_id NOT IN (
        SELECT c.doc_id FROM corpus c JOIN bench b USING (ng)
        GROUP BY c.doc_id HAVING count(*) > 3
      )
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=5, max_shared=3).select(
        "doc_id", "lang", "source"
    )


# ===========================================================================
# Score-quantile filtering (operators/filtering.py): keep the top half
# of the corpus by quality score, with exact SQL percent_rank semantics
# (ties share a rank) — computed over DISTINCT scores, never a global
# row sort. Oracle = DuckDB's percent_rank over the same quality CTE.
# ===========================================================================

@register(
    "q_quality_tophalf",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 20 THEN 1.0 ELSE 0.0 END AS length_ok,
             CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                        AS DOUBLE) / length(text) END) <= 0.2
                  THEN 1.0 ELSE 0.0 END AS punct_ok,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks,
                        x -> list_contains(['the','and','of','to','a','is'], x)))
                       AS DOUBLE) / len(toks) END AS sw
      FROM t
    ),
    q AS (
      SELECT doc_id,
             (length_ok + punct_ok + least(sw * 5.0, 1.0)) / 3.0 AS quality
      FROM m
    )
    SELECT doc_id, quality, pr
    FROM (SELECT doc_id, quality,
                 percent_rank() OVER (ORDER BY quality) AS pr
          FROM q)
    WHERE pr >= 0.5
    """,
)
def q_quality_tophalf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.filtering import attach_percent_rank
    from bi_utils_spark.operators.materialize import materialize
    from bi_utils_spark.operators.textstats import quality_score

    docs = load(spark, sf_dir, "documents")
    # the scores feed both rank probes and the final join
    scored = materialize(
        docs.select("doc_id", quality_score("text").alias("quality"))
    )
    ranked = attach_percent_rank(scored, "quality", "pr")
    return ranked.filter(F.col("pr") >= 0.5).select("doc_id", "quality", "pr")


@register(
    "q_remove_dup_spans",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(a) AS tok, unnest(range(1, len(a) + 1)) AS pos
      FROM t
    ),
    ng AS (
      SELECT doc_id,
             unnest([array_to_string(a[i:i+7], ' ')
                     for i in range(1, len(a) - 6)]) AS ng,
             unnest(range(1, len(a) - 6)) AS pos
      FROM t WHERE len(a) >= 8
    ),
    freq AS (SELECT ng, count(DISTINCT doc_id) AS ddf FROM ng GROUP BY ng),
    dupstart AS (
      SELECT doc_id, pos,
             CASE WHEN ddf >= 2 THEN 1 ELSE 0 END AS dup
      FROM ng JOIN freq USING (ng)
    ),
    cov AS (
      SELECT tok.doc_id, tok.pos, tok.tok,
             max(coalesce(d.dup, 0)) OVER (
               PARTITION BY tok.doc_id ORDER BY tok.pos
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
      FROM tok LEFT JOIN dupstart d
        ON tok.doc_id = d.doc_id AND tok.pos = d.pos
    )
    SELECT doc_id,
           coalesce(array_to_string(
             list(tok ORDER BY pos) FILTER (WHERE covered = 0), ' '), '')
             AS text_deduped,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(covered) AS BIGINT) AS n_removed
    FROM cov
    GROUP BY doc_id
    """,
)
def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import remove_duplicated_spans

    docs = load(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, "doc_id", "text", k=8)


@register(
    "q_boilerplate_grams",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    ng AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(a[i:i+4], ' ')
                     for i in range(1, len(a) - 3)]) AS gram
      FROM t WHERE len(a) >= 5
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
    FROM ng
    GROUP BY gram
    HAVING count(*) >= 2
    ORDER BY n_docs DESC, gram ASC
    LIMIT 20
    """,
)
def q_boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import top_duplicated_grams

    docs = load(spark, sf_dir, "documents")
    return top_duplicated_grams(docs, "doc_id", "text", k=5, top=20)


@register(
    "q_dup_spans",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    ng AS (
      SELECT doc_id,
             unnest([array_to_string(a[i:i+7], ' ')
                     for i in range(1, len(a) - 6)]) AS ng
      FROM t WHERE len(a) >= 8
    ),
    freq AS (SELECT ng, count(DISTINCT doc_id) AS ddf FROM ng GROUP BY ng)
    SELECT ng.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(sum(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS dup_frac
    FROM ng JOIN freq USING (ng)
    GROUP BY ng.doc_id
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import duplicated_span_stats

    docs = load(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, "doc_id", "text", k=8)


# ===========================================================================
# DSIR-style importance weighting + resampling (operators/importance.py):
# hashed unigram+bigram features (md5 → 4096 buckets, engine-portable),
# add-one-smoothed target/raw bucket distributions (target = lang='en'
# docs, raw = whole corpus), per-doc Σ log-ratio weights, Gumbel-top-k
# selection. Every number is fixed-point-quantized, so the full DSIR
# pipeline is oracle-checkable end to end.
# ===========================================================================

_DSIR_CTE = r"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    fb AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(feat), 1, 13) AS BIGINT) % 4096 AS bucket
      FROM (SELECT doc_id, lang,
                   unnest(CASE WHEN len(a) <= 1 THEN a
                          ELSE a || list_transform(
                                 generate_series(1, len(a) - 1),
                                 i -> a[i] || ' ' || a[i+1]) END) AS feat
            FROM t)
    ),
    tc AS (SELECT bucket, count(*) AS ct FROM fb WHERE lang = 'en'
           GROUP BY bucket),
    rc AS (SELECT bucket, count(*) AS cr FROM fb GROUP BY bucket),
    buckets AS (SELECT range AS bucket FROM range(4096)),
    j AS (SELECT b.bucket, coalesce(tc.ct, 0) AS ct, coalesce(rc.cr, 0) AS cr
          FROM buckets b LEFT JOIN tc USING (bucket)
                         LEFT JOIN rc USING (bucket)),
    consts AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM j),
    lr AS (SELECT bucket,
                  CAST(round(ln((CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
                              / (CAST(cr + 1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE)))
                             * 1e7) AS BIGINT) AS lr_q
           FROM j, consts),
    w AS (SELECT fb.doc_id,
                 CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(lr.lr_q) AS DOUBLE) / 1e7 AS weight
          FROM fb JOIN lr USING (bucket)
          GROUP BY fb.doc_id)
"""


@register(
    "q_importance_weights",
    _DSIR_CTE + "SELECT doc_id, n_feats, weight FROM w",
)
def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.importance import (
        bucket_logratio_labeled,
        importance_weights,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    lr = bucket_logratio_labeled(docs, F.col("lang") == "en")
    return importance_weights(docs, lr)


@register(
    "q_importance_sample",
    _DSIR_CTE
    + r"""
    SELECT doc_id, n_feats, weight,
           CAST(round((weight + -ln(-ln(
                 (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'gumbel'),
                                      1, 13) AS BIGINT) + 0.5)
                 / 4503599627370496.0))) * 1e7) AS BIGINT) AS key_q
    FROM w
    ORDER BY key_q DESC, doc_id ASC
    LIMIT 100
    """,
)
def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.importance import (
        bucket_logratio_labeled,
        importance_resample,
        importance_weights,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    lr = bucket_logratio_labeled(docs, F.col("lang") == "en")
    return importance_resample(importance_weights(docs, lr), k=100)


# ===========================================================================
# fastText-style hashed linear classifier (operators/classifier.py):
# NB-log-odds weights over the same md5 bucket space as DSIR, class-prior
# log-odds, map-only scoring, confusion-matrix eval. pos = lang='en',
# neg = everything else — a stand-in for "curated vs crawl".
# ===========================================================================

_NB_CTE = r"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    fb AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(feat), 1, 13) AS BIGINT) % 4096 AS bucket
      FROM (SELECT doc_id, lang,
                   unnest(CASE WHEN len(a) <= 1 THEN a
                          ELSE a || list_transform(
                                 generate_series(1, len(a) - 1),
                                 i -> a[i] || ' ' || a[i+1]) END) AS feat
            FROM t)
    ),
    tc AS (SELECT bucket, count(*) AS ct FROM fb WHERE lang = 'en'
           GROUP BY bucket),
    rc AS (SELECT bucket, count(*) AS cr FROM fb WHERE lang <> 'en'
           GROUP BY bucket),
    buckets AS (SELECT range AS bucket FROM range(4096)),
    j AS (SELECT b.bucket, coalesce(tc.ct, 0) AS ct, coalesce(rc.cr, 0) AS cr
          FROM buckets b LEFT JOIN tc USING (bucket)
                         LEFT JOIN rc USING (bucket)),
    consts AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM j),
    lr AS (SELECT bucket,
                  CAST(round(ln((CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
                              / (CAST(cr + 1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE)))
                             * 1e7) AS BIGINT) AS lr_q
           FROM j, consts),
    prior AS (SELECT CAST(round(ln(
                   CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
                   / CAST(count(*) FILTER (WHERE lang <> 'en') AS DOUBLE)) * 1e7)
                 AS BIGINT) AS prior_q
              FROM documents),
    w AS (SELECT fb.doc_id,
                 CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(lr.lr_q) AS BIGINT) AS wq
          FROM fb JOIN lr USING (bucket)
          GROUP BY fb.doc_id),
    scored AS (SELECT w.doc_id, w.n_feats,
                      CAST(w.wq + prior.prior_q AS DOUBLE) / 1e7 AS logit,
                      (w.wq + prior.prior_q) > 0 AS label
               FROM w, prior)
"""


@register(
    "q_nb_classifier",
    _NB_CTE + "SELECT doc_id, n_feats, logit, label FROM scored",
)
def q_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised quality-classifier scoring: NB log-odds weights fit
    on lang='en' (positive) vs the rest (negative), every document
    scored map-only against the broadcast 4096-row weight table plus
    the class-prior log-odds. Exact fixed-point logits, so the whole
    train-and-apply pipeline hash-matches the oracle."""
    from bi_utils_spark.operators.classifier import (
        class_prior,
        classifier_scores,
        fit_nb_weights_labeled,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    pos = docs.filter(F.col("lang") == "en")
    neg = docs.filter(F.col("lang") != "en")
    w = fit_nb_weights_labeled(docs, F.col("lang") == "en")
    # join-based scoring: the one-shot fit+score fuses into a single
    # job; the inline literal-weight form pays an eager fit collect +
    # plan-compile (~+1.5 s/query at sf0.1) and belongs to the
    # fit-once-score-many / streaming path
    return classifier_scores(docs, w, prior=class_prior(pos, neg))


@register(
    "q_nb_classifier_eval",
    _NB_CTE
    + r"""
    SELECT CAST(sum(CASE WHEN d.lang = 'en' AND s.label THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN d.lang <> 'en' AND s.label THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN d.lang = 'en' AND NOT s.label THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN d.lang <> 'en' AND NOT s.label THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           CAST(sum(CASE WHEN (d.lang = 'en') = s.label THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS accuracy
    FROM scored s JOIN documents d USING (doc_id)
    """,
)
def q_nb_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NB classifier against the true language
    labels — the held-out-evaluation step of the quality-filter loop
    (here evaluated in-sample; the split machinery is splits.py's).
    One scoring pass + one aggregate."""
    from bi_utils_spark.operators.classifier import (
        class_prior,
        classifier_confusion,
        classifier_scores,
        fit_nb_weights_labeled,
    )

    docs = load_fanout(spark, sf_dir, "documents")
    pos = docs.filter(F.col("lang") == "en")
    neg = docs.filter(F.col("lang") != "en")
    w = fit_nb_weights_labeled(docs, F.col("lang") == "en")
    scored = classifier_scores(docs, w, prior=class_prior(pos, neg))
    truth = docs.select("doc_id", (F.col("lang") == "en").alias("__truth"))
    return classifier_confusion(scored.join(truth, "doc_id"), "__truth")


# ===========================================================================
# Zipf diagnostics (operators/lm.py): term rank table and head coverage —
# sizes tokenizer vocabularies from the model table, never the stream.
# ===========================================================================

_MODEL_CTE = r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    model AS (SELECT term, count(*) AS c FROM toks GROUP BY term)
"""


@register(
    "q_zipf_topk",
    _MODEL_CTE
    + r"""
    , r AS (SELECT term, c,
                   row_number() OVER (ORDER BY c DESC, term ASC) AS rk
            FROM model)
    SELECT term, CAST(c AS BIGINT) AS c, CAST(rk AS INTEGER) AS rank
    FROM r WHERE rk <= 50
    """,
)
def q_zipf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import term_ranks, unigram_model

    docs = load(spark, sf_dir, "documents")
    return term_ranks(unigram_model(docs)).filter(F.col("rank") <= 50)


@register(
    "q_head_coverage",
    _MODEL_CTE
    + r"""
    , head AS (SELECT c FROM model ORDER BY c DESC, term ASC LIMIT 100)
    SELECT 100 AS k,
           CAST((SELECT sum(c) FROM head) AS BIGINT) AS head_tokens,
           CAST((SELECT sum(c) FROM model) AS BIGINT) AS total_tokens,
           CAST((SELECT sum(c) FROM head) AS DOUBLE)
             / CAST((SELECT sum(c) FROM model) AS DOUBLE) AS coverage
    """,
)
def q_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import head_coverage, unigram_model

    docs = load(spark, sf_dir, "documents")
    return head_coverage(unigram_model(docs), 100)


# ===========================================================================
# Semantic decontamination (operators/decontam.py): embedding-tier
# benchmark overlap — catches paraphrased eval items the n-gram tier
# misses. Benchmark = vec_id % 10 == 0 plays the eval suite (same
# fixture convention as q_contamination).
# ===========================================================================

@register(
    "q_semantic_contamination",
    """
    SELECT c.vec_id AS corpus_id, b.vec_id AS bench_id,
           round(list_cosine_similarity(c.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 9) AS score
    FROM embeddings c, embeddings b
    WHERE c.vec_id % 10 != 0 AND b.vec_id % 10 = 0
      AND round(list_cosine_similarity(c.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 9) >= 0.45
    """,
)
def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import semantic_contamination_pairs
    from bi_utils_spark.queries.core import adaptive_width

    emb = load(spark, sf_dir, "embeddings")
    # The corpus side inherits the test table's single input split, so
    # the per-pair cosine fold of the BNLJ would run one-core (6.4 s
    # at sf0.1; 0.7 s fanned out). At production the corpus arrives in
    # many splits and adaptive_width == defaultParallelism.
    width = adaptive_width(spark, emb.count())
    corpus = emb.filter(F.col("vec_id") % 10 != 0).repartition(width)
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    return semantic_contamination_pairs(corpus, bench, threshold=0.45)


@register(
    "q_semantic_decontam",
    """
    SELECT c.vec_id, c.label FROM embeddings c
    WHERE c.vec_id % 10 != 0 AND NOT EXISTS (
      SELECT 1 FROM embeddings b
      WHERE b.vec_id % 10 = 0
        AND round(list_cosine_similarity(c.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 9) >= 0.45)
    """,
)
def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.decontam import semantic_decontaminate
    from bi_utils_spark.queries.core import adaptive_width

    emb = load(spark, sf_dir, "embeddings")
    # same single-split BNLJ shape as q_semantic_contamination
    width = adaptive_width(spark, emb.count())
    corpus = emb.filter(F.col("vec_id") % 10 != 0).repartition(width)
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    return semantic_decontaminate(corpus, bench, threshold=0.45).select(
        "vec_id", "label"
    )


# ===========================================================================
# Interpolated bigram LM scoring (operators/lm.py): CCNet-style
# perplexity one order deeper than unigram — p(w2|w1) = λ·MLE +
# (1−λ)·add-one-unigram backoff. λ literal is written as (1.0 - 0.7)
# on the SQL side so both engines compute the identical double.
# ===========================================================================

@register(
    "q_bigram_logprob",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents
    ),
    um AS (SELECT term, count(*) AS c
           FROM (SELECT unnest(a) AS term FROM t) GROUP BY term),
    uc AS (SELECT sum(c) AS total, count(*) AS v FROM um),
    bp AS (SELECT doc_id, a[i] AS w1, a[i+1] AS w2
           FROM t, unnest(generate_series(1, len(a) - 1)) AS u(i)
           WHERE len(a) >= 2),
    bm AS (SELECT w1, w2, count(*) AS c12 FROM bp GROUP BY w1, w2),
    cx AS (SELECT w1, sum(c12) AS c1 FROM bm GROUP BY w1),
    scored AS (
      SELECT bp.doc_id,
             CAST(round(ln(0.7 * (CAST(bm.c12 AS DOUBLE) / CAST(cx.c1 AS DOUBLE))
                           + (1.0 - 0.7) * ((CAST(um.c AS DOUBLE) + 1.0)
                                            / CAST(total + v AS DOUBLE)))
                        * 1e7) AS BIGINT) AS q
      FROM bp JOIN bm USING (w1, w2) JOIN cx USING (w1)
              JOIN um ON um.term = bp.w2, uc
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           (CAST(sum(q) AS DOUBLE) / 1e7) / count(*) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring on the skew-hardened path: the
    head of the vocabulary distribution (top-32 terms, one bounded
    TakeOrdered fetch) routes hot pairs through the salted join; the
    split is value-invariant, so the oracle is the plain formula."""
    from bi_utils_spark.operators.lm import (
        bigram_logprob_scores,
        top_vocab,
        unigram_model,
    )

    docs = load(spark, sf_dir, "documents")
    uni = unigram_model(docs)
    hot = [r["term"] for r in top_vocab(uni, 32).collect()]
    return bigram_logprob_scores(docs, unigram=uni, hot_terms=hot)


# ===========================================================================
# Source-mixture quota sampling (operators/mixing.py): per-source token
# quotas (equal shares of a 10k-token budget here) filled by the
# hash-ordered document prefix — deterministic data mixing.
# ===========================================================================

@register(
    "q_mixture_sample",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt,
             substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 16) AS h
      FROM documents
    ),
    ng AS (SELECT count(DISTINCT source) AS n FROM d),
    r AS (SELECT d.*, coalesce(sum(nt) OVER (
                PARTITION BY source ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_before
          FROM d)
    SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens
    FROM r, ng
    WHERE cum_before < 10000.0 / ng.n
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.mixing import mixture_sample

    docs = load(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "doc_id", "source", budget_tokens=10_000
    ).select("doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens"))


# ===========================================================================
# BPE merge statistics (operators/lm.py): corpus-weighted adjacent
# char-pair counts over the vocabulary — the first tokenizer-training
# merge step, costed by |vocab|, never the token stream.
# ===========================================================================

@register(
    "q_bpe_top_pairs",
    _MODEL_CTE
    + r"""
    , pc AS (
      SELECT substr(term, i, 2) AS pair, sum(c) AS cnt
      FROM model, unnest(generate_series(1, length(term) - 1)) AS u(i)
      WHERE length(term) >= 2
      GROUP BY pair
    ),
    r AS (SELECT pair, cnt,
                 row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rk
          FROM pc)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS INTEGER) AS rank
    FROM r WHERE rk <= 20
    """,
)
def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import bpe_top_pairs, unigram_model

    docs = load(spark, sf_dir, "documents")
    return bpe_top_pairs(unigram_model(docs), 20)


@register(
    "q_ivfpq_residual_topk",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_corpus,
           CAST(least(10, count(*)) AS BIGINT) AS n_exact,
           1 AS recall_ge_050,
           1 AS self_retrieved
    FROM embeddings
    """,
)
def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-bound oracle row for residual IVF-PQ search
    (operators/pq.py): codes quantize x − anchor[cell] (cell-mean
    anchors), search adds the per-probed-cell q·anchor bias, exact
    shortlist re-rank to top-10. Asserted floors: recall@10 ≥ 0.5 vs
    the exact scan and the query's own vector retrieved."""
    from bi_utils_spark.operators.pq import (
        ivfpq_index_residual,
        ivfpq_topk_residual,
        pq_train_residual,
    )
    from bi_utils_spark.operators.similarity import cosine_topk, kmeans_centroids

    emb = load(spark, sf_dir, "embeddings")
    target = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = kmeans_centroids(emb, 8)
    books, anchors = pq_train_residual(emb, cents, 8, 256)
    idx = ivfpq_index_residual(emb, cents, books, anchors)
    probe = ivfpq_topk_residual(
        emb, target, cents, books, anchors, idx, k=10, nprobe=8,
        refine_factor=10,
    ).select("vec_id")
    exact = cosine_topk(emb, target, k=10).select("vec_id")
    n_corpus = emb.agg(F.count("*").alias("n_corpus"))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    found = probe.join(exact, "vec_id", "left_semi").agg(
        F.count("*").alias("__found")
    )
    self_hit = probe.filter(F.col("vec_id") == 0).agg(
        F.count("*").alias("__self")
    )
    return (
        n_corpus.crossJoin(n_exact)
        .crossJoin(found)
        .crossJoin(self_hit)
        .select(
            "n_corpus",
            "n_exact",
            (
                F.col("__found").cast("double")
                >= 0.5 * F.col("n_exact").cast("double")
            )
            .cast("int")
            .alias("recall_ge_050"),
            (F.col("__self") >= 1).cast("int").alias("self_retrieved"),
        )
    )


# ===========================================================================
# Event-sequence analytics (operators/events.py): ordered funnel and
# weekly cohort retention — classic product analytics over `events`.
# ===========================================================================

@register(
    "q_funnel",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts >= s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
           GROUP BY e.user_id)
    SELECT 1 AS step, 'signup' AS step_name,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.events import funnel_counts

    events = load(spark, sf_dir, "events")
    return funnel_counts(events, ["signup", "click", "purchase"])


@register(
    "q_funnel_latency",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, s1.t1, min(e.ts) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts >= s1.t1
           GROUP BY e.user_id, s1.t1),
    s3 AS (SELECT e.user_id, s2.t2, min(e.ts) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
           GROUP BY e.user_id, s2.t2),
    l2 AS (SELECT (epoch_us(t2) - epoch_us(t1)) / 1e6 AS lat FROM s2),
    l3 AS (SELECT (epoch_us(t3) - epoch_us(t2)) / 1e6 AS lat FROM s3)
    SELECT 2 AS step, 'click' AS step_name,
           CAST((SELECT count(*) FROM l2) AS BIGINT) AS n_converted,
           round(CAST((SELECT quantile_cont(lat, 0.5) FROM l2) AS DOUBLE), 6)
             AS p50_seconds,
           round(CAST((SELECT quantile_cont(lat, 0.9) FROM l2) AS DOUBLE), 6)
             AS p90_seconds
    UNION ALL
    SELECT 3, 'purchase',
           CAST((SELECT count(*) FROM l3) AS BIGINT),
           round(CAST((SELECT quantile_cont(lat, 0.5) FROM l3) AS DOUBLE), 6),
           round(CAST((SELECT quantile_cont(lat, 0.9) FROM l3) AS DOUBLE), 6)
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.events import funnel_latencies

    events = load(spark, sf_dir, "events")
    return funnel_latencies(events, ["signup", "click", "purchase"])


@register(
    "q_event_transitions",
    """
    WITH p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (SELECT from_type, to_type, count(*) AS n
          FROM p WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
    FROM c
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.events import event_transitions

    events = load(spark, sf_dir, "events")
    return event_transitions(events, tiebreak_col="event_id")


@register(
    "q_cohort_retention",
    """
    WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    j AS (SELECT a.user_id, f.cohort,
                 CAST(datediff('day', f.cohort, a.wk) / 7 AS INTEGER)
                   AS offset_weeks
          FROM a JOIN f USING (user_id)),
    per AS (SELECT cohort, offset_weeks,
                   count(DISTINCT user_id) AS n_active
            FROM j GROUP BY cohort, offset_weeks),
    sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort)
    SELECT CAST(per.cohort AS DATE) AS cohort_week, offset_weeks,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(cohort_size AS BIGINT) AS cohort_size,
           CAST(n_active AS DOUBLE) / cohort_size AS retention
    FROM per JOIN sz USING (cohort)
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.events import cohort_retention

    events = load(spark, sf_dir, "events")
    return cohort_retention(events)


# ===========================================================================
# Corpus health report: the per-language curation dashboard — doc and
# token inventory, exact-dup pressure (count − distinct content
# hashes), fixed-point mean quality. One partial-aggregated groupBy.
# ===========================================================================

@register(
    "q_corpus_report",
    r"""
    WITH t AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    m AS (
      SELECT lang,
             len(toks) AS nt,
             sha256(text) AS h,
             CAST(round(((CASE WHEN len(toks) >= 20 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                         AS DOUBLE) / length(text) END) <= 0.2
                   THEN 1.0 ELSE 0.0 END)
              + least((CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks,
                        x -> list_contains(['the','and','of','to','a','is'], x)))
                       AS DOUBLE) / len(toks) END) * 5.0, 1.0)) / 3.0
              * 1e7) AS BIGINT) AS qq
      FROM t
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
           (CAST(sum(qq) AS DOUBLE) / 1e7) / count(*) AS avg_quality
    FROM m GROUP BY lang
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.textstats import quality_score, token_count

    docs = load(spark, sf_dir, "documents")
    qq = F.round(quality_score("text") * 1e7).cast("long")
    return (
        docs.select(
            "lang",
            token_count("text").alias("nt"),
            F.sha2(F.col("text"), 256).alias("h"),
            qq.alias("qq"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
            ((F.sum("qq").cast("double") / F.lit(1e7)) / F.count("*")).alias(
                "avg_quality"
            ),
        )
    )


# ===========================================================================
# Retrieval kNN join (operators/similarity.py::knn_join_exact): every
# query vector's top-k corpus neighbors — the RAG/eval retrieval join.
# Query batch = vec_id % 25 == 0; corpus = the rest.
# ===========================================================================

@register(
    "q_knn_join",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id % 25 = 0),
    c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings
          WHERE vec_id % 25 != 0),
    s AS (SELECT q.query_id, c.neighbor_id,
                 round(list_cosine_similarity(q.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]), 9)
                   AS score
          FROM q, c),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rk FROM s)
    SELECT query_id, neighbor_id, score, CAST(rk AS INTEGER) AS rank
    FROM r WHERE rk <= 5
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.similarity import knn_join_exact

    emb = load(spark, sf_dir, "embeddings")
    return knn_join_exact(
        emb.filter(F.col("vec_id") % 25 == 0),
        emb.filter(F.col("vec_id") % 25 != 0),
        k=5,
    )


# ===========================================================================
# Curriculum ordering (operators/mixing.py::curriculum_order): fluency
# percent-rank → 4 phases (phase 0 = most fluent), deterministic
# within-phase positions — easy-to-hard training layout.
# ===========================================================================

@register(
    "q_curriculum_order",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    model AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    consts AS (SELECT sum(c) AS total, count(*) AS v FROM model),
    scored AS (
      SELECT t.doc_id,
             CAST(round(ln((CAST(m.c AS DOUBLE) + 1.0)
                           / CAST(total + v AS DOUBLE)) * 1e7) AS BIGINT) AS q
      FROM toks t JOIN model m USING (term), consts
    ),
    s AS (SELECT doc_id,
                 (CAST(sum(q) AS DOUBLE) / 1e7) / count(*) AS lp
          FROM scored GROUP BY doc_id),
    p AS (SELECT doc_id, lp, percent_rank() OVER (ORDER BY lp) AS pr FROM s),
    ph AS (SELECT doc_id,
                  CAST(least(floor((1.0 - pr) * 4), 3) AS INTEGER) AS phase,
                  substr(md5(CAST(doc_id AS VARCHAR) || 'curr'), 1, 16) AS h
           FROM p)
    SELECT doc_id, phase,
           CAST(row_number() OVER (PARTITION BY phase
                                   ORDER BY h, doc_id) AS INTEGER) AS pos
    FROM ph
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import unigram_logprob_scores
    from bi_utils_spark.operators.mixing import curriculum_order
    from bi_utils_spark.operators.materialize import materialize

    docs = load(spark, sf_dir, "documents")
    # one materialization: the scoring subtree feeds the rank-CDF
    # build fetches AND both curriculum branches (the q_llm_pipeline
    # shared-stage discipline) — down to 3 exchanges in the final
    # plan (see BENCH_PLANS.json), from 23 without any reuse
    scores = materialize(
        unigram_logprob_scores(docs).select("doc_id", "avg_logprob")
    )
    return curriculum_order(scores, "doc_id", "avg_logprob").select(
        "doc_id", "phase", "pos"
    )


# ===========================================================================
# Token-ID encoding (operators/lm.py::encode_tokens): integer-encode
# the token stream against the deterministic top-200 vocabulary
# (OOV → 0) — the step between curation and sequence packing.
# ===========================================================================

@register(
    "q_encode_tokens",
    _MODEL_CTE
    + r"""
    , vocab AS (SELECT term,
                       row_number() OVER (ORDER BY c DESC, term ASC) AS rank
                FROM model ORDER BY c DESC, term ASC LIMIT 200),
    t AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS a
          FROM documents),
    pe AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, a[i] AS term
           FROM t, unnest(generate_series(1, len(a))) AS u(i))
    SELECT pe.doc_id, pe.pos,
           CAST(coalesce(v.rank, 0) AS INTEGER) AS token_id
    FROM pe LEFT JOIN vocab v USING (term)
    """,
)
def q_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.lm import (
        encode_tokens,
        term_ranks,
        unigram_model,
    )

    docs = load(spark, sf_dir, "documents")
    vocab = term_ranks(unigram_model(docs)).filter(F.col("rank") <= 200)
    return encode_tokens(docs, vocab)


# ===========================================================================
# Deterministic global shuffle (operators/importance.py::shard_positions):
# (shard, pos) addresses forming a pseudorandom permutation — training
# shard layout with no rand() and no global sort (each shard sorts
# ~n/num_shards rows after one hash shuffle).
# ===========================================================================

def _shard_case_sql(num_shards: int) -> str:
    top = (1 << 64)
    whens = []
    for i in range(num_shards - 1):
        bound = format((i + 1) * top // num_shards, "016x")
        whens.append(f"WHEN hx < '{bound}' THEN {i}")
    return "CASE " + " ".join(whens) + f" ELSE {num_shards - 1} END"


@register(
    "q_global_shuffle",
    r"""
    WITH h AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR) || 'shuffle'), 1, 16) AS hx
      FROM documents
    ),
    s AS (SELECT doc_id, hx, """
    + _shard_case_sql(8)
    + r""" AS shard FROM h)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY hx, doc_id) AS INTEGER) AS pos
    FROM s
    """,
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.importance import shard_positions

    docs = load(spark, sf_dir, "documents")
    return shard_positions(docs, "doc_id", num_shards=8).select(
        "doc_id", "shard", "pos"
    )
