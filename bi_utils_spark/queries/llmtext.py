"""LLM-data text surface part 1 (SURVEY.md SS2.14): exact dedup,
text stats / language-ID / quality, PII audit, deterministic
splits, the composed LLM pipeline, and near-dup clusters."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bi_utils_spark.queries.core import load, register



# ===========================================================================
# LLM-data-pipeline operators (SURVEY.md §2.14) over documents/embeddings
# ===========================================================================

# --- X1 exact dedup --------------------------------------------------------

@register(
    "q_dedup_exact",
    """
    SELECT doc_id, text, lang, source, n_chars
    FROM (SELECT *, row_number() OVER (
            PARTITION BY sha256(text) ORDER BY doc_id ASC) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.dedup import dedup_exact

    docs = load(spark, sf_dir, "documents")
    return dedup_exact(docs, ["text"], "doc_id")


# --- X5 text stats ---------------------------------------------------------

@register(
    "q_text_stats",
    r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t,
             text
      FROM documents
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             AS n_word_tokens,
           length(text) AS n_chars_measured,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                          AS DOUBLE) / length(text) END AS punct_ratio,
           md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
    FROM toks
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators import textstats as T

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").cast("long").alias("n_tokens"),
        T.word_token_count("text").cast("long").alias("n_word_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        T.punct_ratio("text").alias("punct_ratio"),
        T.content_fingerprint("text").alias("fingerprint"),
    )


# --- X5 token explode + counts --------------------------------------------

@register(
    "q_token_counts",
    r"""
    SELECT tok, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 50
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.textstats import tokens

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(50)
    )


# --- X5 language-ID heuristic ---------------------------------------------

def _lang_id_oracle_sql() -> str:
    """DuckDB oracle for q_lang_id, GENERATED from the same
    LANG_MARKERS table the Spark expression scores with — profiles
    and oracle cannot drift. Tie-break mirrors language_id exactly:
    first language in sorted-code order achieving the max wins; all
    zeros → 'und'."""
    from bi_utils_spark.operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_lines = ",\n             ".join(
        "len(list_intersect(t, [{}])) AS l_{}".format(
            ",".join("'" + w + "'" for w in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    g = "greatest({})".format(", ".join(f"l_{lang}" for lang in langs))
    arms = "\n                ".join(
        f"WHEN l_{lang} = {g} THEN '{lang}'" for lang in langs[:-1]
    )
    return rf"""
    WITH s AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
             {score_lines}
      FROM s
    )
    SELECT doc_id,
           CASE WHEN {g} <= 0 THEN 'und'
                {arms}
                ELSE '{langs[-1]}' END AS lang_guess
    FROM sc
    """


@register("q_lang_id", _lang_id_oracle_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.textstats import language_id

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_guess"))


# --- X5 quality score ------------------------------------------------------

@register(
    "q_quality_score",
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
    )
    SELECT doc_id,
           (length_ok + punct_ok + least(sw * 5.0, 1.0)) / 3.0 AS quality
    FROM m
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.textstats import quality_score

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


# --- X5/X1 doc stats by lang/source ---------------------------------------

@register(
    "q_doc_stats_by_lang",
    """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def q_doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- X2a exact Jaccard near-dup join --------------------------------------

# Shared DuckDB CTE: exact pairwise Jaccard over distinct 3-token
# shingle sets (chr(1)-joined strings — the same ("ab","c") vs
# ("a","bc") separation the Spark side gets from its arithmetic hash
# combine). Parameterized by threshold so the q_jaccard_pairs oracle
# and the recall-bound summaries stay one definition.
def _jaccard_pairs_sql(threshold: float, select: str) -> str:
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sets AS (
      SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, chr(1))]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> array_to_string(t[i:i+2], chr(1))))
             END AS sh
      FROM toks
    ),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    inv AS (SELECT doc_id, unnest(sh) AS tok FROM sets),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id_a, id_b,
             CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
      FROM pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
            >= {threshold}
    )
    {select}
    """


def _pair_recall_summary(
    exact: DataFrame, approx: DataFrame, bound: float, recall_col: str
) -> DataFrame:
    """One-row (n_exact, false_positives, <recall_col>) attestation.

    n_exact is cross-engine-checkable ground truth; false_positives
    (approx pairs outside the exact set) must be 0 because every
    approximate operator here verifies candidates exactly; the recall
    flag is 1 iff |approx ∩ exact| ≥ bound · n_exact — computed
    entirely Spark-side from deterministic (seeded) plans, so the
    oracle pins it as a constant. A recall regression or a false
    positive flips an integer and fails the driver's hash match.
    """
    keys = ["id_a", "id_b"]
    e = exact.select(*keys)
    a = approx.select(*keys)
    n_exact = e.agg(F.count("*").alias("n_exact"))
    fp = a.join(e, keys, "left_anti").agg(F.count("*").alias("false_positives"))
    found = a.join(e, keys, "left_semi").agg(F.count("*").alias("__found"))
    return (
        n_exact.crossJoin(fp)
        .crossJoin(found)
        .select(
            "n_exact",
            "false_positives",
            (
                F.col("__found").cast("double")
                >= F.lit(bound) * F.col("n_exact").cast("double")
            )
            .cast("int")
            .alias(recall_col),
        )
    )


@register(
    "q_jaccard_pairs",
    _jaccard_pairs_sql(0.5, "SELECT id_a, id_b, jaccard FROM jac"),
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bi_utils_spark.operators.dedup import jaccard_similarity_join

    docs = load(spark, sf_dir, "documents")
    # prefix_filter is left at the auto default: at t=0.5 the PPJoin prefix
    # is ~half of every shingle set, so the one-stage co-occurrence plan wins
    # (A/B at sf0.1: 0.80 s vs 3.13 s steady-state); PPJoin kicks in at
    # t >= PPJOIN_MIN_THRESHOLD. Both plans are exact — test_llmdata asserts
    # identical pair sets across them.
    return jaccard_similarity_join(docs, "doc_id", "text", threshold=0.5, shingle_n=3)


# --- text cleaning / PII redaction ----------------------------------------

@register(
    "q_clean_text",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '<[^>]{1,500}>', ' ', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '(?:https?://|www\.)[^\s]+', '<URL>', 'g'),
             '\s+', ' ', 'g')) AS cleaned
    FROM documents
    """,
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup strip + email/URL redaction + whitespace normalization —
    one codegen'd projection. Phone/IP classes use lookarounds (not
    RE2-expressible) so they are unit-tested, not oracle-hashed."""
    from bi_utils_spark.operators import textclean as tc

    docs = load(spark, sf_dir, "documents")
    cleaned = tc.normalize_whitespace(
        tc.redact_pii(tc.strip_markup("text"), phone=None, ip=None)
    )
    return docs.select("doc_id", cleaned.alias("cleaned"))


@register(
    "q_pii_audit",
    r"""
    SELECT
      CAST(SUM(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS total_emails,
      CAST(SUM(len(regexp_extract_all(text,
        '(?:https?://|www\.)[^\s]+'))) AS BIGINT) AS total_urls,
      CAST(COUNT_IF(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0) AS BIGINT)
        AS docs_with_email
    FROM documents
    """,
)
def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII audit: class counts aggregated in one pass."""
    from bi_utils_spark.operators.textclean import pii_counts

    docs = load(spark, sf_dir, "documents")
    cnt = pii_counts("text")
    return docs.agg(
        F.sum(cnt["n_emails"]).alias("total_emails"),
        F.sum(cnt["n_urls"]).alias("total_urls"),
        F.sum((cnt["n_emails"] > 0).cast("long")).alias("docs_with_email"),
    )


# --- deterministic splits & samples ---------------------------------------
# Threshold hexes are computed by the SAME module code the Spark side
# uses, interpolated into the oracle SQL — one source of truth.

def _split_sql_case() -> str:
    from bi_utils_spark.operators.splits import _thresholds

    ths = _thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    h = "substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 16)"
    whens = " ".join(
        f"WHEN {h} < '{bound}' THEN '{name}'" for name, bound in ths[:-1]
    )
    return f"CASE {whens} ELSE '{ths[-1][0]}' END"


@register(
    "q_hash_split",
    f"""
    SELECT {_split_sql_case()} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment — md5-hex thresholds,
    identical row→split mapping in Spark and the DuckDB oracle."""
    from bi_utils_spark.operators.splits import hash_split

    docs = load(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).groupBy(
        "split"
    ).agg(F.count("*").alias("n_docs"))


@register(
    "q_det_sample",
    """
    SELECT doc_id FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'sample'), 1, 16)
          < '4000000000000000'
    """,
)
def q_det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25% deterministic sample — same surviving ids on every run,
    every partitioning, both engines."""
    from bi_utils_spark.operators.splits import deterministic_sample

    docs = load(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.25).select("doc_id")


# --- composed LLM training-data pipeline ----------------------------------

def _llm_pipeline_oracle_sql() -> str:
    """End-to-end DuckDB oracle for q_llm_pipeline (VERDICT r3 #1),
    composed from the SAME SQL fragments that verify each stage
    individually: q_clean_text's clean expression → q_dedup_exact's
    min-id survivor window → _JACCARD_EDGES_CTE + q_dedup_canonical's
    recursive components → the generated q_lang_id scoring +
    q_quality_score's quality formula. Output is integer-only (lang,
    counts), so the hash match is float-free."""
    from bi_utils_spark.operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_lines = ",\n             ".join(
        "len(list_intersect(t, [{}])) AS l_{}".format(
            ",".join("'" + w + "'" for w in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    g = "greatest({})".format(", ".join(f"l_{lang}" for lang in langs))
    arms = "\n                ".join(
        f"WHEN l_{lang} = {g} THEN '{lang}'" for lang in langs[:-1]
    )
    return rf"""
    WITH RECURSIVE cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '<[^>]{{1,500}}>', ' ', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                 '(?:https?://|www\.)[^\s]+', '<URL>', 'g'),
               '\s+', ' ', 'g')) AS text
      FROM documents
    ),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM cleaned)
      WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM uniq
    ),
    sets AS (
      SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, chr(1))]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> array_to_string(t[i:i+2], chr(1))))
             END AS sh
      FROM toks
    ),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    inv AS (SELECT doc_id, unnest(sh) AS tok FROM sets),
    grouped AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b
      FROM grouped
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM jp
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM jp
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    kept AS (
      SELECT u.doc_id, u.text, t.t
      FROM uniq u JOIN toks t USING (doc_id)
      WHERE u.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    ),
    sc AS (
      SELECT doc_id, t, text,
             {score_lines}
      FROM kept
    ),
    scored AS (
      SELECT CASE WHEN {g} <= 0 THEN 'und'
                  {arms}
                  ELSE '{langs[-1]}' END AS lang,
             ((CASE WHEN len(t) >= 20 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                            AS DOUBLE) / length(text) END) <= 0.2
                     THEN 1.0 ELSE 0.0 END)
              + least((CASE WHEN len(t) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(t,
                             x -> list_contains(['the','and','of','to','a','is'], x)))
                            AS DOUBLE) / len(t) END) * 5.0, 1.0)) / 3.0 AS q,
             len(t) AS n_toks
      FROM sc
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens
    FROM scored
    WHERE q >= 0.5
    GROUP BY lang
    """


@register("q_llm_pipeline", _llm_pipeline_oracle_sql())
def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline, composed from stages that
    are each individually oracle-verified: clean (q_clean_text) →
    exact dedup on cleaned content (q_dedup_exact) → near-dup
    canonical retention (q_dedup_canonical) → per-language corpus
    stats gated on quality (q_lang_id / q_quality_score). The DuckDB
    oracle replays the WHOLE composition (see
    :func:`_llm_pipeline_oracle_sql`); the clean stage uses the
    RE2-expressible PII classes (email/URL — same subset q_clean_text
    verifies) so both engines compute the identical corpus; the
    lookaround-based phone/IP classes stay available in
    textclean.clean_text and are unit-tested instead.

    Scale shape: clean is map-only and fuses into the scan; both dedup
    tiers shuffle on small keys (hash / shingle); the final stats are
    one partial-aggregated groupBy on a low-cardinality key.
    """
    from bi_utils_spark.operators import textclean as tc
    from bi_utils_spark.operators.dedup import (
        dedup_exact,
        jaccard_similarity_join,
    )
    from bi_utils_spark.operators.graph import dedup_near_canonical
    from bi_utils_spark.operators.textstats import (
        language_id,
        quality_score,
        token_count,
    )
    from bi_utils_spark.operators.materialize import materialize

    docs = load(spark, sf_dir, "documents")
    cleaned = docs.select(
        "doc_id",
        tc.normalize_whitespace(
            tc.redact_pii(tc.strip_markup("text"), phone=None, ip=None)
        ).alias("text"),
    )
    # The deduped corpus feeds TWO consumers (the Jaccard self-join
    # and the final canonical anti-join); materialize it so the
    # clean+window-dedup chain runs once, not once per consumer.
    uniq = materialize(dedup_exact(cleaned, ["text"], keep_order_col="doc_id"))
    pairs = jaccard_similarity_join(uniq, "doc_id", "text", threshold=0.5, shingle_n=3)
    kept = dedup_near_canonical(uniq, pairs)
    return (
        kept.select(
            language_id("text").alias("lang"),
            quality_score("text").alias("q"),
            token_count("text").alias("n_toks"),
        )
        .filter(F.col("q") >= 0.5)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )


# --- near-dup clusters: connected components over similarity edges --------

_JACCARD_EDGES_CTE = r"""
    toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sets AS (
      SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, chr(1))]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> array_to_string(t[i:i+2], chr(1))))
             END AS sh
      FROM toks
    ),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    inv AS (SELECT doc_id, unnest(sh) AS tok FROM sets),
    grouped AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b
      FROM grouped
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM jp
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM jp
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    ),
    comp AS (
      SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    )
"""


@register(
    "q_dedup_clusters",
    "WITH RECURSIVE "
    + _JACCARD_EDGES_CTE
    + """
    SELECT node AS doc_id, component FROM comp
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: exact-Jaccard edges → connected components
    (component id = min doc_id). The oracle computes the same fixpoint
    with a recursive transitive-closure CTE."""
    from bi_utils_spark.operators.dedup import jaccard_similarity_join
    from bi_utils_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_similarity_join(docs, "doc_id", "text", threshold=0.5, shingle_n=3)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


@register(
    "q_dedup_canonical",
    "WITH RECURSIVE "
    + _JACCARD_EDGES_CTE
    + """
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level retention: one canonical (min-id) doc survives per
    near-dup cluster; unpaired docs pass through."""
    from bi_utils_spark.operators.dedup import jaccard_similarity_join
    from bi_utils_spark.operators.graph import dedup_near_canonical

    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_similarity_join(docs, "doc_id", "text", threshold=0.5, shingle_n=3)
    return dedup_near_canonical(docs, pairs).select("doc_id")
