"""Benchmark decontamination + duplicated-span statistics.

Training-data hygiene operators (SURVEY.md §2.14 north-star family;
no reference counterpart — the reference is an ELT utility layer):

- :func:`contamination_report` / :func:`decontaminate` — the GPT-3
  appendix-C procedure: flag corpus documents sharing any n-token
  gram with a held-out benchmark/eval set, then drop them. The
  benchmark side is tiny by definition, so its distinct n-gram set is
  **broadcast** and the corpus side never shuffles: tokenize → n-gram
  hash → map-side hash probe → one groupBy(id) that reuses the
  n-gram window's partitioning. Zero corpus-sized shuffles beyond
  the one per-doc window pass.

- :func:`duplicated_span_stats` — the Lee et al. ("Deduplicating
  Training Data Makes Language Models Better", ACL 2022) corpus
  diagnostic: per document, the fraction of k-gram positions whose
  k-gram also occurs in ≥ 1 *other* document. Unlike the pair joins
  in ``dedup.py`` this never enumerates pairs — the doc-frequency
  table joins back as a per-gram flag, so a boilerplate gram shared
  by a million docs costs a million join rows, not a trillion pair
  rows. Shuffle budget: the per-doc window, one groupBy(sh) for doc
  frequency, one join on sh (AQE handles hot grams), one groupBy(id).

N-gram identity is the full 64-bit ``xxhash64`` of the
space-rejoined token window (tokens cannot contain whitespace, so
the join is injective) — not the 31-bit arithmetic combine used by
the MinHash pipeline, because these operators compare counts across
*independent* sets where 2⁻³¹ birthday collisions are not
negligible at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.operators.textstats import tokens


def ngram_hash_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, keep_pos: bool = False
) -> DataFrame:
    """(id[, pos], sh) rows — 64-bit hashes of the n-token grams.

    Documents shorter than ``n`` tokens contribute NO rows (they
    cannot contain an n-gram; the contract every consumer and every
    oracle mirrors), unlike the near-dup shingle kernel
    (``operators/lshkern.py``), which gives a short document one
    padded shingle and hashes to 31 bits. Row-wise window shape:
    tokenization runs exactly once per token, the gram string is a
    ``concat_ws`` over window leads, and everything is whole-stage
    codegen with a single shuffle on id.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    if n == 1:
        out = toks.select("id", "pos", F.xxhash64("tok").alias("sh"))
        return out if keep_pos else out.select("id", "sh")
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    staged = toks.withColumn("ng", F.concat_ws(" ", *parts)).withColumn(
        "n_toks", F.count("*").over(Window.partitionBy("id"))
    )
    out = staged.filter(F.col("pos") <= F.col("n_toks") - n).select(
        "id", "pos", F.xxhash64("ng").alias("sh")
    )
    return out if keep_pos else out.select("id", "sh")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Per contaminated corpus document: how much of it overlaps the
    benchmark. Returns (``id_col``, n_shared, n_ngrams, contamination)
    for every corpus doc with ≥ n tokens, n_shared = distinct n-grams
    also present anywhere in the benchmark (0 when clean),
    contamination = n_shared / n_ngrams.

    Scale: the benchmark's distinct n-gram hash set is broadcast (an
    eval suite is KBs–MBs of text); the corpus is tokenized once, the
    probe is map-side, and both aggregates reuse the n-gram window's
    id-partitioning — no corpus-sized shuffle beyond that window.
    """
    bench = (
        ngram_hash_rows(benchmark, id_col, bench_text_col or text_col, n)
        .select("sh")
        .distinct()
    )
    grams = ngram_hash_rows(corpus, id_col, text_col, n).dropDuplicates(
        ["id", "sh"]
    )
    per_doc = grams.join(
        F.broadcast(bench.withColumn("__hit", F.lit(1))), "sh", "left"
    ).groupBy("id").agg(
        F.count("*").alias("n_ngrams"),
        F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_shared"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        F.col("n_shared"),
        F.col("n_ngrams"),
        (F.col("n_shared") / F.col("n_ngrams")).alias("contamination"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_shared: int = 0,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Corpus rows whose benchmark n-gram overlap is ≤ ``max_shared``
    distinct grams (default: drop on ANY overlap — the GPT-3 rule).
    Documents shorter than ``n`` tokens cannot be contaminated and are
    always kept. Anti-join on the flagged-id set, so the corpus
    payload columns stream through untouched.
    """
    flagged = (
        contamination_report(corpus, benchmark, id_col, text_col, n, bench_text_col)
        .filter(F.col("n_shared") > max_shared)
        .select(id_col)
    )
    return corpus.join(flagged, id_col, "left_anti")


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Span-level exact dedup (the Lee et al. 2022 procedure proper):
    delete every token covered by a k-gram that occurs in ≥
    ``min_doc_freq`` distinct documents, keeping the rest of each
    document intact. Returns (``id_col``, text_deduped, n_tokens,
    n_removed); documents shorter than ``k`` tokens pass through
    unchanged (they contain no k-gram).

    A token at position j is covered iff some duplicated gram starts
    in [j−k+1, j] — computed as a per-doc running ``max`` over the
    dense position order (rows frame of k−1 preceding), so coverage
    is one window pass, and reconstruction is one ordered
    ``collect_list`` per doc. Shuffle budget = duplicated_span_stats
    plus the per-doc window/groupBy pair, all keyed on id or gram —
    still no pair enumeration anywhere.
    """
    spans = ngram_hash_rows(df, id_col, text_col, k, keep_pos=True)
    docfreq = (
        spans.dropDuplicates(["id", "sh"])
        .groupBy("sh")
        .agg(F.count("*").alias("__df"))
    )
    dup_starts = spans.join(docfreq, "sh").select(
        "id", "pos", (F.col("__df") >= min_doc_freq).cast("int").alias("__dup")
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    flagged = toks.join(dup_starts, ["id", "pos"], "left").withColumn(
        "__dupz", F.coalesce("__dup", F.lit(0))
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(-(k - 1), 0)
    cov = flagged.withColumn("__cov", F.max("__dupz").over(w))
    kept = F.sort_array(
        F.collect_list(
            F.when(F.col("__cov") == 0, F.struct("pos", "tok"))
        )
    )
    return cov.groupBy("id").agg(
        F.array_join(F.transform(kept, lambda x: x["tok"]), " ").alias(
            "text_deduped"
        ),
        F.count("*").alias("n_tokens"),
        F.sum("__cov").alias("n_removed"),
    ).select(
        F.col("id").alias(id_col), "text_deduped", "n_tokens", "n_removed"
    )


def top_duplicated_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    top: int = 20,
) -> DataFrame:
    """(gram, n_docs) — the ``top`` k-grams occurring in the most
    distinct documents: the boilerplate miner that tells you WHAT the
    duplication is (license headers, template chrome, OCR banners)
    before you pick caps and thresholds for the dedup tiers. Keeps
    gram TEXT (this is a reporting operator); identity dedup happens
    on the (id, gram) pair, the count shuffles small (gram, 1)
    partials, and the top slice is a TakeOrdered — never a full sort.
    Deterministic tie-break: gram ascending."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    if k == 1:
        grams = toks.select("id", F.col("tok").alias("gram"))
    else:
        w = Window.partitionBy("id").orderBy("pos")
        parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
        staged = toks.withColumn("gram", F.concat_ws(" ", *parts)).withColumn(
            "n_toks", F.count("*").over(Window.partitionBy("id"))
        )
        grams = staged.filter(F.col("pos") <= F.col("n_toks") - k).select(
            "id", "gram"
        )
    return (
        grams.dropDuplicates(["id", "gram"])
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(top)
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Per document: (``id_col``, n_spans, n_dup_spans, dup_frac) where
    a "span" is a k-gram occurrence (position) and it counts as
    duplicated iff its k-gram occurs in ≥ 1 OTHER document. Documents
    shorter than k tokens emit no row. The corpus-level duplication
    diagnostic that motivates span-level dedup (Lee et al. 2022).

    Doc frequency = number of DISTINCT documents containing the gram,
    so within-doc repetition (already measured by
    ``textstats.repetition_stats``) never inflates dup_frac.
    """
    rows = ngram_hash_rows(df, id_col, text_col, k, keep_pos=True)
    docfreq = (
        rows.dropDuplicates(["id", "sh"])
        .groupBy("sh")
        .agg(F.count("*").alias("__df"))
    )
    flagged = rows.join(docfreq, "sh").withColumn(
        "__dup", (F.col("__df") >= 2).cast("int")
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("__dup").alias("n_dup_spans"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_frac"),
        )
    )


def semantic_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "vec_id",
    bench_id: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_digits: int = 9,
    max_broadcast_rows: int | None = 1_000_000,
) -> DataFrame:
    """(corpus_id, bench_id, score) — corpus embeddings whose cosine
    to ANY benchmark embedding reaches ``threshold``: the semantic
    tier of decontamination. The n-gram tier (:func:`contamination_
    report`) catches verbatim leakage; this tier catches paraphrased
    eval items that share no grams with their source.

    Plan shape mirrors the lexical tier: the benchmark side is tiny
    by definition, so it is **broadcast** and the corpus side never
    shuffles — a BroadcastNestedLoopJoin evaluating the codegen
    cosine fold per (corpus, bench) pair, i.e. a map-only corpus scan
    doing |bench| dot products per row. At 10⁹ corpus × 10⁴ bench
    vectors that is the same work as one ANN probe sweep but with
    zero recall risk; for benchmark sets too big to broadcast, run
    :func:`bi_utils_spark.operators.similarity.ivf_topk` per bench
    item instead and verify candidates exactly.

    Scores stay on the deterministic codegen fold (not the SIMD
    blocked path), rounded to ``round_digits`` — oracle-exact. The
    double-cast arrays and norms are hoisted into per-SIDE
    projections below the join (evaluated once per row, not once per
    pair — the broadcast side materializes them at broadcast time),
    so each pair costs exactly ONE dot fold; the quotient
    dot/(norm·norm) is the same expression tree as ``cosine()``, so
    scores are bit-identical to the unhoisted form. Measured ~3× on
    this stage at sf0.1.

    ``max_broadcast_rows`` enforces the "benchmark side is tiny"
    contract: a bench set over the bound raises ``BroadcastSizeError``
    (pointing at the IVF probe path) instead of planning a runaway
    BNLJ. None = caller-attested size.
    """
    from bi_utils_spark.operators.guards import require_broadcastable
    from bi_utils_spark.operators.similarity import _as_double, dot, norm

    benchmark = require_broadcastable(
        benchmark, max_broadcast_rows, "benchmark",
        "semantic_contamination_pairs",
        "similarity.ivf_topk probes per benchmark item (verify "
        "candidates exactly)",
    )
    c = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))
    b = benchmark.select(
        F.col(bench_id).alias("bench_id"),
        _as_double(F.col(vec_col)).alias("__bv"),
    ).withColumn("__bn", norm(F.col("__bv")))
    score = F.round(
        dot(F.col("__cv"), F.col("__bv")) / (F.col("__cn") * F.col("__bn")),
        round_digits,
    )
    return (
        c.join(F.broadcast(b), score >= F.lit(threshold))
        .select("corpus_id", "bench_id", score.alias("score"))
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "vec_id",
    bench_id: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_broadcast_rows: int | None = 1_000_000,
) -> DataFrame:
    """Corpus rows with NO benchmark embedding at cosine ≥ threshold —
    the drop step. Same broadcast map-only shape (and the same
    ``max_broadcast_rows`` contract on the bench side); the anti-join
    keeps the corpus unshuffled."""
    hits = semantic_contamination_pairs(
        corpus, benchmark, corpus_id, bench_id, vec_col, threshold,
        max_broadcast_rows=max_broadcast_rows,
    ).select(F.col("corpus_id").alias(corpus_id)).distinct()
    return corpus.join(hits, corpus_id, "left_anti")
