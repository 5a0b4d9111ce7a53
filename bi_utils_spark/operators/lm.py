"""Corpus language-model scoring — the CCNet/Gopher-style quality
signal: score every document by its average token log-probability
under a unigram model of the corpus itself (gibberish, boilerplate
and OCR noise score low; fluent text scores near the corpus mode).

Shape at 100 TB:
- the model is one explode + groupBy over the token stream (the same
  shuffle an inverted-index build pays) producing |vocab| rows —
  small enough to broadcast for the scoring join;
- scoring joins each token against the model and aggregates per doc.
  Per-token log-probs are quantized to fixed point (round(x·1e7) as
  BIGINT) before summing, so document scores are bit-identical under
  any row order or partitioning — the property the hash-exact oracle
  gate needs (same trick as similarity.centroid_dims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.operators.textstats import tokens


def unigram_model(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, c) corpus token counts — the unigram model table."""
    return (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) with add-one smoothing:
    logp(t) = ln((c_t + 1) / (total + |V|)). ``model`` defaults to a
    model of ``df`` itself (self-scoring, the CCNet setup); pass a
    reference-corpus model to score a candidate set against clean
    text instead."""
    if model is None:
        model = unigram_model(df, id_col, text_col)
    consts = model.agg(
        F.sum("c").alias("total"), F.count("*").alias("v")
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    logp = F.log(
        (F.col("c").cast("double") + 1.0)
        / (F.col("total") + F.col("v")).cast("double")
    )
    # unseen terms (cross-corpus scoring): c -> 0
    scored = (
        toks.join(F.broadcast(model), "term", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.round(
                F.when(F.col("c").isNull(),
                       F.log(F.lit(1.0) / (F.col("total") + F.col("v")).cast("double")))
                .otherwise(logp)
                * 1e7
            )
            .cast("long")
            .alias("__q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (
            (F.sum("__q").cast("double") / F.lit(1e7)) / F.count("*")
        ).alias("avg_logprob"),
    )


def top_vocab(model: DataFrame, v: int) -> DataFrame:
    """Top-``v`` terms of a unigram model by count (ties broken by
    term, so the vocabulary is deterministic and engine-portable) —
    TakeOrdered over the |corpus vocab| model rows, never the token
    stream."""
    return model.orderBy(F.desc("c"), F.asc("term")).limit(v)


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_rate) — the fraction of each
    document's tokens outside a fixed vocabulary. The tokenizer-fit
    signal used to triage corpora before subword training: high OOV
    flags encoding damage, the wrong language, or gibberish that
    per-token quality heuristics miss.

    Scale: the vocabulary (top-V of a unigram model — bounded by
    construction) broadcasts; the token stream is probed map-side and
    one groupBy(id) aggregates — the same one-shuffle shape as
    unigram scoring."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    flagged = toks.join(
        F.broadcast(vocab.select("term").withColumn("__in", F.lit(1))),
        "term",
        "left",
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
        (
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("oov_rate"),
    )


def term_ranks(model: DataFrame) -> DataFrame:
    """(term, c, rank) — Zipf rank table of a unigram model, rank 1 =
    most frequent, ties broken by term so the ranking is total and
    engine-portable.

    Scale: one window over the MODEL (|vocab| rows), never the token
    stream; the single-partition window is fine up to ~10⁸ vocab rows
    — beyond that, rank via sort + zipWithIndex-style shard offsets.
    """
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    return model.select("term", "c", F.row_number().over(w).alias("rank"))


def head_coverage(model: DataFrame, k: int) -> DataFrame:
    """One row (k, head_tokens, total_tokens, coverage): the fraction
    of all token OCCURRENCES covered by the ``k`` most frequent
    terms — the Zipf-head diagnostic that sizes a tokenizer
    vocabulary (coverage(k) flattening ⇒ bigger V buys nothing).

    Scale: aggregates the model table (|vocab| rows), not the corpus;
    the top-k head is a TakeOrdered inside the same plan.
    """
    head = top_vocab(model, k)
    tot = model.agg(F.sum("c").alias("total_tokens"))
    return (
        head.agg(F.sum("c").alias("head_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(k).alias("k"),
            "head_tokens",
            "total_tokens",
            (
                F.col("head_tokens").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
    )


def bigram_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, w1, w2) rows — one row per adjacent token pair.

    Built row-wise (posexplode + window lead, the
    ``decontam.ngram_hash_rows`` layout): tokenization runs once per
    token, never per pair — an array formulation indexing the token
    array inside a lambda re-evaluates the split per element
    (Catalyst CSE stops at lambda boundaries). One shuffle on doc_id; docs under 2 tokens emit no
    rows.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "w1"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", "w2")
    )


def bigram_model(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(w1, w2, c12) adjacent-pair counts — the bigram model table.

    Scale: groupBy on the pair — same shuffle class as an inverted
    index. The table is heavy-tailed; downstream scoring joins on
    (w1, w2) and should stay a shuffle join (bigram vocab is usually
    too big to broadcast, unlike the unigram model).
    """
    return bigram_pairs(df, id_col, text_col).groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    model: DataFrame | None = None,
    unigram: DataFrame | None = None,
    hot_terms: list[str] | None = None,
    salts: int = 16,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) under an interpolated bigram
    model — the CCNet-style perplexity filter one order deeper than
    unigram scoring (catches shuffled-word salad that unigram scoring
    rates fluent):

        p(w2 | w1) = λ · c(w1,w2)/c(w1,·) + (1−λ) · p_uni(w2)

    with add-one-smoothed unigram backoff p_uni(w2) = (c+1)/(total+V).
    c(w1,·) is the margin of the bigram table itself (Σ_w2 c12), so
    the MLE term is a proper conditional; unseen bigrams (cross-corpus
    scoring) fall back to the backoff term alone. Documents with < 2
    tokens emit no row.

    Determinism: per-pair log-probs quantized to 1e-7 fixed point and
    summed as BIGINTs (per-doc pair multiplicities multiply the
    quantized value — identical to summing per occurrence), so scores
    are bit-identical under any partitioning and under the head/tail
    split, exact against the DuckDB oracle.

    Scale — three skew defenses (VERDICT r4 #9), each independent:

    1. context margins (``ctx``, Σ_w2 c12 per w1) and the unigram
       model are VOCAB-sized, so both join map-side via broadcast —
       the corpus-sized frame never shuffles on the (Zipf-hot) w1
       key at all;
    2. pair rows first compress to one row per (doc, w1, w2) with a
       multiplicity — phase 1 of a two-phase aggregation keyed by the
       doc id (the natural salt: partitioning by doc_id already holds
       from the pairing window, so this adds NO exchange), bounding
       any hot pair's contribution to ≤ 1 row per document before the
       model join;
    3. with ``hot_terms`` (the head of the vocabulary distribution —
       fetch once via ``top_vocab``; a bounded driver list, the
       split-point discipline of filtering.py), pairs whose BOTH
       tokens are head terms — the only keys that can be corpus-hot,
       since c(w1,w2) ≤ min c — take a SALTED join: the head slice of
       the model (≤ |hot|² rows, a filter — no extra model pass)
       replicates across ``salts`` shards and the join keys on
       (w1, w2, salt), spreading each hot key over ``salts``
       partitions; everything else joins the full model on the now
       head-free (hence unskewed) key. Without ``hot_terms`` the
       single join relies on AQE skew splitting — fine until one
       key's occurrences exceed an executor, which at 100 TB a
       stop-word pair will.

    The head/tail branches share the pairing subtree; the doc_id
    exchange under it is ReusedExchange, so the corpus is scanned and
    shuffled once (the pairing window re-runs per branch — CPU only).
    """
    if not 0.0 <= lam < 1.0:
        # lam=1.0 would make an unseen bigram (cross-corpus scoring
        # with a provided `model`) log(0) = -inf, which the fixed-point
        # cast would fold into the sum as a silent sentinel
        raise ValueError(f"lam must be in [0, 1), got {lam}")
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")
    pairs = bigram_pairs(df, id_col, text_col)
    if model is None:
        model = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    if unigram is None:
        unigram = unigram_model(df, id_col, text_col)
    consts = unigram.agg(F.sum("c").alias("total"), F.count("*").alias("v"))
    uni2 = unigram.select(F.col("term").alias("w2"), F.col("c").alias("cu2"))
    # phase 1: per-doc pair multiplicities (no new exchange — the
    # window's doc_id partitioning satisfies this grouping)
    cpairs = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").alias("__n")
    )
    if hot_terms:
        hot = [str(t) for t in hot_terms]
        is_hot = F.col("w1").isin(hot) & F.col("w2").isin(hot)
        salt_arr = F.array(*[F.lit(i) for i in range(salts)])
        head_model = (
            model.filter(F.col("w1").isin(hot) & F.col("w2").isin(hot))
            .withColumn("__salt", F.explode(salt_arr))
        )
        head = (
            cpairs.filter(is_hot)
            .withColumn(
                "__salt",
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salts)).cast("int"),
            )
            .join(head_model, ["w1", "w2", "__salt"], "left")
            .drop("__salt")
        )
        tail = cpairs.filter(~is_hot).join(model, ["w1", "w2"], "left")
        joined = head.unionByName(tail)
    else:
        joined = cpairs.join(model, ["w1", "w2"], "left")
    p_mle = F.coalesce(
        F.col("c12").cast("double") / F.col("c1").cast("double"), F.lit(0.0)
    )
    p_uni = (F.coalesce(F.col("cu2"), F.lit(0)).cast("double") + 1.0) / (
        F.col("total") + F.col("v")
    ).cast("double")
    q = F.round(
        F.log(F.lit(lam) * p_mle + F.lit(1.0 - lam) * p_uni) * 1e7
    ).cast("long")
    scored = (
        joined.join(F.broadcast(ctx), "w1", "left")
        .join(F.broadcast(uni2), "w2", "left")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", F.col("__n"), q.alias("__q"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("__n").alias("n_bigrams"),
        (
            (F.sum(F.col("__q") * F.col("__n")).cast("double") / F.lit(1e7))
            / F.sum("__n")
        ).alias("avg_logprob"),
    )


def bpe_pair_counts(model: DataFrame) -> DataFrame:
    """(pair, cnt) — corpus-weighted adjacent character-pair counts,
    the statistic the first BPE merge step maximizes (Sennrich et al.,
    ACL 2016): for every distinct word, each adjacent char pair
    contributes the word's corpus frequency.

    Input is the unigram model table (term, c), NOT the token stream —
    pair counting is O(|vocab| · word_len), so a 100 TB corpus costs
    the same as its (bounded) vocabulary. The per-term pair transform
    references only the row's ``term`` attribute (no expensive subtree
    inside the lambda), then one groupBy(pair) with map-side partials.
    """
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("term") - 1),
        lambda i: F.col("term").substr(i, F.lit(2)),
    )
    return (
        model.filter(F.length("term") >= 2)
        .select(F.explode(pairs).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("cnt"))
    )


def bpe_top_pairs(model: DataFrame, k: int) -> DataFrame:
    """Top-``k`` merge candidates (pair, cnt, rank), ties broken by
    pair — the deterministic BPE merge queue head."""
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        bpe_pair_counts(model)
        .select("pair", "cnt", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def _spaced_symbols(term) -> "F.Column":
    """Initial BPE word state: characters joined by single spaces
    ('abc' -> 'a b c'). Same regexp both engines."""
    t = F.col(term) if isinstance(term, str) else term
    return F.trim(F.regexp_replace(t, "(.)", "$1 "))


def _apply_merge(spaced, a: str, b: str) -> "F.Column":
    """One EXACT left-to-right BPE merge pass over a spaced-symbol
    string: adjacent (a, b) symbol occurrences become a||b, scanning
    resumes after each replacement (Sennrich et al. 2016 semantics —
    a freshly merged symbol never re-merges within the same step).
    Implemented as a fold with a one-symbol pending register, so
    overlapping runs ('a b a b') and self-pairs ('a a a') merge
    exactly like the reference algorithm — no regex, no lookaround,
    no fixpoint ambiguity."""
    merged = a + b
    sym = F.split(spaced, " ", -1)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("\x00").alias("pend"),  # sentinel: nothing pending
    )

    def step(acc, x):
        hit = (acc["pend"] == a) & (x == b)
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit("\x00").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["pend"] != "\x00",
                    F.concat(acc["out"], F.array(acc["pend"])),
                )
                .otherwise(acc["out"])
                .alias("out"),
                x.alias("pend"),
            )
        )

    def finish(acc):
        return F.when(
            acc["pend"] != "\x00",
            F.concat(acc["out"], F.array(acc["pend"])),
        ).otherwise(acc["out"])

    return F.array_join(F.aggregate(sym, acc0, step, finish), " ")


def _bpe_train_driver(spark, rows, n_merges: int, c_type: str):
    """Driver-side replay of the merge loop for a vocab that fits the
    probe bound — semantics identical to the distributed loop: pair
    counts over consecutive symbols (overlaps counted), argmax with
    (count desc, pair-STRING asc) tie-break, exact left-to-right
    scan-resume merge application. Symbols never contain spaces
    (terms are whitespace-free and merges concatenate), so the string
    pair key is bijective with the symbol pair. ``rows`` carries the
    Spark-computed ``spaced`` state, so the initial symbols are the
    exact _spaced_symbols output, not a Python re-implementation."""
    v = {t: (sp.split(" ") if sp else []) for t, sp, _ in rows}
    cs = {t: c for t, _, c in rows}
    merges: list[tuple[int, str, str, int]] = []
    for step_no in range(1, n_merges + 1):
        cnt: dict[str, int] = {}
        for t, syms in v.items():
            c = cs[t]
            for i in range(len(syms) - 1):
                k = syms[i] + " " + syms[i + 1]
                cnt[k] = cnt.get(k, 0) + c
        if not cnt:
            break
        pair, c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        a, b = pair.split(" ", 1)
        merges.append((step_no, pair, a + b, c))
        merged = a + b
        for t, syms in v.items():
            i, ns = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            v[t] = ns
    from bi_utils_spark.operators.localrel import local_df

    merges_df = local_df(
        spark, merges, "rank int, pair string, merged string, cnt bigint"
    )
    vocab_df = local_df(
        spark,
        [(t, " ".join(syms), cs[t]) for t, syms in v.items()],
        f"term string, spaced string, c {c_type}",
    )
    return merges_df, vocab_df


def bpe_train(
    model: DataFrame,
    n_merges: int,
    checkpoint_every: int = 8,
    driver_max_vocab: int = 65_536,
):
    """Learn ``n_merges`` BPE merges from a unigram model table
    (term, c) — the full iterative tokenizer-training loop, not just
    the first step (:func:`bpe_top_pairs`).

    Returns ``(merges, vocab)``: ``merges`` is a driver-built frame
    (rank, pair, merged, cnt) in merge order; ``vocab`` the final
    (term, spaced, c) symbol state.

    Cost model at 100 TB: the corpus is touched ONCE (to build the
    unigram model upstream); each merge step is one pair-count
    aggregation over the VOCAB table plus a single-row driver action
    (the argmax pair), then a map-only symbol rewrite. n_merges
    sequential vocab-sized jobs — the irreducible sequential structure
    of BPE — with a lazy localCheckpoint every ``checkpoint_every``
    steps so plan depth stays bounded (the mixing.py lineage-diet
    pattern). Ties break by pair text, so the merge sequence is
    deterministic and engine-portable.

    The initial state is EAGERLY localCheckpoint-ed: the model table
    is vocab-bounded by construction, but its LINEAGE reaches back to
    the corpus aggregation that built it — without the cut, every one
    of the n_merges sequential argmax jobs would re-run that corpus
    scan (at 100 TB, n_merges full passes instead of zero; at sf0.1
    this was the measured bulk of q_bpe_encode's wall).

    Size-tiered (r12, the connected_components discipline): a plain
    ``limit(driver_max_vocab + 1).collect()`` probe over the
    checkpointed state pulls the (term, c) rows; when the vocab fits
    ``driver_max_vocab`` the whole merge loop runs driver-side
    (:func:`_bpe_train_driver`) — n_merges sequential argmax jobs
    plus the final state job collapse into ZERO further Spark jobs.
    Identical results by construction (equality property-tested).
    The probe is Spark's escalating take (one partition first, more
    per round) over the checkpoint's cached blocks, so an over-bound
    vocab costs the distributed path a few cheap jobs, never a second
    corpus pass. ``driver_max_vocab=0`` forces the distributed loop.
    """
    spark = model.sparkSession
    state = model.select(
        "term", _spaced_symbols("term").alias("spaced"), "c"
    ).localCheckpoint(eager=True)
    if driver_max_vocab > 0:
        # Plain escalating take (r13, per r12 ADVICE): the child is a
        # scan of the eager checkpoint above — re-running a round is
        # a cached-block read, and an over-bound vocab exits after
        # probing ~1 partition instead of shipping LocalLimit'd rows
        # from every partition through a single-partition exchange.
        rows = state.limit(driver_max_vocab + 1).collect()
        if len(rows) <= driver_max_vocab:
            return _bpe_train_driver(
                spark,
                [(r["term"], r["spaced"], r["c"]) for r in rows],
                n_merges,
                state.schema["c"].dataType.simpleString(),
            )
    merges: list[tuple[int, str, str, int]] = []
    for step_no in range(1, n_merges + 1):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(F.split("spaced", " ", -1)) - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.split("spaced", " ", -1), i),
                F.element_at(F.split("spaced", " ", -1), i + 1),
            ),
        )
        top = (
            state.filter(F.size(F.split("spaced", " ", -1)) >= 2)
            .select(F.explode(pairs).alias("pair"), "c")
            .groupBy("pair")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        a, b = pair.split(" ", 1)
        merges.append((step_no, pair, a + b, cnt))
        state = state.withColumn(
            "spaced", _apply_merge(F.col("spaced"), a, b)
        )
        if step_no % checkpoint_every == 0:
            state = state.localCheckpoint(eager=False)
    from bi_utils_spark.operators.localrel import local_df

    merges_df = local_df(
        spark, merges, "rank int, pair string, merged string, cnt bigint"
    )
    return merges_df, state


def apply_model_delta(
    spark,
    target_path: str,
    delta_model: DataFrame,
    num_buckets: int = 64,
) -> None:
    """Fold a delta unigram model (e.g. ``unigram_model(new_batch)``)
    into the persisted model table at ``target_path`` — the nightly
    corpus-growth pattern: the historical corpus is NEVER re-tokenized;
    only its (vocab-sized) count table is touched.

    Layout: parquet partitioned by ``term_bucket`` =
    pmod(xxhash64(term), num_buckets). Only buckets containing delta
    terms are read (partition pruning) and rewritten
    (partitionOverwriteMode=dynamic) — a small delta touching few
    distinct terms rewrites few buckets; untouched bucket files never
    move. Counts merge by summation, so the result equals a from-
    scratch model of the concatenated corpora (associativity of
    counts; asserted in tests).
    """
    d = delta_model.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets))
    ).persist()
    touched = [r["term_bucket"] for r in d.select("term_bucket").distinct().collect()]

    from pyspark.sql.utils import AnalysisException

    try:
        existing = spark.read.parquet(target_path).filter(
            F.col("term_bucket").isin(touched)
        )
        combined = (
            existing.unionByName(d)
            .groupBy("term", "term_bucket")
            .agg(F.sum("c").alias("c"))
        )
    except AnalysisException:
        combined = d
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        combined.write.mode("overwrite").partitionBy("term_bucket").parquet(
            target_path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        d.unpersist()


def read_model(spark, target_path: str) -> DataFrame:
    """The persisted unigram model as a plain (term, c) frame."""
    return spark.read.parquet(target_path).select("term", "c")


def encode_tokens(
    df: DataFrame,
    ranked_vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, token_id) — integer-encode the token stream
    against a fixed ranked vocabulary (``term_ranks`` /
    ``top_vocab``-shaped: (term, rank)); out-of-vocabulary tokens get
    id 0. The step between text curation and sequence packing: the
    packer (operators/packing.py) consumes token counts, a trainer
    consumes these ids.

    Scale: vocabulary is bounded (top-V by construction) → broadcast;
    encoding is a map-side probe of the token stream. No shuffle at
    all — the posexplode preserves the scan partitioning and the join
    is broadcast.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    return (
        toks.join(F.broadcast(ranked_vocab.select("term", "rank")), "term", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("rank"), F.lit(0)).alias("token_id"),
        )
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode a corpus with a TRAINED merge list (X82) — the apply
    half of :func:`bpe_train`: each whitespace word becomes its
    spaced-character state, every merge replays in rank order with
    the exact left-to-right :func:`_apply_merge` semantics, and the
    document gets its subword sequence back in word order.

    Output: (id, ``out_col`` array<string>, n_bpe_tokens).

    Scale shape: the merge chain runs once per DISTINCT word — the
    classic tokenizer cache — so the expensive fold work is bounded
    by vocabulary size, not corpus size; occurrences get their
    pieces by a broadcast join on the word. The merge list itself is
    model-sized driver state (same contract as bpe_train's output).
    The fold-expression chain grows linearly with ``len(merges)`` —
    fine for the exact oracle-checkable form; a 32k-merge production
    vocabulary would swap the chain for one Arrow ``mapInPandas``
    over the SAME distinct-word table (identical join topology,
    Python only touching |vocab| rows).
    """
    from bi_utils_spark.operators.textstats import tokens

    words = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__w"),
    ).where(F.col("__w") != "")
    vocab = words.select("__w").distinct()
    spaced = _spaced_symbols("__w")
    for a, b in merges:
        spaced = _apply_merge(spaced, a, b)
    encoded = vocab.select(
        "__w", F.split(spaced, " ", -1).alias("__pieces")
    )
    joined = words.join(F.broadcast(encoded), "__w")
    per_doc = joined.groupBy("__id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__pieces"))
                ),
                lambda s: s["__pieces"],
            )
        ).alias(out_col)
    )
    # wordless documents (empty/whitespace text) keep a row with an
    # empty sequence — an encoder must not silently drop inputs
    all_ids = df.select(F.col(id_col).alias("__id")).distinct()
    kept = all_ids.join(per_doc, "__id", "left")
    return kept.select(
        F.col("__id").alias(id_col),
        F.coalesce(
            F.col(out_col), F.array().cast("array<string>")
        ).alias(out_col),
        F.coalesce(F.size(out_col), F.lit(0)).cast("int").alias(
            "n_bpe_tokens"
        ),
    )
