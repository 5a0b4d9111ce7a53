"""Importance resampling for training-data selection (DSIR-style).

Selects raw-corpus documents that *distributionally resemble* a small
target corpus — the standard pretraining-data curation move when a
quality subset (e.g. curated reference text) should steer what is kept
from a 100 TB crawl. The construction follows the published DSIR
recipe (Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023):

1. hash unigram+bigram features into a FIXED number of buckets;
2. fit smoothed bucket distributions on the target and raw corpora;
3. per-document importance weight = Σ_features log p_target/p_raw;
4. sample without replacement ∝ softmax(weights) via Gumbel top-k.

Why hashed buckets matter at scale: the log-ratio table is exactly
``num_buckets`` rows (default 4096) no matter how large the corpus
vocabulary is, so the scoring join is ALWAYS a broadcast — a 100 TB
corpus is scored by one map-only pass over its token stream. Without
hashing, a web-scale vocabulary (10⁸⁺ terms) would force a shuffle
join per scoring run.

Engine-portability contract (same discipline as operators/splits.py):
feature→bucket uses the first 13 hex chars of md5 (52 bits — exact in
a double, identical in Spark / DuckDB / Python), per-feature log
ratios are quantized to 1e-7 and summed as exact BIGINTs (the
operators/lm.py pattern), and Gumbel noise is derived from md5 of
(id, salt) — so every number here is oracle-checkable and stable
under repartitioning.

No reference counterpart (the reference has no sampling or data
selection); north-star LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.operators.textstats import tokens

#: log-ratio / Gumbel-key quantum — matches operators/lm.py's 1e7
#: fixed-point trick: quantize per-feature doubles to integers, sum
#: exactly, divide once at the end.
_Q = 1e7

_HEX = 13  # md5 hex chars used: 52 bits, exact in a double


def _md5_bucket(c: Column, num_buckets: int) -> Column:
    """Portable feature→bucket hash: first 13 hex chars of md5, mod B.

    DuckDB equivalent: ``CAST('0x' || substr(md5(x),1,13) AS BIGINT)
    % B`` — bit-identical (md5 is engine-independent and 52 bits fit
    a double/BIGINT exactly in both engines).
    """
    return F.conv(F.substring(F.md5(c), 1, _HEX), 16, 10).cast("long") % num_buckets


def hashed_feature_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 4096,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, bucket, *carry) rows — one row per unigram and bigram
    OCCURRENCE (DSIR counts occurrences, not distinct features), each
    hashed into ``num_buckets`` buckets. ``carry`` columns ride
    through the explode unchanged (labeled one-pass fits).

    Map-only: tokenize, build the bigram array with zip_with over two
    slices of the token array, concat, explode. No shuffle; the
    bucket hash is the only state a row carries forward.

    Expression-shape note: the bigram lambda must reference ONLY its
    lambda arguments — a body that indexes the token array
    (``element_at(toks, i)``) re-evaluates the tokenize subtree per
    element (Catalyst CSE does not reach inside lambda bodies; the
    pitfall ``decontam.ngram_hash_rows`` avoids), turning an n-token
    doc into O(n²) splits — measured 10× slower on sf0.1. zip_with over
    slices evaluates the split a constant number of times per row.
    """
    feats = feature_array(text_col)
    return df.select(
        F.col(id_col).alias("id"), F.explode(feats).alias("feat"), *carry
    ).select(
        "id", _md5_bucket(F.col("feat"), num_buckets).alias("bucket"), *carry
    )


def feature_array(text_col: str) -> Column:
    """The unigram+bigram feature array as a single Column — the
    pre-explode form of :func:`hashed_feature_rows`, reusable by
    map-only consumers (classifier.inline scoring) that fold over the
    array instead of materializing one row per occurrence."""
    toks = tokens(text_col)
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    return F.when(n <= 1, toks).otherwise(F.concat(toks, bigrams))


def bucket_logratio(
    target_df: DataFrame,
    raw_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """(bucket, lr_q) log-ratio table over ALL ``num_buckets`` buckets.

    lr_q = round(1e7 · ln(p_target(b) / p_raw(b))) with add-one
    smoothing over the fixed bucket space: p(b) = (c_b + 1) /
    (total + B). Buckets unseen in both corpora still get a row
    (their ratio is the corpus-size prior), so the scoring join never
    needs a default-value fallback.

    Scale: two feature-count aggregations (shuffle keys = 4096
    buckets — trivially small) + a broadcast-able B-row output. The
    raw corpus pass is the only full-data scan.
    """
    tc = (
        hashed_feature_rows(target_df, id_col, text_col, num_buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    rc = (
        hashed_feature_rows(raw_df, id_col, text_col, num_buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("cr"))
    )
    all_buckets = target_df.sparkSession.range(num_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    joined = (
        # the count tables are <= num_buckets rows by construction —
        # broadcast them so densification never sort-merge-joins
        all_buckets.join(F.broadcast(tc), "bucket", "left")
        .join(F.broadcast(rc), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    return _logratio_tail(joined, num_buckets)


def bucket_logratio_labeled(
    df: DataFrame,
    target_cond: Column,
    neg_cond: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """One-pass form of :func:`bucket_logratio` for the common case
    where target and raw live in the SAME frame, split by a predicate:
    target counts = rows matching ``target_cond``, raw counts = rows
    matching ``neg_cond`` (default: ALL rows, the DSIR convention
    where target ⊆ raw; pass the complement for disjoint-class
    classifier fits). Identical output to the two-frame form —
    same smoothing, same quantization — but the corpus feature
    stream is scanned ONCE with conditional aggregation instead of
    twice. At 100 TB that halves the dominant cost of a fit.

    ``target_cond``/``neg_cond`` must reference columns of ``df``
    (they ride through the feature explode)."""
    feats_src = df.withColumn("__is_t", target_cond.cast("long")).withColumn(
        "__is_r",
        F.lit(1).cast("long") if neg_cond is None else neg_cond.cast("long"),
    )
    feats = hashed_feature_rows(
        feats_src, id_col, text_col, num_buckets, carry=("__is_t", "__is_r")
    )
    counts = feats.groupBy("bucket").agg(
        F.sum("__is_t").alias("ct"), F.sum("__is_r").alias("cr")
    )
    all_buckets = df.sparkSession.range(num_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    joined = all_buckets.join(F.broadcast(counts), "bucket", "left").select(
        "bucket",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    return _logratio_tail(joined, num_buckets)


def _logratio_tail(joined: DataFrame, num_buckets: int) -> DataFrame:
    """Densified (bucket, ct, cr) → (bucket, lr_q): add-one-smoothed
    quantized log ratio (shared tail of the two fit forms)."""
    consts = joined.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    b = F.lit(num_buckets)
    lr = F.log(
        ((F.col("ct") + 1).cast("double") / (F.col("tt") + b).cast("double"))
        / ((F.col("cr") + 1).cast("double") / (F.col("tr") + b).cast("double"))
    )
    return (
        joined.crossJoin(F.broadcast(consts))
        .select("bucket", F.round(lr * _Q).cast("long").alias("lr_q"))
    )


def importance_weights(
    df: DataFrame,
    logratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """(doc_id, n_feats, weight) — per-document DSIR importance weight
    = Σ_feature-occurrences ln(p_target/p_raw) of the feature's bucket.

    The log-ratio table has exactly ``num_buckets`` rows, so the join
    is forced broadcast: the whole scoring is one map-side pass over
    the feature stream plus one groupBy(id) whose shuffle rows are
    (id, partial_sum) after map-side combine — corpus-linear, no
    vocab-sized state anywhere.
    """
    feats = hashed_feature_rows(df, id_col, text_col, num_buckets)
    return (
        feats.join(F.broadcast(logratio), "bucket")
        .groupBy("id")
        .agg(F.count("*").alias("n_feats"), F.sum("lr_q").alias("wq"))
        .select(
            F.col("id").alias(id_col),
            "n_feats",
            (F.col("wq").cast("double") / F.lit(_Q)).alias("weight"),
        )
    )


def importance_weights_inline(
    df: DataFrame,
    logratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Map-only form of :func:`importance_weights`: the B-row
    log-ratio table is collected once (bounded — exactly num_buckets
    rows, the IVF-centroid class) and folded over the feature array
    as a literal, so scoring adds ZERO exchanges over the scan — no
    per-occurrence feature rows, no groupBy. Exact same fixed-point
    sums as the join form (equality-tested). The classifier's
    inline scorer (classifier.inline_logit_q) is this same fold."""
    lr: dict[int, int] = {r["bucket"]: r["lr_q"] for r in logratio.collect()}
    if not lr:
        raise ValueError("empty log-ratio table — fit on a non-empty corpus")
    num_buckets = max(lr) + 1
    if len(lr) != num_buckets:
        # the hash modulus IS the table length; a sparse/filtered table
        # would silently rehash every feature into a different space
        raise ValueError(
            f"log-ratio table is not dense: {len(lr)} rows for modulus "
            f"{num_buckets} — use the full bucket_logratio output"
        )
    warr = F.lit([int(lr[b]) for b in range(num_buckets)])
    feats = feature_array(text_col)
    wq = F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr, (_md5_bucket(t, num_buckets) + 1).cast("int")),
    )
    return df.select(
        F.col(id_col),
        F.size(feats).cast("long").alias("n_feats"),
        (wq.cast("double") / F.lit(_Q)).alias("weight"),
    )


def gumbel_key(weight: Column, id_col: Column, salt: str = "gumbel", temperature: float = 1.0) -> Column:
    """Gumbel-perturbed sampling key, quantized to a BIGINT.

    key = weight/T + G where G = −ln(−ln(u)) and u ∈ (0,1) is derived
    from md5(id‖salt) (13 hex chars → 52-bit integer, +0.5, /2⁵²) —
    deterministic in (id, salt), identical across engines, never 0
    or 1. Taking the top-k rows by this key samples k documents
    without replacement with P ∝ exp(weight/T) — the Gumbel-top-k
    trick, which needs no global normalizing constant: each row's key
    is computed independently, map-only.

    Quantized to 1e-7 so float ulp differences between engines cannot
    reorder rows; break exact key ties by id.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(salt))), 1, _HEX),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << (4 * _HEX)))
    g = -F.log(-F.log(u))
    return F.round((weight / F.lit(temperature) + g) * _Q).cast("long")


def importance_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    salt: str = "gumbel",
    temperature: float = 1.0,
) -> DataFrame:
    """Top-``k`` Gumbel draw from a weight table: (id, weight, key_q),
    the selected subset, sampled without replacement ∝ softmax of
    weights — the final DSIR step.

    Scale: the key is map-only per row; top-k is a TakeOrdered
    (per-partition heaps of k, one merge) — no global sort. For
    k beyond driver memory, swap limit() for a quantile threshold on
    key_q (approxQuantile) and a filter; semantics are identical up
    to boundary ties.
    """
    keyed = weights.withColumn(
        "key_q", gumbel_key(F.col(weight_col), F.col(id_col), salt, temperature)
    )
    return keyed.orderBy(F.desc("key_q"), F.asc(id_col)).limit(k)


def shard_positions(
    df: DataFrame,
    id_col: str,
    num_shards: int = 32,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle: assign every row a (shard, pos)
    address that is a pseudorandom permutation of the dataset —
    training-data shard layout without ``rand()`` (irreproducible) or
    a single global sort.

    shard = equal-width bucket of md5(id‖salt) (hex-threshold compare,
    portable); pos = rank of the hash within its shard. Re-running on
    any repartitioning of the same data yields byte-identical
    addresses, and appending new rows never reorders existing shards'
    relative order (hash order is data-independent).

    Scale: one hash-shuffle on shard (each task sorts only its own
    shard — ~n/num_shards rows), versus a global orderBy's
    range-exchange + skew sensitivity. Write with
    ``partitionBy(shard)`` and the layout is reproducible forever.
    """
    from bi_utils_spark.operators.splits import _bucket_hex, _thresholds

    h = _bucket_hex(F.col(id_col), salt)
    expr = None
    bounds = _thresholds({str(i): 1.0 for i in range(num_shards)})
    for name, bound in bounds[:-1]:
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(int(name))) if expr is None else expr.when(
            cond, F.lit(int(name))
        )
    shard = expr.otherwise(F.lit(int(bounds[-1][0])))
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
        .drop("__h")
    )
