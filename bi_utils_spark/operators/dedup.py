"""Deduplication operators for LLM data pipelines (SURVEY.md §2.14 X1/X2).

Four tiers, cheapest first — a production pipeline runs them in order:

1. :func:`dedup_exact` — content-hash groupBy (one shuffle on the hash).
2. :func:`jaccard_similarity_join` — exact n-gram/token Jaccard via an
   inverted-index self-join (the oracle-checkable ground truth).
3. MinHash + LSH banding — :func:`minhash_signatures` →
   :func:`minhash_near_dup_join`: sub-quadratic candidate generation,
   then exact verification of candidates only.
4. :func:`simhash64` + :func:`simhash_near_dup_join` — 64-bit
   fingerprints, Hamming-distance banding.

Tiers 2–4 and the winnowing fingerprints (copied-passage detection)
take their shingle hashes from one kernel,
``operators/lshkern.py``: tokens and token hashes in JVM codegen,
the shingle combine and per-doc signatures in vectorized numpy per
Arrow batch. Pairing, banding and verification are native Spark SQL.
Scale notes inline per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bi_utils_spark.operators.lshkern import (
    minhash_coeffs,
    per_doc_signatures,
    simhash64,
)


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can ORDER BY / min() the type (maps cannot)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True

# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------


def content_hash(content_cols: list[str], num_bits: int = 256) -> Column:
    """The engine's ONE content-identity expression: sha2 over the
    JSON encoding of the column struct. Injective for any fixed
    schema — field names delimit values (("ab","c") ≠ ("a","bc"))
    and NULL is encoded explicitly, distinct from '' (concat_ws
    would silently skip NULLs, shifting field boundaries).

    Shared by batch ``dedup_exact`` and streaming
    ``dedup_stream_content`` so a record admitted by the stream gate
    and re-audited in batch computes the SAME digest — hash parity is
    the train/serve contract of the dedup tier.
    """
    return F.sha2(
        F.to_json(
            F.struct(*[F.col(c) for c in content_cols]),
            {"ignoreNullFields": "false"},
        ),
        num_bits,
    )


def dedup_exact(
    df: DataFrame,
    content_cols: list[str],
    keep_order_col: str,
    num_bits: int = 256,
) -> DataFrame:
    """Keep one deterministic representative per exact-content group.

    Content identity = sha2 over the JSON encoding of the column
    struct — injective for any fixed schema: field names delimit
    values (("ab","c") ≠ ("a","bc")) and NULL is encoded explicitly,
    distinct from '' (concat_ws would silently skip NULLs, shifting
    field boundaries). The survivor is the
    row with the smallest ``keep_order_col`` — deterministic, unlike
    ``dropDuplicates`` which keeps an arbitrary row per group.

    Scale: one hash-shuffle on the 256-bit digest; map-side partial
    aggregation dedups within partitions first, so the shuffle volume
    is ~unique rows, not input rows. (Map-typed schemas fall back to
    a window — full shuffle — because maps are not orderable.)
    """
    hashed = df.withColumn("__content_hash", content_hash(content_cols, num_bits))
    if all(_orderable(f.dataType) for f in df.schema.fields):
        # min(struct(keep_order, row)) per hash: HashAggregate does
        # map-side PARTIAL aggregation, so within-partition dups never
        # reach the exchange — unlike a window, which shuffles and
        # sorts every input row. Tie-break beyond keep_order_col is
        # the full-row struct order (a deterministic total order; the
        # window's tie pick was arbitrary).
        return (
            hashed.groupBy("__content_hash")
            .agg(
                F.min(
                    F.struct(
                        F.col(keep_order_col).alias("__keep_order"),
                        F.struct(*[F.col(c) for c in df.columns]).alias("__row"),
                    )
                ).alias("__min")
            )
            .select("__min.__row.*")
        )
    # Maps (and arrays/structs of maps) are not orderable, so they
    # cannot ride a min(); keep the window formulation for those.
    w = Window.partitionBy("__content_hash").orderBy(F.asc(keep_order_col))
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__content_hash")
    )


# ---------------------------------------------------------------------------
# X2a: exact Jaccard similarity join (ground truth, oracle-checkable)
# ---------------------------------------------------------------------------


# Below this threshold the PPJoin prefix stops pruning: prefix length is
# sz − ceil(t·sz) + 1 ≈ (1−t)·sz + 1, so at t=0.5 the "pruned" index still
# holds ~half of every shingle set while the plan pays two extra shuffles
# (doc-frequency join + candidate dedup). Interleaved A/B at sf0.1
# (documents, 3-shingles, t=0.5): one-stage 0.80 s vs PPJoin 3.13 s
# steady-state — the crossover sits near t≈0.7 (see SCALE.md).
PPJOIN_MIN_THRESHOLD = 0.7


def jaccard_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_n: int = 1,
    max_token_doc_freq: int | None = None,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """All pairs (a < b) with token/shingle Jaccard ≥ threshold.

    Two exact plans, chosen by threshold when ``prefix_filter`` is
    None (the default):

    - ``prefix_filter=True`` — inverted-index plan with PPJoin-style
      lossless pruning (Bayardo et al. WWW'07 / Vernica et al.
      SIGMOD'10 for the MapReduce form):

      1. prefix filter — order shingles globally rare-first (ascending
         doc frequency); a pair with Jaccard ≥ t must share a shingle
         within each set's first ``sz − ceil(t·sz) + 1`` shingles, so
         only those prefixes are indexed and self-joined;
      2. length filter — qualifying pairs satisfy ``t·|A| ≤ |B| ≤
         |A|/t``, applied inside the candidate join;
      3. verify — exact |A∩B| via array_intersect on the full ordered
         shingle sets, for surviving candidates only.

    - ``prefix_filter=False`` — plain one-stage co-occurrence count
      over the full inverted index (fewer shuffles; wins when the
      prefix wouldn't prune).

    Plan choice: the prefix indexes a ``(1−t)`` fraction of every set,
    so it only pays for its extra doc-frequency and candidate-dedup
    shuffles when ``t`` is high. Auto mode uses PPJoin for
    ``t ≥ PPJOIN_MIN_THRESHOLD`` (measured crossover, SCALE.md) and
    the one-stage plan below it.

    ``max_token_doc_freq`` drops shingles occurring in more than that
    many documents from *candidate generation* (the skew guard for
    boilerplate shingles at corpus scale). With the cap both plans
    lose recall but never report a false pair: the prefix plan still
    verifies exact Jaccard on the full sets, and the one-stage plan's
    co-occurrence counts can only shrink (its reported ``jaccard`` is
    a lower bound for capped pairs). Leave None for exact results.

    Scale: the shuffle key of the candidate join is the shingle;
    ultra-common shingles are skew + quadratic blowup. The prefix
    filter removes them structurally for large sets at high t (common
    shingles sort last and fall outside every prefix); at low t use
    ``max_token_doc_freq``.

    Shingle sets are computed per input row, so ``id_col`` must be
    unique: rows sharing an id are not merged into one document.
    """
    if prefix_filter is None:
        prefix_filter = threshold >= PPJOIN_MIN_THRESHOLD
    # Shingle identity is carried as 64→31-bit hashes, not strings:
    # the corpus is tokenized once, the inverted index and the
    # self-join shuffle 8-byte keys, and Jaccard over the distinct
    # hash sets equals Jaccard over the string sets up to ~2⁻³¹
    # collisions. The per-doc distinct shingle sets come from the
    # map-only Arrow kernel (lshkern.per_doc_signatures), so no token
    # row crosses an exchange before the inverted-index join.
    #
    # The set frame feeds two plan consumers in either branch (the
    # self-join sides below / the doc-frequency aggregate + the work
    # join) and the kernel output carries no exchange ReuseExchange
    # could share, so it is materialized once (localCheckpoint, sized
    # like the corpus' distinct shingle sets). Its blocks stay in
    # executor storage until the frame is garbage-collected, and a
    # lost executor loses them: a localCheckpoint has no lineage to
    # recompute from.
    doc_sets = per_doc_signatures(
        df, id_col, text_col, shingle_n, want_set=True
    ).localCheckpoint()
    dist = doc_sets.select("id", F.explode("sh_set").alias("sh"))
    if not prefix_filter:
        # Carry the set size alongside every shingle row: pair-group keys
        # then already hold both sizes, so no post-aggregation size joins.
        # The size is free off the kernel's set column — no count window.
        inv = doc_sets.select(
            "id",
            F.size("sh_set").alias("sz"),
            F.explode("sh_set").alias("tok"),
        )
        if max_token_doc_freq is not None:
            freq = inv.groupBy("tok").agg(F.count("*").alias("df_tok"))
            inv = (
                inv.join(freq.filter(F.col("df_tok") <= max_token_doc_freq), "tok")
                .drop("df_tok")
            )
        a, b = inv.alias("a"), inv.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sz").alias("sz_a"),
                F.col("b.sz").alias("sz_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
        return _jaccard_from_counts(pairs, threshold)

    dfq = dist.groupBy("sh").agg(F.count("*").alias("dfq"))
    work = dist.join(dfq, "sh")
    # One groupBy(id) produces everything per-doc at once: the FULL
    # shingle set ordered rare-first (global order = (doc freq asc,
    # shingle hash) — total and data-independent, as the prefix lemma
    # requires), its size, and the prefix length. This replaces two
    # window passes (count + row_number over id) with a single shuffle,
    # and the ordered array doubles as the verify-stage operand. The
    # doc-freq cap is applied to the *prefix entries only* (below), so
    # sz and the verify arrays always reflect the unfiltered sets —
    # capped runs lose candidates, never report a wrong Jaccard.
    sets = (
        work.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("dfq", "sh"))).alias("arr"))
        .withColumn("sz", F.size("arr"))
        .withColumn(
            "plen",
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1,
        )
        .withColumn("shs", F.transform("arr", lambda x: x["sh"]))
    )
    pref_entries = F.slice("arr", F.lit(1), F.col("plen"))
    if max_token_doc_freq is not None:
        pref_entries = F.filter(
            pref_entries, lambda x: x["dfq"] <= F.lit(max_token_doc_freq)
        )
    prefix = sets.select(
        "id", "sz", F.explode(pref_entries).alias("p")
    ).select("id", "sz", F.col("p.sh").alias("sh"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t·max(szs) ≤ min(szs) or the pair can't reach t
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify joins attach the two ordered shingle arrays (one row per
    # doc side, not one row per shingle) and compute |A∩B| in codegen
    # with array_intersect. Bytes shuffled are still ~|candidates| ×
    # 2 × avg set size — the win is row count (no per-shingle join +
    # groupBy over exploded rows), not shuffle volume; a hot doc's
    # array is duplicated once per candidate it appears in. At 100 TB
    # bucket `sets` by id (or broadcast the high-fanout docs) so the
    # verify join co-locates without re-shuffling the arrays.
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("shs").alias("shs_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("shs").alias("shs_b"),
        F.col("sz").alias("sz_b"),
    )
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("inter"),
        )
    )
    return _jaccard_from_counts(pairs, threshold)


def _jaccard_from_counts(pairs: DataFrame, threshold: float) -> DataFrame:
    return pairs.select(
        "id_a",
        "id_b",
        (
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# X2b: MinHash + LSH banding
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature (array<bigint> of length ``num_hashes``).

    h_i(x) = (a_i * h(x) + b_i) mod M31, minimized over the doc's
    shingle hashes — the standard Broder construction with a
    universal-hash family (``lshkern.minhash_coeffs``) over one base
    hash. Computed by the shingle-hash kernel in one map-only pass:
    tokens and token hashes in codegen, shingle combine and lane
    minima in vectorized numpy per Arrow batch — no token row ever
    crosses an exchange.

    Scale: signature size is num_hashes * 8 bytes per doc — 64 hashes
    ≈ 512 B regardless of document length, which is the point: the
    100 TB corpus becomes a ~GB-scale signature table.
    """
    return per_doc_signatures(
        df, id_col, text_col, shingle_n, coeffs=minhash_coeffs(num_hashes, seed)
    ).select("id", "minhash")


def _drop_hot_buckets(
    df: DataFrame, key_cols: list[str], max_size: int
) -> DataFrame:
    """Remove rows whose key group exceeds ``max_size`` rows.

    Implemented as aggregate + broadcast ANTI-join rather than a
    count-over-window: the window form shuffles AND SORTS the whole
    frame just to count groups, while the aggregate combines map-side
    and only the (rare, by definition) oversized keys materialize —
    they broadcast, and the filter itself is map-only on the input.
    Interleaved A/B at sf0.1 is a wash (2.3–2.6 s both ways — buckets
    are tiny and the input subtree is computed twice here); the shape
    is chosen for corpus scale, where sorting the full banded frame
    dominates and the hot-key table stays broadcastable by definition.
    """
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_size)
        .select(*key_cols)
    )
    return df.join(F.broadcast(hot), key_cols, "left_anti")


def minhash_band_buckets(
    sig_df: DataFrame, num_bands: int = 16
) -> DataFrame:
    """Explode signatures into (band_id, bucket_hash) LSH buckets.

    rows_per_band = len(sig)/num_bands; docs sharing a bucket in any
    band become candidates. Probability of candidacy for Jaccard s is
    1-(1-s^r)^b — tune (b, r) to the target threshold.
    """
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda band: F.struct(
            band.alias("band_id"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(
                            F.col("minhash"),
                            band * (F.size("minhash") / num_bands).cast("int") + 1,
                            (F.size("minhash") / num_bands).cast("int"),
                        ),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                )
            ).alias("bucket"),
        ),
    )
    return sig_df.select("id", F.explode(bands).alias("bb")).select(
        "id", F.col("bb.band_id").alias("band_id"), F.col("bb.bucket").alias("bucket")
    )


def minhash_candidates(
    sig_df: DataFrame, num_bands: int = 16, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from LSH band buckets.

    Not persisted: the two self-join sides are the identical banded
    subtree, so both sides hash-shuffle on (band_id, bucket) with
    byte-identical Exchange nodes and Catalyst's ReuseExchange runs
    the banding once, sharing the shuffle files — no cached
    partitions left behind (VERDICT r2 #3).

    Scale: the self-join shuffles on (band_id, bucket) — tiny keys,
    and only colliding docs meet. Degenerate buckets (thousands of
    near-identical boilerplate docs) explode quadratically: a bucket
    of n docs emits n·(n−1)/2 pairs, so ONE boilerplate bucket at
    corpus scale dominates the whole join. ``max_bucket_size`` drops
    buckets larger than that from candidate generation (the standard
    recall-for-survival trade — members of a dropped bucket usually
    share several other buckets; recall under caps is property-tested
    in tests/test_llmdata.py). Dropped-bucket counts are observable
    via :func:`lsh_bucket_stats`.
    """
    banded = minhash_band_buckets(sig_df, num_bands)
    if max_bucket_size is not None:
        banded = _drop_hot_buckets(banded, ["band_id", "bucket"], max_bucket_size)
    b1 = banded.alias("x")
    b2 = banded.alias("y")
    return (
        b1.join(
            b2,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def lsh_bucket_stats(sig_df: DataFrame, num_bands: int = 16) -> DataFrame:
    """Bucket-size histogram for the banded frame — the skew probe to
    pick ``max_bucket_size`` from (one row per bucket size with the
    number of buckets and the pair volume that size contributes)."""
    return (
        minhash_band_buckets(sig_df, num_bands)
        .groupBy("band_id", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(
            F.count("*").alias("num_buckets"),
            (
                F.count("*")
                * F.col("bucket_size")
                * (F.col("bucket_size") - 1)
                / 2
            ).cast("long").alias("candidate_pairs"),
        )
        .orderBy(F.desc("bucket_size"))
    )


def minhash_near_dup_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidates verified with *exact* Jaccard on the shingle sets.

    One map-only pass of the shingle-hash kernel
    (lshkern.per_doc_signatures) produces BOTH per-doc artifacts at
    once — the ``num_hashes`` signature lanes and the distinct
    shingle-hash set: no token row ever crosses an exchange, and the
    corpus-scaled state the plan carries is 512 B/doc of signatures
    plus the shingle sets. That frame feeds four plan consumers (two
    banding self-join sides, two verify sides) and carries no exchange
    ReuseExchange could share, so it is materialized once
    (localCheckpoint); at 100 TB, write the per-doc frame out bucketed
    by id instead.

    The verify join re-attaches the shingle-hash sets only for
    candidate pairs (a tiny fraction of the corpus) and computes
    |A∩B| / |A∪B| with array_intersect — no false positives in the
    output; recall is governed by the (bands, rows) choice and, when
    set, ``max_bucket_size`` (hot-bucket cap, see
    :func:`minhash_candidates`).

    Signatures are computed per input row, so ``id_col`` must be
    unique: rows sharing an id would each band and verify as their own
    document and yield duplicate pairs.
    """
    per_doc = per_doc_signatures(
        df,
        id_col,
        text_col,
        shingle_n,
        coeffs=minhash_coeffs(num_hashes, seed),
        want_set=True,
    ).localCheckpoint()
    sigs = per_doc.select("id", "minhash")
    cand = minhash_candidates(sigs, num_bands, max_bucket_size)
    sets = per_doc.select("id", F.col("sh_set").alias("sh"))
    a = sets.alias("sa")
    b = sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = (
        F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    )
    return (
        cand.join(a, F.col("id_a") == F.col("sa.id"))
        .join(b, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_estimated_jaccard(a: Column, b: Column) -> Column:
    """Jaccard estimate from two MinHash signatures: the fraction of
    agreeing lanes (unbiased, stderr ≈ 1/√num_hashes)."""
    agree = F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    )
    return agree.cast("double") / F.size(a).cast("double")


def minhash_near_dup_incremental(
    corpus_sigs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a DELTA against an existing corpus without touching the
    corpus text — the production nightly-load pattern. The corpus is
    represented ONLY by its signature table (512 B/doc); each new
    batch is signed once and banded against corpus ∪ batch.

    Returns ``(pairs, new_sigs)``: pairs (id_a, id_b, est_jaccard ≥
    threshold) where at least one side is a new doc (new×new and
    new×corpus edges — exactly the full-corpus LSH candidate set
    restricted to pairs touching the delta, batch-invariance tested);
    append ``new_sigs`` to the signature table afterwards. Similarity
    here is the signature ESTIMATE (stderr ≈ 1/√num_hashes) — exact
    verification would need corpus text; keep shingle rows around if
    exactness is required.

    Scale: the banded delta is tiny (batch × bands rows) — Spark
    broadcasts it against the corpus banding, so a nightly delta
    against a 10¹¹-doc signature table is one map-side join over the
    banded signatures, never a corpus shuffle.
    """
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n, seed
    )
    all_sigs = corpus_sigs.unionByName(new_sigs)
    banded_new = minhash_band_buckets(new_sigs, num_bands)
    banded_all = minhash_band_buckets(all_sigs, num_bands)
    if max_bucket_size is not None:
        banded_all = _drop_hot_buckets(
            banded_all, ["band_id", "bucket"], max_bucket_size
        )
        banded_new = banded_new.join(
            banded_all.select("id", "band_id", "bucket").distinct(),
            ["id", "band_id", "bucket"],
            "left_semi",
        )
    n = banded_new.alias("n")
    o = banded_all.alias("o")
    cand = (
        F.broadcast(n)
        .join(
            o,
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (F.col("n.id") != F.col("o.id")),
        )
        .select(
            F.least(F.col("n.id"), F.col("o.id")).alias("id_a"),
            F.greatest(F.col("n.id"), F.col("o.id")).alias("id_b"),
        )
        .distinct()
    )
    sa = all_sigs.select(F.col("id").alias("id_a"), F.col("minhash").alias("__ma"))
    sb = all_sigs.select(F.col("id").alias("id_b"), F.col("minhash").alias("__mb"))
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            minhash_estimated_jaccard(F.col("__ma"), F.col("__mb")).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return pairs, new_sigs


# ---------------------------------------------------------------------------
# X2c: SimHash
# ---------------------------------------------------------------------------


def simhash64_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1
) -> DataFrame:
    """(id, fp) SimHash fingerprints of the documents whose text is not
    NULL — :func:`simhash64` (the shingle-hash kernel's SimHash
    Column, re-exported here) over those rows. The corpus ships
    16 B/doc fingerprints, never token rows."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), simhash64(text_col, shingle_n).alias("fp")
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 1,
    max_chunk_bucket_size: int | None = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Banding trick (pigeonhole): split the 64-bit fingerprint into
    ``max_hamming + 1`` near-equal chunks; a pair within Hamming ≤
    max_hamming must agree exactly on ≥ 1 chunk, so the join key is
    (chunk_idx, chunk_value) — sub-quadratic like MinHash-LSH but
    with a hard guarantee.

    Two scale mechanics on top of the plain banded self-join (the
    fingerprint-level dedup observation of Manku et al., WWW'07):

    - **Distinct-fingerprint banding.** Mass-duplicated documents all
      carry the SAME fingerprint, so the banded join runs over
      ``select(fp).distinct()`` — a boilerplate cluster of n docs is
      one row per chunk instead of n quadratically-colliding rows.
      Identical-fp pairs (hamming 0) come from an exact fp-equality
      join instead and are NEVER lost, capped or not; fp-level pairs
      are expanded back to id pairs at the end. Join volume scales
      with distinct fingerprints; output stays pair-complete.
    - **Hot-chunk cap.** ``max_chunk_bucket_size`` drops chunk
      buckets holding more than that many *distinct* fingerprints
      from candidate generation (a dropped bucket means ≥ cap
      near-boilerplate fps agree on 1/(max_hamming+1) of their
      bits). Only cross-fingerprint recall is affected — the
      hamming-0 tier stays exact. Leave None for the full guarantee.

    The (id, fp) frame feeds FIVE consumers of this plan (distinct
    fps, both id-expansion sides, both hamming-0 sides) and carries no
    exchange ReuseExchange could share, so the fingerprint kernel
    would re-run per consumer. It is therefore materialized once
    (``localCheckpoint`` — 16 B/doc, the same
    corpus-becomes-signature-table bound as MinHash). Pass
    ``fingerprints`` (an (id, fp) frame, e.g. an already-checkpointed
    ``simhash64_rows``) to share one materialization across several
    joins/attestations.

    Fingerprints are computed per input row, so ``id_col`` must be
    unique: rows sharing an id would pair with each other as
    hamming-0 duplicates.
    """
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash64_rows(df, id_col, text_col, shingle_n).localCheckpoint()
    )
    nc = max_hamming + 1
    widths = [64 // nc + (1 if i < 64 % nc else 0) for i in range(nc)]
    offsets = [sum(widths[:i]) for i in range(nc)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                (
                    F.col("fp")
                    if widths[i] == 64
                    else F.shiftright(F.col("fp"), offsets[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1)
                    )
                ).alias("chunk_val"),
            )
            for i in range(nc)
        ]
    )
    dfp = fp.select("fp").distinct()
    keyed = dfp.select("fp", F.explode(chunks).alias("c")).select(
        "fp", F.col("c.chunk_idx").alias("ci"), F.col("c.chunk_val").alias("cv")
    )
    if max_chunk_bucket_size is not None:
        keyed = _drop_hot_buckets(keyed, ["ci", "cv"], max_chunk_bucket_size)
    a = keyed.alias("a")
    b = keyed.alias("b")
    fp_pairs = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .distinct()
        .withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
    )
    ids_a = fp.select(F.col("fp").alias("fp_a"), F.col("id").alias("__ia"))
    ids_b = fp.select(F.col("fp").alias("fp_b"), F.col("id").alias("__ib"))
    cross = (
        fp_pairs.join(ids_a, "fp_a")
        .join(ids_b, "fp_b")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    x, y = fp.alias("x"), fp.alias("y")
    same = x.join(
        y, (F.col("x.fp") == F.col("y.fp")) & (F.col("x.id") < F.col("y.id"))
    ).select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        hamming64(F.col("x.fp"), F.col("y.fp")).alias("hamming"),
    )
    return cross.unionByName(same)


# ---------------------------------------------------------------------------
# X2d: embedding-cosine near-duplicate dedup (the semantic tier —
# catches paraphrases that share no shingles). Exact variant for the
# oracle; IVF-celled variant for corpora where n² is unpayable.
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_digits: int | None = 9,
) -> DataFrame:
    """Exact all-pairs (a < b) with cosine ≥ threshold. O(n²) — the
    correctness baseline; use the celled variant at scale."""
    from bi_utils_spark.operators.similarity import cosine_self_join_threshold

    pairs = cosine_self_join_threshold(df, 0.0, id_col, vec_col)
    score = F.round("score", round_digits) if round_digits else F.col("score")
    return pairs.select("id_a", "id_b", score.alias("score")).filter(
        F.col("score") >= threshold
    )


def embedding_dedup_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Keep-list: drop every row having a *smaller-id* near-duplicate
    (star dedup — same keep-first-representative contract as
    dedup_exact's row_number()==1, applied to the similarity graph)."""
    pairs = embedding_near_dup_pairs(df, id_col, vec_col, threshold)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def embedding_near_dup_pairs_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_cells: int = 16,
    iters: int = 2,
    num_assign: int = 3,
) -> DataFrame:
    """Celled near-dup pairs: each vector is indexed into its
    ``num_assign`` nearest IVF cells (multi-assignment — the standard
    recall fix for boundary pairs), candidates are same-cell rows, and
    every candidate is scored with *exact* cosine, so the output has no
    false positives; only recall is approximate (property-tested).

    Pair volume falls from n² to Σ_cell n_cell² and the join shuffles
    on cell_id — AQE splits skewed (hot) cells. Raise num_assign for
    recall, num_cells for selectivity.
    """
    from bi_utils_spark.operators.similarity import (
        ivf_assign_multi,
        kmeans_centroids,
    )

    cents = kmeans_centroids(df, num_cells, id_col, vec_col, iters)
    assigned = ivf_assign_multi(df, cents, num_assign, id_col, vec_col)
    # Pack each cell into one row and score it as a single numpy
    # matmul (cosine_pairs_blocked's diagonal-block layout): thousands
    # of SIMD dots per Python call instead of one codegen fold per
    # candidate pair — measured ~20x on this stage at sf0.1.
    packed = assigned.groupBy("cell_id").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("u").alias("vecs"),
    ).repartition(num_cells)

    import pandas as pd  # noqa: PLC0415

    def score(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for row in pdf.itertuples(index=False):
                ids = np.asarray(row.ids)
                A = np.asarray([list(v) for v in row.vecs])
                S = np.round(A @ A.T, 9)
                ia, ib = np.nonzero(S >= threshold)
                keep = ids[ia] < ids[ib]
                out_a.extend(ids[ia][keep])
                out_b.extend(ids[ib][keep])
                out_s.extend(S[ia, ib][keep])
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "score": out_s})

    cand = packed.mapInPandas(score, schema="id_a long, id_b long, score double")
    # multi-assignment can pair the same ids in several shared cells
    return cand.distinct()


# ---------------------------------------------------------------------------
# X2e: winnowing (rolling-hash) document fingerprints — the MOSS
# construction (Schleimer/Wilkerson/Aiken, SIGMOD 2003).
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowed fingerprint set per document: k-token rolling hashes,
    then the minimum hash of every ``window`` consecutive k-grams,
    deduplicated. Guarantee: two documents sharing a token run of
    length ≥ k + window − 1 share at least one fingerprint.

    Scale: fingerprint count per doc is ~2/(window+1) of its token
    count — a tunable constant-factor sketch (unlike MinHash it is
    position-local, so it also powers containment/plagiarism lookups,
    not just whole-doc similarity). Computed by the shingle-hash
    kernel in one map-only pass (the window minima and the per-doc
    distinct run per Arrow batch), so the plan has no exchange; the
    windows at a document's end are clipped to its last k-gram.
    Fingerprints are computed per input row, so ``id_col`` must be
    unique.
    """
    return per_doc_signatures(
        df, id_col, text_col, k, window=window
    ).select("id", F.explode("wfp").alias("fp"))


def winnowing_near_dup_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    k: int = 4,
    window: int = 5,
    max_fp_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥ min_shared winnowing fingerprints —
    containment-style near-dup detection (catches copied passages in
    otherwise different documents, which whole-doc MinHash dilutes).

    The join shuffles on the 8-byte fingerprint, so a fingerprint
    occurring in n documents contributes n·(n−1)/2 join rows — one
    boilerplate fingerprint (license header, template chrome) at
    corpus scale is a quadratic bomb. ``max_fp_doc_freq`` drops
    fingerprints occurring in more than that many documents before
    the self-join (exactly jaccard's doc-freq filter): capped runs
    can only lower ``shared_fps`` counts, so pairs never appear
    falsely, but pairs held together mostly by boilerplate
    fingerprints drop below ``min_shared`` — the intended semantics
    for near-dup detection. Leave None for the exact join.

    ``id_col`` must be unique (see :func:`winnowing_fingerprints`).
    """
    fps = winnowing_fingerprints(df, id_col, text_col, k, window)
    if max_fp_doc_freq is not None:
        freq = fps.groupBy("fp").agg(F.count("*").alias("df_fp"))
        fps = fps.join(
            freq.filter(F.col("df_fp") <= max_fp_doc_freq), "fp"
        ).drop("df_fp")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# X55: cross-document line dedup (boilerplate removal)
#
# The RefinedWeb / CCNet line-level tier: a LINE that recurs across
# many documents (license headers, nav chrome, cookie banners, OCR
# page furniture) is boilerplate and gets deleted from every
# document; everything else — including blank lines, which carry
# paragraph structure and would otherwise all collide into one
# "duplicate" — survives. Sits between exact whole-doc dedup (X1)
# and span-level dedup (X17): coarser than a k-gram, finer than a
# document.
# ---------------------------------------------------------------------------


def line_doc_freq(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """(line, df) for every non-blank line occurring in >= ``min_df``
    DISTINCT documents — the boilerplate inventory, df descending
    (ties: line ascending) so the worst offenders lead.

    Scale shape: one posexplode (map-only), then a distinct-count
    aggregation keyed on the line — countDistinct partial-aggregates
    map-side, so hot lines (the exact rows we are hunting) never
    funnel raw multiplicity into one reducer. Output is only the
    lines ABOVE the threshold — at 100 TB that is the small end of
    the distribution, not the corpus.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "\n", -1)).alias("line"),
    ).filter(F.trim("line") != "")
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.desc("df"), F.asc("line"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Delete every non-blank line that occurs in >= ``min_df``
    distinct documents; rebuild each document from its surviving
    lines in order. Returns (``id_col``, text_cleaned, n_lines,
    n_removed). Documents whose every line is boilerplate come back
    with empty text (the row is kept — downstream length filters
    decide its fate); rows with NULL ``text_col`` are dropped, same
    as the span-dedup tier.

    Scale shape: the doc-frequency aggregation shuffles 40-byte
    (sha2, partial-count) pairs, never line text; the flag join is
    keyed on the same hash; reconstruction is one ordered
    collect_list per document — three line-or-id-keyed shuffles
    total, and (the near-dup discipline throughout this module) no
    doc-pair enumeration anywhere.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).withColumn("lh", F.sha2(F.col("line"), 256))
    flags = (
        lines.filter(F.trim("line") != "")
        .groupBy("lh")
        .agg(F.countDistinct("id").alias("__df"))
        .filter(F.col("__df") >= min_df)
    )
    flagged = lines.join(flags, "lh", "left").withColumn(
        "__rm", F.col("__df").isNotNull().cast("int")
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("__rm") == 0, F.struct("pos", "line"))
        )
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(kept, lambda x: x["line"]), "\n"
            ).alias("text_cleaned"),
            F.count("*").alias("n_lines"),
            F.sum("__rm").alias("n_removed"),
        )
        .select(
            F.col("id").alias(id_col), "text_cleaned", "n_lines", "n_removed"
        )
    )


def paragraph_doc_freq(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """(paragraph, df) for every non-blank paragraph (units split on
    blank lines, i.e. ``\\n{2,}``) occurring in >= ``min_df`` DISTINCT
    documents — the X55 boilerplate inventory one level up: cookie
    banners and footer blocks usually repeat as whole PARAGRAPHS
    whose internal lines differ too little to clear a line-level
    min_df. Identity is the trimmed paragraph; same scale shape as
    :func:`line_doc_freq` (map-only explode, partial-aggregated
    distinct count, above-threshold output only)."""
    paras = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), r"\n{2,}", -1)).alias("para"),
    ).filter(F.trim("para") != "")
    return (
        paras.groupBy(F.trim("para").alias("paragraph"))
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.desc("df"), F.asc("paragraph"))
    )


def remove_boilerplate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Delete every non-blank paragraph whose TRIMMED text occurs in
    >= ``min_df`` distinct documents; rebuild each document from its
    surviving paragraphs in order, joined by a canonical blank line
    (``\\n\\n`` — runs of 3+ newlines do not round-trip, documented).
    Returns (``id_col``, text_cleaned, n_paragraphs, n_removed);
    fully-boilerplate docs come back empty but present.

    Scale shape == :func:`remove_boilerplate_lines`: sha2 digests
    shuffle, paragraph text never does; flag join + one ordered
    collect_list per doc; no pair enumeration."""
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), r"\n{2,}", -1)).alias(
            "pos", "para"
        ),
    ).withColumn("ph", F.sha2(F.trim(F.col("para")), 256))
    flags = (
        paras.filter(F.trim("para") != "")
        .groupBy("ph")
        .agg(F.countDistinct("id").alias("__df"))
        .filter(F.col("__df") >= min_df)
    )
    flagged = paras.join(flags, "ph", "left").withColumn(
        "__rm",
        (F.col("__df").isNotNull() & (F.trim("para") != "")).cast("int"),
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("__rm") == 0, F.struct("pos", "para"))
        )
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(kept, lambda x: x["para"]), "\n\n"
            ).alias("text_cleaned"),
            F.count("*").alias("n_paragraphs"),
            F.sum("__rm").alias("n_removed"),
        )
        .select(
            F.col("id").alias(id_col),
            "text_cleaned",
            "n_paragraphs",
            "n_removed",
        )
    )
