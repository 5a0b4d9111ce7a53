"""Distributed k-means over embedding columns — Lloyd's algorithm in
the shape Spark wants it: centroids are k·d driver state baked into
the plan as literals, assignment is a map-only pass, the update step
is one groupBy((cluster, dim)) with map-side combine. Used for topic
balancing / corpus diagnostics ("how many docs per semantic cluster")
and as the trainer behind IVF-style partitioning.

Scale shape per iteration: ONE corpus pass, shuffle rows = k·d
partial sums (tiny at any corpus size), driver state = k·d doubles.
No point ever joins against another point; the corpus is never
collected. This is the same discipline as similarity.kmeans_centroids
/ pq_train, but iterated exactly and ORACLE-CHECKABLE:

Engine-exact arithmetic (the lm.py/importance.py fixed-point
discipline, extended to geometry):

- initial centroids are the vectors of the k smallest ids, quantized
  to the 1e-7 grid;
- squared distance is computed on PRE-QUANTIZED residuals:
  d² = Σ_dims round((x_i − c_i)·1e7)² as exact BIGINTs — the argmin
  (ties → lowest cluster index) is therefore identical in Spark,
  DuckDB and Python, with no float-accumulation-order anywhere;
- the update step averages exact fixed-point sums
  (c_i ← round(Σ round(x_i·1e7) / n) / 1e7), so the next round's
  literals are bit-identical across engines; empty clusters keep
  their previous centroid.

Bounds: per-dim residuals saturate at ⌊√((2⁶³−1)/dim)⌋ (``_qcap`` —
derived from the actual vector dimension, ≈ |x − c| ≤ 37.9 at
dim=64), so distance sums NEVER overflow BIGINT regardless of input
or dimensionality — unit-scale
embeddings stay exact, corrupt/out-of-range vectors rank as maximal
outliers instead of raising; inertia aggregates through
DECIMAL(38,0). The update step's coordinate sums are exact while
Σ|x|·1e7 per (cluster, dim) < 2⁵³ (~4·10⁸ unit-scale rows/cluster).

No reference counterpart; north-star LLM-pipeline surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bi_utils_spark.functions.litarrays import lit_double_array

_Q = 1e7


def _round_half_away(x: float) -> int:
    """round-half-away-from-zero — matches Spark's HALF_UP and DuckDB's
    round() (Python's built-in round is banker's and would diverge)."""
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _quantize(v: list[float]) -> list[float]:
    return [_round_half_away(float(x) * _Q) / _Q for x in v]


def _qcap(dim: int) -> int:
    """Per-dim residual saturation, derived from the ACTUAL dimension:
    ⌊√((2⁶³−1)/dim)⌋, so Σ_d q² ≤ dim · cap² < 2⁶³ and the distance
    sum stays in BIGINT for ANY input, any dimensionality. At dim=64
    the cap is ≈ 3.796e8, i.e. |x − c| ≤ ~37.9 (unit-scale data is ~1)
    stays EXACT; beyond, the distance saturates deterministically —
    far is still far, so corrupt/wrong-model vectors rank as maximal
    outliers instead of wrapping into negative distances (ANSI off)
    or raising (ANSI on)."""
    return math.isqrt((2**63 - 1) // max(dim, 1))


def _dist2_cols(vec_col, centroids: list[list[float]]):
    """One exact fixed-point squared-distance Column per centroid.
    The saturation cap is computed from each centroid's length, so
    the no-overflow guarantee holds regardless of embedding dim."""
    out = []
    for cent in centroids:
        cap = _qcap(len(cent))
        carr = lit_double_array(cent)
        q = F.zip_with(
            vec_col,
            carr,
            lambda x, c: F.least(
                F.greatest(
                    F.round((x.cast("double") - c) * F.lit(_Q)).cast("long"),
                    F.lit(-cap),
                ),
                F.lit(cap),
            ),
        )
        out.append(
            F.aggregate(q, F.lit(0).cast("long"), lambda acc, e: acc + e * e)
        )
    return out


def kmeans_init(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[list[float]]:
    """Deterministic seed: the vectors of the ``k`` smallest ids,
    1e-7-quantized. A TakeOrdered of k rows — bounded driver fetch."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    return [_quantize(list(r[vec_col])) for r in rows]


def kmeans_init_farthest(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[list[float]]:
    """Deterministic farthest-first seeding (the greedy 2-approx of
    k-center; the deterministic cousin of k-means++): seed 1 is the
    smallest-id vector, each next seed the point maximizing its
    distance to the nearest chosen seed (exact fixed-point distances,
    ties → smallest id). Avoids the mirror-skew local optima the
    smallest-id seed can fall into when the first k ids cluster
    together.

    Cost: k − 1 corpus aggregates (each a max-by over the scan —
    map-only against the literal seeds chosen so far), k·d driver
    state. Use for quality; keep :func:`kmeans_init` where the
    SQL-replayable oracle needs the trivially-expressible seed."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(1).collect()
    if not rows:
        return []
    cents = [_quantize(list(rows[0][vec_col]))]
    while len(cents) < k:
        dmin = F.array_min(F.array(*_dist2_cols(F.col(vec_col), cents)))
        far = (
            df.select(id_col, vec_col, dmin.alias("__d"))
            .orderBy(F.desc("__d"), F.asc(id_col))
            .limit(1)
            .collect()
        )
        if not far or far[0]["__d"] == 0:
            break  # fewer distinct points than k
        cents.append(_quantize(list(far[0][vec_col])))
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """(id, vec, cluster, d2q) — nearest centroid per row, map-only.
    ``d2q`` is the exact fixed-point squared distance (units 1e-14);
    ties resolve to the lowest cluster index.

    Two bit-identical implementations (equality-tested):

    - ``"column"`` — k fold expressions per row. SQL-replayable shape,
      but higher-order functions are interpreted, not codegen'd, so
      each row pays ~k·d interpreted lambda calls.
    - ``"numpy"`` (the ``"auto"`` choice) — one vectorized residual/
      clip/square/argmin per Arrow batch (the embsig.py carve-out:
      Python only where vectorized numpy is the point; measured ~3×
      on the assignment pass). Same arithmetic exactly: float64
      residuals (IEEE, same as JVM doubles), round-half-away (=Spark
      HALF_UP), saturation at the per-dim cap BEFORE the int cast
      (cap < 2⁵³ so the float compare is exact), int64 square-sums
      that cannot overflow by the cap's construction, and argmin
      taking the FIRST minimum (= array_position's first match).

    Both are stateless projections — either runs on unbounded streams
    (streaming/classify.attach_cluster).

    Bit-equality holds for every WELL-FORMED input (d-length vectors
    of finite floats — jitter, saturation boundary, centroid ties all
    equality-tested). Malformed rows are where the numpy form is the
    DEFINED behavior: NULL vector, wrong dimensionality, NULL/NaN/inf
    elements emit NULL cluster/d2q and flow on — one ragged record
    must not raise inside an Arrow batch and kill the job (or the
    stream). The Column form's malformed behavior is an accident of
    SQL null rules: NULL vectors match (NULL row), but missing
    elements saturate to −cap via null-skipping greatest/least, and
    NaN raises under ANSI — reasons not to rely on it off the happy
    path.
    """
    if impl == "auto":
        impl = "numpy"
    if impl == "column":
        dists = F.array(*_dist2_cols(F.col(vec_col), centroids))
        return df.select(
            F.col(id_col),
            F.col(vec_col),
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cluster"),
            F.array_min(dists).alias("d2q"),
        )
    if impl != "numpy":
        raise ValueError(f"unknown impl {impl!r} (use 'auto'|'column'|'numpy')")
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)
    dim = C.shape[1] if C.size else 0
    cap = float(_qcap(max(dim, 1)))
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, {vec_col} {vec_t}, cluster int, d2q long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = list(pdf[vec_col])
            # Malformed rows (NULL vector, wrong length, NULL/NaN
            # element) get NULL cluster/d2q and flow on — the Column
            # form's behavior; one bad record must not kill the job
            # (or the stream) the way a ragged np.array would.
            arrs = []
            valid: list[int] = []
            for i, v in enumerate(vecs):
                if v is None or len(v) != dim:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if not np.isfinite(a).all():
                    continue
                valid.append(i)
                arrs.append(a)
            clusters: list[int | None] = [None] * n
            d2qs: list[int | None] = [None] * n
            if arrs:
                V = np.array(arrs)  # m×d
                t = (V[:, None, :] - C[None, :, :]) * _Q  # m×k×d
                q = np.where(t >= 0, np.floor(t + 0.5), np.ceil(t - 0.5))
                q = np.clip(q, -cap, cap).astype(np.int64)
                d2 = (q * q).sum(axis=2, dtype=np.int64)  # in-range by cap
                cl = d2.argmin(axis=1)
                dd = d2.min(axis=1)
                for j, i in enumerate(valid):
                    clusters[i] = int(cl[j])
                    d2qs[i] = int(dd[j])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: vecs,
                    "cluster": pd.array(clusters, dtype="Int32"),
                    "d2q": pd.array(d2qs, dtype="Int64"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema=out_schema)


def _assign_update_partials(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused Lloyd-update pass: assignment + per-batch (cluster, dim)
    partial sums in ONE Arrow stage — (cluster, dim, s, n) rows with
    s = Σ round(x·1e7) as int64 and n the member count.

    Replaces the assign → posexplode(vec) → groupBy((cluster, dim))
    chain: the old shape shipped every vector back to the JVM and
    shuffled n·d exploded rows per iteration; this one shuffles
    ≤ k·d rows per task (guide §2.3 "aggregate before you shuffle").
    Bit-identical by construction: the assignment math is
    kmeans_assign's exactly, and the update sum is integer addition
    of the same round-half-away quantized terms (associative and
    commutative, so batch-level partials cannot change the total —
    int64 wrap-around matches Spark long arithmetic). Malformed rows
    (NULL/ragged/non-finite vectors) are excluded exactly as the old
    chain excluded them (their NULL cluster group was never read
    back). Equality with the unfused chain is pinned in
    tests/test_clustering.py."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)
    dim = C.shape[1] if C.size else 0
    k = C.shape[0]
    cap = float(_qcap(max(dim, 1)))
    out_schema = "cluster int, dim int, s long, n long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = []
            for v in pdf[vec_col]:
                if v is None or len(v) != dim:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if not np.isfinite(a).all():
                    continue
                arrs.append(a)
            if not arrs:
                continue
            V = np.array(arrs)  # m×d
            t = (V[:, None, :] - C[None, :, :]) * _Q  # m×k×d
            q = np.where(t >= 0, np.floor(t + 0.5), np.ceil(t - 0.5))
            q = np.clip(q, -cap, cap).astype(np.int64)
            d2 = (q * q).sum(axis=2, dtype=np.int64)
            cl = d2.argmin(axis=1)
            # update quantization: round-half-away(x·Q) with NO cap —
            # the exact terms F.round(x·Q).cast("long") summed before
            tv = V * _Q
            qv = np.where(tv >= 0, np.floor(tv + 0.5), np.ceil(tv - 0.5)).astype(
                np.int64
            )
            out_c, out_d, out_s, out_n = [], [], [], []
            for c in range(k):
                members = qv[cl == c]
                if not len(members):
                    continue
                s = members.sum(axis=0, dtype=np.int64)
                out_c.extend([c] * dim)
                out_d.extend(range(dim))
                out_s.extend(int(x) for x in s)
                out_n.extend([len(members)] * dim)
            yield pd.DataFrame(
                {
                    "cluster": pd.array(out_c, dtype="int32"),
                    "dim": pd.array(out_d, dtype="int32"),
                    "s": pd.array(out_s, dtype="int64"),
                    "n": pd.array(out_n, dtype="int64"),
                }
            )

    return df.select(vec_col).mapInPandas(run, schema=out_schema)


def _kmeans_fit_driver(rows, k: int, iters: int) -> list[list[float]]:
    """Driver-side replay of the Lloyd loop over a bounded collect —
    the connected_components/bpe_train size-tier. Arithmetic is
    EXACTLY the distributed path's: init = the k smallest ids'
    vectors on the 1e-7 grid (NULL ids first, as Spark sorts them);
    assignment = the numpy batch math of _assign_update_partials
    (round-half-away, per-dim saturation cap, int64 square sums,
    first-argmin); update = int64 sums of the same quantized terms
    (associative — batch/partition boundaries cannot change them)
    divided by member count. Malformed vectors (NULL/ragged/
    non-finite) are skipped from assignment/update exactly as the
    Arrow path skips them (equality property-tested)."""
    import numpy as np

    srt = sorted(
        rows, key=lambda r: (r[0] is not None, 0 if r[0] is None else r[0])
    )
    cents = [_quantize(list(r[1])) for r in srt[:k]]
    dim = len(cents[0]) if cents else 0
    arrs = []
    for r in rows:
        v = r[1]
        if v is None or len(v) != dim:
            continue
        a = np.asarray(v, dtype=np.float64)
        if not np.isfinite(a).all():
            continue
        arrs.append(a)
    if not arrs or not cents:
        return cents
    V = np.array(arrs)
    tv = V * _Q
    qv = np.where(tv >= 0, np.floor(tv + 0.5), np.ceil(tv - 0.5)).astype(
        np.int64
    )
    cap = float(_qcap(max(dim, 1)))
    for _ in range(iters):
        C = np.array(
            [[float(x) for x in c] for c in cents], dtype=np.float64
        )
        t = (V[:, None, :] - C[None, :, :]) * _Q
        q = np.where(t >= 0, np.floor(t + 0.5), np.ceil(t - 0.5))
        q = np.clip(q, -cap, cap).astype(np.int64)
        cl = (q * q).sum(axis=2, dtype=np.int64).argmin(axis=1)
        nxt = []
        for c, old in enumerate(cents):
            members = qv[cl == c]
            if len(members):
                s = members.sum(axis=0, dtype=np.int64)
                n = len(members)
                nxt.append(
                    [_round_half_away(int(si) / n) / _Q for si in s]
                )
            else:
                nxt.append(old)
        cents = nxt
    return cents


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    init: str = "first",
    driver_max_rows: int = 65_536,
) -> list[list[float]]:
    """Run ``iters`` Lloyd update steps from the deterministic seed
    and return the final centroids. Each iteration: one map-only
    assignment pass + one (cluster, dim) aggregate whose shuffle is
    k·d rows; the k·d partial-sum table is the only driver fetch.
    ``init``: "first" (smallest-id vectors — SQL-replayable, the
    oracle form) or "farthest" (greedy k-center seeding — better
    optima, k−1 extra scans).

    Size-tiered (r12): a plain ``limit(driver_max_rows + 1).collect()``
    probe (Spark's escalating take) pulls the (id, vec) rows; when
    they fit ``driver_max_rows`` the whole loop runs driver-side
    (:func:`_kmeans_fit_driver`) — the init job plus ``iters``
    sequential fit jobs collapse into one bounded collect (≤ ~35 MB
    at the default bound for d=64 doubles, the same class as the k·d
    partial fetch the loop already made per iteration).
    Identical centroids by construction (equality property-tested);
    over-bound corpora pay one truncated probe and the unchanged
    distributed loop. ``driver_max_rows=0`` forces the distributed
    path."""
    if init == "first" and driver_max_rows > 0:
        # Plain escalating take (r13, per r12 ADVICE): the child is a
        # cheap scan, so re-running it per take round costs little,
        # the first round usually satisfies the limit, and an
        # over-bound corpus exits after probing ~1 partition instead
        # of shipping LocalLimit'd vectors from EVERY partition
        # through a single-partition exchange.
        probe = df.select(id_col, vec_col).limit(driver_max_rows + 1).collect()
        if len(probe) <= driver_max_rows:
            return _kmeans_fit_driver(
                [(r[0], r[1]) for r in probe], k, iters
            )
    if init == "farthest":
        cents = kmeans_init_farthest(df, id_col, vec_col, k)
    elif init == "first":
        cents = kmeans_init(df, id_col, vec_col, k)
    else:
        raise ValueError(f"unknown init {init!r} (use 'first' or 'farthest')")
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        sums = (
            _assign_update_partials(df, cents, id_col, vec_col)
            .groupBy("cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = (r["s"], r["n"])
        nxt = []
        for c, old in enumerate(cents):
            if c in by_cluster:
                nxt.append(
                    [
                        _round_half_away(by_cluster[c][d][0] / by_cluster[c][d][1])
                        / _Q
                        for d in range(dim)
                    ]
                )
            else:
                # empty cluster: keep its previous centroid
                nxt.append(old)
        cents = nxt
    return cents


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    cap: int = 25,
    salt: str = "bal",
    bucket_hex_chars: int = 2,
    init: str = "first",
) -> DataFrame:
    """(id, cluster) — a topic-balanced subset: at most ``cap`` rows
    per k-means cluster, chosen as the cluster's ``cap`` smallest
    md5(id‖salt) hashes (the splits.py portable-hash discipline —
    deterministic, repartition-stable, oracle-checkable).

    Per-group top-k without a per-cluster global sort: stage 1 ranks
    within (cluster, hash-prefix sub-bucket) — tasks sort
    ~n/(k·256) rows; survivors are ≤ 256·cap per cluster, and
    stage 2 re-ranks those to the exact global per-cluster top-cap
    (any global top-cap row is also in its sub-bucket's top cap, so
    the two-level result is identical to the one-level one —
    asserted in tests)."""
    cents = kmeans_fit(df, id_col, vec_col, k, iters, init)
    assigned = kmeans_assign(df, cents, id_col, vec_col).select(id_col, "cluster")
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    staged = (
        assigned.withColumn("__h", h)
        .withColumn("__b", F.substring("__h", 1, bucket_hex_chars))
    )
    w1 = Window.partitionBy("cluster", "__b").orderBy("__h", id_col)
    survivors = staged.withColumn("__rn1", F.row_number().over(w1)).filter(
        F.col("__rn1") <= cap
    )
    w2 = Window.partitionBy("cluster").orderBy("__h", id_col)
    return (
        survivors.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= cap)
        .select(id_col, "cluster")
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    quantile: float = 0.95,
    init: str = "first",
) -> DataFrame:
    """(id, cluster, d2q, is_outlier) — flag rows whose squared
    distance to their k-means centroid sits in the top
    (1 − ``quantile``) tail of the corpus-wide distance distribution.
    The standard embedding-hygiene pass (corrupt decodes, wrong-model
    vectors and mislabeled shards land far from every topic).

    The threshold is the exact corpus percent-rank of d2q
    (filtering.attach_percent_rank — two-level bucketed CDF, no
    corpus-wide sort), so the flag is deterministic and
    oracle-checkable; swap in filtering.quantile_thresholds for the
    sketch path when an ε-approximate tail is fine."""
    from bi_utils_spark.operators.filtering import attach_percent_rank

    assigned = kmeans_assign(
        df, kmeans_fit(df, id_col, vec_col, k, iters, init), id_col, vec_col
    ).select(id_col, "cluster", "d2q")
    ranked = attach_percent_rank(assigned, "d2q", "__pr")
    return ranked.select(
        id_col,
        "cluster",
        "d2q",
        (F.col("__pr") > quantile).alias("is_outlier"),
    )


def kmeans_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    init: str = "first",
) -> DataFrame:
    """(cluster, n, inertia) after ``iters`` Lloyd steps — cluster
    sizes and the exact per-cluster inertia (Σ d², de-quantized).
    The inertia sum runs through DECIMAL(38,0) so accumulation order
    cannot flip bits on either engine."""
    cents = kmeans_fit(df, id_col, vec_col, k, iters, init)
    assigned = kmeans_assign(df, cents, id_col, vec_col)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.col("d2q").cast("decimal(38,0)")).cast("double")
                / F.lit(_Q * _Q)
            ).alias("inertia"),
        )
    )
