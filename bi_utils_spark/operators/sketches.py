"""Count-min sketch heavy hitters (X62).

Exact per-key counts over a 100 TB stream key (URLs, user ids,
n-grams) need a full shuffle of every distinct key; a count-min
sketch (Cormode & Muthukrishnan 2005) compresses the whole frequency
table into a depth x width counter grid that is BROADCAST-sized no
matter the corpus (depth*width rows, e.g. 4 x 4096 = 16K counters),
with the one-sided guarantee estimate >= true count and overcount
<= eps*N with probability 1-delta (eps = e/width, delta = e^-depth).

Spark shape: the corpus explodes each key into `depth` (row, bucket)
cells — partial aggregation (map-side combine) collapses them BEFORE
the shuffle, so the exchange carries at most depth*width rows per
task, never the corpus. Estimation joins candidate keys against the
broadcast sketch. Hashing is the repo's portable-md5 discipline
(first 13 hex chars -> 52-bit int, exact in both engines), so a
DuckDB oracle can replay the ENTIRE sketch bit-exactly — build,
collision sums, and min-over-rows.

Reference: Flaconi/bi_utils has no sketch tier (north-star surface,
same as X57-X61).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize

_HEX = 13  # 52 bits — exact in a double, portable across engines


def _cm_bucket(key: Column, row: int, width: int) -> Column:
    """Portable row-salted bucket: first 13 hex chars of
    md5('cm<row>|' || key) mod width. DuckDB equivalent:
    ``CAST('0x' || substr(md5('cm<row>|' || key), 1, 13) AS BIGINT)
    % width``."""
    salted = F.concat(F.lit(f"cm{row}|"), key.cast("string"))
    return F.conv(F.substring(F.md5(salted), 1, _HEX), 16, 10).cast(
        "long"
    ) % width


def countmin_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 4096,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: one row per non-empty (row, bucket) cell with
    the summed weight (1 per row when ``weight_col`` is None). At most
    depth*width rows — a model-sized table at any corpus size. The
    per-key fan-out of `depth` cells happens map-side and partial
    aggregation collapses it before the single bounded shuffle."""
    k = F.col(key_col)
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(k, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
        w.alias("w"),
    )
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket")
    ).agg(F.sum("w").alias("cnt"))


def countmin_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 4096,
    out_col: str = "est",
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: estimate =
    min over rows of the key's cell counter (missing cell -> 0, which
    only happens for keys absent from the sketched corpus). The
    sketch side broadcasts (<= depth*width rows); the keys side
    explodes to depth probe rows and re-groups on the key — work
    linear in |keys| * depth."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(F.col(key_col), r, width).alias(
                            "bucket"
                        ),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(key_col, "cell.row", "cell.bucket")
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(
            out_col
        )
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_share: float = 0.01,
    depth: int = 4,
    width: int = 4096,
    sample_frac: float | None = None,
    salt: str = "cmhh",
) -> DataFrame:
    """Keys whose estimated count >= min_share * N, found WITHOUT an
    exact full-cardinality groupBy:

    1. candidate generation — distinct keys of a deterministic
       md5-hash sample (``sample_frac``; defaults to
       ``min(1, 50 / (min_share * expected keys))``-style caller
       choice — pass None to use ALL distinct keys, right when the
       key domain is known-small). A true heavy hitter (share >= s)
       appears in a p-sample except with probability
       (1-p)^(s*N) — vanishing for any corpus large enough for the
       sample to matter.
    2. CMS estimates for the candidates (broadcast sketch).
    3. keep est >= min_share * N. CMS one-sidedness means no true
       heavy hitter at the threshold is lost at step 3 (estimates
       never undercount); step 2's overcount can only ADD near-misses
       bounded by eps*N = e*N/width.

    Returns (key, est, share_est). One bounded-output aggregation per
    stage; nothing scales with key cardinality except the sampled
    candidate set. The stream total N is recovered FROM the sketch
    (every key writes `depth` cells, so sum(cnt) = depth * N) — the
    corpus is scanned exactly once, no separate count pass.
    """
    sketch = materialize(countmin_table(df, key_col, depth, width))
    n_row = sketch.agg(
        (F.sum("cnt") / F.lit(depth)).cast("long").alias("__n")
    )
    cand = df.select(key_col)
    if sample_frac is not None and sample_frac < 1.0:
        hexes = F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
            1,
            _HEX,
        )
        # equal-length hex strings compare lexicographically ==
        # numerically; frac >= 1 would need a 14th digit, hence the
        # guard above
        bound = format(int(sample_frac * (16**_HEX)), "013x")
        cand = cand.where(hexes < F.lit(bound))
    cand = cand.distinct()
    est = countmin_estimate(cand, sketch, key_col, depth, width)
    return (
        est.crossJoin(F.broadcast(n_row))
        .where(
            F.col("est").cast("double")
            >= F.lit(float(min_share)) * F.col("__n").cast("double")
        )
        .select(
            key_col,
            "est",
            (F.col("est") / F.col("__n").cast("double")).alias(
                "share_est"
            ),
        )
    )
