"""Connected components over similarity edges → near-dup clusters.

The missing last step of every dedup pipeline: pair joins (X2a–X2e,
operators/dedup.py) emit *edges*; retention decisions need *groups*
("keep one doc per near-dup cluster"). The reference has no graph
operators at all — this is a north-star extension grounded in the
standard web-scale dedup recipe (MinHash pairs → components → keep
canonical member).

Algorithm: iterative hash-min label propagation. Every node starts
labeled with itself; each round every node takes the min label among
itself and its neighbors; converged when no label changes. Rounds
needed = the longest min-label path in a component — near-dup
clusters are dense and shallow, so a handful of rounds in practice
(the large-star/small-star construction of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014, shortcuts paths for
adversarially long chains; hash-min is that paper's baseline and is
the right trade at cluster diameters seen in dedup).

Scale design:
- per round: one shuffle of the edge list (join on node) + one
  aggregation — both keyed on node ids, broadcast-free, AQE-skew-safe;
- every round's labels are materialized, which cuts the lineage so
  round k does not replay rounds 1..k-1 (iterative-algorithm
  requirement);
- convergence test is one count() per round on the changed-label
  frame — the only driver-side action, O(1) result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id reachable through the edge set.

    Deterministic (min is order-free), undirected (edges are
    symmetrized), self-loop-safe. Raises if not converged within
    ``max_iter`` rounds rather than returning silently wrong labels.

    Size-tiered execution: a ``limit(bound+1).collect()`` probe pulls
    the RAW edge rows in ONE job (≤ 10⁶ rows by default ≈ tens of MB —
    a BOUNDED collect, same class as IVF centroids). When the probe
    fits, the components come from a driver-side union-find that
    symmetrizes and dedups implicitly — the Spark-side symmetrize/
    distinct shuffle, the checkpoint job and the count job are skipped
    entirely: near-dup edge sets are orders of magnitude smaller than
    the corpus, and a handful of Spark rounds on a few thousand edges
    is pure scheduling overhead — measured ~10× wall on sf0.1
    (6 s → 0.5 s) plus two job round-trips saved by the single-job
    probe. Above the threshold the probe's partial work is discarded
    and the distributed hash-min loop runs; both paths compute the
    identical labeling (min reachable id, property-tested against
    each other). Set ``driver_max_edges=0`` to force the distributed
    path.
    """
    if driver_max_edges > 0 and (
        edges.schema[src].dataType == edges.schema[dst].dataType
    ):
        from bi_utils_spark.operators.localrel import collect_limited

        probe = collect_limited(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
            driver_max_edges + 1,
        )
        if len(probe) <= driver_max_edges:
            return _union_find_driver(
                edges.sparkSession,
                probe,
                edges.schema[src].dataType.simpleString(),
            )
    sym = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    labels = materialize(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = materialize(
            labels.join(nbr_min, labels["node"] == nbr_min["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__chg"),
            )
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (component diameter exceeds it)"
    )


def _union_find_driver(spark, rows, utype: str) -> DataFrame:
    """Exact min-label components of collected RAW (u, v) edge rows
    via driver-side union-find with path compression — the
    small-graph tier of :func:`connected_components`. Input is a
    bounded collect (``driver_max_edges + 1`` cap by the caller's
    probe). Symmetrization and duplicate edges are implicit in
    union-find; self-loops and NULL endpoints are skipped to match
    the distributed path's ``u != v`` filter (which also drops NULL
    comparisons), so a node appearing ONLY in self-loops or against
    NULL gets no label on either path. Min-id labeling matches
    hash-min exactly (ints numerically, strings lexicographically —
    Python and Spark agree on both orderings for these key types)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        u, v = row[0], row[1]
        if u is None or v is None or u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the final relabel pass is a pure find
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    # second pass: root labels are already component minima because
    # unions always attach the larger root under the smaller one
    labels = [(n, find(n)) for n in parent]
    from bi_utils_spark.operators.localrel import local_df

    return local_df(spark, labels, f"node {utype}, component {utype}")


def dedup_near_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one canonical row per near-dup cluster: the min-id member
    survives, every other clustered row is dropped, rows in no pair
    pass through untouched.

    The drop list (clustered nodes that are not their component's
    min) is a projection of the components frame — typically orders
    of magnitude smaller than the corpus, so the final filter is a
    left-anti join on the id, broadcast-eligible when small.
    """
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("node") != F.col("component")).select("node")
    return df.join(losers, df[id_col] == losers["node"], "left_anti")


PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point units of total rank


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping_pct: int = 85,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """(node, rank_q, rank) after ``n_iter`` power iterations of
    PageRank with damping ``damping_pct``/100 — the domain-authority
    signal web-curation pipelines rank crawl frontiers and domain
    quotas by (the X59 outlink graph feeds straight in).

    EXACT integer fixed-point arithmetic: ranks live in 1e12 units
    (``rank_q`` BIGINT); per-edge contribution is ``rq div out_deg``,
    damping is ``(p * mass) div 100``, dangling mass redistributes as
    ``dang div N`` — every step floor-divides, so the result is
    bit-identical under any row order, partitioning, or engine (the
    oracle replays all iterations as chained SQL CTEs). The ~1e-12
    mass lost to floors is irrelevant to ranking and fully
    deterministic. ``rank`` = rank_q / 1e12 for human consumption.

    Scale shape: out-degrees join the edge list ONCE up front; each
    iteration is one broadcast (or AQE-shuffle, at web scale where
    |nodes| outgrows a broadcast — set ``broadcast_ranks=False``)
    join of the |nodes|-row rank table against the edges plus one
    partial-aggregable groupBy(dst); the dangling term is a 1-row
    broadcast. Rank frames are materialized per iteration so lineage
    stays flat. n_iter sequential jobs — the irreducible structure of
    power iteration.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        spark = edges.sparkSession
        return spark.createDataFrame(
            [], "node long, rank_q long, rank double"
        )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = materialize(
        e.join(F.broadcast(deg) if broadcast_ranks else deg, "src")
    )
    base_q = (PR_SCALE - damping_pct * PR_SCALE // 100) // n
    ranks = nodes.select(
        "node", F.lit(PR_SCALE // n).cast("long").alias("rq")
    )
    dangling = materialize(
        nodes.join(deg, nodes["node"] == deg["src"], "left_anti")
    )
    for _ in range(n_iter):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            edges_deg.join(r, edges_deg["src"] == r["node"])
            .select(
                "dst", F.expr("rq div deg").alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        dang = (
            dangling.join(r.select(F.col("node").alias("__n"), "rq"),
                          dangling["node"] == F.col("__n"))
            .agg(F.coalesce(F.sum("rq"), F.lit(0)).alias("dang"))
        )
        ranks = materialize(
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base_q)
                    + F.expr(
                        f"({damping_pct} * (coalesce(s, 0)"
                        f" + (dang div {n}))) div 100"
                    )
                )
                .cast("long")
                .alias("rq"),
            )
        )
    return ranks.select(
        "node",
        F.col("rq").alias("rank_q"),
        (F.col("rq").cast("double") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def canonical_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected simple-graph normalization: (a, b) with a < b,
    self-loops dropped, duplicates collapsed. Map-only + one
    distinct shuffle."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return (
        edges.select(a, b).where(F.col("a") != F.col("b")).distinct()
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation + local clustering
    coefficient (X81): ``(node, degree, triangles, lcc)`` with
    lcc = 2·T(v) / (deg(v)·(deg(v)−1)), NULL for degree < 2.

    Compact-forward enumeration (Latapy 2008 / the MapReduce
    formulation of Suri & Vassilvitskii, WWW 2011): orient every
    edge from the (degree, id)-smaller endpoint to the larger, so
    each wedge is generated at its lowest-degree corner exactly
    once and each triangle is found exactly once. Shuffle volume:
    wedges = Σ outdeg(v)² where outdeg ≤ √(2m) by the orientation —
    the O(m^{3/2}) bound that makes this feasible on web graphs
    where a naive neighbor join explodes on hub nodes. Node ids and
    counts only — never adjacency lists — cross a shuffle.
    """
    # the edge set is reused four times (degrees, orientation,
    # closure probe, coefficient join) — materialized so the distinct
    # is not recomputed per consumer
    e = materialize(canonical_edges(edges, src, dst))
    deg = (
        e.select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (degree, id): u -> w iff (deg_u, u) < (deg_w, w)
    da = deg.select(
        F.col("v").alias("a"), F.col("deg").alias("__da")
    )
    db = deg.select(
        F.col("v").alias("b"), F.col("deg").alias("__db")
    )
    ed = e.join(da, "a").join(db, "b")
    fwd = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("y"))
    wedges = o1.join(o2, "u").where(F.col("x") < F.col("y"))
    closing = e.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select(
        F.col("u"), F.col("x"), F.col("y")
    )
    # one generator projection credits all three corners — the
    # triangle join runs ONCE, not three times
    per_node = (
        tris.select(
            F.explode(
                F.array(F.col("u"), F.col("x"), F.col("y"))
            ).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    d = F.col("deg").cast("double")
    return (
        deg.join(per_node, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias(
                "triangles"
            ),
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce(
                    F.col("triangles"), F.lit(0).cast("long")
                ).cast("double")
                / (d * (d - 1.0)),
            ).alias("lcc"),
        )
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation communities (X88), made
    deterministic: labels start as node ids; each round every node
    adopts the most frequent label among its neighbors, ties broken
    by the SMALLEST label; isolated-in-round nodes keep theirs.
    Fixed ``n_iter`` rounds (no data-dependent stopping), so the
    whole run replays as a CTE chain — the pagerank discipline.

    Per round: one edge-label join + one (node, label) count + one
    per-node arg-min/max — all keyed shuffles, no broadcasts of
    corpus-sized state; materializing each round bounds lineage.
    Returns (node, label).
    """
    e = materialize(canonical_edges(edges, src, dst))
    sym = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("s"), F.col("b").alias("d"))
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(n_iter):
        cnt = (
            sym.join(
                labels.select(
                    F.col("node").alias("s"), "label"
                ),
                "s",
            )
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # arg-max by (count desc, label asc) without a window: max
        # over struct(c, -label) — exact, one aggregation
        pick = cnt.groupBy("node").agg(
            F.max(
                F.struct(
                    F.col("c").alias("c"),
                    (-F.col("label")).alias("nl"),
                )
            ).alias("__m")
        ).select("node", (-F.col("__m.nl")).alias("__new"))
        labels = materialize(
            labels.join(pick, "node", "left").select(
                "node",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
        )
    return labels
