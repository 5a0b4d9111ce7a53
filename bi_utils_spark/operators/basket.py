"""Market-basket analysis: frequent pairs & association rules (X96).

"Customers who bought A also bought B" — support, confidence, lift
for co-occurring item pairs. The scale discipline is support
pruning BEFORE pair enumeration (the Apriori property: a pair can
only be frequent if both items are): infrequent items drop via a
broadcast semi-join, so the per-basket pair explosion is bounded by
(frequent items per basket)², not catalog size. Baskets are
naturally small (order lines); a degenerate mega-basket is bot
traffic for the DQ tier.

All metrics derive from four exact counts (N baskets, c_a, c_b,
c_ab) — the ratios are single double divisions, engine-exact:
- support(a,b)   = c_ab / N
- conf(a→b)      = c_ab / c_a  (and b→a symmetrically)
- lift           = N·c_ab / (c_a·c_b)  (>1 ⇒ positive association)

Shuffles: one distinct on (basket, item), one item-count agg
(broadcast back), one basket-keyed self-join, one pair-count agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bi_utils_spark.operators.materialize import materialize


def frequent_item_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_count: int = 2,
    min_pair_count: int = 2,
) -> DataFrame:
    """(item_a, item_b, c_a, c_b, c_ab, n_baskets, support,
    conf_a_b, conf_b_a, lift) for unordered pairs (a < b) meeting
    the support floors. Counts are basket-level (duplicates of an
    item within one basket count once)."""
    # the distinct (basket, item) frame feeds the item-count agg AND
    # the pruned pair join — materialize it once
    bi = materialize(
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        ).distinct()
    )
    item_counts = bi.groupBy("__i").agg(
        F.count(F.lit(1)).alias("__c")
    )
    frequent = item_counts.where(
        F.col("__c") >= min_item_count
    )
    kept = bi.join(
        F.broadcast(frequent.select("__i")), "__i", "left_semi"
    )
    # basket total rides a broadcast 1-row frame — no driver action;
    # distinct baskets over the RAW frame equal distinct baskets over
    # the deduped (basket, item) frame, and the raw scan is cheaper
    # than a third pass over the distinct subtree
    nb = df.agg(
        F.countDistinct(F.col(basket_col)).alias("n_baskets")
    )
    a = kept.select(
        F.col("__b"), F.col("__i").alias("item_a")
    )
    b = kept.select(
        F.col("__b"), F.col("__i").alias("item_b")
    )
    pairs = (
        a.join(b, "__b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= min_pair_count)
    )
    ca = frequent.select(
        F.col("__i").alias("item_a"), F.col("__c").alias("c_a")
    )
    cb = frequent.select(
        F.col("__i").alias("item_b"), F.col("__c").alias("c_b")
    )
    n = F.col("n_baskets").cast("double")
    out = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "c_a",
            "c_b",
            "c_ab",
            "n_baskets",
            (F.col("c_ab").cast("double") / n).alias("support"),
            (
                F.col("c_ab").cast("double")
                / F.col("c_a").cast("double")
            ).alias("conf_a_b"),
            (
                F.col("c_ab").cast("double")
                / F.col("c_b").cast("double")
            ).alias("conf_b_a"),
            (
                n
                * F.col("c_ab").cast("double")
                / (
                    F.col("c_a").cast("double")
                    * F.col("c_b").cast("double")
                )
            ).alias("lift"),
        )
    )
    return out
