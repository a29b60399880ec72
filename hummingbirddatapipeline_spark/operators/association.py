"""Market-basket co-occurrence mining (association rules; Agrawal &
Srikant 1994's support/confidence frame plus lift) — "parts bought
together" over order lines, "docs sharing rare tokens" over corpora.

Scale-first shape: baskets collapse to one sorted distinct-item array
(one shuffle), pairs generate per basket from the array
(``operators.setsim.sorted_pairs``, the LSH bucket stage's pair
generator — never a basket self-join), and two hash aggregates
produce item and pair counts. The ``max_basket`` cap bounds
per-basket pair fanout exactly like LSH's bucket cap: a degenerate
mega-basket (one customer buying the whole catalog) contributes
O(catalog^2) pairs that say nothing — capped baskets are dropped and
counted, not silently exploded.

All ratios derive from exact BIGINT counts with explicit double
division, so an independent engine reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hummingbirddatapipeline_spark.operators.setsim import sorted_pairs


def basket_cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket: int = 1000,
) -> DataFrame:
    """Pairwise co-occurrence with support / confidence / lift.

    Returns one row per unordered item pair (item_a < item_b) seen in
    at least ``min_pair_count`` baskets: (item_a, item_b, n_pair,
    n_a, n_b, support, conf_a_to_b, conf_b_to_a, lift), where support
    = n_pair / n_baskets, confidence = n_pair / n_antecedent, and
    lift = n_pair * n_baskets / (n_a * n_b) (>1 = positively
    associated). Ratios rounded 6dp; counts stay exact.
    """
    baskets = df.groupBy(basket_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("__items")
    )
    # Lineage cut (r15, guide §1.2): the capped basket frame feeds
    # THREE consumers (denominator count, item counts, pair explode)
    # and Catalyst inlines each reference — without truncation the
    # basket collect_set shuffle re-runs per consumer. One skinny
    # (basket, items<=max_basket) frame; build once, read blocks.
    kept = baskets.filter(
        F.size("__items") <= max_basket
    ).localCheckpoint(eager=False)
    n_baskets = kept.agg(F.count("*").alias("n_baskets"))
    item_counts = (
        kept.select(F.explode("__items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("n_item"))
    )
    pairs = kept.select(F.explode(sorted_pairs("__items", "a", "b")).alias("p"))
    pair_counts = (
        pairs.select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    ca = item_counts.select(
        F.col("item").alias("a"), F.col("n_item").alias("n_a")
    )
    cb = item_counts.select(
        F.col("item").alias("b"), F.col("n_item").alias("n_b")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pair_counts.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            "n_pair",
            "n_a",
            "n_b",
            F.round(d("n_pair") / d("n_baskets"), 6).alias("support"),
            F.round(d("n_pair") / d("n_a"), 6).alias("conf_a_to_b"),
            F.round(d("n_pair") / d("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                d("n_pair") * d("n_baskets") / (d("n_a") * d("n_b")), 6
            ).alias("lift"),
        )
    )
