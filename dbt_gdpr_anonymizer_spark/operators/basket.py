"""Frequent-itemset mining: Apriori-pruned pair rules at corpus scale.

The co-occurrence question ("which items appear together in a
basket?") shows up all over a training-data pipeline — tag
co-occurrence, source×topic affinity, co-clicked items — and the
naive answer is an all-pairs self-join that explodes quadratically in
basket size and item domain. The classic fix (Agrawal & Srikant 1994,
Apriori) is monotonicity: a pair can only be frequent if BOTH its
items are, so the self-join runs over baskets already filtered to
frequent items. That bound is what makes the shape survive 100 TB:

* ONE distinct shuffle builds the (basket, item) incidence;
* the item-count table is item-domain-bounded (map-side combined);
* the pair self-join co-locates on the basket key (both sides share
  the same partitioning — one shuffle, reused), and its fan-out per
  basket is k·(k-1)/2 over FREQUENT items only;
* pair counts are map-side combined; no window anywhere.

Everything released is integer-exact: supports are counts, confidence
and lift are integral divisions (``1e6·x div y`` ppm / e6 rationals),
so a DuckDB oracle replays bit-for-bit.

No reference counterpart: tabodino/dbt-gdpr-anonymizer has no mining
tier; this extends the LLM-pipeline analysis surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.operators.caching import persist

__all__ = ["association_rules", "frequent_pairs"]


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 5,
) -> DataFrame:
    """Unordered item pairs co-occurring in ≥ ``min_support`` baskets.

    Returns ``(item_a, item_b, pair_support)`` with ``item_a <
    item_b`` (string order). Apriori prune: only items that are
    themselves frequent enter the pair join — the monotonicity bound
    that keeps the per-basket fan-out small at scale.
    """
    items = df.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    c1 = items.groupBy("_it").agg(F.count(F.lit(1)).alias("_c1"))
    f1 = c1.filter(F.col("_c1") >= min_support).select("_it")
    pruned = persist(items.join(f1, "_it"))
    a = pruned.select(
        F.col("_bk"), F.col("_it").alias("item_a")
    )
    b = pruned.select(
        F.col("_bk"), F.col("_it").alias("item_b")
    )
    pairs = (
        a.join(b, "_bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .filter(F.col("pair_support") >= min_support)
    )
    return pairs


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 5,
) -> DataFrame:
    """Directed association rules from the frequent pairs: for each
    frequent unordered pair, both ``a → b`` and ``b → a`` with

    * ``pair_support``  — baskets containing both (exact count);
    * ``support_ppm``   — ``1e6·pair_support div n_baskets``;
    * ``conf_ppm``      — ``1e6·pair_support div support(antecedent)``;
    * ``lift_e6``       — ``1e6·pair_support·n_baskets div
      (support(antecedent)·support(consequent))`` — >1e6 means the
      pair co-occurs more than independence predicts.

    All integral divisions on exact counts (``div`` ≡ DuckDB ``//``) —
    no float anywhere. The 1-row basket-total frame is broadcast
    cross-joined in (the bounded 1-row-stats pattern); the item-count
    join sides are item-domain-bounded post-aggregation tables.

    Returns ``(antecedent, consequent, pair_support, support_ppm,
    conf_ppm, lift_e6)``, unordered.
    """
    items = df.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    items = persist(items)
    n = items.agg(
        F.countDistinct("_bk").cast("long").alias("_nb")
    )
    c1 = items.groupBy("_it").agg(
        F.count(F.lit(1)).cast("long").alias("_c1")
    )
    f1 = c1.filter(F.col("_c1") >= min_support)
    pruned = items.join(f1.select("_it"), "_it")
    a = pruned.select("_bk", F.col("_it").alias("_ia"))
    b = pruned.select("_bk", F.col("_it").alias("_ib"))
    p2 = (
        a.join(b, "_bk")
        .filter(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count(F.lit(1)).cast("long").alias("_c12"))
        .filter(F.col("_c12") >= min_support)
    )
    ca = f1.select(F.col("_it").alias("_ia"), F.col("_c1").alias("_ca"))
    cb = f1.select(F.col("_it").alias("_ib"), F.col("_c1").alias("_cb"))
    sized = p2.join(ca, "_ia").join(cb, "_ib")
    fwd = sized.select(
        F.col("_ia").alias("antecedent"),
        F.col("_ib").alias("consequent"),
        "_c12",
        F.col("_ca").alias("_cante"),
        F.col("_cb").alias("_ccons"),
    )
    rev = sized.select(
        F.col("_ib").alias("antecedent"),
        F.col("_ia").alias("consequent"),
        "_c12",
        F.col("_cb").alias("_cante"),
        F.col("_ca").alias("_ccons"),
    )
    return (
        fwd.unionByName(rev)
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("_c12").alias("pair_support"),
            F.expr("(1000000 * _c12) div _nb")
            .cast("long")
            .alias("support_ppm"),
            F.expr("(1000000 * _c12) div _cante")
            .cast("long")
            .alias("conf_ppm"),
            F.expr("(1000000 * _c12 * _nb) div (_cante * _ccons)")
            .cast("long")
            .alias("lift_e6"),
        )
    )
