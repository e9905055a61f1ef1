"""Frequent-itemset mining over transaction baskets — the market-basket
association operator (a-priori pair mining), distributed the way FP-style
miners run on Spark: the candidate space is carved per basket, never as a
global item×item join.

Reference scope note: XELoader delegates all analytics to SQL Server
(SURVEY §2.3); this family is part of the repo's native query surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    tx: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 3,
    min_pair_support: int = 2,
    max_basket_items: int | None = None,
) -> DataFrame:
    """A-priori frequent-pair mining: unordered item pairs co-occurring in
    at least `min_pair_support` baskets, with supports and lift.

    Shape, and why it scales:
    - ONE scan of the transaction table, ONE transaction-sized shuffle:
      the basket groupBy collapses rows to per-basket distinct-item
      arrays (collect_set dedups in the aggregate itself) and is eagerly
      checkpointed, so basket total, item supports, and the pair carve
      all read the materialized basket frame — no re-scan per consumer.
      It is the one EAGER `round_truncate` caller: the three consumers
      are branches of a single job, and a lazy checkpoint measured
      slower there.
    - the a-priori prune runs BEFORE any pair is formed: items below
      `min_item_support` can't be in a frequent pair (pair support ≤ item
      support), so the item-support aggregate (item-dimension sized)
      broadcast-filters the basket arrays down to frequent items only.
    - pairs are generated ARRAY-SIDE per basket from the sorted frequent-
      item array — C(f, 2) candidates per basket where f is the basket's
      frequent-item count, never the global item×item space and never a
      basket self-join (the classic SQL formulation joins the transaction
      table to itself on basket, shuffling it twice).
    - supports join back by broadcast (item dimension) and the basket
      total arrives via a 1-row broadcast cross join; lift is two exact
      integer products and ONE IEEE division, so it hash-checks.

    At 100 TB the skew lever is `max_basket_items`: a basket with f
    frequent items emits C(f, 2) pairs, so one pathological mega-basket
    (a crawler session, a bot cart) can dominate the stage. With the cap
    set, each basket keeps only its `max_basket_items` RAREST frequent
    items (lowest item support, item-id tie-break — the rarest items
    form the most informative associations, while the globally frequent
    ones produce the pairs least distinguishable from chance), bounding
    per-basket fan-out at C(cap, 2). Default None leaves the exact
    semantics (the fixture's baskets are ≤ 7 lineitems).
    """
    # ONE fact scan + ONE fact-sized shuffle: collapse to per-basket
    # distinct-item arrays immediately (collect_set dedups in the same
    # aggregate), then eagerly checkpoint so the three consumers below
    # (basket total, item supports, pair carve) share the materialized
    # basket frame instead of re-scanning the transaction table —
    # through `round_truncate`, so the shared basket frame follows the
    # session's truncation policy like the fixed-point operators.
    from ..plans.truncate import round_truncate

    baskets0 = round_truncate(
        tx.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.array_sort(F.collect_set("item")).alias("all_items")),
        eager=True,
    )
    item_sup = (
        baskets0.select(F.explode("all_items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("item_support"))
    )
    freq_items = item_sup.filter(
        F.col("item_support") >= int(min_item_support)
    )
    n_baskets = baskets0.agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    exploded = baskets0.select(
        "basket", F.explode("all_items").alias("item")
    ).join(F.broadcast(freq_items), "item")
    if max_basket_items is None:
        baskets = exploded.groupBy("basket").agg(
            F.array_sort(F.collect_set("item")).alias("items")
        )
    else:
        n = int(max_basket_items)
        baskets = (
            exploded.groupBy("basket")
            .agg(
                F.expr(
                    "array_sort(transform(slice(array_sort("
                    "collect_list(struct(item_support, item))), 1, "
                    f"{n}), s -> s.item))"
                ).alias("items")
            )
        )
    pair_expr = (
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), "
        "y -> struct(x AS item_a, y AS item_b))))"
    )
    pairs = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .filter(F.col("pair_support") >= int(min_pair_support))
    )
    sup_a = freq_items.select(
        F.col("item").alias("item_a"), F.col("item_support").alias("support_a")
    )
    sup_b = freq_items.select(
        F.col("item").alias("item_b"), F.col("item_support").alias("support_b")
    )
    return (
        pairs.join(F.broadcast(sup_a), "item_a")
        .join(F.broadcast(sup_b), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_support",
            "support_a",
            "support_b",
            (
                (F.col("pair_support") * F.col("n_baskets")).cast("double")
                / (F.col("support_a") * F.col("support_b")).cast("double")
            ).alias("lift"),
        )
    )
