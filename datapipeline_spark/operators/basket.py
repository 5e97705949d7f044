"""Frequent-itemset / association-rule mining (market-basket analysis).

The reference has no basket-mining surface (its aggregation layer stops at
accumulator folds, see reference core/pipeline/dataset/vector.py); this is
the Agrawal-Srikant 1994 a-priori family re-expressed as DataFrame joins:

- support counting is one map-side-combinable groupBy over the distinct
  (basket, item) projection;
- pair generation is a CO-PARTITIONED self-join over the pruned distinct
  (basket, item) rows, *after* the infrequent items are pruned (the
  a-priori downward-closure: a pair can only be frequent if both members
  are). One repartition(basket) exchange feeds the dedup, the prune and
  both join sides — everything downstream rides that
  partitioning, stays in whole-stage codegen, and never touches an
  ObjectHashAggregate (the round-7 profile found the per-row object
  buffers of the previous in-row collect_set form dominating its wall
  time; the self-join with exchange parity is 1.3x faster at sf0.1 and
  spill-safe for huge baskets — rows, not one giant array, per basket).
  There is no basket-size cap: a basket with 10k items contributes
  5*10^7 pairs on its own.

Confidence and lift are emitted as exact integer parts-per-million
(DECIMAL(38) intermediates, so ``pair * n_baskets * 1e6`` cannot overflow
at any realistic scale) — no floating point anywhere, so the numbers are
bit-identical across engines and partition layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 1,
    min_pair_support: int = 1,
) -> DataFrame:
    """Co-occurrence counts for item pairs (ia < ib) across baskets.

    A-priori pruned: items below ``min_item_support`` never enter the
    pair join. The registry query prunes at 5; the default 1 prunes
    nothing (the form the property test checks against pure Python), and
    tests pass 2-3 to reach the prune on a few rows.

    Plan (round-7 shape; same output, A/B'd 1.55 s -> 1.20 s at sf0.1):
    ONE repartition(basket) exchange feeds a fully CODEGEN pipeline — the
    (basket, item) dedup and every later basket-keyed step ride that
    partitioning (HashPartitioning(basket) subset-satisfies the
    (basket, item) clustering), item supports are one count exchange off
    the deduped rows, the a-priori prune is a broadcast semi-join, and
    pairs come from a co-partitioned self-join (zero additional exchange;
    AQE picks the build side) into one (ia, ib)-keyed count. Three
    exchanges end to end and NO ObjectHashAggregate anywhere — the
    previous in-row collect_set form spent most of its wall time in the
    object aggregate's per-row buffers (round-7 profile: the un-pruned
    collect_set+explode alone cost 1.0 s of the 1.5 s total).
    """
    d0 = _basket_base(df, basket_col, item_col)
    pairs, _ = _pairs_from_base(d0, min_item_support, min_pair_support)
    return pairs


def _basket_base(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """The shared deduped (basket, item) base: ONE repartition(basket)
    exchange that every downstream consumer (dedup, supports, prune,
    both self-join sides, basket totals) rides — consumers built from this
    same object produce byte-identical exchange subtrees, which AQE dedups
    into a single ReusedExchange at runtime."""
    raw = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    )
    return raw.repartition(F.col("basket")).dropDuplicates(["basket", "item"])


def _pairs_from_base(
    d0: DataFrame,
    min_item_support: int,
    min_pair_support: int,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, all-item supports) from a `_basket_base` result. Supports
    are counted on the UNPRUNED base (true frequencies — the a-priori
    prune list derives from them)."""
    sup_all = d0.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    d = d0
    if min_item_support > 1:
        keep = sup_all.filter(F.col("support") >= min_item_support)
        d = d.join(F.broadcast(keep.select("item")), "item", "left_semi")
    a = d.select("basket", F.col("item").alias("ia"))
    b = d.select("basket", F.col("item").alias("ib"))
    pairs = (
        a.join(b, (a["basket"] == b["basket"]) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
    )
    return pairs.filter(F.col("pair_support") >= min_pair_support), sup_all


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 1,
) -> DataFrame:
    """Directed rules antecedent→consequent with exact integer metrics.

    Emits one row per ordered pair: ``conf_ppm = ⌊pair/sup(a) * 1e6⌋`` and
    ``lift_ppm = ⌊pair·n / (sup(a)·sup(b)) * 1e6⌋`` computed in
    DECIMAL(38) integer arithmetic (exact in any accumulation order, no
    float drift between engines). ``n`` is the total basket count of the
    FULL input so support fractions are true frequencies. No item is
    pruned (every item has support ≥ 1).

    Plan: distinct → item supports (one exchange) → pair self-join
    (basket-keyed exchange) → two broadcast joins against the tiny frequent
    -item support table → broadcast 1-row total. No shuffle is keyed on
    anything wider than (basket) or (item).
    """
    # ONE shared (basket, item) base: the split helpers each rebuilt the
    # input join + dedup from scratch (three structurally different
    # subtrees AQE could not dedup — the round-7 before-plan carried 40
    # parquet scans), and the two rule directions consumed the whole pair
    # subtree twice via unionByName. Now pairs, supports, and the basket
    # total all derive from one `_basket_base` object (byte-identical
    # exchange subtrees → one ReusedExchange at runtime), and the
    # direction flip is an IN-ROW explode of the two (antecedent,
    # consequent) orientations — single consumption, same rows.
    d0 = _basket_base(df, basket_col, item_col)
    pairs, sup = _pairs_from_base(d0, 1, min_pair_support)
    n = d0.agg(F.countDistinct("basket").cast("long").alias("n_baskets"))
    sa = sup.select(F.col("item").alias("ia"), F.col("support").alias("sup_a"))
    sb = sup.select(F.col("item").alias("ib"), F.col("support").alias("sup_b"))
    both = (
        pairs.join(F.broadcast(sa), "ia")
        .join(F.broadcast(sb), "ib")
        .crossJoin(F.broadcast(n))
    )
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("antecedent"),
                    F.col("ib").alias("consequent"),
                    F.col("sup_a").alias("antecedent_support"),
                    F.col("sup_b").alias("consequent_support"),
                ),
                F.struct(
                    F.col("ib").alias("antecedent"),
                    F.col("ia").alias("consequent"),
                    F.col("sup_b").alias("antecedent_support"),
                    F.col("sup_a").alias("consequent_support"),
                ),
            )
        ).alias("__r__"),
        "pair_support",
        "n_baskets",
    ).select(
        "__r__.antecedent",
        "__r__.consequent",
        "pair_support",
        "__r__.antecedent_support",
        "__r__.consequent_support",
        "n_baskets",
    )
    dec = "CAST(pair_support AS DECIMAL(38,0))"
    return directed.select(
        "antecedent",
        "consequent",
        "pair_support",
        "antecedent_support",
        "consequent_support",
        "n_baskets",
        F.expr(
            f"CAST(({dec} * 1000000) DIV antecedent_support AS BIGINT)"
        ).alias("conf_ppm"),
        F.expr(
            f"CAST(({dec} * n_baskets * 1000000) DIV "
            "(CAST(antecedent_support AS DECIMAL(38,0)) * consequent_support) "
            "AS BIGINT)"
        ).alias("lift_ppm"),
    )
