"""Symmetric-delete (SymSpell-style) edit-distance join, k <= 2.

EXACT all-pairs levenshtein join via deletion neighborhoods: if
lev(a, b) <= k then a and b share at least one common string obtainable
by deleting at most k characters from each (take an optimal alignment
and delete the characters touched by the edits) — so candidates are the
equi-join of the ≤k-deletion variant sets, then bounded levenshtein
removes false positives. Same output as the naive blocked self-join,
which therefore remains the oracle verbatim.

Deletion variants keep the FULL discriminating content in the join key,
so low-entropy shared prefixes don't collide (every "Customer#…" name
shares its prefix with every other, which sends positional-segment
schemes such as PassJoin quadratic) — the right tool for short entity
fields (names, SKUs, addresses). Cost is C(L,k) variants per string (L=18, k=2 → ≤172):
linear in rows with a constant factor, the standard spell-index trade.
Variant generation is pure JVM higher-order functions; no Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deletion_variants(s: str = "__s__") -> Column:
    """Array of all distinct strings from deleting <= 2 chars of `s`
    (SQL column name)."""
    one = (
        f"transform(sequence(1, length({s})),"
        f" i -> concat(substring({s}, 1, i - 1), substring({s}, i + 1, length({s}))))"
    )
    two = (
        f"CASE WHEN length({s}) >= 2 THEN flatten(transform(sequence(1, length({s}) - 1),"
        f" i -> transform(sequence(i + 1, length({s})),"
        f" j -> concat(substring({s}, 1, i - 1),"
        f" substring({s}, i + 1, j - i - 1),"
        f" substring({s}, j + 1, length({s}))))))"
        f" ELSE array() END"
    )
    return F.expr(f"array_distinct(concat(array({s}), {one}, {two}))")


def deletion_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """All pairs (id_a < id_b) within a block with levenshtein <= 2.
    Output: ``block_cols + (id_a, id_b, dist)`` — exactly the naive
    ``a JOIN b ON block AND id_a < id_b WHERE lev <= 2``.

    Plan: one explode to (block, variant, (id, s)), then IN-ROW pair
    generation per (block, variant) bucket (one collect_set groupBy +
    (i < j) explode — the basket-pair pattern, functions/pairs.py) instead
    of a variant-keyed self-equi-join: the exploded variant stream is
    consumed ONCE, one exchange feeds the pair stream, and no join ever
    keys on the variant alone. Candidate volume is still Σ bucket², with
    buckets sized by how many strings share a full deletion variant (tiny
    unless the strings genuinely collide).

    The bucket members are (id, string) STRUCTS, not bare ids: the pair
    explode then carries both strings, so the bounded-levenshtein
    verification is a per-row filter and the two join-back exchanges the
    id-only form needed (cand ⋈ strs ⋈ strs) disappear outright (guide
    §2.1/§3 — remove shuffles, fewer AQE stage round-trips). structs sort
    by id first, so (id_a < id_b) pair order is unchanged; ids are unique
    per block, so the member sets are the same size as before. Verified
    bit-identical on the ER corpus (33 658 pairs) and by the oracle
    sweeps; at scale the shuffled bytes grow by one short string per
    member — repaid by not shuffling the candidate-pair table twice.
    """
    bc = list(block_cols)
    base = df.select(
        *bc, F.col(id_col).alias("__id__"), F.col(str_col).alias("__s__")
    )
    # NULL block keys can never match under the naive join's equality
    # semantics (NULL = NULL is not true), but GROUP BY treats NULLs as
    # one group — without this filter the NULL block would generate
    # candidate pairs that only disappear because the verification
    # re-join happens to null-drop them (round-7 ADVICE: a refactor of
    # that join to coalesce-keyed or in-row form would silently change
    # NULL-block results). Drop them at the source instead.
    for c in bc:
        base = base.filter(F.col(c).isNotNull())
    # the C(L,k)-variant generation is compute-bound per row and scan
    # parallelism is bounded by file splits — on a single-split input the
    # explode serialized into ONE task (round-7 profile: 1.0 s of the
    # 2.1 s candidate stage). The first shuffle key (the variant) is
    # high-cardinality, so there is next to no map-side combining for the
    # spread to dilute (tables.spread contract).
    from datapipeline_spark.tables import spread

    base = spread(base)
    exploded = base.select(
        *bc,
        F.struct("__id__", "__s__").alias("__m__"),
        F.explode(deletion_variants("__s__")).alias("__v__"),
    )
    buckets = exploded.groupBy(*bc, "__v__").agg(
        F.sort_array(F.collect_set("__m__")).alias("__ms__")
    )
    ms = F.col("__ms__")
    return (
        buckets.filter(F.size(ms) >= 2)
        .select(*bc, ms, F.posexplode(ms).alias("__i__", "__a__"))
        .select(
            *bc,
            "__a__",
            F.explode(
                F.slice(ms, F.col("__i__") + F.lit(2), F.size(ms))
            ).alias("__b__"),
        )
        .select(
            *bc,
            F.col("__a__.__id__").alias("id_a"),
            F.col("__b__.__id__").alias("id_b"),
            F.col("__a__.__s__").alias("__sa__"),
            F.col("__b__.__s__").alias("__sb__"),
        )
        # a pair surfaces once per shared variant: dedupe BEFORE the
        # levenshtein filter so the (capped) edit distance runs once per
        # candidate pair. (__sa__, __sb__) are functionally dependent on
        # the ids, so including them cannot change the distinct set.
        .distinct()
        .withColumn("dist", F.levenshtein("__sa__", "__sb__", 2).cast("long"))
        .filter(F.col("dist") >= 0)
        .select(*bc, "id_a", "id_b", "dist")
    )
