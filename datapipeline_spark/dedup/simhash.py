"""SimHash near-duplicate fingerprints (Charikar 2002, as deployed in
Manku et al., WWW 2007 for web-scale dedup).

Each token hashes to `bits` bits; per bit position the ±1 votes of all
tokens are summed; the sign pattern is the fingerprint. Near-duplicates
differ in few bits (hamming distance).

Shape: per-row (map-only). The fingerprint is a pure function of one
document's token multiset, so nothing ever shuffles: hash each token once,
count set bits per position over the token array, and a bit is set iff its
±1 vote sum is positive — votes_i = 2·cnt_i − n > 0. All integer arithmetic
on engine-neutral md5-derived hashes → bit-identical in SQL. (The previous
shape exploded tokens × bit positions into a two-level aggregation — a
bits×-row shuffle carrying the exact same information as the in-row count.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.dedup.minhash import HASH_HEX_LEN


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash bigint). Tokens weighted by multiplicity.

    NULL-text contract (map-only form, pinned by test): every input row
    surfaces exactly once — a NULL ``text_col`` yields a NULL fingerprint
    (the pre-round-7 explode-based form dropped such documents; the map
    form is one-row-in-one-row-out, so composers can count on row
    parity). An empty string is a single ''-token document and gets the
    deterministic md5('') fingerprint."""
    # One parsed expression (build discipline). The token-hash array must
    # evaluate ONCE per row — md5 must not re-run per bit position — but a
    # two-projection split gets CollapseProject'd back into the (interpreted)
    # HOF lambda, so the array is let-bound as a lambda variable instead:
    # transform(array(hs), __hs__ -> fingerprint)[1] evaluates `hs` exactly
    # once and binds it to __hs__. The vote sum is exact (longs), and the
    # >0 sign test matches the old aggregate's. A NULL text would otherwise
    # fold its all-NULL votes to 0, so it is guarded explicitly.
    hs = (
        f"transform(split(trim({text_col}), '\\\\s+'),"
        f" t -> CAST(conv(substring(md5(t), 1, {HASH_HEX_LEN}), 16, 10) AS BIGINT))"
    )
    fingerprint = f"""
    CASE WHEN {text_col} IS NULL THEN CAST(NULL AS BIGINT) ELSE
    element_at(transform(array({hs}), __hs__ ->
      aggregate(
        zip_with(
          transform(sequence(0, {bits - 1}),
            i -> aggregate(__hs__, CAST(0 AS BIGINT),
                   (acc, h) -> acc + CASE WHEN shiftright(h, i) & 1 = 1
                                     THEN 1 ELSE -1 END)),
          sequence(0, {bits - 1}),
          (s, i) -> CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), i)
                         ELSE CAST(0 AS BIGINT) END),
        CAST(0 AS BIGINT), (acc, x) -> acc + x)), 1)
    END
    """
    return df.select(F.col(id_col), F.expr(fingerprint).alias("simhash"))


def hamming_distance(col_a, col_b) -> F.Column:
    """Popcount of XOR — Spark's bit_count is JVM-side."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def simhash_near_pairs(
    sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, prefix_bits: int = 8
) -> DataFrame:
    """Candidate pairs by identical high-`prefix_bits` block (cheap LSH-style
    blocking), verified by full hamming distance ≤ `max_hamming`."""
    block = F.shiftright(F.col("simhash"), 32 - prefix_bits)
    s = sig.withColumn("block", block)
    a = s.select(F.col("block"), F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = s.select(F.col("block"), F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming_distance(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
