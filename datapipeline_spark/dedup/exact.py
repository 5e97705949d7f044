"""Exact deduplication: content-hash group-by.

At 100 TB this is the cheapest dedup pass: one map (hash) + one shuffle on
the 128-bit digest with map-side partial aggregation. Skew-free by
construction (hashes are uniform) unless true duplicate groups are huge, in
which case AQE skew-join handling splits them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def text_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a deterministic md5 content fingerprint."""
    return df.withColumn("fingerprint", F.md5(F.col(text_col)))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct content: representative id (the min), group size.

    Returns (fingerprint, rep_id, n_dupes); join back on fingerprint to
    filter the corpus.
    """
    return (
        text_fingerprints(df, text_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )
