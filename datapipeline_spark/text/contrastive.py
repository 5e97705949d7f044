"""Contrastive (anchor, positive, negative) pair generation for
representation learning — the data op behind SimCSE/DPR-style training.

Anchor = a document chunk; positive = the NEXT chunk of the same document
(adjacent spans share topic — the classic inverse-cloze/next-segment
signal); negative = a pseudo-random chunk from a DIFFERENT document,
chosen deterministically: chunks are bucketed by the top bits of their
md5 hash and each anchor's negative is its hash-order neighbor within
the bucket (skipping same-doc neighbors). No RNG, no global sort — the
neighbor windows are per-bucket (uniform hash buckets, each a tiny
fraction of the corpus), so negative assignment scales like any
bucketed window. Anchors at a bucket tail with no eligible neighbor drop
deterministically (≈ 1/bucket_count of rows — disclosed semantics, not
silence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapipeline_spark.dedup.minhash import hash48
from datapipeline_spark.text import chunk_documents


def contrastive_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    buckets: int = 64,
) -> DataFrame:
    """One row per trainable anchor: (doc_id, chunk_idx, pos_chunk_idx,
    neg_doc_id, neg_chunk_idx). Chunks are non-overlapping (stride =
    size — overlap would leak anchor tokens into the positive). Anchors
    need both a following chunk (positive) and a different-doc hash
    neighbor (negative). ``chunk_size`` is 64 tokens in the registry;
    tests use 8 so short documents still form anchors."""
    c = chunk_documents(
        df, id_col=id_col, text_col=text_col, size=chunk_size, stride=chunk_size
    ).select(id_col, "chunk_idx")
    h = hash48(
        F.concat(
            F.col(id_col).cast("string"), F.lit(":"), F.col("chunk_idx").cast("string")
        )
    )
    c = c.withColumn("h", h).withColumn("b", F.col("h") % F.lit(int(buckets)))
    wd = Window.partitionBy(id_col).orderBy("chunk_idx")
    c = c.withColumn("pos_chunk_idx", F.lead("chunk_idx").over(wd))
    wb = Window.partitionBy("b").orderBy("h", id_col, "chunk_idx")
    for k in (1, 2):
        c = c.withColumn(f"nd{k}", F.lead(id_col, k).over(wb)).withColumn(
            f"ni{k}", F.lead("chunk_idx", k).over(wb)
        )
    neg_doc = F.when(F.col("nd1") != F.col(id_col), F.col("nd1")).otherwise(
        F.when(F.col("nd2") != F.col(id_col), F.col("nd2"))
    )
    neg_idx = F.when(F.col("nd1") != F.col(id_col), F.col("ni1")).otherwise(
        F.when(F.col("nd2") != F.col(id_col), F.col("ni2"))
    )
    return (
        c.withColumn("neg_doc_id", neg_doc)
        .withColumn("neg_chunk_idx", neg_idx)
        .filter(
            F.col("pos_chunk_idx").isNotNull() & F.col("neg_doc_id").isNotNull()
        )
        .select(
            id_col,
            "chunk_idx",
            "pos_chunk_idx",
            "neg_doc_id",
            "neg_chunk_idx",
        )
    )
