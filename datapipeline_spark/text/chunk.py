"""Document chunking for LLM context windows.

Splits each document's whitespace-token stream into fixed-size overlapping
chunks (size tokens per chunk, window start advancing by stride). This is
the standard pretraining / RAG-ingest segmentation step: long documents
become units that fit a context window, with overlap so no span is ever
split across a boundary without being seen whole in some chunk.

Contract (deterministic in any engine):
- tokens = split(trim(text)) on `\\s+` — same tokenizer as text/analysis.py;
- window starts are 1, 1+stride, 1+2*stride, ... while start <= n_tokens
  (an empty-ish doc still emits chunk 0 so no document silently vanishes);
- trailing chunks may be shorter than `size`; `n_tokens` reports the actual
  length so a consumer can drop or pad tails;
- chunk_idx = (start-1)/stride — dense 0-based per-document index.

Scale shape: pure narrow map stage — split, sequence, explode, slice are
all JVM expressions inside one whole-stage-codegen projection. No shuffle,
no Python; at 100 TB this runs at scan speed and output parallelism equals
input parallelism (each chunk row stays on its document's partition).

Reference scope note: mr-lovalova/datapipeline has no text surface
(SURVEY.md §2.9); this module is part of the beyond-reference
training-data layer, like text/clean.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Explode documents into overlapping token-window chunks.

    Returns (id_col, chunk_idx, chunk_text, n_tokens) with one row per
    window; `size - stride` tokens of overlap between consecutive chunks.
    The registry uses 64-token chunks; tests chunk a few words at size 4.
    """
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("w")), F.lit(1)), F.lit(stride)
    )
    chunk = F.slice(F.col("w"), F.col("start"), size)
    return (
        df.select(id_col, w.alias("w"))
        .select(id_col, "w", F.explode(starts).alias("start"))
        .select(
            id_col,
            F.expr(f"(start - 1) div {stride}").cast("long").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
    )
