"""Sequence packing: lay the whole corpus out as one global token stream in
a reproducible shuffled order, then cut fixed-length training sequences.

This is the GPT-style "concatenate and chunk" batching step (documents are
concatenated in a deterministic order and split every `seq_len` tokens), the
last stage of an LLM data pipeline before tensorization. The output maps
every document to its global token offset and the range of training
sequences it overlaps.

The interesting part at 100 TB is the **global exclusive scan** (each doc's
start offset = total tokens of all docs before it in corpus order). A naive
window over a global ORDER BY moves the corpus through one partition. Here
it is an operators/rank.prefix_scan with the order hash's leading byte as
the bucket: because the bucket is a PREFIX of the order key, per-bucket
token totals give each bucket's offset, and the scan within a bucket
finishes it. So the corpus-wide scan costs one shuffle keyed by 256
uniform buckets, and every sum is over integer token counts — exact in
any order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.operators.rank import prefix_scan


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Assign each document its slot in the packed global token stream.

    Output: (id, n_tokens, start_token, first_seq, last_seq) where
    start_token is the exclusive prefix sum of whitespace-token counts in
    corpus order (md5-shuffled by seed, doc id tiebreak) and
    first_seq/last_seq = the seq_len-sized training sequences the document's
    tokens land in. Documents are independent of partition layout: the order
    key is content-free (seed | id), so the result is reproducible across
    cluster sizes and reruns. The registry packs 2048-token sequences;
    tests pack at 8-10 tokens to span several sequences on a few words.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    n = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    d = df.select(F.col(id_col), n.alias("n_tokens"), h.alias("__h__"))
    bucket = F.conv(F.substring("__h__", 1, 2), 16, 10).cast("int")
    return (
        prefix_scan(d, [], bucket, ["__h__", id_col], {"start_token": "n_tokens"}, exclusive=True)
        .withColumn("start_token", F.coalesce("start_token", F.lit(0)))
        # integer DIV: exact at any offset magnitude (float floor is not >2^53)
        .withColumn("first_seq", F.expr(f"start_token DIV {seq_len}"))
        .withColumn(
            "last_seq", F.expr(f"(start_token + n_tokens - 1) DIV {seq_len}")
        )
        .select(id_col, "n_tokens", "start_token", "first_seq", "last_seq")
    )
