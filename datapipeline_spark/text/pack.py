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
it runs as the classic two-phase scan:

1. bucket = leading byte of the order hash → per-bucket token totals
   (one tiny aggregate, 256 rows);
2. cumulative bucket offsets over those 256 rows (driver-scale window),
   broadcast back;
3. within-bucket exclusive window scan, partitioned by bucket — because the
   bucket is a PREFIX of the order key, (bucket, h, doc_id) ordering equals
   the global (h, doc_id) ordering.

So the corpus-wide scan costs one shuffle keyed by 256 uniform buckets, and
every sum is over integer token counts — exact in any order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    d = df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        h.alias("__h__"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("__bucket__"),
    )

    # phase 1: per-bucket totals → cumulative offsets (256 rows, broadcast)
    totals = d.groupBy("__bucket__").agg(F.sum("n_tokens").alias("__btok__"))
    w_b = (
        Window.orderBy("__bucket__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__boff__", F.coalesce(F.sum("__btok__").over(w_b), F.lit(0))
    ).select("__bucket__", "__boff__")

    # phase 2: within-bucket exclusive scan; bucket prefix ⇒ global order
    w_in = (
        Window.partitionBy("__bucket__")
        .orderBy("__h__", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("__boff__") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    return (
        d.join(F.broadcast(offsets), "__bucket__")
        .withColumn("start_token", start)
        # integer DIV: exact at any offset magnitude (float floor is not >2^53)
        .withColumn("first_seq", F.expr(f"start_token DIV {seq_len}"))
        .withColumn(
            "last_seq", F.expr(f"(start_token + n_tokens - 1) DIV {seq_len}")
        )
        .select(id_col, "n_tokens", "start_token", "first_seq", "last_seq")
    )
