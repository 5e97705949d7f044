"""Inverted-index construction over a document corpus.

The retrieval-side companion to the dedup/similarity operators: term →
sorted posting list (doc ids + term frequencies), the structure behind
corpus search, contamination lookups, and BM25-style scoring at training-
data scale.

Scale shape: one shuffle keyed by (doc, term) for the tf counts (map-side
combinable), one keyed by term for the posting assembly. Posting-list
length is bounded by `max_df` — a term in more than `max_df` documents is
a stop word for retrieval purposes and its posting row is dropped (the
same degenerate-key guard as the dedup surfaces); without a cap, a
100 TB corpus would hand single reducers gigabyte postings for "the".
Posting arrays sort in-row (sort_array) — no global sort anywhere.

Beyond-reference (the reference has no retrieval surface). Deterministic:
postings are ordered by doc id and tf counts are exact integers, so the
output hash-matches a SQL transcription under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.operators.rank import prefix_scan, value_buckets


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = 100,
) -> DataFrame:
    """(term, df, doc_ids, tfs) — posting lists sorted by doc id.

    `df` is document frequency; `doc_ids[i]` and `tfs[i]` are aligned.
    Terms are lowercased whitespace tokens; empty tokens are dropped.
    `max_df=None` disables the stop-word cap (bounded corpora only — see
    module docstring for why the cap is the 100 TB contract); tests pass
    None and 2 to see the cap off and engaged on a few documents.
    """
    tok = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
    toks = docs.select(F.col(id_col).alias("__doc__"), tok).filter(F.col("term") != "")
    toks = toks.withColumn("term", F.lower(F.col("term")))
    tf = toks.groupBy("term", "__doc__").agg(F.count(F.lit(1)).alias("tf"))
    postings = tf.groupBy("term").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__doc__").alias("d"), F.col("tf").alias("c")))
        ).alias("p")
    )
    if max_df is not None:
        postings = postings.filter(F.size("p") <= max_df)
    return postings.select(
        "term",
        F.size("p").cast("long").alias("df"),
        F.transform("p", lambda s: s.getField("d")).alias("doc_ids"),
        F.transform("p", lambda s: s.getField("c").cast("long")).alias("tfs"),
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 4,
) -> DataFrame:
    """BM25 relevance of every document for a bag of query terms —
    (doc_id, score, rank), Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: the token stream is filtered to the query terms BEFORE any
    aggregation (the filter rides the scan projection), so shuffle mass is
    (matching tokens), not corpus tokens; document lengths are one
    map-side-combinable aggregate over the corpus; N and avgdl arrive as a
    broadcast 1-row frame; df per query term is a tiny broadcast. Ranking
    order is (score desc, doc id asc) after `round_digits` rounding; a
    stop-word query can match the whole corpus, so the rank is an
    operators/rank.prefix_scan over descending value-range buckets
    (scores aren't hash-uniform) instead of a single-partition
    row_number over the match set.
    """
    terms = [t.lower() for t in query_terms]
    tok = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
    toks = docs.select(F.col(id_col).alias("__doc__"), tok).filter(F.col("term") != "")
    toks = toks.withColumn("term", F.lower(F.col("term")))
    lens = toks.groupBy("__doc__").agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    q = toks.filter(F.col("term").isin(terms))
    tf = q.groupBy("__doc__", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "__doc__")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        # each per-(doc, term) contribution is a deterministic row expression;
        # rounding it to nano-units BEFORE the sum makes the per-doc total an
        # exact bigint — order-independent across partial-aggregate merges
        # (double sums would drift in the last ulp between partitionings)
        .withColumn("p9", F.round(F.col("part") * 1e9).cast("long"))
        .groupBy("__doc__")
        .agg(F.sum("p9").alias("s9"))
    )
    # the scored subtree (tf/lens/stats joins) is consumed by the range
    # aggregate, the bucket counts, and the final join — one lazy
    # checkpoint so it materializes once (single-consumption pattern)
    scored = scored.localCheckpoint(eager=False)
    ranked = prefix_scan(
        value_buckets(scored, "s9", [], 256, descending=True),
        [],
        F.col("__bucket__"),
        [F.col("s9").desc(), "__doc__"],
        {"rank": None},
    )
    return ranked.select(
        F.col("__doc__").alias(id_col),
        F.round(F.col("s9") / 1e9, round_digits).alias("score"),
        "rank",
    )
