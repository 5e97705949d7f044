"""Byte-pair-encoding merge-rule learning over a distributed corpus.

Sennrich 2016 word-level BPE, Spark-first: the corpus collapses to a
WORD-FREQUENCY table first (one groupBy — at 100 TB the distinct-word
table is ~10^7 rows, the thing that actually fits), and every merge round
is two JVM-side jobs over that table:

1. adjacent-pair counting: explode ``zip(symbols, symbols[1:])`` weighted
   by word frequency, map-side-combined groupBy — shuffle bounded by the
   live pair vocabulary;
2. the argmax pair (count desc, then lexicographic — fully deterministic)
   is a 1-row collect (tiny aggregate, the sanctioned kind);
3. the merge applies to every word's symbol array via a higher-order
   ``aggregate`` fold (carry one pending symbol, join a..b when they
   meet) — pure Tungsten expression, no Python in the loop.

The word table is ``localCheckpoint``-ed every few merges so lineage
stays shallow across the iteration (same discipline as
connected_components, dedup/cluster.py:40).

Tokenization applying learned rules (``apply_bpe``) IS per-token
sequential state — that one runs as an Arrow-batched mapInPandas, the
same justification as winnowing (text/analysis.py).

No SQL oracle exists for the trainer (data-dependent iterative argmax —
an unrolled oracle would need one CTE per merge per symbol position);
correctness is pinned differentially against a pure-Python reference
implementation in pytest, the repo's property-differential pattern.

Reference parity: the reference has no subword machinery at all (its
token surface is whitespace counting, see SURVEY §2 text rows); this is
a beyond-reference training-data operator.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

END = "</w>"


def word_freq_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over lowercased alphabetic words — the corpus
    statistic every BPE round runs against."""
    words = F.explode(
        F.split(F.lower(F.col(text_col)), r"[^a-zA-Z]+")
    ).alias("word")
    return (
        docs.select(words)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _initial_symbols(word_col) -> F.Column:
    return F.concat(
        F.split(word_col, ""), F.array(F.lit(END))
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    pairs = F.arrays_zip(
        F.slice(F.col("symbols"), 1, F.size("symbols") - 1).alias("a"),
        F.slice(F.col("symbols"), 2, F.size("symbols") - 1).alias("b"),
    )
    return (
        wf.filter(F.size("symbols") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _merge_expr(a: str, b: str) -> F.Column:
    """Fold symbols left-to-right carrying one pending symbol; when the
    pending symbol is ``a`` and the next is ``b``, emit the joined token
    (consuming both), else flush the pending symbol. Pure JVM expression."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        F.col("symbols"),
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(None).cast("string").alias("pend"),
        ),
        lambda st, x: F.when(
            st.pend.isNull(), F.struct(st.acc.alias("acc"), x.alias("pend"))
        )
        .when(
            (st.pend == la) & (x == lb),
            F.struct(
                F.concat(st.acc, F.array(F.concat(la, lb))).alias("acc"),
                F.lit(None).cast("string").alias("pend"),
            ),
        )
        .otherwise(
            F.struct(F.concat(st.acc, F.array(st.pend)).alias("acc"), x.alias("pend"))
        ),
        lambda st: F.when(st.pend.isNull(), st.acc).otherwise(
            F.concat(st.acc, F.array(st.pend))
        ),
    )


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` merge rules; returns
    ``[(rank, left, right, pair_count), ...]`` in learned order. Stops
    early when no pair occurs at least twice. The word table is
    checkpointed every 4 merges to keep the plan bounded."""
    wf = word_freq_table(docs, text_col).withColumn(
        "symbols", _initial_symbols(F.col("word"))
    )
    wf = wf.localCheckpoint(eager=True)
    rules: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(wf)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        rules.append((rank, a, b, cnt))
        wf = wf.withColumn("symbols", _merge_expr(a, b))
        if rank % 4 == 0:
            wf = wf.localCheckpoint(eager=True)
    return rules


def bpe_merges_df(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    n_merges: int,
) -> DataFrame:
    """The learned rules as a DataFrame (rank, left, right, pair_count)."""
    rules = learn_bpe_merges(docs, text_col, n_merges)
    return spark.createDataFrame(
        rules, "rank int, left string, right string, pair_count long"
    )


def apply_bpe(
    docs: DataFrame,
    text_col: str,
    merges: Sequence[tuple[str, str]],
    out: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with learned merge rules (applied in rank
    order per word — the sequential per-token state machine that justifies
    Arrow-batched mapInPandas here, as for winnowing)."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    # StructType.add mutates in place — never touch docs.schema itself
    schema = StructType(
        list(docs.schema.fields) + [StructField(out, ArrayType(StringType()))]
    )
    fields = [f.name for f in docs.schema.fields]

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [END]
        while len(syms) >= 2:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            syms[best : best + 2] = [syms[best] + syms[best + 1]]
        return syms

    def run(batches: Iterable["pd.DataFrame"]):
        import re

        for pdf in batches:
            toks = []
            for text in pdf[text_col].astype(str):
                words = [w for w in re.split(r"[^a-zA-Z]+", text.lower()) if w]
                flat: list[str] = []
                for w in words:
                    flat.extend(encode_word(w))
                toks.append(flat)
            pdf = pdf.copy()
            pdf[out] = toks
            yield pdf[fields + [out]]

    return docs.mapInPandas(run, schema)
