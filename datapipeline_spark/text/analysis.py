"""Text-analysis operators for LLM training-data pipelines.

All hot-path computation is built-in column expressions (JVM, whole-stage
codegen); only the winnowing fingerprint drops to an Arrow-batched
mapInPandas. Designed so every per-document statistic is one narrow
projection — no shuffle at all until an aggregation is requested, which is
what lets these run on a 100 TB documents table as a pure map stage.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny deterministic stopword marker sets (ASCII only, by design: the
#: heuristic must be reproducible in any engine, incl. the SQL oracle).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "les", "des", "et", "un"],
}


#: BPE-ish pretokenizer regex (GPT-2 style, but lookahead-free so the same
#: pattern runs under Java regex AND RE2/DuckDB): contraction suffixes,
#: space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def _words(text_col: str) -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def bpe_token_count(
    df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens"
) -> DataFrame:
    """Subword-proxy token count: number of BPE-style pretokenizer matches.
    Whole-stage-codegen JVM regex — a pure map stage at any scale."""
    return df.withColumn(
        out,
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
        ).cast("long"),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document surface statistics: chars, tokens, distinct tokens,
    type-token ratio, mean token length. Pure projection — map-only."""
    w = _words(text_col)
    n_tokens = F.size(w)
    n_chars = F.length(F.col(text_col))
    distinct_tokens = F.size(F.array_distinct(w))
    return df.withColumns(
        {
            "n_chars_calc": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "n_distinct_tokens": distinct_tokens.cast("long"),
            "ttr": F.round(distinct_tokens / n_tokens, 6),
            "mean_token_len": F.round(
                F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", "")) / n_tokens, 6
            ),
        }
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-free language-ID heuristic: marker-stopword hit rate per
    language; prediction = argmax with deterministic tie order (marker
    insertion order). Columns: score_<lang>… + pred_lang."""
    w = _words(text_col)
    out = df
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(w, lambda x: F.array_contains(arr, x)))
        out = out.withColumn(f"score_{lang}", F.round(hits / F.size(w), 6))
    scores = [F.col(f"score_{lang}") for lang in LANG_MARKERS]
    best = F.greatest(*scores)
    pred = F.lit(None).cast("string")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(F.col(f"score_{lang}") >= best, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality heuristic in [0,1]: length saturation, lexical
    diversity, and alphabetic-character ratio (a cheap boilerplate/noise
    proxy). Weights mirror common web-corpus filters."""
    w = _words(text_col)
    n_tokens = F.size(w)
    distinct_ratio = F.size(F.array_distinct(w)) / n_tokens
    len_sat = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    alpha_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", "")) / F.length(F.col(text_col))
    )
    q = 0.3 * len_sat + 0.3 * distinct_ratio + 0.4 * alpha_ratio
    return df.withColumn("quality", F.round(q, 6))


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", Table A1 filters): fraction of tokens taken
    by the most frequent word / bigram, and the fraction of bigram/trigram
    instances that are repeats. High values flag boilerplate and degenerate
    machine-generated text.

    Shape at scale (round-7 opt): every signal is a PER-DOCUMENT statistic,
    so the whole computation is a single Arrow-batched map — zero
    shuffles. The previous shape exploded three per-order gram streams
    into (id, gram-string)-keyed aggregates plus two id-keyed joins (~8
    exchanges moving every word 6×, guide §2.3/§2.4); a round-4 melt-fused
    single-shuffle variant was also slower. Here each word array crosses
    the Python boundary once and eight integers come back; the kernel
    counts n-grams as factorized integer tuples (np.unique codes; words
    are whitespace-split so the ' '-joined gram string is injective in the
    tuple), and the fractions — round(max/sum, 6) etc. — are computed by
    the SAME Spark round/division expressions as before, on exact integer
    numerators/denominators, so no float or rounding semantics moved into
    Python. Docs with <3 words drop in-kernel, exactly like the old inner
    joins (no trigram row); null texts likewise (explode of a null array
    produced no rows).
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def _kernel(pdf_iter):
        for pdf in pdf_iter:
            ids_out: list = []
            vals: list = []
            for did, w in zip(pdf[id_col], pdf["w"]):
                if w is None or len(w) < 3:
                    continue
                words = np.asarray(w)
                _, codes = np.unique(words, return_inverse=True)
                uc = np.bincount(codes)
                v = len(uc)
                bi = codes[:-1].astype(np.int64) * v + codes[1:]
                _, bcodes, bc = np.unique(
                    bi, return_inverse=True, return_counts=True
                )
                # trigram key = (factorized bigram of the first two words,
                # third word) — injective, and bcode < len(bi) keeps the
                # packed key far inside int64
                tri = bcodes[:-1].astype(np.int64) * v + codes[2:]
                _, tc = np.unique(tri, return_counts=True)
                ids_out.append(did)
                vals.append(
                    (
                        int(uc.max()),
                        len(codes),
                        int(bc.max()),
                        int(bc[bc >= 2].sum()),
                        len(bi),
                        int(tc[tc >= 2].sum()),
                        len(tri),
                    )
                )
            cols = list(zip(*vals)) if vals else [[]] * 7
            yield pd.DataFrame(
                {
                    id_col: ids_out,
                    "u_max": cols[0],
                    "u_tot": cols[1],
                    "b_max": cols[2],
                    "b_dup": cols[3],
                    "b_tot": cols[4],
                    "t_dup": cols[5],
                    "t_tot": cols[6],
                }
            )

    counts = df.select(
        F.col(id_col), _words(text_col).alias("w")
    ).mapInPandas(
        _kernel,
        f"{id_col} {id_type}, u_max long, u_tot long, b_max long, "
        "b_dup long, b_tot long, t_dup long, t_tot long",
    )
    return counts.select(
        id_col,
        F.round(F.col("u_max") / F.col("u_tot"), 6).alias("top_word_frac"),
        F.round(F.col("b_max") / F.col("b_tot"), 6).alias("top_bigram_frac"),
        F.round(F.col("b_dup") / F.col("b_tot"), 6).alias("dup_bigram_frac"),
        F.round(F.col("t_dup") / F.col("t_tot"), 6).alias("dup_trigram_frac"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    polynomial rolling hash over 8-grams, keep the min hash of each sliding
    4-hash window (rightmost on ties) → sparse position-robust fingerprint
    set.

    Arrow-batched mapInPandas: documents are independent, so this
    parallelizes perfectly across partitions, and within a document the
    whole state machine is closed-form — k-gram hash = Σ ord(ch_j) ·
    B^(k-1-j) mod M (the rolling recurrence telescopes to this), window
    pick = rightmost min, emission = pick changed vs the previous window —
    so the per-document kernel is pure vectorized numpy (no per-character
    Python; ~50× over the rolling-loop form this replaced, bit-identical
    output pinned by the SQL oracle and test_winnow_* goldens).
    Output: (id, fingerprint bigint, pos int).
    """
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    B, M = 257, (1 << 31) - 1
    k, window = 8, 4  # k-gram length, hashes per window
    out_schema = f"{id_col} long, fingerprint long, pos int"
    # B^(k-1-j) mod M for j in 0..k-1; products code*pow < 2^21 * 2^31 and
    # the k-term sum of residues < k * 2^31 both fit comfortably in int64.
    powvec = np.array([pow(B, k - 1 - j, M) for j in range(k)], dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps, poss = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = text or ""
                if len(s) < k:
                    continue
                # UTF-32-LE words ARE the code points, i.e. ord() per char.
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                grams = sliding_window_view(codes.astype(np.int64), k)
                hashes = (grams * powvec % M).sum(axis=1) % M
                if hashes.size < window:
                    continue
                wins = sliding_window_view(hashes, window)
                mval = wins.min(axis=1)
                # rightmost min: first min of the reversed window, flipped back
                mpos = (
                    np.arange(wins.shape[0], dtype=np.int64)
                    + window
                    - 1
                    - wins[:, ::-1].argmin(axis=1)
                )
                keep = np.empty(wins.shape[0], dtype=bool)
                keep[0] = True
                keep[1:] = (mval[1:] != mval[:-1]) | (mpos[1:] != mpos[:-1])
                ids.append(np.full(int(keep.sum()), doc_id, dtype=np.int64))
                fps.append(mval[keep])
                poss.append(mpos[keep])
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "fingerprint": np.concatenate(fps),
                        "pos": np.concatenate(poss).astype(np.int32),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        id_col: np.array([], dtype=np.int64),
                        "fingerprint": np.array([], dtype=np.int64),
                        "pos": np.array([], dtype=np.int32),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)
