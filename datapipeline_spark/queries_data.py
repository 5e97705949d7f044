"""Training-data operator queries (dedup / similarity / text analysis) with
DuckDB oracles, on the `documents` and `embeddings` tables.

Determinism notes:
- all content hashing is md5-prefix-48bit → identical integers in any engine;
- minhash permutation constants come from MinHashParams(seed=42) and are
  embedded into the oracle SQL from the same Python object;
- cosine scores are computed in DOUBLE with sequential folds and rounded to
  4 dp in both engines before ranking/threshold.
"Approximate" here means recall vs ground truth, not nondeterminism: every
deterministic pipeline — LSH candidates (`minhash_lsh_pairs`), winnowing,
sign-LSH kNN (`lsh_knn`, hyperplane literals embedded in the SQL),
fixed-codebook IVF (`ivf_knn_fixed`), and the fake-codec media decode
(`media_features`) — gets an exact SQL oracle. The sole rows-only check is
`ivf_knn`, whose learned k-means quantizer is not SQL-expressible; exact
counterparts (`ngram_jaccard_pairs`, `knn_cosine`, `ivf_knn_fixed`) are the
oracle-verified ground truth.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spark.dedup import (
    MinHashParams,
    exact_dedup,
    jaccard_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash,
    word_shingles,
)
from datapipeline_spark.similarity import (
    brute_force_knn,
    ivf_knn,
    lsh_knn,
    lsh_similar_pairs,
)
from datapipeline_spark.tables import load_table, spread
from datapipeline_spark.text import (
    BPE_PATTERN,
    LANG_MARKERS,
    bpe_token_count,
    lang_scores,
    quality_score,
    repetition_signals,
    text_stats,
)
from datapipeline_spark.text.analysis import winnow_fingerprints
from datapipeline_spark.text.pack import pack_sequences

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


PARAMS = MinHashParams()  # seed=42, 8 hashes — ingest/row_minhash shape

#: The LSH PAIR-GENERATION family runs a sharper banding: (b=16, r=4)
#: has the same S-curve threshold t=(1/b)^(1/r)=0.5 as the (b=4, r=2)
#: default but a far steeper curve, so sub-threshold candidates collapse
#: — measured at the 10x sf1 rehearsal: 4.63M -> 47k candidates with
#: MORE true pairs verified (2564 vs 2561; bucket densification made the
#: coarse banding quadratic, 41.6x super-linear on 10x docs). The extra
#: hash cost (64 vs 8 mins per shingle) is a map-side constant.
SHARP_PARAMS = MinHashParams(num_hashes=64)
SHARP_BANDS = 16

#: The PIPELINE operating point: the pretraining pipeline runs its dedup
#: stage at (b=8, r=3) — the same t=(1/8)^(1/3)=0.5 threshold, still
#: ~10x fewer candidates than the coarse default at the sf1 rehearsal
#: (400k vs 4.6M), at a third of the signature compute. The pair-SURFACE
#: queries keep (b=16, r=4): there the candidate mass IS the product, so
#: the sharpest curve at fixed recall wins; in the pipeline dedup is one
#: of five stages and signature cost is paid on the full corpus.
PIPE_PARAMS = MinHashParams(num_hashes=24)
PIPE_BANDS = 8
MOD = (1 << 31) - 1

H48 = "(('0x' || substr(md5({col}), 1, 12))::UBIGINT)::BIGINT"

WORDS = "string_split_regex(trim(text), '\\s+')"

BIGRAMS = """
d AS (SELECT doc_id, {words} AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, w[g.i] || ' ' || w[g.i + 1] AS s
    FROM d, unnest(generate_series(1, len(w) - 1)) g(i)
  )
)
""".format(words=WORDS)

# 8-gram variant of BIGRAMS for contamination_check: verbatim 8-word spans.
OCTOGRAMS = """
d AS (SELECT doc_id, {words} AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, {gram} AS s
    FROM d, unnest(generate_series(1, len(w) - 7)) g(i)
  )
)
""".format(
    words=WORDS,
    gram=" || ' ' || ".join(f"w[g.i + {j}]" for j in range(8)),
)


# ------------------------------------------------------------- text analysis


@query(
    "text_stats",
    """
WITH d AS (SELECT doc_id, text, {words} AS w FROM documents)
SELECT doc_id,
       length(text)::BIGINT                                        AS n_chars_calc,
       len(w)::BIGINT                                              AS n_tokens,
       len(list_distinct(w))::BIGINT                               AS n_distinct_tokens,
       round(len(list_distinct(w)) * 1.0 / len(w), 6)              AS ttr,
       round(length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / len(w), 6) AS mean_token_len,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT      AS n_alnum_runs
FROM d
""".format(words=WORDS),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text_stats(d)
    out = out.withColumn(
        "n_alnum_runs", F.expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))").cast("long")
    )
    return out.select(
        "doc_id", "n_chars_calc", "n_tokens", "n_distinct_tokens", "ttr", "mean_token_len", "n_alnum_runs"
    )


@query(
    "token_count",
    f"""
SELECT doc_id,
       len(regexp_extract_all(text, $bpe${BPE_PATTERN}$bpe$))::BIGINT AS n_bpe_tokens
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretokenizer token count (text/analysis.py:BPE_PATTERN) —
    the same lookahead-free regex runs in Java regex and DuckDB/RE2."""
    d = load_table(spark, sf_dir, "documents")
    return bpe_token_count(d).select("doc_id", "n_bpe_tokens")


def _lang_sql() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        score_cols.append(
            f"round(len(list_filter(w, x -> list_contains({arr}, x))) * 1.0 / len(w), 6) AS score_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} >= {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH d AS (SELECT doc_id, {WORDS} AS w FROM documents),
scored AS (SELECT doc_id, {", ".join(score_cols)} FROM d)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)}, {case} AS pred_lang
FROM scored
"""


@query("lang_id", _lang_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = lang_scores(d)
    return out.select("doc_id", *[f"score_{lang}" for lang in LANG_MARKERS], "pred_lang")


@query(
    "quality_score",
    """
WITH d AS (SELECT doc_id, text, {words} AS w FROM documents)
SELECT doc_id,
       round(0.3 * least(len(w) / 100.0, 1.0)
           + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
           + 0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)), 6) AS quality
FROM d
""".format(words=WORDS),
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return quality_score(d).select("doc_id", "quality")


@query(
    "repetition_signals",
    """
WITH d AS (SELECT doc_id, {words} AS w FROM documents),
uni AS (SELECT doc_id, unnest(w) AS g FROM d),
uc AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
ua AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_word_frac FROM uc GROUP BY doc_id),
bi AS (SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
       FROM d, unnest(generate_series(1, len(w) - 1)) t(i)),
bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
ba AS (SELECT doc_id,
              round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac,
              round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS dup_bigram_frac
       FROM bc GROUP BY doc_id),
tri AS (SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] || ' ' || w[t.i + 2] AS g
        FROM d, unnest(generate_series(1, len(w) - 2)) t(i)),
tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
ta AS (SELECT doc_id,
              round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS dup_trigram_frac
       FROM tc GROUP BY doc_id)
SELECT ua.doc_id, top_word_frac, top_bigram_frac, dup_bigram_frac, dup_trigram_frac
FROM ua JOIN ba USING (doc_id) JOIN ta USING (doc_id)
""".format(words=WORDS),
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (text/analysis.py
    repetition_signals): top-word/top-bigram mass and duplicate
    bigram/trigram instance fractions per document. The operator is a
    zero-shuffle Arrow map since round 7 — spread buys it scan-width
    parallelism on the single-row-group local file (the fd_discovery
    treatment)."""
    from datapipeline_spark.tables import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    return repetition_signals(d)


#: The quality expression of q_quality, reused by the band filter oracle.
QUALITY_D = """
d AS (
  SELECT doc_id,
         round(0.3 * least(len({words}) / 100.0, 1.0)
             + 0.3 * (len(list_distinct({words})) * 1.0 / len({words}))
             + 0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)), 6) AS quality
  FROM documents
)
""".format(words=WORDS)


@query(
    "quality_band_filter",
    """
WITH {quality_d},
h AS (SELECT quality, count(*) AS c FROM d GROUP BY quality),
cum AS (SELECT quality, sum(c) OVER (ORDER BY quality) AS cum FROM h),
tot AS (SELECT count(*) AS n FROM d),
lo AS (SELECT min(quality) AS lo FROM cum, tot WHERE 10 * cum >= n),
hi AS (SELECT min(quality) AS hi FROM cum, tot WHERE 10 * cum >= 9 * n)
SELECT d.doc_id, d.quality FROM d, lo, hi
WHERE d.quality >= lo.lo AND d.quality <= hi.hi
""".format(quality_d=QUALITY_D),
)
def q_quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level distribution trim: keep documents inside the inclusive
    [p10, p90] quality band. Exact percentiles computed the scale-safe way:
    a groupBy(quality) histogram (≤1e6 rows at 6-dp rounding, regardless of
    corpus size) + a cumulative window over that tiny histogram, thresholds
    as pure integer comparisons (10*cum >= n) so there is no float
    interpolation to diverge between engines. The thresholds are broadcast
    back onto the full corpus — the 100 TB plan is scan → tiny agg →
    broadcast filter, never a global sort of the data."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    q = quality_score(d).select("doc_id", "quality")
    hist = q.groupBy("quality").agg(F.count(F.lit(1)).alias("c"))
    # Global window — INTENTIONAL: the cumulative sum runs on the quality
    # HISTOGRAM (bounded by distinct rounded scores, ≤~1e6 buckets), which is
    # the whole point of the histogram-percentile trick: no global sort of
    # the documents themselves.
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("quality").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # total from the HISTOGRAM (Σc == count(*) by construction), not from
    # q: the quality_score projection has no exchange below it, so a third
    # consumer re-ran the whole scan+score subtree (round-7 opt: 3 -> 2
    # full passes; the histogram aggregate is reused for lo/hi anyway)
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    b = cum.crossJoin(F.broadcast(tot))
    lo = b.filter(10 * F.col("cum") >= F.col("n")).agg(F.min("quality").alias("lo"))
    hi = b.filter(10 * F.col("cum") >= 9 * F.col("n")).agg(F.min("quality").alias("hi"))
    return (
        q.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .filter((F.col("quality") >= F.col("lo")) & (F.col("quality") <= F.col("hi")))
        .select("doc_id", "quality")
    )


@query(
    "source_stats",
    """
WITH d AS (SELECT source, text, {words} AS w FROM documents)
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT md5(text))::BIGINT AS n_unique,
       round(1 - count(DISTINCT md5(text)) * 1.0 / count(*), 6) AS dup_rate,
       sum(len(w))::BIGINT AS total_tokens,
       round(sum(length(text)) * 1.0 / count(*), 6) AS mean_chars
FROM d GROUP BY source
""".format(words=WORDS),
)
def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: volume, exact-dup rate (distinct
    content hash vs doc count), token mass, mean length. One hash-aggregate
    over the corpus; countDistinct of the md5 runs as a two-phase partial
    aggregate, so the shuffle carries (source, hash) pairs, not text."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.count(F.lit(1))
    uniq = F.countDistinct(F.md5("text"))
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        uniq.alias("n_unique"),
        F.round(1 - uniq / n, 6).alias("dup_rate"),
        F.sum(F.size(words)).cast("long").alias("total_tokens"),
        F.round(F.sum(F.length("text")) / n, 6).alias("mean_chars"),
    )


@query(
    "pack_sequences",
    """
WITH d AS (
  SELECT doc_id,
         len({words})::BIGINT AS n_tokens,
         md5('42|' || doc_id::VARCHAR) AS h
  FROM documents
),
scan AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_token
  FROM d
)
SELECT doc_id, n_tokens, start_token,
       start_token // 2048 AS first_seq,
       (start_token + n_tokens - 1) // 2048 AS last_seq
FROM scan
""".format(words=WORDS),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing (text/pack.py): reproducible
    shuffled corpus order → global exclusive token scan → 2048-token
    training-sequence spans per document. The oracle runs the scan as one
    global window; the Spark plan runs it as the two-phase bucket scan
    (256-bucket totals broadcast + within-bucket window) — results must be
    identical because token counts sum exactly in any order."""
    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=2048, seed=42)


@query(
    "mixture_sample",
    """
WITH rated AS (
  SELECT doc_id, source,
         (1 + (('0x' || substr(md5('mix|' || source), 1, 12))::UBIGINT)::BIGINT % 4) / 4.0 AS rate,
         (('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 12))::UBIGINT)::BIGINT AS u
  FROM documents
)
SELECT doc_id, source, round(rate, 6) AS rate
FROM rated
WHERE u < rate * 281474976710656
""",
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: each source gets a deterministic keep rate
    (here hash(source)→{0.25,0.5,0.75,1.0}; in production the rates come
    from the mixture spec), each document an independent uniform draw from
    its id hash — keep iff u < rate·2^48. Pure map-side filter beside the
    scan: zero shuffle at any corpus size, stable under reruns and
    repartitioning, and composable with the other corpus operators."""
    d = load_table(spark, sf_dir, "documents")
    rate = (
        1
        + F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("mix"), F.col("source"))), 1, 12), 16, 10).cast(
                "long"
            ),
            F.lit(4),
        )
    ) / 4.0
    u = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("42"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    return (
        d.withColumn("rate", rate)
        .withColumn("__u__", u)
        .filter(F.col("__u__") < F.col("rate") * F.lit(float(1 << 48)))
        .select("doc_id", "source", F.round("rate", 6).alias("rate"))
    )


@query(
    "novelty_score",
    """
WITH {bigrams},
first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
SELECT sh.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
FROM sh JOIN first f USING (s)
GROUP BY sh.doc_id
""".format(bigrams=BIGRAMS),
)
def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus novelty: the fraction of a document's distinct
    bigrams whose FIRST occurrence (by doc id order — ingestion order) is
    this document. Low scores mark documents that mostly restate earlier
    corpus content — the streaming-ingest view of dedup, and a curriculum
    signal. Pure integer logic: one min-aggregate over the shingle stream,
    one hash join back on the shingle, one per-doc count — all
    pre-aggregated before their shuffles."""
    d = load_table(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", "text", 2)
    # No join back on the shingle (round-7 opt): every shingle has exactly
    # one first_doc, so per-doc novel counts ARE the row counts of the
    # min-aggregate grouped by its own result — two narrow per-doc
    # aggregates replace re-shuffling the full shingle stream through a
    # shingle-keyed join. Docs absent from `novel` have zero novel grams
    # (left join + coalesce); the doc universe (>=1 shingle) is n_grams'.
    n_grams = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    n_novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    nn = F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
    return n_grams.join(n_novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        nn.alias("n_novel"),
        F.round(nn * F.lit(1.0) / F.col("n_grams"), 6).alias("novelty"),
    )


@query(
    "vocab_growth",
    """
WITH d AS (SELECT doc_id, {words} AS w FROM documents),
n AS (SELECT count(*) AS total FROM d),
tok AS (
  SELECT least((d.doc_id * 10) // n.total, 9) AS decile,
         w[t.i] || ' ' || w[t.i + 1] || ' ' || w[t.i + 2] AS g
  FROM d CROSS JOIN n, unnest(generate_series(1, len(w) - 2)) t(i)
),
first AS (SELECT g, min(decile) AS first_decile FROM tok GROUP BY g),
per AS (SELECT first_decile AS decile, count(*) AS new_terms FROM first GROUP BY 1)
SELECT decile, new_terms,
       CAST(sum(new_terms) OVER (ORDER BY decile) AS BIGINT) AS cum_vocab
FROM per
""".format(words=WORDS),
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over trigrams: split the corpus into 10
    ingestion-order deciles (by doc id) and count how many distinct trigrams
    FIRST appear in each — the curve that tells you whether more data still
    buys new n-gram vocabulary. Cumulative-distinct without recursion:
    min-decile per term (one aggregate), term counts per decile (10 rows),
    running sum over those 10 rows. The token stream shuffles once,
    pre-aggregated."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    total = d.count()  # plan-time scalar, like the pivot id list
    tok = word_shingles(d, "doc_id", "text", 3).select(
        F.least(F.expr(f"doc_id * 10 DIV {total}"), F.lit(9).cast("long")).alias("decile"),
        F.col("shingle").alias("g"),
    )
    first = tok.groupBy("g").agg(F.min("decile").alias("first_decile"))
    per = first.groupBy(F.col("first_decile").alias("decile")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    # Global window — INTENTIONAL: runs on the per-decile aggregate (10 rows
    # by construction), never on the token stream.
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.withColumn("cum_vocab", F.sum("new_terms").over(w))


_SEG_GRAM = " || ' ' || ".join(f"w[t.i + {j}]" for j in range(8))


@query(
    "shared_passage_pairs",
    f"""
WITH d AS (SELECT doc_id, {WORDS} AS w FROM documents),
seg AS (
  SELECT DISTINCT doc_id,
         (('0x' || substr(md5({_SEG_GRAM}), 1, 12))::UBIGINT)::BIGINT AS h
  FROM d, unnest(generate_series(1, len(w) - 7)) t(i)
  WHERE (t.i - 1) % 8 = 0
),
df AS (SELECT h FROM seg GROUP BY h HAVING count(*) <= 1000),
s2 AS (SELECT seg.doc_id, seg.h FROM seg JOIN df USING (h))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM s2 a JOIN s2 b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def q_shared_passage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection: cut each document into
    non-overlapping 8-token segments, hash them (48-bit md5 prefix), and
    join segments across documents — catches copied passages between
    documents that whole-doc or MinHash dedup miss. Segments present in
    >1000 documents are dropped first (boilerplate guard: ubiquitous
    segments would square the join output at corpus scale). Pair
    generation is IN-ROW (round-7 opt, the jaccard_pairs max_doc_freq
    shape): one groupBy(h) collects each segment's member doc ids —
    (doc, h) is distinct, so array size == document frequency and the
    size gate IS the df filter — and two streaming Generates explode the
    (id_a < id_b) pairs. This replaces the df aggregate + semi-join +
    h-keyed self-join (three consumptions of the segment stream, two of
    them re-exchanges) with a single consumption; group memory is
    bounded by the 1000-doc cap. The exchanges carry (doc, int64) rows
    only."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    segs = F.when(
        F.expr("size(w) >= 8"),
        F.expr(
            "transform(sequence(0, int(floor((size(w) - 8) / 8))),"
            " k -> concat_ws(' ', slice(w, k * 8 + 1, 8)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    seg = (
        d.select("doc_id", w.alias("w"))
        .select("doc_id", F.explode(segs).alias("s"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("long").alias("h"),
        )
        .distinct()
    )
    grp = (
        seg.groupBy("h")
        .agg(F.collect_list("doc_id").alias("__m__"))
        .filter(F.size("__m__") <= 1000)
    )
    return (
        grp.select("__m__", F.explode("__m__").alias("id_a"))
        .select("id_a", F.explode("__m__").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@query(
    "unigram_logprob",
    """
WITH d AS (SELECT doc_id, {words} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS t FROM d),
vocab AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
tot AS (SELECT sum(c) AS s FROM vocab),
lp AS (
  SELECT t, CAST(round(log2(c * 1.0 / s) * 1000000000) AS BIGINT) AS lp9
  FROM vocab, tot
),
per AS (
  SELECT doc_id, sum(lp9) AS slp, count(*) AS n
  FROM tok JOIN lp USING (t) GROUP BY doc_id
)
SELECT doc_id, n::BIGINT AS n_tokens,
       floor(CAST(-slp AS DOUBLE) / 1000000000.0 / n * 1000000 + 0.5) / 1000000.0
         AS bits_per_token
FROM per
""".format(words=WORDS),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: fit a unigram LM on the corpus itself
    (one wordcount aggregate), then score each document by cross-entropy
    bits/token under that LM — wildly off-distribution docs (boilerplate,
    gibberish, wrong language) score high and get filtered. Two aggregates +
    one broadcast join of the vocabulary; the fact-side token stream never
    shuffles twice. Per-token log-probs are rounded to 1e-9 and accumulated
    as scaled integers so the per-doc sum is order-independent — double sums
    of logs would differ between engines/partitionings in the last ulp."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("s"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "t",
        F.round(F.log2(F.col("c") / F.col("s")) * F.lit(1000000000)).cast("long").alias("lp9"),
    )
    per = (
        tok.join(F.broadcast(lp), "t")
        .groupBy("doc_id")
        .agg(F.sum("lp9").alias("slp"), F.count(F.lit(1)).alias("n"))
    )
    bits = (
        F.floor((-F.col("slp")).cast("double") / 1e9 / F.col("n") * 1e6 + 0.5) / 1e6
    )
    return per.select(
        "doc_id", F.col("n").cast("long").alias("n_tokens"), bits.alias("bits_per_token")
    )


# --------------------------------------------------------------------- dedup


@query(
    "exact_dedup",
    """
SELECT md5(text) AS fingerprint, min(doc_id) AS rep_id, count(*) AS n_dupes
FROM documents GROUP BY md5(text)
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d)


def _minhash_sql() -> str:
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MOD}) AS mh{j}" for j, (a, b) in enumerate(PARAMS.coeffs)
    )
    return f"""
WITH {BIGRAMS},
hashed AS (SELECT doc_id, {H48.format(col='s')} AS h FROM sh)
SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
"""


@query("minhash_signatures", _minhash_sql())
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    sh = word_shingles(d, "doc_id", "text", 2)
    return minhash_signatures(sh, "doc_id", PARAMS)


NGRAM_MAX_DF = 100  # boilerplate guard: shingles in > this many docs are dropped


@query(
    "ngram_jaccard_pairs",
    """
WITH {bigrams},
rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {max_df}),
shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
sizes AS (SELECT doc_id, count(*) n FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
""".format(bigrams=BIGRAMS, max_df=NGRAM_MAX_DF),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard over the non-boilerplate shingle universe (document frequency
    ≤ NGRAM_MAX_DF): the DF cap bounds the co-shingle self-join — without
    it a single boilerplate bigram shared by 100k docs yields ~10¹⁰ join
    rows. Deterministic restricted-universe semantics, mirrored exactly by
    the oracle."""
    d = load_table(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", "text", 2)
    return jaccard_pairs(
        sh, "doc_id", candidates=None, threshold=0.5, max_doc_freq=NGRAM_MAX_DF
    )


def _lsh_pairs_ctes(
    bands: int = SHARP_BANDS,
    max_bucket: int = 1000,
    threshold: float = 0.5,
    params: MinHashParams = SHARP_PARAMS,
) -> str:
    """CTE chain (no leading WITH) ending in `vpairs(id_a, id_b, jaccard)` —
    the full shingle → minhash → banded LSH → candidate-verified jaccard
    pipeline, shared by the pair / clustering / dedup oracles. LSH is
    'approximate' only w.r.t. true Jaccard recall — the candidate set
    itself (share ≥1 band, bucket ≤ max_bucket, then exact verify) is
    deterministic, so the whole pipeline has an exact oracle."""
    rows = params.num_hashes // bands
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MOD}) AS mh{j}" for j, (a, b) in enumerate(params.coeffs)
    )
    keys = ", ".join(f"k{r}" for r in range(rows))
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cols} FROM sig".format(
            b=b,
            cols=", ".join(f"mh{b * rows + r} AS k{r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    on = " AND ".join(["a.band = b.band"] + [f"a.k{r} = b.k{r}" for r in range(rows)])
    ok_on = " AND ".join(["ok.band = a.band"] + [f"ok.k{r} = a.k{r}" for r in range(rows)])
    return f"""{BIGRAMS},
hashed AS (SELECT doc_id, {H48.format(col='s')} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS (
  {band_rows}
),
ok AS (SELECT band, {keys} FROM bands GROUP BY ALL HAVING count(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON {on} AND a.doc_id < b.doc_id
  JOIN ok ON {ok_on}
),
sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS cnt
  FROM cand p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b AND a.s = b.s
  GROUP BY 1, 2
),
vpairs AS (
  SELECT id_a, id_b, round(cnt * 1.0 / (sa.n + sb.n - cnt), 6) AS jaccard
  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
  WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= {threshold}
)"""


@query(
    "minhash_lsh_pairs",
    f"WITH {_lsh_pairs_ctes()}\nSELECT id_a, id_b, jaccard FROM vpairs",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(d, params=SHARP_PARAMS, bands=SHARP_BANDS, threshold=0.5)


def _simhash_sql() -> str:
    return f"""
WITH d AS (SELECT doc_id, {WORDS} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS tok FROM d),
hashed AS (SELECT doc_id, {H48.format(col='tok')} AS h FROM tok),
votes AS (
  SELECT doc_id, g.i, sum(CASE WHEN (h >> g.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed CROSS JOIN generate_series(0, 31) g(i) GROUP BY 1, 2
)
SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""


@query("simhash", _simhash_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # simhash is map-only since round 7 (in-row bit votes) — spread the
    # single-split scan or the per-token md5 kernel serializes on one task
    d = spread(load_table(spark, sf_dir, "documents"))
    return simhash(d, bits=32)


def _winnow_sql(k: int = 8, window: int = 4) -> str:
    """The per-document rolling-hash state machine is sequential in Spark
    (mapInPandas), but the MATH is closed-form: k-gram hash = Σ ord(ch_j) ·
    B^(k-1-j) mod M, window pick = rightmost min, emission = pick changed vs
    the previous window (lag). So the oracle is exact SQL."""
    B, M = 257, (1 << 31) - 1
    terms = " + ".join(
        f"unicode(substring(text, g.i + {j}, 1))::BIGINT * {pow(B, k - 1 - j, M)}"
        for j in range(k)
    )
    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= {k}),
grams AS (
  SELECT doc_id, g.i - 1 AS idx, ({terms}) % {M} AS h
  FROM d CROSS JOIN generate_series(1, 100000) g(i)
  WHERE g.i <= length(text) - {k - 1}
),
cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
ws AS (SELECT doc_id, unnest(range(n - {window - 1})) AS wstart
       FROM cnt WHERE n >= {window}),
wins AS (
  SELECT ws.doc_id, wstart, min(h) AS mval
  FROM ws JOIN grams g ON g.doc_id = ws.doc_id
   AND g.idx BETWEEN wstart AND wstart + {window - 1}
  GROUP BY 1, 2
),
picks AS (
  SELECT w.doc_id, w.wstart, w.mval, max(g.idx) AS mpos
  FROM wins w JOIN grams g ON g.doc_id = w.doc_id AND g.h = w.mval
   AND g.idx BETWEEN w.wstart AND w.wstart + {window - 1}
  GROUP BY 1, 2, 3
),
dd AS (
  SELECT doc_id, wstart, mval, mpos,
         lag(mval) OVER w AS pm, lag(mpos) OVER w AS pp
  FROM picks WINDOW w AS (PARTITION BY doc_id ORDER BY wstart)
)
SELECT doc_id, mval AS fingerprint, mpos AS pos
FROM dd WHERE pm IS NULL OR pm <> mval OR pp <> mpos
"""


@query("winnow_fingerprints", _winnow_sql())
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-doc winnowing kernel is compute-bound and
    # partition-invariant; the single-row-group test file would otherwise
    # serialize the whole mapInPandas stage into one task.
    d = spread(load_table(spark, sf_dir, "documents"))
    return winnow_fingerprints(d)


# ---------------------------------------------------------------- similarity


@query(
    "knn_cosine",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               nullif(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)), 0),
               4) AS score
  FROM q JOIN e ON e.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= 3
""",
)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"))
    queries = e.filter(F.col("vec_id") < 10)
    out = brute_force_knn(e, queries, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "embedding_stats",
    """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, label,
       len(v)::BIGINT AS dim,
       round(sqrt(list_dot_product(v, v)), 4) AS l2_norm,
       round(list_sum(v) / len(v), 6) AS mean_val,
       list_aggregate(v, 'min') AS min_val,
       list_aggregate(v, 'max') AS max_val
FROM e
""",
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector sanity profile for an embedding column: dimensionality,
    L2 norm, mean, extrema — the validation pass before any ANN/dedup step
    (catches zero vectors, NaN blowups, dim drift). Pure map stage: JVM
    higher-order folds over the array, no shuffle, no Python."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    s = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return e.select(
        "vec_id",
        "label",
        F.size(v).cast("long").alias("dim"),
        F.round(F.sqrt(dot), 4).alias("l2_norm"),
        F.round(s / F.size(v), 6).alias("mean_val"),
        F.array_min(v).alias("min_val"),
        F.array_max(v).alias("max_val"),
    )


def _signlsh_banded_sql(dim: int = 64, planes: int = 16, bands: int = 4, seed: int = 42) -> str:
    """UNION ALL body assigning each vector in CTE `e(vec_id, v)` to one
    bucket per band. The hyperplanes are deterministic ±1 literals (same
    seed-derived sequence as similarity/ann.random_hyperplane_signature),
    so bucket assignment — and every candidate set built on it — is
    reproducible in plain SQL. Bit j of band b's bucket = [v · h_(b*bits+j) > 0]."""
    import random

    rng = random.Random(seed)
    hyper = [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(planes)
    ]
    bits = planes // bands

    def bucket_expr(b: int) -> str:
        terms = []
        for j in range(bits):
            arr = "[" + ",".join("1" if x > 0 else "-1" for x in hyper[b * bits + j]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {arr}::DOUBLE[]) > 0 THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    return "\nUNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {bucket_expr(b)} AS bucket FROM e"
        for b in range(bands)
    )


_COS = (
    "round(list_dot_product({a}.v, {b}.v) / "
    "nullif(sqrt(list_dot_product({a}.v, {a}.v)) * sqrt(list_dot_product({b}.v, {b}.v)), 0), 4)"
)


def _lsh_similar_pairs_sql(
    threshold: float = 0.3, max_bucket: int = 1000, clusters: bool = False
) -> str:
    """Sign-LSH-blocked cosine pairs (optionally closed into clusters):
    banded bucket self-join (buckets > max_bucket dropped) → distinct
    candidate id pairs → exact cosine ≥ threshold. Mirrors
    similarity/ann.lsh_similar_pairs bit-for-bit."""
    cos = _COS.format(a="ea", b="eb")
    pairs = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS ({_signlsh_banded_sql()}),
ok AS (SELECT band, bucket FROM banded GROUP BY ALL HAVING count(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
),
vpairs AS (
  SELECT id_a, id_b, {cos} AS cosine
  FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
  WHERE {cos} >= {threshold}
)"""
    if not clusters:
        return f"WITH {pairs}\nSELECT id_a, id_b, cosine FROM vpairs"
    return f"""
WITH RECURSIVE {pairs},
bi AS (SELECT id_a AS a, id_b AS b FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach(a, b) AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
)
SELECT a AS vec_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
"""


@query("embedding_similar_pairs", _lsh_similar_pairs_sql())
def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-blocked cosine pairs — candidate generation is a capped
    bucket equi-join over the banded hyperplane signature, never the O(n²)
    self-join (that brute form survives only as the recall verifier in the
    unit tests). Deterministic: the hyperplanes embed in the oracle SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_similar_pairs(e, threshold=0.3)


@query("embedding_near_dup", _lsh_similar_pairs_sql(clusters=True))
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clustering over the sign-LSH-blocked pair
    graph: capped bucket join → exact-cosine verified pairs → distributed
    connected components (join-based min-label propagation) → (vec_id,
    cluster_id = min reachable id). The oracle replays the identical
    blocking and closes the graph with a recursive CTE."""
    from datapipeline_spark.dedup.cluster import connected_components

    e = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_similar_pairs(e, threshold=0.3)
    labels = connected_components(pairs)
    return labels.select(
        F.col("id").alias("vec_id"), F.col("component").alias("cluster_id")
    )


def _lsh_knn_sql(
    dim: int = 64,
    planes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
) -> str:
    """Exact oracle for the sign-LSH kNN path (hyperplane literals via
    _signlsh_banded_sql), replaying the corpus-side bucket cap."""
    banded = _signlsh_banded_sql(dim, planes, bands, seed)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS ({banded}),
ok AS (
  SELECT band, bucket FROM banded GROUP BY band, bucket
  HAVING count(*) <= {max_bucket}
),
pairs AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q
  JOIN ok ON ok.band = q.band AND ok.bucket = q.bucket
  JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(list_dot_product(qe.v, ce.v) /
               nullif(sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)), 0),
               4) AS score
  FROM pairs p
  JOIN e qe ON qe.vec_id = p.query_id
  JOIN e ce ON ce.vec_id = p.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {k}
"""


@query("lsh_knn", _lsh_knn_sql())
def q_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return lsh_knn(e, queries, k=3).withColumn("rank", F.col("rank").cast("long"))


@query("ivf_knn")  # k-means quantizer → rows-only check (not SQL-expressible)
def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search (similarity/ann.py): distributed k-means coarse
    quantizer, nprobe nearest inverted lists per query, exact re-rank."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return ivf_knn(e, queries, n_centroids=8, nprobe=3, k=3)


@query(
    "media_metadata",
    """
WITH m AS (
  SELECT id,
         CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         (4 + id % 7) * 32 AS byte_len
  FROM range(64) t(id)
)
SELECT media_type, count(*) AS n, CAST(sum(byte_len) AS BIGINT) AS total_bytes
FROM m GROUP BY media_type
""",
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary column + JVM-side metadata
    (length/digest) aggregated per media type — the metadata never leaves
    the JVM; the oracle recomputes byte lengths arithmetically."""
    from datapipeline_spark.multimodal.blobs import attach_media_metadata, fake_media_table

    m = attach_media_metadata(fake_media_table(spark, n=64))
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("byte_len").alias("total_bytes")
    )


def _media_features_sql(n: int = 64, dim: int = 8, seed: int = 42) -> str:
    """Exact oracle for the Arrow-batched decode path. The fake codec hashes
    the blob's lowercase-hex string, and the blob itself is a repeated sha256
    digest — so blob_hex = repeat(sha256('{seed}:{id}'), reps) and every
    derived dimension/feature is plain string/arithmetic SQL. Feature j =
    little-endian uint32 of digest bytes [4j..4j+4) / 2^32 as float32
    (rounding commutes with the exact power-of-two scale)."""

    def byte(k: int) -> str:  # k-th byte (0-based) of the hex digest d
        return f"(('0x' || substr(d, {2 * k + 1}, 2))::BIGINT)"

    feats = []
    for j in range(dim):
        b0, b1, b2, b3 = (byte(4 * j + i) for i in range(4))
        feats.append(
            f"(({b0} + 256 * {b1} + 65536 * {b2} + 16777216 * {b3}) / 4294967296.0)::FLOAT"
        )
    feature = "[" + ",\n         ".join(feats) + "]"
    return f"""
WITH m AS (
  SELECT id AS media_id,
         CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         sha256(repeat(sha256('{seed}:' || id), 4 + id % 7)) AS d
  FROM range({n}) t(id)
)
SELECT media_id, media_type,
       CASE media_type WHEN 'image' THEN (64 + {byte(0)})::INT
                       WHEN 'video' THEN (128 + {byte(0)})::INT END AS width,
       CASE media_type WHEN 'image' THEN 1
                       WHEN 'audio' THEN (1000 + {byte(2)} * 4)::INT
                       ELSE (24 + {byte(3)})::INT END AS n_frames,
       {feature} AS feature
FROM m
"""


@query("media_features", _media_features_sql())
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode + feature extraction over binary media
    (mapInPandas; deterministic fake codec — real codecs stub behind
    NotImplementedError)."""
    from datapipeline_spark.multimodal.blobs import (
        decode_media,
        extract_features,
        fake_media_table,
    )

    media = fake_media_table(spark, n=64)
    decoded = decode_media(media).select("media_id", "media_type", "width", "n_frames")
    feats = extract_features(media, dim=8)
    return decoded.join(feats, "media_id").select(
        "media_id", "media_type", "width", "n_frames", "feature"
    )


@query(
    "near_dup_clusters",
    """
WITH RECURSIVE {lsh_ctes},
bi AS (SELECT id_a AS a, id_b AS b FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach(a, b) AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
""".format(lsh_ctes=_lsh_pairs_ctes()),
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over LSH-candidate-verified near-dup pairs
    (threshold 0.5) — the 100 TB composition: shingle → minhash → banded
    buckets (capped) → candidate-bounded exact jaccard → distributed
    min-label propagation. The oracle replays the identical deterministic
    pipeline and closes the pair graph with a recursive CTE."""
    from datapipeline_spark.dedup.cluster import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(d, params=SHARP_PARAMS, bands=SHARP_BANDS, threshold=0.5)
    comp = connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))


@query(
    "dedup_representatives",
    """
WITH RECURSIVE {lsh_ctes},
bi AS (SELECT id_a AS a, id_b AS b FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach(a, b) AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
),
clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
""".format(lsh_ctes=_lsh_pairs_ctes()),
)
def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus reduction: one representative (the min id) per LSH-verified
    near-dup component plus all unpaired documents. Pair generation is the
    bounded LSH path (never all-pairs); the oracle is the recursive-CTE
    closure minus every non-minimum cluster member."""
    from datapipeline_spark.dedup.cluster import dedup_representatives

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(d, params=SHARP_PARAMS, bands=SHARP_BANDS, threshold=0.5)
    return dedup_representatives(d.select("doc_id", "text"), pairs).select("doc_id")


# ------------------------------------------- deterministic sampling / shuffle


def _sha_long(prefix: str, col) -> "F.Column":
    """52-bit big-endian prefix of sha256('{prefix}{key}') as BIGINT —
    same arithmetic as dataset/split.hash_split_value (reference
    pipelines/dataset/split.py:14-39), reproducible in any engine."""
    return F.conv(
        F.substring(F.sha2(F.concat(F.lit(prefix), col.cast("string")), 256), 1, 13),
        16,
        10,
    ).cast("long")


_SHA_SQL = "(('0x' || substr(sha256('{prefix}' || {col}::VARCHAR), 1, 13))::UBIGINT)::BIGINT"


@query(
    "corpus_sample",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {h} % 100 < 20
""".format(h=_SHA_SQL.format(prefix="13|", col="doc_id")),
)
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 20% corpus sample by key hash — the training-data answer
    to `TABLESAMPLE` (which is partition/row-order dependent): membership is
    a pure function of doc_id, so the sample is stable across reruns,
    engines, and repartitioning. Pure map stage — no shuffle, filter runs
    beside the scan at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(_sha_long("13|", F.col("doc_id")) % 100 < 20).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "corpus_shuffle",
    """
WITH hashed AS (
  SELECT doc_id, {h} AS h FROM documents
)
SELECT row_number() OVER (ORDER BY h, doc_id) AS pos, doc_id
FROM hashed
""".format(h=_SHA_SQL.format(prefix="7|", col="doc_id")),
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle for training-example order: position =
    rank in seeded-hash order, independent of input layout.

    Two-phase global rank with NO single-partition sort
    (operators/rank.py bucketed_global_rank, same shape as text/pack.py):
    the top 8 bits of the hash define 256 buckets that are a monotone
    PREFIX of the (h, doc_id) sort order, so
    ``global pos = broadcast bucket offset + rank within bucket`` —
    the heavy window is partitioned and scales with executors."""
    from datapipeline_spark.operators.rank import bucketed_global_rank

    d = load_table(spark, sf_dir, "documents")
    h = d.select("doc_id", _sha_long("7|", F.col("doc_id")).alias("h"))
    return bucketed_global_rank(h, "h", ["doc_id"]).select("pos", "doc_id")


@query(
    "balance_labels",
    """
WITH hashed AS (
  SELECT label, vec_id, {h} AS h FROM embeddings
),
ranked AS (
  SELECT label, vec_id,
         row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn
  FROM hashed
)
SELECT label, vec_id FROM ranked WHERE rn <= 30
""".format(h=_SHA_SQL.format(prefix="21|", col="vec_id")),
)
def q_balance_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: at most n examples per label, chosen by
    seeded hash so the kept subset is reproducible and unbiased w.r.t. input
    order. Compiles to WindowGroupLimit — each map task keeps its local
    top-30 per label before the exchange, so shuffle volume is
    O(labels × 30 × tasks), not O(rows)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    h = e.select("label", "vec_id", _sha_long("21|", F.col("vec_id")).alias("h"))
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
        .select("label", "vec_id")
    )


def _ivf_fixed_sql(n_seeds: int = 8, nprobe: int = 3, k: int = 3) -> str:
    """Exact oracle for the IVF probe path with a fixed codebook: centroids
    are the embeddings of vec_id < n_seeds (a pretrained-codebook stand-in),
    so assignment, probing, and re-ranking are all plain SQL."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_seeds}),
dist AS (
  SELECT e.vec_id, e.v, s.cid,
         list_sum(list_transform(list_zip(e.v, s.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM e CROSS JOIN seeds s
),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist
  ) WHERE rn <= {nprobe} AND vec_id < 10
),
cand AS (
  SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS nv
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id != p.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, nv) /
               nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)), 0),
               4) AS score
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {k}
"""


@query("ivf_knn_fixed", _ivf_fixed_sql())
def q_ivf_knn_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search with a fixed codebook (centroids = embeddings of
    vec_id < 8), exercising exactly the scale path of similarity/ann.ivf_knn
    — map-stage assignment, broadcast probe join, exact re-rank — with a
    fully SQL-expressible oracle. The k-means variant (ivf_knn) keeps the
    learned quantizer; this one pins the distributed plumbing bit-for-bit."""
    from datapipeline_spark.similarity.ann import ivf_knn

    raw = load_table(spark, sf_dir, "embeddings")
    # seeds collect from the UNSPREAD scan: the vec_id < 8 filter pushes to
    # parquet and the 8-row collect is one narrow job — collecting through
    # spread()'s round-robin exchange paid a full-table repartition at
    # construction time (round-7 build profile)
    seeds = [
        [float(x) for x in r.embedding]
        for r in raw.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    e = spread(raw)
    queries = e.filter(F.col("vec_id") < 10)
    out = ivf_knn(e, queries, nprobe=3, k=3, centroids=seeds)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "corpus_pipeline",
    """
WITH d AS (SELECT doc_id, text, {words} AS w FROM documents),
q AS (
  SELECT doc_id, text,
         round(0.3 * least(len(w) / 100.0, 1.0)
             + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
             + 0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)), 6) AS quality
  FROM d
),
kept AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.62),
ded AS (
  SELECT doc_id, quality FROM (
    SELECT doc_id, quality,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
hashed AS (
  SELECT doc_id, quality, {h} AS hs FROM ded
),
sampled AS (SELECT doc_id, quality, hs FROM hashed WHERE hs % 100 < 50)
SELECT row_number() OVER (ORDER BY hs, doc_id) AS pos, doc_id, quality
FROM sampled
""".format(words=WORDS, h=_SHA_SQL.format(prefix="11|", col="doc_id")),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus preparation chain as ONE lazy plan: quality
    score (JVM expressions) → threshold filter → exact dedup (first doc per
    content fingerprint, WindowGroupLimit) → reproducible 50% hash sample
    (pure map) → stable global training order via the two-phase bucketed
    rank (operators/rank.py — partitioned window + broadcast offsets, no
    single-task sort). Catalyst fuses the score+filter+hash stages into the
    scan projection; the only shuffles are the dedup exchange and the final
    rank — shuffle keys scale with content cardinality, never corpus bytes."""
    from pyspark.sql import Window

    from datapipeline_spark.operators.rank import bucketed_global_rank

    d = load_table(spark, sf_dir, "documents")
    scored = quality_score(d).select("doc_id", "text", "quality")
    kept = scored.filter(F.col("quality") >= 0.62)
    wd = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    ded = (
        kept.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality")
    )
    hashed = ded.withColumn("hs", _sha_long("11|", F.col("doc_id")))
    sampled = hashed.filter(F.col("hs") % 100 < 50)
    return bucketed_global_rank(sampled, "hs", ["doc_id"]).select(
        "pos", "doc_id", "quality"
    )


_DECOR_SUFFIX_SQL = (
    "'</p> <br/> contact user' || doc_id || '@corp-mail.example "
    "(tel 555-123-4567) see https://docs.example/page/' || doc_id || "
    "'?ref=x &amp; &lt;raw&gt;'"
)


@query(
    "clean_text",
    r"""
WITH raw AS (
  SELECT doc_id,
         '<p id="' || doc_id || '">' || text || """
    + _DECOR_SUFFIX_SQL
    + r""" AS t
  FROM documents),
stripped AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM raw),
masked AS (SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      'https?://[^\s]+', '<URL>', 'g'),
      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t FROM stripped),
unescaped AS (SELECT doc_id,
  replace(replace(replace(replace(replace(replace(t,
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '),
    '&amp;', '&') AS t
  FROM masked),
clean AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_clean
          FROM unescaped)
SELECT doc_id, text_clean, length(text_clean)::BIGINT AS n_chars_clean
FROM clean
""",
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning (text/clean.py): strip HTML -> mask PII -> unescape
    entities -> normalize whitespace, all as one fused JVM projection. The
    synthetic documents carry no markup, so the query first decorates each
    doc with deterministic tags/email/URL/phone/entities (the SAME
    concatenation expression in both engines) so every cleaning stage is
    actually exercised by the oracle."""
    from datapipeline_spark.text import clean_text_col

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit('<p id="'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit("</p> <br/> contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@corp-mail.example (tel 555-123-4567) see https://docs.example/page/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=x &amp; &lt;raw&gt;"),
    )
    cleaned = clean_text_col(raw)
    return d.select(
        "doc_id",
        cleaned.alias("text_clean"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
    )


@query(
    "top_terms",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents)
SELECT term,
       count(*)::BIGINT              AS tf,
       count(DISTINCT doc_id)::BIGINT AS df_docs
FROM toks
WHERE term <> ''
GROUP BY term
ORDER BY tf DESC, term ASC
LIMIT 20
""",
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequency + document frequency, top-20 by tf with a
    total (tf DESC, term ASC) order. Scale shape: explode is a map stage;
    the groupBy gets map-side partial aggregation (term cardinality, not
    corpus bytes, crosses the wire); top-20 is TakeOrderedAndProject — no
    global sort materialization."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    return (
        toks.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("doc_id").cast("long").alias("df_docs"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(20)
    )


@query(
    "tfidf_top_terms",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
t AS (SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term),
d AS (SELECT term, count(*)::BIGINT AS df_docs FROM t GROUP BY term),
n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM documents),
s AS (SELECT t.doc_id, t.term, t.tf,
             round(t.tf * ln(n.n_docs / d.df_docs), 6) AS tfidf
      FROM t JOIN d USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn FROM s)
SELECT doc_id, term, tf, tfidf FROM r WHERE rn <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (idf = ln(N/df), smoothing-free).
    Scale shape: one shuffle builds per-(doc,term) counts; the vocabulary
    table (term -> df) is tiny relative to the corpus and is BROADCAST back,
    so the idf join moves no corpus-sized data; N arrives via a broadcast
    1-row cross join; the per-doc top-3 is a rank-filtered window
    (WindowGroupLimit pushes the k=3 cut below the sort at scale).
    Determinism: tfidf rounded to 6dp in DOUBLE in both engines before
    ranking, ties broken by term ASC — a total order per document."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    t = toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    d = t.groupBy("term").agg(F.count("*").cast("long").alias("df_docs"))
    n = docs.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    s = (
        t.join(F.broadcast(d), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
    )


@query(
    "chunk_documents",
    """
WITH d AS (SELECT doc_id, {words} AS w FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(generate_series(1, greatest(len(w), 1), 48)) AS start
  FROM d)
SELECT doc_id,
       ((start - 1) // 48)::BIGINT AS chunk_idx,
       array_to_string(list_slice(w, start, start + 63), ' ') AS chunk_text,
       len(list_slice(w, start, start + 63))::BIGINT AS n_tokens
FROM c
""".format(words=WORDS),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context-window chunking: 64-token windows advancing by 48 (16
    tokens of overlap), one row per chunk (text/chunk.py contract). Scale
    shape: pure narrow map — split/sequence/explode/slice fuse into one
    whole-stage-codegen projection beside the scan; no shuffle, no Python,
    and chunk rows stay on their document's input partition at 100 TB."""
    from datapipeline_spark.text import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), size=64, stride=48
    )


@query(
    "contamination_check",
    """
WITH {sh},
hsh AS (SELECT doc_id, {h48} AS h FROM sh),
bench AS (SELECT doc_id, h FROM hsh WHERE {split} % 100 < 10),
train AS (SELECT doc_id, h FROM hsh WHERE {split} % 100 >= 10),
hits AS (
  SELECT t.doc_id AS doc_id, t.h AS h, b.doc_id AS bench_id
  FROM train t JOIN bench b ON t.h = b.h)
SELECT doc_id,
       count(DISTINCT h)::BIGINT        AS n_shared_ngrams,
       count(DISTINCT bench_id)::BIGINT AS n_bench_docs
FROM hits
GROUP BY doc_id
""".format(
        sh=OCTOGRAMS,
        h48=H48.format(col="s"),
        split=_SHA_SQL.format(prefix="21|", col="doc_id"),
    ),
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: flag training documents sharing a
    verbatim 8-word span with a held-out benchmark split (deterministic 10%
    hash split of the corpus, same sha256 arithmetic as corpus_sample).
    Reports, per contaminated train doc, how many distinct 8-grams leak and
    how many benchmark docs are hit. Scale shape: shingling is a narrow
    explode and 8-grams immediately collapse to 48-bit md5 integers (same
    hash both engines), so the join/shuffle key is 8 bytes instead of a
    ~50-byte string and per-doc distinct pruning happens map-side; in
    production the benchmark side is a small curated eval set, so Spark's
    AQE broadcasts it and the check becomes shuffle-free over the 100 TB
    train side."""
    from datapipeline_spark.dedup.minhash import hashed_word_shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    # the train and bench branches both consume the shingle stream —
    # checkpoint it once (spread first: the 8-gram explode+md5 is the
    # compute-heavy stage and the scan is a single file split). Hashed
    # BEFORE the per-doc distinct: the dedup exchange then moves 16-byte
    # (doc_id, h) rows instead of full ~50-byte 8-gram strings; both
    # consumers are countDistinct/semi-join shaped, so 48-bit collisions
    # cannot change the result.
    # The lazy checkpoint is LOAD-BEARING at scale even though it charges
    # ~0.7 s of subtree materialization to construction locally (the §7
    # AQE finding): the branch filters are deterministic functions of the
    # group key, so pushdown splits the two consumers' subtrees below the
    # distinct exchange and WITHOUT the checkpoint the full-corpus
    # explode+md5+distinct runs twice (plan re-derives, no ReusedExchange
    # — measured round-7 session 3: removal nets −0.43 s at sf0.1 but
    # doubles the 100 TB-side work; rejected).
    sh = (
        hashed_word_shingles_from_tokens(
            spread(docs).select(
                "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w")
            ),
            "doc_id",
            "w",
            n=8,
        )
        .localCheckpoint(eager=False)
    )
    is_bench = _sha_long("21|", F.col("doc_id")) % 100 < 10
    bench = sh.filter(is_bench).withColumnRenamed("doc_id", "bench_id")
    train = sh.filter(~is_bench)
    return (
        train.join(bench, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").cast("long").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )


@query(
    "weighted_sample",
    """
SELECT doc_id, source, n_chars
FROM documents
WHERE {h} * 400 < least(n_chars, 400) * 4503599627370496
""".format(h=_SHA_SQL.format(prefix="31|", col="doc_id")),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sampling — importance sampling for
    training mixtures (longer documents kept proportionally more often,
    p = min(1, n_chars/400)): keep doc iff hash < p * 2^52, evaluated as an
    exact INTEGER cross-multiplication (h*400 < min(n_chars,400)*2^52) so
    no float rounding can flip a boundary doc between engines. Like
    corpus_sample this is a pure map — membership is a function of
    (doc_id, weight) alone, stable across reruns/partitioning, and the
    filter runs beside the scan at 100 TB. For fixed-n weighted sampling
    see balance_labels (per-group top-n by hash order)."""
    d = load_table(spark, sf_dir, "documents")
    keep = _sha_long("31|", F.col("doc_id")) * 400 < F.least(
        F.col("n_chars"), F.lit(400)
    ) * F.lit(4503599627370496)
    return d.filter(keep).select("doc_id", "source", "n_chars")


@query(
    "token_budget_mixture",
    """
WITH counted AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, $bpe${bpe}$bpe$))::BIGINT AS n_tokens,
         {h} AS hs,
         (1 + {hsrc} % 4) * 2000 AS budget
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens, budget,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY hs, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM counted
)
SELECT doc_id, source, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
FROM cum WHERE cum_before < budget
""".format(
        bpe=BPE_PATTERN,
        h=_SHA_SQL.format(prefix="37|", col="doc_id"),
        hsrc=_SHA_SQL.format(prefix="mix|", col="source"),
    ),
)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing — THE sampling primitive for training-set
    composition: each source contributes documents, chosen in seeded-hash
    order, until its token budget is covered (budget = deterministic
    per-source target; the doc crossing the boundary is kept, so the
    budget is a covered minimum).

    The per-source exclusive token scan uses the same two-phase bucketed
    shape as text/pack.py — per-(source, bucket) totals, cumulative bucket
    offsets over a tiny broadcast frame, rank within (source, bucket) —
    so NO per-source single-partition window exists: a 50 TB source scans
    as 256 parallel buckets, and the result is exact integers, identical
    to the naive per-source cumsum the oracle runs."""
    from pyspark.sql import Window

    from datapipeline_spark.text.analysis import bpe_token_count

    d = bpe_token_count(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.col("n_bpe_tokens").alias("n_tokens"),
        _sha_long("37|", F.col("doc_id")).alias("hs"),
        ((1 + _sha_long("mix|", F.col("source")) % 4) * 2000).alias("budget"),
    )
    d = d.withColumn("__b__", F.shiftright(F.col("hs"), 44).cast("int"))
    # phase 1: per-(source, bucket) token totals -> exclusive offsets over a
    # frame bounded by sources x 256 rows (broadcast back)
    totals = d.groupBy("source", "__b__").agg(F.sum("n_tokens").alias("__t__"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("__b__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off__", F.coalesce(F.sum("__t__").over(w_off), F.lit(0))
    ).select("source", "__b__", "__off__")
    # phase 2: exclusive scan WITHIN each (source, bucket) partition
    w_in = (
        Window.partitionBy("source", "__b__")
        .orderBy("hs", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        d.join(F.broadcast(offsets), ["source", "__b__"])
        .withColumn(
            "cum_before",
            F.col("__off__") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .filter(F.col("cum_before") < F.col("budget"))
    )
    return out.select("doc_id", "source", "n_tokens", "cum_before")


@query(
    "dedup_passages",
    """
WITH w AS (SELECT doc_id, {words} AS w FROM documents),
ch AS (
  SELECT doc_id, i AS idx,
         array_to_string(w[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
  FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i)
),
h AS (SELECT doc_id, idx, chunk, md5(chunk) AS hsh FROM ch),
firsts AS (SELECT hsh, min(doc_id * 1000000 + idx) AS first_key FROM h GROUP BY hsh),
kept AS (
  SELECT h.doc_id, h.idx, h.chunk FROM h JOIN firsts USING (hsh)
  WHERE h.doc_id * 1000000 + h.idx = firsts.first_key
),
tot AS (SELECT doc_id, count(*) AS n_chunks FROM h GROUP BY doc_id),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT tot.doc_id, n_chunks,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(cleaned, '') AS cleaned
FROM tot LEFT JOIN reb USING (doc_id)
""".format(words=WORDS),
)
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global passage dedup WITH document rebuild: split every doc
    into consecutive 8-word spans, keep only the globally-FIRST occurrence
    of each span (ordered by (doc_id, position) — exact integer key, no
    tie ambiguity), and reassemble each document from its surviving spans.
    This is the span-removal counterpart of exact_dedup (whole docs) and
    shared_passage_pairs (detection only). Scale shape (round-7 opt, the
    guide-§8 decide-small/move-once decomposition): chunk TEXT never
    crosses an exchange. The exploded chunk stream collapses to
    (md5, min(okey)) in ONE long-buffer HashAggregate — okey encodes
    (doc_id, idx) reversibly, so the winner's coordinates come back by
    integer arithmetic, not by re-joining the chunk stream against the
    hash winners (the old form's second full-width exchange; a min-over-
    struct carrying the chunk was measured first and rejected — struct
    aggregation buffers force SortAggregate). Surviving chunk text is
    REGENERATED in-row at rebuild from the per-doc word array (the same
    slice/array_join expressions that produced it, on the winning idx
    list), and per-doc chunk totals are ceil(|words|/8) straight off the
    scan — the exploded stream has exactly one consumer."""
    d = load_table(spark, sf_dir, "documents")
    # measured, NOT spread: the chunk explode + md5 costs ~0.25 s on the
    # single scan task at sf0.1 while a round-robin exchange of the word
    # arrays costs ~0.4 s (and of the raw text ~0.3 s) — the payload is
    # heavier than the compute it would parallelize (tables.spread's
    # counter-indication, the inverse of the simhash case)
    w = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    n_chunk = F.ceil(F.size("w") / F.lit(8.0)).cast("long")
    # guard: Spark sequence(0, -1) counts DOWN ([0,-1]) instead of returning
    # empty, so an empty document must short-circuit to an empty chunk list
    ch = w.select(
        "doc_id",
        F.explode(
            F.when(F.size("w") == 0, F.array().cast("array<struct<idx:bigint,chunk:string>>"))
            .otherwise(F.transform(
                F.sequence(F.lit(0), n_chunk - 1),
                lambda i: F.struct(
                    i.alias("idx"),
                    F.array_join(F.slice(F.col("w"), i * 8 + 1, 8), " ").alias("chunk"),
                ),
            ))
        ).alias("c"),
    ).select("doc_id", F.col("c.idx").alias("idx"), F.col("c.chunk").alias("chunk"))
    h = ch.withColumn("hsh", F.md5("chunk")).withColumn(
        "okey", F.col("doc_id") * 1000000 + F.col("idx")
    )
    # okey is unique per chunk row and encodes (doc_id, idx) reversibly
    # (idx < 1e6 — the same bound the oracle's okey uses), so the
    # globally-first occurrence of each span is min(okey): a long-buffer
    # HashAggregate whose exchange carries (md5, int64) only.
    kept_keys = h.groupBy("hsh").agg(F.min("okey").alias("k"))
    per_doc = (
        kept_keys.select(
            F.expr("k DIV 1000000").alias("doc_id"),
            F.expr("k % 1000000").alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("idx")).alias("idxs"))
    )
    # exploded-chunk count per doc == ceil(|words|/8) for non-empty docs;
    # docs whose chunk list is empty never reached the old aggregate either.
    # ONE left join attaches the winning idx lists to the scan (per_doc is
    # tiny — broadcast): a doc with kept chunks always has chunks, so this
    # is exactly the old tot ⟕ reb; surviving chunk text is regenerated
    # in-row with the same slice/array_join that produced it, and idxs is
    # sorted, so concatenation order matches the old
    # array_sort(collect_list(struct(idx, chunk))) rebuild exactly
    return (
        w.filter(F.size("w") > 0)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_chunk.alias("n_chunks"),
            F.coalesce(F.size("idxs").cast("long"), F.lit(0)).alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.col("idxs"),
                        lambda i: F.array_join(F.slice(F.col("w"), i * 8 + 1, 8), " "),
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("cleaned"),
        )
    )


@query(
    "pii_redact",
    r"""
WITH contacts AS (
  SELECT c_custkey,
         c_name || ' <' || lower(replace(c_name, '#', '')) || '@corp.example> tel +1-555-'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
  FROM customer
)
SELECT c_custkey, contact,
       regexp_replace(
         regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
         '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(contact, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
FROM contacts
""",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""PII scrubbing (standard pre-training hygiene pass; the reference has
    no text-scrubbing surface at all): regex redaction of emails and phone
    numbers with per-record match counts for an audit trail. The corpus
    tables are synthetic word soup with no PII, so the contact strings are
    derived deterministically from customer rows INSIDE the query — the
    point under test is the scrubbing plumbing itself (pattern
    compatibility between Spark's Java regex and DuckDB's RE2 on the
    character-class subset, global replacement, count extraction), all
    JVM-side regexp_replace/regexp_count in a fused map-only projection:
    zero shuffles, trivially scale-parallel."""
    c = load_table(spark, sf_dir, "customer")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    phone = r"\+1-[0-9]{3}-[0-9]{4}"
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace("c_name", "#", "")),
        F.lit("@corp.example> tel +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    out = c.select("c_custkey", contact.alias("contact"))
    return out.select(
        "c_custkey",
        "contact",
        F.regexp_replace(
            F.regexp_replace("contact", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
        F.regexp_count("contact", F.lit(email)).alias("n_emails"),
        F.regexp_count("contact", F.lit(phone)).alias("n_phones"),
    )


@query(
    "fuzzy_match_customers",
    """
SELECT a.c_custkey AS left_key, b.c_custkey AS right_key,
       CAST(a.c_nationkey AS BIGINT) AS block,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_nationkey < 5 AND levenshtein(a.c_name, b.c_name) <= 2
""",
)
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage via symmetric-delete neighborhoods
    (dedup/symdelete.deletion_join — the SymSpell index as a join): all
    name pairs within a nation block at levenshtein <= 2.

    The naive blocked self-join compares O(Σ block²) pairs and went 53x
    super-linear on the 10x sf1 rehearsal (block count is FIXED at 25
    nations, so blocks grow with the data). The deletion join is EXACT —
    close pairs must share a ≤2-deletion variant, candidates are the
    equi-join on (block, variant), bounded levenshtein verifies — so the
    naive O(block²) SQL remains the oracle verbatim (differential pytest
    pins equality vs brute force). Chosen over the also-exact PassJoin
    segment scheme (dedup/passjoin.py) because these names share a long
    constant prefix: positional segments all collide (measured quadratic
    again), while deletion variants keep the discriminating digits in
    the join key. deletion_join spreads its own variant explode off the
    single-file dim scan (round-7: moved into the operator)."""
    from datapipeline_spark.dedup.symdelete import deletion_join

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    # the demo scopes to 5 of the 25 blocks — comparison volume is the ONLY
    # cost knob in blocked ER, and the operator's shape is identical at any
    # block subset
    scoped = c.filter(F.col("c_nationkey") < 5)
    pairs = deletion_join(
        scoped, "c_custkey", "c_name", k=2, block_cols=["c_nationkey"]
    )
    return pairs.select(
        F.col("id_a").alias("left_key"),
        F.col("id_b").alias("right_key"),
        F.col("c_nationkey").cast("long").alias("block"),
        "dist",
    )


@query(
    "embedding_quantize",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
         greatest(abs(list_aggregate(v, 'min')), abs(list_aggregate(v, 'max'))) AS maxabs
  FROM e
),
q AS (
  SELECT vec_id, v, maxabs, maxabs / 127 AS scale,
         CASE WHEN maxabs = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(floor(x / (maxabs / 127) + 0.5) AS INTEGER))
         END AS qvec
  FROM m
)
SELECT vec_id,
       floor(scale * 1000000000 + 0.5) / 1000000000 AS scale,
       qvec,
       CAST(len(list_filter(qvec, c -> abs(c) = 127)) AS BIGINT) AS n_saturated
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of an embedding column (the standard
    4x storage/bandwidth shrink before ANN serving; scale = maxabs/127
    per vector, values floor(x/scale + 0.5)) plus the saturation count as
    an integer audit column. Pure map stage — JVM higher-order array
    functions, no shuffle, no Python — so it composes with the ANN
    queries at any corpus size. The audit column is deliberately an
    INTEGER: a float max-reconstruction-error output proved one-ulp
    plan-shape-sensitive inside Spark itself (the same query with one
    extra projected column flips the last bit of the double — codegen
    subexpression reuse changes FP evaluation), so no rounding convention
    can pin it; the codes and scale are stable and hash-match exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    maxabs = F.greatest(F.abs(F.array_min(v)), F.abs(F.array_max(v)))
    scale = (F.col("maxabs") / 127).alias("scale")
    m = e.select("vec_id", v.alias("v"), maxabs.alias("maxabs"))
    q = m.select(
        "vec_id",
        "v",
        "maxabs",
        (F.col("maxabs") / 127).alias("scale"),
        F.when(
            F.col("maxabs") == 0,
            F.transform(F.col("v"), lambda x: F.lit(0)),
        )
        .otherwise(
            F.transform(
                F.col("v"),
                lambda x: F.floor(x / (F.col("maxabs") / 127) + 0.5).cast("int"),
            )
        )
        .alias("qvec"),
    )
    n_sat = F.size(F.filter(F.col("qvec"), lambda c: F.abs(c) == 127))
    return q.select(
        "vec_id",
        (F.floor(F.col("scale") * 1e9 + 0.5) / 1e9).alias("scale"),
        "qvec",
        n_sat.cast("long").alias("n_saturated"),
    )


def _linkage_sql() -> str:
    """Oracle for fellegi_sunter scoring: the SAME FieldComparison objects
    produce the integer weight literals, so both engines sum identical
    constants selected by identical boolean comparators."""
    from datapipeline_spark.operators.linkage import WEIGHT_SCALE, weight_pair

    # NOTE: no Column construction here — this runs at module import, before
    # any SparkContext exists (the driver imports __spark_entry__ first)
    name_a, name_d = weight_pair(0.95, 0.01)
    seg_a, seg_d = weight_pair(0.90, 0.20)
    bal_a, bal_d = weight_pair(0.80, 0.10)
    up, lo = 3 * WEIGHT_SCALE, 0
    return f"""
WITH pairs AS (
  SELECT a.c_custkey AS left_key, b.c_custkey AS right_key,
         CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
              THEN {name_a} ELSE {name_d} END
       + CASE WHEN a.c_mktsegment = b.c_mktsegment
              THEN {seg_a} ELSE {seg_d} END
       + CASE WHEN abs(CAST(round(a.c_acctbal * 100) AS BIGINT)
                       - CAST(round(b.c_acctbal * 100) AS BIGINT)) <= 50000
              THEN {bal_a} ELSE {bal_d} END AS match_weight
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE a.c_nationkey < 5
)
SELECT left_key, right_key, match_weight,
       CASE WHEN match_weight >= {up} THEN 'match'
            WHEN match_weight >= {lo} THEN 'possible'
            ELSE 'non_match' END AS decision
FROM pairs
WHERE match_weight >= {lo}
"""


@query("linkage_scores_customers", _linkage_sql())
def q_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over nation-blocked candidate
    pairs (operators/linkage.py): per-field log2(m/u) weights — bounded-
    levenshtein name agreement, market-segment equality, account balance
    within $500 (integer cents) — summed as integer micro-units and
    classified by the two-threshold decision rule. Same blocking + explicit
    probe-side fan-out as fuzzy_match_customers; emits only the
    possible-or-better pairs, so the output is the clerical-review queue,
    not the quadratic pair stream."""
    from datapipeline_spark.operators.linkage import FieldComparison, fellegi_sunter_score

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    scoped = c.filter(F.col("c_nationkey") < 5)
    # NOTE: unlike entity_resolution_pipeline, this query's output is the
    # clerical-review queue (match_weight >= 0), which INCLUDES pairs whose
    # names disagree (segment+balance agreement alone scores 0.86 >= 0) — a
    # name-driven candidate join would drop those rows, so the full blocked
    # self-join is semantically required here.
    fanout = spark.sparkContext.defaultParallelism * 2
    a = scoped.repartition(fanout, F.col("c_custkey")).alias("a")
    b = c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    )
    comparisons = [
        FieldComparison(
            "name", F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2) >= 0, 0.95, 0.01
        ),
        FieldComparison(
            "segment", F.col("a.c_mktsegment") == F.col("b.c_mktsegment"), 0.90, 0.20
        ),
        FieldComparison(
            "acctbal",
            F.abs(
                F.round(F.col("a.c_acctbal") * 100).cast("long")
                - F.round(F.col("b.c_acctbal") * 100).cast("long")
            )
            <= 50000,
            0.80,
            0.10,
        ),
    ]
    scored = fellegi_sunter_score(pairs, comparisons, upper=3.0, lower=0.0)
    return scored.filter(F.col("match_weight") >= 0).select(
        F.col("a.c_custkey").alias("left_key"),
        F.col("b.c_custkey").alias("right_key"),
        "match_weight",
        "decision",
    )


@query(
    "row_minhash_signatures",
    """
WITH {bigrams},
hashed AS (SELECT doc_id, {h48} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
SELECT doc_id, concat_ws('_', {concat}) AS minhash_sig FROM sig
""".format(
        bigrams=BIGRAMS,
        h48=H48.format(col="s"),
        mins=", ".join(
            f"min(({a} * h + {b}) % {MOD}) AS mh{j}"
            for j, (a, b) in enumerate(PARAMS.coeffs)
        ),
        concat=", ".join(f"mh{j}" for j in range(PARAMS.num_hashes)),
    ),
)
def q_row_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ROW minhash signatures (dedup/minhash.row_minhash): the whole
    signature computes inside the scan projection — split, shingle,
    hash, k permuted array-mins — with NO shuffle at all (plan-asserted).
    min over the shingle multiset equals min over the distinct set, so the
    grouped oracle is exact. This is the ingest-time / streaming form of
    minhash_signatures; docs with fewer than 2 words have no signature and
    are excluded (matching the oracle's shingle-derived universe)."""
    from datapipeline_spark.dedup import row_minhash

    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        row_minhash(d, "text", PARAMS)
        .filter(F.col("minhash_sig").isNotNull())
        .select("doc_id", "minhash_sig")
    )


@query(
    "inverted_index",
    """
WITH tok AS (
  SELECT doc_id, lower(t) AS term
  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
  WHERE t <> ''
),
tf AS (SELECT term, doc_id, count(*) AS c FROM tok GROUP BY term, doc_id),
post AS (
  SELECT term,
         count(*) AS df,
         list(doc_id ORDER BY doc_id) AS doc_ids,
         list(c ORDER BY doc_id) AS tfs
  FROM tf GROUP BY term
  HAVING count(*) <= 100
)
SELECT term, CAST(df AS BIGINT) AS df, doc_ids, tfs FROM post
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with stop-word DF cap (text/index.py
    build_inverted_index): term → sorted (doc_id, tf) postings. Two
    map-side-combinable shuffles, in-row sort_array, posting length
    bounded by max_df=100 — the retrieval structure behind corpus search
    and BM25 at 100 TB, never a global sort. Oracle: DuckDB ordered list()
    aggregation over the identical tokenization."""
    from datapipeline_spark.text import build_inverted_index

    d = load_table(spark, sf_dir, "documents")
    return build_inverted_index(d, max_df=100)


@query(
    "bm25_search",
    """
WITH tok AS (
  SELECT doc_id, lower(t) AS term
  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
  WHERE t <> ''
),
lens AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('hash', 'join', 'table') GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
parts AS (
  SELECT tf.doc_id,
         CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                    * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                    * 1000000000) AS BIGINT) AS p9
  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
),
s AS (SELECT doc_id, CAST(sum(p9) AS BIGINT) AS s9 FROM parts GROUP BY doc_id)
SELECT doc_id, round(s9 / 1000000000.0, 4) AS score,
       CAST(row_number() OVER (ORDER BY s9 DESC, doc_id) AS BIGINT) AS rank
FROM s
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking for a fixed query bag (text/index.bm25_scores,
    k1=1.2, b=0.75, Lucene idf). Token stream filtered to the query terms
    before any aggregation; doc lengths one map-side-combinable aggregate;
    N/avgdl broadcast. Per-(doc, term) contributions round to nano-units
    before the exact bigint per-doc sum, so scores and ranks are
    order-independent and hash-match the oracle."""
    from datapipeline_spark.text import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, ["hash", "join", "table"])


@query(
    "triangle_counts_parts",
    """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0),
e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
und AS (SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0),
deg AS (SELECT a, count(*) AS d FROM und GROUP BY a),
ranked AS (
  SELECT u.a, u.b FROM und u
  JOIN deg da ON u.a = da.a JOIN deg db ON u.b = db.a
  WHERE (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
),
wedges AS (
  SELECT w1.a AS w, w1.b AS u, w2.b AS v
  FROM ranked w1 JOIN ranked w2 ON w1.a = w2.a AND w1.b < w2.b
),
closing AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM ranked),
tris AS (SELECT w, u, v FROM wedges JOIN closing USING (u, v)),
cr AS (
  SELECT w AS node FROM tris
  UNION ALL SELECT u FROM tris
  UNION ALL SELECT v FROM tris
)
SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
FROM cr GROUP BY node
""",
)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-purchase graph
    (operators/graph.triangle_counts): degree orientation generates each
    wedge at its lowest-degree vertex — hub nodes never enumerate their
    own deg² wedge sets (the 'curse of the last reducer' guard) — then one
    equi-join closes wedges against the oriented edge set. Integer-exact;
    the oracle replays the identical orientation."""
    from datapipeline_spark.operators.graph import cooccurrence_edges, triangle_counts

    # demo scope: 1-in-5 orders (deterministic key filter) — triangle volume
    # is the only cost knob and the operator shape is identical at any
    # subset; the full graph at sf0.1 runs ~12 s (measured) purely on wedge
    # mass, which buys no additional plan coverage
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = cooccurrence_edges(li, group_col="l_orderkey", item_col="l_partkey")
    return triangle_counts(edges, checkpoint=True).select(
        F.col("node").alias("p_partkey"), "n_triangles"
    )


TERM_MAX_DF = 100  # shared-term cap for the sparse-cosine pair surface


@query(
    "doc_cosine_pairs",
    """
WITH tok AS (
  SELECT doc_id, lower(t) AS term
  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
  WHERE t <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
rare AS (SELECT term FROM tf GROUP BY term HAVING count(*) <= {max_df}),
tff AS (SELECT tf.* FROM tf JOIN rare USING (term)),
norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tff GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
  FROM tff a JOIN tff b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cosine
FROM dots JOIN norms na ON id_a = na.doc_id JOIN norms nb ON id_b = nb.doc_id
WHERE round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) >= 0.5
""".format(max_df=TERM_MAX_DF),
)
def q_doc_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-frequency cosine pairs over the DF-capped vocabulary —
    the bag-of-words near-dup surface complementing n-gram jaccard
    (restricted-universe DF cap bounds the term-keyed join exactly like
    ngram_jaccard_pairs) and dense-embedding cosine. Dot products and
    squared norms are exact integer sums; only the final cosine divides in
    double and rounds to 4 dp, so the result hash-matches under any
    partitioning."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .withColumn("term", F.lower(F.col("term")))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    rare = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= TERM_MAX_DF)
        .select("term")
    )
    tff = tf.join(rare, "term", "leftsemi")
    norms = tff.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = tff.select(F.col("doc_id").alias("id_a"), "term", F.col("tf").alias("tfa"))
    b = tff.select(F.col("doc_id").alias("id_b"), "term", F.col("tf").alias("tfb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    cos = F.round(
        F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 4
    )
    return (
        dots.join(norms.withColumnsRenamed({"doc_id": "id_a", "n2": "na"}), "id_a")
        .join(norms.withColumnsRenamed({"doc_id": "id_b", "n2": "nb"}), "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.5)
        .select("id_a", "id_b", "cosine")
    )


@query(
    "prefix_jaccard_join",
    """
WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
{bigrams_scoped},
sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
""".format(bigrams_scoped=BIGRAMS.replace("FROM documents", "FROM d0")),
)
def q_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT set-similarity join (dedup/ppjoin.py,
    PPJoin-style): candidates share a token in each side's rare-first
    prefix (lossless for jaccard >= t by the prefix-filter theorem), then
    candidate-bounded exact verification. The oracle is deliberately the
    BRUTE-FORCE all-pairs SQL: the bounded plan must reproduce it
    bit-for-bit — exact semantics with LSH-class candidate volume, the
    third leg of the near-dup stool next to minhash_lsh_pairs (approximate
    recall) and ngram_jaccard_pairs (restricted universe)."""
    from datapipeline_spark.dedup import ppjoin_pairs

    # demo scope (1-in-5 docs): the driver corpus draws from a SMALL synthetic vocabulary,
    # so every prefix token still lands in many docs and candidate volume
    # approaches all-pairs (64 s at sf0.1 unscoped) — the opposite of a
    # real corpus, where the rare-first prefix prunes hard. Operator shape
    # is identical at any subset; exactness vs brute force is what the
    # oracle pins (and the recall-vs-brute unit tests).
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return ppjoin_pairs(d, threshold=0.5)


# prefix-group cap for the guarded PPJoin variant: groups above this are
# dropped before pair generation (deterministic, mirrored in the oracle)
_PPJ_CAP = 64


@query(
    "prefix_jaccard_join_capped",
    """
WITH {bigrams}
, dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
toks AS (
  SELECT sh.doc_id, sh.s, dfq.df,
         row_number() OVER (PARTITION BY sh.doc_id ORDER BY dfq.df, sh.s) AS pos,
         count(*) OVER (PARTITION BY sh.doc_id) AS n
  FROM sh JOIN dfq USING (s)
),
pref AS (
  SELECT doc_id, s, pos, n FROM toks
  WHERE pos <= n - ((n * 500000 + 999999) // 1000000) + 1
),
keepg AS (SELECT s FROM pref GROUP BY s HAVING count(*) <= {cap}),
pk AS (SELECT pref.* FROM pref JOIN keepg USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pk a JOIN pk b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE b.n * 1000000 >= a.n * 500000
    AND a.n * 1000000 >= b.n * 500000
    AND (least(a.n - a.pos, b.n - b.pos) + 1) * 1500000 >= 500000 * (a.n + b.n)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ic
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(ic * 1.0 / (sa.n + sb.n - ic), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE round(ic * 1.0 / (sa.n + sb.n - ic), 6) >= 0.5
""".format(bigrams=BIGRAMS, cap=_PPJ_CAP),
)
def q_prefix_jaccard_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GUARDED form of the exact set-similarity join (dedup/ppjoin.py
    `max_prefix_group` + `on_exceed='drop'`): prefix-token groups larger
    than the cap are dropped before any pair is generated, so the plan is
    bounded by cap²/2 pairs per surviving group even on the adversarial
    small-vocabulary corpus where the unguarded exact join's output is
    quadratic (prefix_jaccard_join runs 1-in-5 scoped for exactly that
    reason; this variant runs the FULL documents table). The trade is
    deterministic and mirrored token-for-token in the oracle: a pair whose
    every shared prefix token is boilerplate is dropped; all surviving
    candidates verify with exact jaccard. The integer prefix length
    ((n·T + 999999) DIV 1e6 with T = floor(t·1e6)) and the integer
    position/length filters are identical in both engines."""
    from datapipeline_spark.dedup import ppjoin_pairs

    d = load_table(spark, sf_dir, "documents")
    return ppjoin_pairs(
        d, threshold=0.5, max_prefix_group=_PPJ_CAP, on_exceed="drop"
    )


def _kcore_sql(k: int = 12, rounds: int = 8) -> str:
    """Unrolled peeling oracle: peeling is monotone with a unique fixpoint,
    so unrolling AT LEAST as many rounds as convergence takes (asserted
    in-query by the Spark side's max_rounds) yields the identical core."""
    # AS MATERIALIZED: each e{i} is referenced twice (deg{i} and e{i+1});
    # DuckDB inlines multi-referenced CTEs by default, which would make the
    # unrolled chain recompute e0's self-join 2^rounds times.
    ctes = ["""e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
)"""]
    for i in range(rounds):
        ctes.append(
            f"deg{i} AS (SELECT a, count(*) AS d FROM e{i} GROUP BY a),\n"
            f"keep{i} AS MATERIALIZED (SELECT a FROM deg{i} WHERE d >= {k}),\n"
            f"e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e"
            f" JOIN keep{i} ka ON e.a = ka.a JOIN keep{i} kb ON e.b = kb.a)"
        )
    chain = ",\n".join(ctes)
    return f"""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0),
{chain}
SELECT DISTINCT a AS p_partkey FROM e{rounds}
"""


@query("kcore_parts", _kcore_sql())
def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-core of the (1-in-5-orders-scoped) co-purchase graph
    (operators/graph.kcore_nodes): FRONTIER peeling over a static
    adjacency table — per-round work proportional to the peeled frontier,
    sparse convergence probes (every 4th round), lineage checkpointed
    every 2nd. max_rounds=8 doubles as the proof obligation that the
    oracle's unroll depth suffices (the query RAISES if convergence needs
    more). In the bench headline since round 5 (timed numbers include the
    iterative construction); round 6 rebuilt the loop from the per-round
    edge-relation form (2.5 s) to this one (~1.8 s at sf0.1)."""
    from datapipeline_spark.operators.graph import cooccurrence_edges, kcore_nodes

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = cooccurrence_edges(li, group_col="l_orderkey", item_col="l_partkey")
    return kcore_nodes(edges, k=12, max_rounds=8).select(
        F.col("node").alias("p_partkey")
    )


def _hll_sql(p: int = 10) -> str:
    """Direct one-pass HLL oracle. The Spark side computes per-month partial
    sketches and merges them; register-max associativity makes that
    bit-identical to this direct pass (pytest pins merge == direct too).
    scaled_harmonic is an exact integer; est_raw is one IEEE division of it
    by an embedded double constant — both engines round identically."""
    from datapipeline_spark.sketch.hll import alpha_numerator

    m = 1 << p
    rem_bits = 60 - p
    mask = (1 << rem_bits) - 1
    rho_max = rem_bits + 1
    num = repr(alpha_numerator(p))
    return f"""
WITH h AS (
  SELECT l_returnflag,
         (('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
  FROM lineitem
),
r AS (
  SELECT l_returnflag, h >> {rem_bits} AS reg,
         max(CASE WHEN (h & {mask}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h & {mask})) END) AS rho
  FROM h GROUP BY l_returnflag, reg
),
s AS (
  SELECT l_returnflag, count(*)::BIGINT AS n_registers,
         (sum(1::BIGINT << ({rho_max} - rho))
          + ({m} - count(*)) * (1::BIGINT << {rho_max}))::BIGINT AS scaled_harmonic
  FROM r GROUP BY l_returnflag
)
SELECT l_returnflag, n_registers, scaled_harmonic,
       {num} / scaled_harmonic::DOUBLE AS est_raw
FROM s
"""


@query("hll_distinct_orders", _hll_sql())
def q_hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct orders per ship mode via the deterministic HyperLogLog
    sketch (sketch/hll.py): per-month partial register states, merged by
    max-per-register, then collapsed to (occupied registers, exact scaled
    harmonic sum, raw estimate). The two-level plan is the sketch's point —
    partial sketches over any partitioning merge to the same state as one
    pass, carrying at most m=1024 rows per group per task. The ln-based
    small-range correction stays driver-side (corrected_estimate) because
    libm is not bit-stable cross-engine; everything emitted here is.
    Reference has no sketches (exact CoverageStatsAccumulator only —
    src/datapipeline/pipelines/dataset/stats.py)."""
    from datapipeline_spark.functions.hashing import resolve_hash_mode
    from datapipeline_spark.sketch.hll import hll_estimate, hll_merge, hll_registers

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.date_trunc("month", F.col("l_shipdate")).alias("month"),
    )
    if resolve_hash_mode() == "oracle":
        # single-row-group testdata caps the md5/conv map stage at 1 task;
        # in fast mode the xxhash64 projection is too cheap to justify the
        # round-robin exchange (A/B: spread cost > serial-hash cost there)
        li = spread(li)
    partial = hll_registers(li, "l_orderkey", ["l_returnflag", "month"], p=10)
    merged = hll_merge(partial, ["l_returnflag"])
    return hll_estimate(merged, ["l_returnflag"], p=10)


@query(
    "bloom_prefilter_revenue",
    """
SELECT date_trunc('month', o.o_orderdate) AS month,
       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
             / 100.0, 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""",
)
def q_bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue of urgent orders with the lineitem probe side
    Bloom-pre-filtered before the join shuffle (operators/bloom.py): the
    urgent-orders bitmap (one bit_or aggregation, <=4096 longs collected)
    filters ~80% of lineitem map-side, so only ~1/5 of the fact shuffles.
    No false negatives makes this EXACTLY the plain join — which is the
    oracle; false positives are removed by the join itself. Revenue rides
    the repo's cents discipline (per-row round to bigint cents, exact
    integer sum — each row's double product is bit-identical across
    engines, so the sum is order- and engine-invariant; a raw double sum
    drifted in the last cent on 2-3 of 80 months at sf1). Regime note:
    at bench SF the build side is broadcast anyway, so the plain join
    also avoids a probe shuffle and the bitmap's bit tests are pure
    overhead (~2x the plain join here); the operator's regime is a build
    side too big to broadcast as a hash relation while its KEY SET still
    fits an m-bit bitmap — there the plain join shuffles the whole fact
    and this plan shuffles only the matching fraction."""
    from datapipeline_spark.operators.bloom import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    joined = bloom_prefilter_join(li, o, "l_orderkey", "o_orderkey")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(cents) / 100.0, 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def _hll_overlap_sql(p: int = 10) -> str:
    """Inclusion-exclusion over register states, replayed in SQL. r and e
    are each referenced twice -> AS MATERIALIZED (DuckDB inlines
    multi-referenced CTEs; without it the register build runs 2x/4x)."""
    from datapipeline_spark.sketch.hll import alpha_numerator

    m = 1 << p
    rem_bits = 60 - p
    mask = (1 << rem_bits) - 1
    rho_max = rem_bits + 1
    num = repr(alpha_numerator(p))
    return f"""
WITH h AS (
  SELECT l_returnflag AS flag,
         (('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
r AS MATERIALIZED (
  SELECT flag, h >> {rem_bits} AS reg,
         max(CASE WHEN (h & {mask}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h & {mask})) END) AS rho
  FROM h GROUP BY flag, reg
),
e AS MATERIALIZED (
  SELECT flag,
         (sum(1::BIGINT << ({rho_max} - rho))
          + ({m} - count(*)) * (1::BIGINT << {rho_max}))::BIGINT AS sh
  FROM r GROUP BY flag
),
ru AS (SELECT reg, max(rho) AS rho FROM r GROUP BY reg),
eu AS (
  SELECT (sum(1::BIGINT << ({rho_max} - rho))
          + ({m} - count(*)) * (1::BIGINT << {rho_max}))::BIGINT AS sh
  FROM ru
)
SELECT a.sh AS sh_a, b.sh AS sh_b, u.sh AS sh_union,
       {num} / a.sh::DOUBLE AS est_a,
       {num} / b.sh::DOUBLE AS est_b,
       {num} / u.sh::DOUBLE AS est_union,
       ({num} / a.sh::DOUBLE + {num} / b.sh::DOUBLE - {num} / u.sh::DOUBLE)
         AS est_intersection
FROM e a, e b, eu u
WHERE a.flag = 'R' AND b.flag = 'A'
"""


@query("hll_flag_overlap", _hll_overlap_sql())
def q_hll_flag_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch algebra (sketch/hll.hll_overlap): distinct-order
    estimates for returnflag R, A, their union (register max-merge) and
    intersection (inclusion-exclusion) — never materializing either key
    set. All emitted doubles are single IEEE divisions/adds of exact
    integer register sums, so even the intersection estimate hash-matches
    the oracle. Accuracy vs the true overlap is pinned in
    tests/test_sketch.py."""
    from datapipeline_spark.sketch.hll import hll_overlap

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    return hll_overlap(li, "l_orderkey", "l_returnflag", "R", "A", p=10)


@query(
    "orders_checksum",
    """
WITH c AS (
  SELECT (('0x' || substr(md5(
            o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
            o_orderstatus || '|' || o_orderpriority || '|' ||
            CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR || '|' ||
            o_orderdate::DATE::VARCHAR
          ), 1, 12))::UBIGINT)::BIGINT AS h
  FROM orders
)
SELECT h % 16 AS bucket,
       count(*)::BIGINT AS n_rows,
       (sum(h)::HUGEINT % 2305843009213693951)::BIGINT AS hash_sum,
       bit_xor(h) AS hash_xor
FROM c GROUP BY 1
""",
)
def q_orders_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent bucketed content checksum of the orders table
    (operators/checksum.table_checksum): 16 bucket rows of
    count + mod-2^61-1 digest sum + digest xor, from ONE map-side-combined
    aggregation — the "are these two 100 TB replicas equal?" primitive
    that never sorts, collects, or joins the data. Doubles enter via the
    repo's integer-cents canonicalization (float→string is not
    engine-portable); the oracle replays the identical digest arithmetic,
    so this also demonstrates cross-ENGINE checksum comparison."""
    from datapipeline_spark.operators.checksum import table_checksum

    o = load_table(spark, sf_dir, "orders")
    canon = o.select(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    return table_checksum(
        canon,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "cents", "d"],
        n_buckets=16,
    )


@query(
    "spearman_qty_price",
    """
WITH r AS (
  SELECT l_returnflag,
         (2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
          + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)::BIGINT AS rx,
         (2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
          + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)::BIGINT AS ry
  FROM lineitem
),
a AS (
  SELECT l_returnflag, count(*)::BIGINT AS n,
         sum(rx)::HUGEINT AS sx, sum(ry)::HUGEINT AS sy,
         sum(rx * rx)::HUGEINT AS sxx, sum(ry * ry)::HUGEINT AS syy,
         sum(rx * ry)::HUGEINT AS sxy
  FROM r GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((n * sxy - sx * sy)::DOUBLE
             / (sqrt((n * sxx - sx * sx)::DOUBLE)
                * sqrt((n * syy - sy * sy)::DOUBLE)), 6) AS spearman
FROM a
""",
)
def q_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Spearman rank correlation between quantity and
    extended price (operators/stats.spearman_corr): doubled fractional
    ranks keep every sum exact-integer, the Pearson combination runs in
    decimal(38,0) (HUGEINT in the oracle), and only the final
    sqrt/divide — both IEEE-correctly-rounded — touch floating point, so
    the rounded coefficient hash-matches the oracle. Quantity's 50
    distinct values mean ~n/50-deep ties per group; the average-rank
    treatment is what makes that exact.

    Plan: one (returnflag)-keyed exchange feeds two in-partition window
    sorts — quantity's and price's doubled ranks (stats._rank2) — then
    one map-side-combined aggregate. No join; each flag's rows sort in
    one task."""
    from datapipeline_spark.operators.stats import spearman_corr

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return spearman_corr(li, "l_quantity", "l_extendedprice", ["l_returnflag"])


@query(
    "hashed_features_docs",
    """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE doc_id % 5 = 0
),
t AS (
  SELECT doc_id,
         (('0x' || substr(md5(u.tok), 1, 12))::UBIGINT)::BIGINT AS h
  FROM d, unnest(w) u(tok)
),
s AS (
  SELECT doc_id, h % 262144 AS feature_idx,
         CASE WHEN ((h >> 40) & 1) = 1 THEN 1 ELSE -1 END AS sign
  FROM t
)
SELECT doc_id, feature_idx, sum(sign)::BIGINT AS weight
FROM s GROUP BY doc_id, feature_idx
HAVING sum(sign) <> 0
""",
)
def q_hashed_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing over the (1-in-5-scoped) document corpus
    (text/features.hashed_features): fixed 2^18-dim sparse features with
    NO vocabulary pass — index and ±1 sign are pure md5 functions of the
    token, so featurization is one projection + one aggregation and the
    oracle replays it exactly. The zero-vocabulary property is the 100 TB
    point: tf-idf's global-vocab aggregation and broadcast are gone, and
    dimensionality is fixed regardless of corpus growth."""
    from datapipeline_spark.text.features import hashed_features

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return hashed_features(d, "doc_id", "text", dim=1 << 18)


def _bfs_sql(max_hops: int = 3) -> str:
    """Unrolled min-merge oracle: d_{k+1} = min(d_k, neighbors(d_k)+1),
    which equals capped BFS by level induction. Every d{i} and e are
    multi-referenced -> AS MATERIALIZED (DuckDB inlines otherwise)."""
    ctes = ["""e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
)""",
        """d0 AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS node, 0 AS dist FROM li WHERE l_partkey % 97 = 0
)"""]
    for i in range(max_hops):
        ctes.append(
            f"d{i + 1} AS MATERIALIZED (\n"
            f"  SELECT node, min(dist) AS dist FROM (\n"
            f"    SELECT node, dist FROM d{i}\n"
            f"    UNION ALL\n"
            f"    SELECT e.b AS node, d.dist + 1 AS dist FROM d{i} d JOIN e ON e.a = d.node\n"
            f"  ) GROUP BY node\n)"
        )
    chain = ",\n".join(ctes)
    return f"""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 7 = 0),
{chain}
SELECT node AS p_partkey, dist::INTEGER AS dist FROM d{max_hops}
"""


@query("bfs_parts", _bfs_sql())
def q_bfs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (<=3) over the (1-in-7-scoped)
    co-purchase graph from the ~1% of parts with p_partkey % 97 = 0
    (operators/graph.bfs_distances, minmerge strategy — the oracle's own
    unrolled shape). Hop 1 never touches the adjacency: sources are a
    predicate over the pair stream, so d1 = min-merge(sources ∪ filtered
    pair dsts) rides one aggregate that AQE materializes IN PARALLEL with
    the adjacency build (round-7 A/B: 1.29 s -> 1.07 s, bit-identical).
    The raw cooccurrence_pairs stream feeds both (no distinct exchange —
    the adjacency collect_set and the d1 min dedup for free)."""
    from datapipeline_spark.operators.graph import bfs_distances, cooccurrence_pairs

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = cooccurrence_pairs(li, group_col="l_orderkey", item_col="l_partkey")
    d1 = (
        li.filter(F.col("l_partkey") % 97 == 0)
        .select(
            F.col("l_partkey").alias("node"), F.lit(0).cast("int").alias("dist")
        )
        .unionByName(
            pairs.filter(F.col("src") % 97 == 0).select(
                F.col("dst").alias("node"), F.lit(1).cast("int").alias("dist")
            )
        )
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
    )
    return bfs_distances(
        pairs, None, max_hops=3, initial=d1, initial_hops=1
    ).select(F.col("node").alias("p_partkey"), "dist")


_CUST_REV_CENTS = """
c AS (
  SELECT n.n_name AS nation, o.o_custkey AS cust,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS v
  FROM orders o
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  JOIN nation n ON cu.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
"""


def _cust_rev_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(nation, customer) revenue in exact cents — the shared base of
    the concentration metrics; dims broadcast, fact never shuffles for
    the joins."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("cust"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v"))
    )


@query(
    "hhi_revenue_by_nation",
    f"""
WITH {_CUST_REV_CENTS}
SELECT nation, count(*)::BIGINT AS n,
       round((sum(v::HUGEINT * v))::DOUBLE
             / (sum(v::HUGEINT) * sum(v::HUGEINT))::DOUBLE, 6) AS hhi
FROM c GROUP BY nation
""",
)
def q_hhi_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per nation
    (operators/stats.hhi): customer shares of national revenue, squared
    and summed — Σv²/(Σv)² over exact integer cents in decimal(38,0)
    (HUGEINT in the oracle), one double division at the end. Plain
    aggregation, no sort — concentration at any scale is two exact sums
    per group."""
    from datapipeline_spark.operators.stats import hhi

    return hhi(_cust_rev_cents(spark, sf_dir), "v", ["nation"])


@query(
    "gini_revenue_by_nation",
    f"""
WITH {_CUST_REV_CENTS},
r AS (
  SELECT nation, v, row_number() OVER (PARTITION BY nation ORDER BY v) AS i
  FROM c
)
SELECT nation, count(*)::BIGINT AS n,
       round((sum(v::HUGEINT * 2 * i) - (count(*) + 1)::HUGEINT * sum(v::HUGEINT))::DOUBLE
             / (count(*)::HUGEINT * sum(v::HUGEINT))::DOUBLE, 6) AS gini
FROM r GROUP BY nation
""",
)
def q_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality of customer revenue per nation
    (operators/stats.gini): the sorted-rank identity
    G = Σ(2i-n-1)v_i / (nΣv) with exact integer cents — tie-order
    invariant, so row_number over the value alone is deterministic. One
    exchange + in-partition sort + one aggregate."""
    from datapipeline_spark.operators.stats import gini

    return gini(_cust_rev_cents(spark, sf_dir), "v", ["nation"])


@query(
    "seasonal_naive_mae",
    """
WITH d AS (
  SELECT o_orderpriority, o_orderdate::DATE AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
),
l AS (
  SELECT o_orderpriority, cents,
         lag(cents, 7) OVER (PARTITION BY o_orderpriority ORDER BY day) AS pred
  FROM d
)
SELECT o_orderpriority, count(*)::BIGINT AS n_days,
       round((sum(abs(cents - pred))::HUGEINT)::DOUBLE / count(*) / 100.0, 2) AS mae
FROM l WHERE pred IS NOT NULL
GROUP BY o_orderpriority
""",
)
def q_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per order priority: predict each
    day's revenue with the value 7 days earlier in the daily series and
    report mean absolute error — the standard forecasting baseline every
    model must beat, as one window + one aggregate. Error mass accumulates
    in exact integer cents (order-independent); only the final
    mae = sum/n/100 division chain is floating point (IEEE-deterministic),
    so the backtest hash-matches the oracle."""
    li = load_table(spark, sf_dir, "orders")
    daily = li.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("day")
    l = daily.withColumn("pred", F.lag("cents", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    return l.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum(F.abs(F.col("cents") - F.col("pred")).cast("decimal(38,0)")).cast(
                "double"
            )
            / F.count(F.lit(1))
            / 100.0,
            2,
        ).alias("mae"),
    )


@query(
    "chi2_priority_status",
    """
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*)::HUGEINT AS o
  FROM orders GROUP BY 1, 2
),
t AS (
  SELECT x, y, o,
         sum(o) OVER (PARTITION BY x) AS r_tot,
         sum(o) OVER (PARTITION BY y) AS c_tot,
         sum(o) OVER () AS n_tot
  FROM cells
),
a AS (
  SELECT max(n_tot)::BIGINT AS n,
         count(DISTINCT x)::BIGINT AS r,
         count(DISTINCT y)::BIGINT AS c,
         ((count(DISTINCT x) - 1) * (count(DISTINCT y) - 1))::BIGINT AS dof,
         sum(floor((o * o * n_tot)::DOUBLE / (r_tot * c_tot)::DOUBLE * 1e6
                   + 0.5::DOUBLE)::BIGINT)::DOUBLE / 1e6
           - max(n_tot)::DOUBLE AS chi2_raw
  FROM t
)
SELECT n, r, c, dof, round(chi2_raw, 6) AS chi2,
       CASE WHEN dof = 0 THEN NULL
            ELSE round(sqrt(greatest(chi2_raw, 0::DOUBLE)
                            / (n::DOUBLE * least(r - 1, c - 1)::DOUBLE)), 6)
       END AS cramers_v
FROM a
""",
)
def q_chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and order
    status (operators/stats.chi_square): the contingency table is one
    map-side-combined groupBy; totals are window sums over the tiny cell
    table; per-cell terms O²N/(RC) are exact decimal(38,0)/HUGEINT with one
    IEEE division each, fixed to integer micro-units so the cross-cell sum
    is engine-invariant. The χ² = ΣO²N/(RC) − N identity absorbs
    never-observed cells exactly."""
    from datapipeline_spark.operators.stats import chi_square

    return chi_square(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


@query(
    "ols_qty_price",
    """
WITH d AS (
  SELECT l_returnflag, l_quantity::BIGINT AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
a AS (
  SELECT l_returnflag, count(*)::HUGEINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM d GROUP BY 1
)
SELECT l_returnflag, n::BIGINT AS n,
       round((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE, 6) AS slope,
       round((sy::DOUBLE - ((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE)
                           * sx::DOUBLE) / n::DOUBLE, 2) AS intercept,
       round(((n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE)
             / ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6) AS r2
FROM a
""",
)
def q_ols_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS regression of line price-cents on quantity
    (operators/stats.ols): slope, intercept and r² from the five exact
    decimal(38,0) sufficient statistics of ONE map-side-combined
    aggregation — no sort, no join, the grouped-regression primitive at
    any scale. Only the final short IEEE chains (correctly-rounded
    +,−,*,/) touch float, so all three coefficients hash-match."""
    from datapipeline_spark.operators.stats import ols

    d = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # prereduce: quantity has ~50 distinct values per flag — the decimal
    # sufficient statistics combine from the (flag, x) table (round-7 opt)
    return ols(d, "x", "y", ["l_returnflag"], prereduce=True)


@query(
    "ab_purchase_ztest",
    """
WITH u AS (
  SELECT user_id, (user_id % 2)::BIGINT AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
  FROM events GROUP BY user_id
),
a AS (
  SELECT sum(1 - arm)::BIGINT AS n0, sum((1 - arm) * conv)::BIGINT AS c0,
         sum(arm)::BIGINT AS n1, sum(arm * conv)::BIGINT AS c1
  FROM u
)
SELECT n0, c0, n1, c1,
       round((c1::DOUBLE / n1::DOUBLE - c0::DOUBLE / n0::DOUBLE)
             / sqrt(((c0::DOUBLE + c1::DOUBLE) / (n0::DOUBLE + n1::DOUBLE))
                    * (1 - (c0::DOUBLE + c1::DOUBLE) / (n0::DOUBLE + n1::DOUBLE))
                    * (1 / n0::DOUBLE + 1 / n1::DOUBLE)), 6) AS z
FROM a
""",
)
def q_ab_purchase_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion between the even/odd
    user-id arms (operators/stats.proportion_ztest) — the A/B-test readout
    as two aggregations (per-user conversion flag, then the four arm
    counts). sqrt is IEEE-correctly-rounded, so the full statistic chain
    hash-matches the oracle. No sort, no join — scales as a pure
    aggregation tree."""
    from datapipeline_spark.operators.stats import proportion_ztest

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    u = u.select((F.col("user_id") % 2).cast("long").alias("arm"), "conv")
    return proportion_ztest(u, "arm", "conv")


@query(
    "markov_event_transitions",
    """
WITH s AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
c AS (
  SELECT prev, event_type AS next, count(*)::BIGINT AS cnt
  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT prev, next, cnt,
       round(cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY prev))::DOUBLE, 6)
         AS prob
FROM c
""",
)
def q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lag within (user ORDER BY ts, event_id — fully deterministic tie
    order), count per (prev, next) pair, and row-normalized transition
    probabilities via a window sum over the tiny k×k count table. One
    user-keyed exchange + sort, one map-side-combined count, one bounded
    window — the sequence-mining primitive at any scale."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    c = s.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wp = Window.partitionBy("prev")
    return c.select(
        "prev",
        "next",
        "cnt",
        F.round(
            F.col("cnt").cast("double") / F.sum("cnt").over(wp).cast("double"), 6
        ).alias("prob"),
    )


@query(
    "equidepth_price_bands",
    """
WITH d AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS pos,
         count(*) OVER () AS n
  FROM d
)
SELECT (((pos - 1) * 8) // n + 1)::BIGINT AS band,
       count(*)::BIGINT AS n_orders,
       min(cents) AS lo_cents, max(cents) AS hi_cents
FROM r GROUP BY 1
""",
)
def q_equidepth_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) price histogram: 8 bands over order total
    price with exact integer band boundaries. The global value rank comes
    from operators/rank.bucketed_global_rank with the price's own high bits
    as the monotone distribution bucket — the heavy sort runs per-bucket
    with executor parallelism, never the single-partition
    ``row_number() OVER (ORDER BY …)`` cliff the oracle is allowed (row
    counts there are engine-tiny). Band assignment is pure integer
    arithmetic ((pos−1)·k DIV n), so every output cell is exact."""
    from datapipeline_spark.operators.rank import bucketed_global_rank

    d = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked = bucketed_global_rank(
        d, "cents", ["o_orderkey"], out="pos", hash_bits=40, bucket_bits=24
    )
    n1 = d.agg(F.count(F.lit(1)).alias("n"))
    banded = ranked.crossJoin(F.broadcast(n1)).select(
        F.expr("CAST(((pos - 1) * 8) DIV n + 1 AS BIGINT)").alias("band"),
        "cents",
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


@query(
    "pearson_qty_discount",
    """
WITH d AS (
  SELECT l_returnflag, l_quantity::BIGINT AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
),
a AS (
  SELECT l_returnflag, count(*)::HUGEINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM d GROUP BY 1
)
SELECT l_returnflag, n::BIGINT AS n,
       round((n*sxy - sx*sy)::DOUBLE
             / (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE)),
             6) AS pearson
FROM a
""",
)
def q_pearson_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation of quantity vs discount
    percentage (operators/stats.pearson_corr): the signed companion to
    ols' r², five exact decimal(38,0)/HUGEINT sums from one
    map-side-combined aggregate, correctly-rounded sqrt/divide chain —
    hash-matches. No sort, no join."""
    from datapipeline_spark.operators.stats import pearson_corr

    d = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    # prereduce: quantity x discount-pct is a ~550-cell joint domain — all
    # five sums combine from the (flag, x, y) frequency table (round-7 opt)
    return pearson_corr(d, "x", "y", ["l_returnflag"], prereduce=True)


@query(
    "acf7_daily_revenue",
    """
WITH daily AS (
  SELECT o_orderpriority, o_orderdate::DATE AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
),
l AS (
  SELECT o_orderpriority, cents AS y,
         lag(cents, 7) OVER (PARTITION BY o_orderpriority ORDER BY day) AS yl
  FROM daily
),
a AS (
  SELECT o_orderpriority, count(*)::HUGEINT AS n,
         sum(yl::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(yl::HUGEINT * yl) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(yl::HUGEINT * y) AS sxy
  FROM l WHERE yl IS NOT NULL GROUP BY 1
)
SELECT o_orderpriority, n::BIGINT AS n,
       round((n*sxy - sx*sy)::DOUBLE
             / (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE)),
             6) AS acf
FROM a
""",
)
def q_acf7_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality check: lag-7 autocorrelation of the daily revenue
    series per order priority (operators/stats.autocorr) — one window
    (priority-keyed exchange + in-partition day sort) feeding the exact
    Pearson aggregate over the overlap. The companion diagnostic to
    seasonal_naive_mae: the ACF says whether the lag-7 baseline is even
    plausible. Exact integer cents throughout; only the final
    sqrt/divide chain is float. wide=True: daily cents GROW with data
    volume (sf1's 10x daily sums squared trip the narrow int64 product's
    ANSI overflow — caught by the sf1 oracle sweep), so the products run
    in decimal(38,0) like the oracle's HUGEINT."""
    from datapipeline_spark.operators.stats import autocorr

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    return autocorr(
        daily, "cents", 7, ["o_orderpriority"], order_by="day", out="acf", wide=True
    )


@query(
    "welch_price_returnflag",
    """
WITH d AS (
  SELECT l_linestatus,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS s,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
a AS (
  SELECT l_linestatus,
         sum(1 - s)::BIGINT AS n0, sum(s)::BIGINT AS n1,
         sum((y * (1 - s))::HUGEINT) AS s0, sum((y * s)::HUGEINT) AS s1,
         sum((y::HUGEINT * y) * (1 - s)) AS q0, sum((y::HUGEINT * y) * s) AS q1
  FROM d GROUP BY 1
),
t AS (
  SELECT l_linestatus, n0, n1,
         s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE AS diff,
         ((n0::HUGEINT * q0 - s0 * s0)::DOUBLE
          / (n0::HUGEINT * (n0::HUGEINT - 1))::DOUBLE) / n0::DOUBLE AS a0,
         ((n1::HUGEINT * q1 - s1 * s1)::DOUBLE
          / (n1::HUGEINT * (n1::HUGEINT - 1))::DOUBLE) / n1::DOUBLE AS a1
  FROM a
)
SELECT l_linestatus, n0, n1,
       round(diff / sqrt(a0 + a1), 6) AS t,
       round((a0 + a1) * (a0 + a1)
             / (a0 * a0 / (n0::DOUBLE - 1) + a1 * a1 / (n1::DOUBLE - 1)), 2)
         AS df_welch
FROM t
""",
)
def q_welch_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-linestatus Welch's t-test of returned vs kept line price means
    (operators/stats.welch_ttest) — the parametric companion to
    mw_price_returnflag: one conditional-sum aggregation carries both
    sides' exact decimal/HUGEINT sums in a single pass; t and the
    Welch-Satterthwaite dof are fixed IEEE chains, so both hash-match.
    No sort, no join."""
    from datapipeline_spark.operators.stats import welch_ttest

    d = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("s"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return welch_ttest(d, "y", "s", ["l_linestatus"])


@query(
    "ks_price_urgent",
    """
WITH d AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS s
  FROM orders
),
g AS (SELECT v, sum(1 - s)::HUGEINT AS d0, sum(s)::HUGEINT AS d1 FROM d GROUP BY v),
c AS (
  SELECT sum(d0) OVER (ORDER BY v) AS cum0,
         sum(d1) OVER (ORDER BY v) AS cum1
  FROM g
),
t AS (SELECT sum(d0)::BIGINT AS n0, sum(d1)::BIGINT AS n1 FROM g)
SELECT n0, n1,
       max(abs(cum0 * n1 - cum1 * n0))::BIGINT AS d_num,
       round(max(abs(cum0 * n1 - cum1 * n0))::DOUBLE
             / (n0::HUGEINT * n1)::DOUBLE, 6) AS ks
FROM c, t GROUP BY n0, n1
""",
)
def q_ks_price_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between urgent and
    non-urgent order price distributions (operators/stats.ks_test):
    D = max|cum0·n1 − cum1·n0|/(n0·n1) with the maximized numerator an
    exact decimal/HUGEINT integer. The Spark side's cumulative counts use
    the two-phase monotone-bucket scheme (price high bits as the bucket
    prefix) — per-bucket parallel cumsums + a bounded offsets window,
    never a single-partition row window (the engine-tiny oracle is
    allowed one)."""
    from datapipeline_spark.operators.stats import ks_test

    d = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("s"),
    )
    return ks_test(d, "v", "s")


@query(
    "mw_price_returnflag",
    """
WITH d AS (
  SELECT l_linestatus,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS s,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
),
r AS (
  SELECT l_linestatus, s,
         2 * rank() OVER (PARTITION BY l_linestatus ORDER BY v)
           + count(*) OVER (PARTITION BY l_linestatus, v) - 1 AS r2,
         count(*) OVER (PARTITION BY l_linestatus, v) AS t
  FROM d
),
a AS (
  SELECT l_linestatus, sum(1 - s)::BIGINT AS n0, sum(s)::BIGINT AS n1,
         sum((s * r2)::HUGEINT) AS r1sum,
         sum((t * t - 1)::HUGEINT) AS tie_t
  FROM r GROUP BY 1
)
SELECT l_linestatus, n0, n1,
       (r1sum - n1::HUGEINT * (n1 + 1))::DOUBLE / 2 AS u,
       round(((r1sum - n1::HUGEINT * (n1 + 1)) - n1::HUGEINT * n0)::DOUBLE
             / sqrt((n0::HUGEINT * n1
                     * (((n0 + n1)::HUGEINT + 1) * (n0 + n1)::HUGEINT
                        * ((n0 + n1)::HUGEINT - 1) - tie_t))::DOUBLE
                    / (3 * (n0 + n1)::HUGEINT
                       * ((n0 + n1)::HUGEINT - 1))::DOUBLE), 6) AS z
FROM a
""",
)
def q_mw_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-linestatus Mann-Whitney U test of returned vs kept line price
    distributions (operators/stats.mann_whitney): doubled fractional ranks
    keep every rank sum exact-integer (the spearman discipline), the tie
    correction Σ(t³−t) accumulates as a per-row exact decimal, and only
    the final sqrt/divide chain touches float — so both U and the
    tie-corrected z hash-match.

    Plan: one (linestatus)-keyed exchange feeds one in-partition window
    sort that yields each row's doubled rank and tie size
    (stats._rank2), then one aggregate. No join."""
    from datapipeline_spark.operators.stats import mann_whitney

    d = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("s"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    return mann_whitney(d, "v", "s", ["l_linestatus"])


def _benford_sql() -> str:
    """Oracle carries the SAME log10(1+1/d) literals the Spark side embeds
    (repr round-trips the exact double; sci-notation parses as DOUBLE in
    DuckDB) — neither engine calls libm at query time."""
    from datapipeline_spark.operators.stats import BENFORD_P

    cases = " ".join(
        f"WHEN digit = {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10)
    )
    return f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*)::BIGINT AS observed
  FROM orders WHERE round(o_totalprice * 100) > 0 GROUP BY 1
),
t AS (
  SELECT digit, observed, sum(observed) OVER () AS n,
         CASE {cases} END AS p
  FROM c
)
SELECT digit, observed,
       floor(n::DOUBLE * p * 1e6 + 0.5::DOUBLE)::BIGINT AS expected_micro,
       abs(observed * 1000000 - floor(n::DOUBLE * p * 1e6 + 0.5::DOUBLE)::BIGINT)
         AS dev_micro
FROM t
"""


@query("benford_order_prices", _benford_sql())
def q_benford_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals
    (operators/stats.benford): one map-side-combined digit count, expected
    shares from embedded log10(1+1/d) literals (identical on both engines
    — no libm at query time), every output an exact integer. The
    fraud-screen primitive at any scale: shuffle mass is 9 rows."""
    from datapipeline_spark.operators.stats import benford

    d = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return benford(d, "cents")


def _sssp_sql(rounds: int = 3) -> str:
    """Unrolled Bellman-Ford oracle: each round is relax + min-merge; the
    capped-round semantics match the operator exactly. Every multi-
    referenced CTE is MATERIALIZED (DuckDB inlines by default — the
    unrolled chain would otherwise go exponential)."""
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b,
         min((a.l_quantity + b.l_quantity)::BIGINT) AS w
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
)""",
        """d0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, 0::BIGINT AS dist FROM e0 WHERE a % 500 = 0
)""",
    ]
    for i in range(rounds):
        ctes.append(
            f"r{i} AS (SELECT e.b AS node, d.dist + e.w AS dist\n"
            f"  FROM d{i} d JOIN e0 e ON d.node = e.a),\n"
            f"d{i + 1} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (\n"
            f"  SELECT node, dist FROM d{i} UNION ALL SELECT node, dist FROM r{i}\n"
            f") GROUP BY node)"
        )
    chain = ",\n".join(ctes)
    return f"""
WITH li AS (SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_orderkey % 5 = 0),
{chain}
SELECT node AS p_partkey, dist FROM d{rounds}
"""


@query("sssp_parts", _sssp_sql())
def q_sssp_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths on the scoped co-purchase graph
    (operators/graph.sssp_distances): Bellman-Ford relaxation from the
    partkey%500 source set, edge weight = min combined quantity over the
    shared orders, 3 fixed rounds — exact integer min-plus arithmetic, so
    the unrolled relax/min-merge oracle matches bit-for-bit. Per round one
    source-keyed join + one min aggregate; the weighted companion to
    bfs_parts, completing the graph family. Round-7 shape (A/B 1.98 s ->
    1.37 s at sf0.1, bit-identical): edge pairs are generated IN-ROW
    (groupBy order + double explode — no self-join), the adjacency takes
    the RAW weighted pair stream (the per-(src,dst) edge min is subsumed
    by the round min-merge), and round 1 never touches the adjacency —
    sources are a predicate over the pair stream, so d1 = min-merge over
    (src,0)/(dst,w) structs exploded in-row from the filtered pairs,
    materialized by AQE in parallel with the adjacency build."""
    from datapipeline_spark.operators.graph import sssp_distances

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set(F.struct("l_partkey", "l_quantity")).alias("__it__")
    )
    pairs = (
        sets.select(F.explode("__it__").alias("x"), "__it__")
        .select("x", F.explode("__it__").alias("y"))
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
            (F.col("x.l_quantity") + F.col("y.l_quantity")).cast("long").alias("w"),
        )
    )
    d1 = (
        pairs.filter(F.col("src") % 500 == 0)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(0).cast("long").alias("dist"),
                    ),
                    F.struct(F.col("dst").alias("node"), F.col("w").alias("dist")),
                )
            ).alias("__r__")
        )
        .select("__r__.node", "__r__.dist")
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
    )
    return sssp_distances(
        pairs, None, rounds=3, initial=d1, initial_rounds=1
    ).select(F.col("node").alias("p_partkey"), "dist")


def _lpa_sql(rounds: int = 4) -> str:
    """Unrolled synchronous-LPA oracle. Each round's winner-per-node is a
    row_number over the (node, label) vote counts ordered (c DESC, lab) —
    identical semantics to the Spark side's max(struct(c, -lab)).
    e0 is referenced in every round -> AS MATERIALIZED (DuckDB inlines
    multi-referenced CTEs; the unrolled chain would otherwise recompute
    the co-occurrence self-join once per reference)."""
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM e0)",
    ]
    for i in range(rounds):
        ctes.append(
            f"v{i} AS (SELECT e.b AS node, l.lab, count(*) AS c\n"
            f"  FROM e0 e JOIN l{i} l ON e.a = l.node GROUP BY 1, 2),\n"
            f"l{i + 1} AS MATERIALIZED (SELECT node, lab FROM (\n"
            f"  SELECT node, lab, row_number() OVER (PARTITION BY node"
            f" ORDER BY c DESC, lab) AS rn FROM v{i}) WHERE rn = 1)"
        )
    chain = ",\n".join(ctes)
    return f"""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0),
{chain}
SELECT node AS p_partkey, lab AS community FROM l{rounds}
"""


@query("communities_parts", _lpa_sql())
def q_communities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities of the (1-in-5-orders-scoped)
    co-purchase graph (operators/graph.label_propagation): 4 synchronous
    rounds, most-frequent-neighbor label with min-label tie break — the
    deterministic LPA variant, so the unrolled SQL oracle reproduces it
    bit-for-bit. Adjacency-list rounds: labels join the node-count-sized
    out-neighbor lists, deliveries explode in-row, one deterministic-mode
    aggregate per round resolves the vote (min-label ties). Round 1 is an
    in-row array_min (self-label votes are singletons — min-tie wins), so
    only 3 joined rounds execute; no checkpoint at this horizon (round-7
    A/B: 1.94 s -> 1.62 s, bit-identical). The collect_set adjacency
    dedups the raw cooccurrence_pairs stream, so no distinct exchange
    anywhere. Completes the graph family (pagerank / components /
    triangles / k-core / BFS)."""
    from datapipeline_spark.operators.graph import (
        cooccurrence_pairs,
        label_propagation,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = cooccurrence_pairs(li, group_col="l_orderkey", item_col="l_partkey")
    return label_propagation(edges, rounds=4).select(
        F.col("node").alias("p_partkey"), "community"
    )


@query(
    "heavy_hitter_tokens",
    """
WITH tok AS (
  SELECT lower(t) AS term
  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
  WHERE t <> ''
),
tot AS (SELECT count(*) AS total FROM tok),
c AS (SELECT term, count(*) AS n FROM tok GROUP BY term)
SELECT term, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
       CAST((n * 1000000) // total AS BIGINT) AS share_ppm
FROM c, tot WHERE n * 201 > total
""",
)
def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over the token stream (sketch/mg.py —
    mergeable-summaries MG(k), Agarwal et al. PODS 2012; the reference has
    no frequency sketches): every token with exact frequency > N/201,
    found WITHOUT a full-vocabulary groupBy. Pass 1 holds 200 counters per
    partition (mapInPandas, O(k) memory, zero shuffle of raw tokens) and
    is guaranteed to retain a superset of the true heavy hitters under any
    partition layout; pass 2 broadcasts the <= k*partitions candidates
    back for an exact map-side-combined recount + threshold filter. The
    output is therefore EXACT — the oracle is plain GROUP BY + HAVING —
    while executor memory stays independent of vocabulary size (the 100 TB
    contract; a straight groupBy carries the full token domain as shuffle
    state). share_ppm is integer arithmetic (n*1e6 DIV total), no FP."""
    from datapipeline_spark.sketch import heavy_hitters

    d = spread(load_table(spark, sf_dir, "documents"))
    tok = (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .select(F.lower(F.col("term")).alias("term"))
    )
    hh = heavy_hitters(tok, "term", k=200)
    return hh.select(
        "term",
        "n",
        "total",
        F.expr("CAST((n * 1000000) DIV total AS BIGINT)").alias("share_ppm"),
    )


@query(
    "k_anonymity_customers",
    """
SELECT c_nationkey,
       CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
       count(*) AS class_size,
       count(DISTINCT c_mktsegment) AS l_distinct,
       CAST(count(*) >= 5 AS INT) AS k_anonymous,
       CAST(count(DISTINCT c_mktsegment) >= 2 AS INT) AS l_diverse
FROM customer
GROUP BY 1, 2
""",
)
def q_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators/privacy.py — Sweeney
    2002 / Machanavajjhala 2006; the reference has no privacy surface):
    equivalence classes over the quasi-identifier tuple (nation,
    account-balance band), class size vs k=5 and distinct market segments
    vs l=2. One map-side-combinable aggregation — class count and the
    distinct-sensitive count share the shuffle; the band is integer
    floor-division so both engines bucket identically. The enforcement
    twin (suppress_small_classes) is pytest-pinned to drop exactly the
    rows of the k_anonymous=0 classes."""
    from datapipeline_spark.operators.privacy import k_anonymity_report

    c = load_table(spark, sf_dir, "customer").withColumns(
        {"bal_band": F.floor(F.col("c_acctbal") / 2000).cast("long")}
    )
    return k_anonymity_report(
        c, ["c_nationkey", "bal_band"], "c_mktsegment", k=5, l=2
    )


@query(
    "reservoir_events_per_user",
    """
SELECT user_id, event_id, event_type, pick
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY md5('rsv|' || event_id::VARCHAR)
         ) AS pick
  FROM events
) WHERE pick <= 3
""",
)
def q_reservoir_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key reservoir sample (operators/rank.py
    reservoir_per_key — Vitter 1985 derandomized via seeded-md5 hash order;
    the reference's only sampling is the preview row limit): 3 uniform
    events per user, reproducible across engines, runs, and partition
    layouts — the contract RNG-based sampling cannot give. Spark plans the
    per-key top-n as WindowGroupLimit (n candidates per key per map task
    cross the one keyed shuffle, never whole groups); the oracle is the
    same row_number over the same md5, bit-identical because the hash
    input bytes are identical."""
    from datapipeline_spark.operators.rank import reservoir_per_key

    ev = load_table(spark, sf_dir, "events")
    return reservoir_per_key(
        ev.select("user_id", "event_id", "event_type"),
        ["user_id"],
        ["event_id"],
        n=3,
        seed="rsv",
        out="pick",
    )


@query(
    "basket_rules_brands",
    """
WITH it AS (SELECT DISTINCT l_orderkey AS basket, p_brand AS item
            FROM lineitem JOIN part ON p_partkey = l_partkey),
sup AS (SELECT item, count(*)::BIGINT AS support FROM it GROUP BY 1),
n AS (SELECT count(DISTINCT basket)::BIGINT AS n_baskets FROM it),
pairs AS (SELECT a.item AS ia, b.item AS ib, count(*)::BIGINT AS pair_support
          FROM it a JOIN it b ON a.basket = b.basket AND a.item < b.item
          GROUP BY 1, 2),
dir AS (SELECT ia AS antecedent, ib AS consequent, pair_support FROM pairs
        UNION ALL
        SELECT ib, ia, pair_support FROM pairs)
SELECT d.antecedent, d.consequent, d.pair_support,
       sa.support AS antecedent_support, sb.support AS consequent_support,
       n.n_baskets,
       ((d.pair_support::HUGEINT * 1000000) // sa.support)::BIGINT AS conf_ppm,
       ((d.pair_support::HUGEINT * n.n_baskets * 1000000)
        // (sa.support::HUGEINT * sb.support))::BIGINT AS lift_ppm
FROM dir d
JOIN sup sa ON sa.item = d.antecedent
JOIN sup sb ON sb.item = d.consequent, n
""",
)
def q_basket_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets at brand granularity
    (operators/basket.py — Agrawal-Srikant 1994; the reference has no
    basket-mining surface): every brand→brand rule with exact integer
    confidence/lift in parts-per-million. DECIMAL(38) intermediates mean
    the ppm numbers are bit-identical across engines and partition
    layouts — no float anywhere. Plan: one basket-keyed collect_set of
    each order's brand set (dedup rides the aggregation) → in-row sorted
    (i < j) pair explode (25 brands ⇒ ≤300 pairs per basket worst-case,
    dense output is the POINT at this granularity) → two broadcast joins
    against the 25-row support table → broadcast 1-row basket total."""
    from datapipeline_spark.operators.basket import association_rules

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return association_rules(baskets, "l_orderkey", "p_brand")


@query(
    "frequent_part_pairs",
    """
WITH it AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
sup AS (SELECT item FROM it GROUP BY item HAVING count(*) >= 5),
fi AS (SELECT basket, item FROM it WHERE item IN (SELECT item FROM sup)),
pairs AS (SELECT a.item AS ia, b.item AS ib, count(*)::BIGINT AS pair_support
          FROM fi a JOIN fi b ON a.basket = b.basket AND a.item < b.item
          GROUP BY 1, 2)
SELECT ia, ib, pair_support FROM pairs WHERE pair_support >= 2
""",
)
def q_frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori-pruned frequent pair mining at part granularity
    (operators/basket.py frequent_pairs): items below support 5 never
    enter the pair join (downward closure — a frequent pair needs two
    frequent members). Round-7 plan: one repartition(basket) exchange
    feeds dedup, prune, and a co-partitioned codegen self-join — no
    ObjectHashAggregate, three exchanges total. The prune bounds the
    quadratic stage by the post-prune basket width, and the optional
    max_basket_items cap (exercised in pytest) gates oversized baskets
    BEFORE any pair materializes — skew-independent."""
    from datapipeline_spark.operators.basket import frequent_pairs

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return frequent_pairs(
        li, "l_orderkey", "l_partkey", min_item_support=5, min_pair_support=2
    )


@query(
    "cm_join_size",
    """
WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
ca AS (
  SELECT j,
         CAST((('0x' || substr(sha256('cm' || j::VARCHAR || '|' || user_id::VARCHAR), 1, 13))::UBIGINT)::BIGINT % 256 AS INT) AS bucket,
         count(*)::HUGEINT AS c
  FROM events, js GROUP BY 1, 2
),
cb AS (
  SELECT j,
         CAST((('0x' || substr(sha256('cm' || j::VARCHAR || '|' || o_custkey::VARCHAR), 1, 13))::UBIGINT)::BIGINT % 256 AS INT) AS bucket,
         count(*)::HUGEINT AS c
  FROM orders, js GROUP BY 1, 2
),
ip AS (
  SELECT ca.j, sum(ca.c * cb.c) AS ip
  FROM ca JOIN cb USING (j, bucket) GROUP BY 1
),
exact AS (
  SELECT count(*)::BIGINT AS true_join_size
  FROM events e JOIN orders o ON e.user_id = o.o_custkey
)
SELECT CAST(min(ip) AS BIGINT) AS est_join_size,
       any_value(true_join_size) AS true_join_size,
       CAST(min(ip) - any_value(true_join_size) AS BIGINT) AS overcount
FROM ip, exact
""",
)
def q_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based equi-join cardinality estimation (sketch/cm.py
    cm_inner_product — Cormode-Muthukrishnan 2005 §4.2; the reference has
    no sketches): estimate |events ⋈ orders ON user_id = o_custkey| from
    two 4x256 Count-Min sketches as min_j Σ_bucket ca*cb, WITHOUT running
    the join — the planner's cardinality primitive, two bounded-shuffle
    passes whose cost is independent of the 100 TB behind them. Integer
    arithmetic end-to-end (DECIMAL(38)/HUGEINT products), so even the
    collision overcount hash-matches the oracle; est >= true always
    (pytest asserts the bound)."""
    from datapipeline_spark.sketch import build_cm_sketch, cm_inner_product

    ev = load_table(spark, sf_dir, "events")
    od = load_table(spark, sf_dir, "orders")
    sa = build_cm_sketch(ev, "user_id", depth=4, width=256)
    sb = build_cm_sketch(od, "o_custkey", depth=4, width=256)
    est = cm_inner_product(sa, sb, out="est_join_size")
    # |A ⋈ B| = Σ_k f_a(k)·f_b(k): join the per-key COUNT tables (narrow,
    # map-side combined) instead of the raw rows — the row-level join
    # materialized every matching pair only to count it (round-7 opt,
    # guide §2.3 aggregate-before-shuffle)
    fa = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("fa"))
    fb = od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("fb"))
    exact = (
        fa.join(fb, fa.user_id == fb.o_custkey)
        .agg(
            # coalesce: count(*) over an empty join is 0, sum is NULL
            F.coalesce(F.sum(F.col("fa") * F.col("fb")), F.lit(0))
            .cast("long")
            .alias("true_join_size")
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "true_join_size",
        (F.col("est_join_size") - F.col("true_join_size")).alias("overcount"),
    )


@query(
    "negative_sampling_pairs",
    """
WITH pos AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS it
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 100
),
nv AS (SELECT (max(p_partkey) + 1)::BIGINT AS n_items FROM part),
draws AS (SELECT unnest([0, 1, 2]) AS draw),
cand AS (
  SELECT u AS "user", it AS pos_item, draw,
         ((('0x' || substr(sha256('neg' || '|' || u::VARCHAR || '|' || it::VARCHAR || '|' || draw::VARCHAR), 1, 13))::UBIGINT)::BIGINT % n_items) AS neg_item
  FROM pos, draws, nv
)
SELECT c."user", c.pos_item, c.draw, c.neg_item,
       CASE WHEN p.it IS NULL THEN 0 ELSE 1 END AS is_positive
FROM cand c
LEFT JOIN pos p ON p.u = c."user" AND p.it = c.neg_item
""",
)
def q_negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs
    (dataset/negatives.py — word2vec-style uniform proposal, Mikolov 2013,
    derandomized via the repo's 52-bit sha256 contract; the reference has
    no sampling surface beyond the preview limit): 3 candidate negatives
    per (customer, part) interaction, reproducible across engines / runs /
    partition layouts, accidental hits LABELED not resampled (fixed k rows
    per positive — rejection loops have data-dependent depth). Plan: pure
    map explode over the positives + one (user,item)-keyed left join back
    against distinct positives; the item-domain size arrives as a
    broadcast 1-row max, never a driver collect."""
    from datapipeline_spark.dataset.negatives import negative_samples

    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        od.filter(F.col("o_custkey") < 100)
        .join(li, od.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    n = load_table(spark, sf_dir, "part").agg(
        (F.max("p_partkey") + 1).cast("long").alias("n_items")
    )
    pos_n = pos.crossJoin(F.broadcast(n))
    return negative_samples(
        pos_n, "o_custkey", "l_partkey", F.col("n_items"), k=3, seed="neg"
    ).drop("n_items")


@query(
    "skyline_parts",
    """
WITH d AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents, p_size
  FROM part
),
m AS (
  SELECT *,
         max(p_size) OVER (ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
         max(p_size) OVER (PARTITION BY price_cents) AS mx
  FROM d
)
SELECT p_partkey, price_cents, p_size
FROM m WHERE (m1 IS NULL OR m1 < p_size) AND mx = p_size
""",
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline / Pareto frontier (operators/skyline.py —
    Borzsony-Kossmann-Stocker 2001; no reference analogue): parts that are
    cheapest-for-their-size — not dominated on (minimize retail price,
    maximize size). The Spark side refuses the textbook global-sort sweep
    (a partitionBy-less window = one partition at 100 TB) and decomposes
    it two-phase like bucketed_global_rank: 256 monotone value-range
    buckets of the exact integer cents, per-bucket max size, exclusive
    prefix max over the 256-row bucket table, within-bucket RANGE window.
    The oracle states the equivalent single-node sweep in window SQL;
    dominance semantics (ties kept unless strictly beaten) are pinned
    against brute-force NOT EXISTS in pytest."""
    from datapipeline_spark.operators.skyline import skyline_2d

    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    return skyline_2d(pt, "price_cents", "p_size", buckets=256)


@query(
    "shipping_concurrency",
    """
WITH iv AS (
  SELECT date_trunc('day', l_shipdate) AS s,
         date_trunc('day', l_shipdate)
           + to_days(1 + (CAST(l_quantity AS INT) % 14)) AS e
  FROM lineitem
),
b AS (
  SELECT s AS point, 1 AS d FROM iv
  UNION ALL
  SELECT e AS point, -1 AS d FROM iv
),
daily AS (SELECT point, sum(d) AS delta FROM b GROUP BY 1)
SELECT point,
       CAST(sum(delta) OVER (ORDER BY point ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS in_transit
FROM daily
""",
)
def q_shipping_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency (operators/interval.py
    interval_concurrency — the stabbing-count aggregate; no reference
    analogue): shipments in transit per day, with the transit window
    derived deterministically from quantity (1 + qty % 14 days — the
    trimmed schema has no l_receiptdate). The +1/-1 boundary projection
    and groupBy are map-side combinable at any scale; the running sum
    operates on the aggregated per-DAY table (bounded by the ~7-year date
    domain, not row count). Start day counts, end day does not."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("day", F.col("l_shipdate")).alias("s"),
        F.expr(
            "timestampadd(DAY, 1 + CAST(l_quantity AS INT) % 14,"
            " date_trunc('day', l_shipdate))"
        ).alias("e"),
    )
    from datapipeline_spark.operators.interval import interval_concurrency

    return interval_concurrency(li, "s", "e", out="in_transit").withColumnRenamed(
        "point", "point"
    )


@query(
    "golden_user_profile",
    """
SELECT user_id,
       arg_max(CASE WHEN event_type = 'error' THEN NULL ELSE value END,
               CASE WHEN event_type <> 'error'
                    THEN epoch_us(ts)::HUGEINT * 10000000 + event_id END)
         AS value_n,
       arg_max(event_type, epoch_us(ts)::HUGEINT * 10000000 + event_id)
         AS event_type,
       count(*)::BIGINT AS n_records
FROM events GROUP BY 1
""",
)
def q_golden_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (operators/survivorship.py — the MDM
    merge step downstream of linkage; the reference's closest concept,
    collapse-last, keeps one whole ROW while this merges per FIELD): per
    user, the latest NON-NULL reading (value_n is null on error events,
    so the survivor can come from an earlier row than the surviving
    event_type) plus the latest event type and the merged record count.
    One max_by aggregation per field sharing a single entity-keyed
    exchange — no window, no self-join. The oracle encodes the same
    (ts, event_id) total order as a HUGEINT scalar; selection equality is
    exact because the order is total and the moved values cross engines
    without arithmetic."""
    from datapipeline_spark.operators.survivorship import golden_record

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("value_n"),
    )
    return golden_record(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        ["value_n", "event_type"],
        count_col="n_records",
    )


@query("bpe_merges")  # iterative data-dependent argmax → rows-only check
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule learning (text/bpe.py — Sennrich 2016; the
    reference's token surface stops at whitespace counts): 24 merge
    rounds over the documents corpus. The corpus collapses to the
    distinct-word frequency table ONCE (the 100 TB contract: all rounds
    run against vocabulary-sized data), each round is a JVM-side
    pair-count aggregation + 1-row argmax collect + a higher-order fold
    merge, with localCheckpoint every 4 merges to keep lineage shallow.
    Deterministic: exact integer pair counts, lexicographic tie-break.
    Not SQL-expressible (an oracle would need one CTE per merge per
    symbol position); pinned differentially against a pure-Python BPE in
    pytest instead."""
    from datapipeline_spark.text.bpe import bpe_merges_df

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges_df(spark, docs, "text", n_merges=24, min_pair_count=2)


_FD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _fd_pair_sql(a: str, b: str) -> str:
    return f"""
SELECT '{a}' AS det, '{b}' AS dep,
       count(*)::BIGINT AS det_groups,
       sum(grp_rows)::BIGINT AS n_rows,
       sum(CASE WHEN n_dep > 1 THEN grp_rows ELSE 0 END)::BIGINT AS violating_rows,
       CAST(CASE WHEN sum(CASE WHEN n_dep > 1 THEN grp_rows ELSE 0 END) > 0
                 THEN 0 ELSE 1 END AS INT) AS holds,
       ((sum(grp_rows) - sum(CASE WHEN n_dep > 1 THEN grp_rows ELSE 0 END))
         * 1000000 // sum(grp_rows))::BIGINT AS held_ppm
FROM (
  SELECT av, count(*) AS grp_rows, count(DISTINCT bv) AS n_dep
  FROM (SELECT {a}::VARCHAR AS av, coalesce({b}::VARCHAR, '␀') AS bv FROM orders)
  GROUP BY av
)"""


@query(
    "fd_discovery_orders",
    "\nUNION ALL\n".join(
        _fd_pair_sql(a, b) for a in _FD_COLS for b in _FD_COLS if a != b
    ),
)
def q_fd_discovery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (operators/fd.py — the
    Papenbrock-2015 profiling family; the reference's profiling stops at
    per-column stats): all 12 ordered pairs of four orders columns
    profiled in ONE pass — rows explode to (pair, determinant-value,
    dependent-value), one (pair, value)-keyed aggregation, one per-pair
    rollup. o_orderkey → * holds exactly (it is the key); the reverse
    directions report exact integer violation counts and held-ppm
    (integer division — engine-exact). The oracle is the 12-way UNION ALL
    of per-pair SQL, generated from the same column list."""
    from datapipeline_spark.operators.fd import fd_profile

    from datapipeline_spark.tables import spread

    # single-row-group scan serializes the 12x explode; spread buys full
    # width (2.67 -> 1.17 s at sf0.1; the (pair, value) keys are too
    # distinct for map-side combine to prefer the single-task scan)
    od = spread(load_table(spark, sf_dir, "orders").select(*_FD_COLS))
    return fd_profile(od, _FD_COLS)


@query(
    "modal_event_type",
    """
WITH c AS (
  SELECT user_id, event_type, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type DESC) AS rn
  FROM c
)
SELECT user_id, event_type AS mode, cnt AS mode_count FROM r WHERE rn = 1
""",
)
def q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group mode (operators/impute.py group_mode — SQL
    MODE() with a pinned tie-break, largest value wins, so the answer is
    partition- and engine-stable where engines' MODE is arbitrary-pick):
    each user's most frequent event type. Two map-side-combinable
    aggregations, no window over raw rows — the oracle's row_number
    formulation is the single-node equivalent; the Spark side is
    max_by(value, (count, value)) over the counted table. The imputation
    twin (impute_mode) is pytest-pinned to fill exactly the null cells
    from the group distribution."""
    from datapipeline_spark.operators.impute import group_mode

    ev = load_table(spark, sf_dir, "events")
    return group_mode(ev, ["user_id"], "event_type")


@query(
    "token_budget_apportionment",
    """
WITH w AS (
  SELECT source,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))::HUGEINT AS tw
  FROM documents WHERE trim(text) <> '' GROUP BY 1
),
t AS (SELECT sum(tw) AS tot FROM w),
q AS (
  SELECT source, tw::BIGINT AS weight,
         ((1000000 * tw) // tot)::BIGINT AS q,
         ((1000000 * tw) % tot) AS r
  FROM w, t
),
l AS (SELECT (1000000 - sum(q))::BIGINT AS leftover FROM q),
rk AS (
  SELECT source, weight, q,
         row_number() OVER (ORDER BY r DESC, source ASC) AS rn
  FROM q
)
SELECT source, weight,
       (q + CASE WHEN rn <= leftover THEN 1 ELSE 0 END)::BIGINT AS allocated
FROM rk, l
""",
)
def q_token_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment (operators/apportion.py;
    the reference has no allocation surface): split a 1,000,000-token
    training budget across corpus sources exactly proportionally to their
    whitespace-token mass — integer allocations that SUM EXACTLY to the
    budget, the property naive rounding loses. quota/remainder in
    DECIMAL(38)/HUGEINT (engine-exact), remainder ranking on the
    per-SOURCE table (tiny-table window), deterministic tie-break on the
    source key. Companion to token_budget_mixture: that op fills a budget
    doc-by-doc; this one commits the per-source split first."""
    from datapipeline_spark.operators.apportion import apportion

    docs = load_table(spark, sf_dir, "documents")
    w = docs.filter(F.trim(F.col("text")) != "").select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("tw"),
    )
    return apportion(w, ["source"], "tw", budget=1_000_000, out="allocated")


@query(
    "stratified_split_counts",
    """
WITH h AS (
  SELECT o_orderpriority AS stratum,
         o_orderkey,
         (('0x' || substr(sha256('split' || '|' || o_orderkey::VARCHAR), 1, 13))::UBIGINT)::BIGINT AS hv
  FROM orders
),
r AS (
  SELECT stratum, o_orderkey,
         row_number() OVER (PARTITION BY stratum ORDER BY hv, o_orderkey) AS rk,
         count(*) OVER (PARTITION BY stratum) AS n
  FROM h
),
lab AS (
  SELECT stratum,
         CASE WHEN rk <= (n * 800000) // 1000000 THEN 'train'
              WHEN rk <= (n * 900000) // 1000000 THEN 'val'
              ELSE 'test' END AS split
  FROM r
)
SELECT stratum, split, count(*)::BIGINT AS n_rows
FROM lab GROUP BY 1, 2
""",
)
def q_stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified 80/10/10 split (dataset/split.py
    stratified_exact_split): per order-priority stratum the split sizes
    are the integer cumulative-floor of the fractions — every run, every
    engine, every partitioning — where hash_split_label is only
    proportional in expectation. The per-stratum ranking is the two-phase
    (stratum, hash-bucket) decomposition (counts → exclusive offsets over
    the strata x 256 aggregate → within-bucket window), so no stratum is
    ever a single-task sort; the oracle's one-window-per-stratum
    formulation is the single-node equivalent of the same total order.
    Output is the per-(stratum, split) contingency — the exactness
    certificate itself."""
    from datapipeline_spark.dataset.split import stratified_exact_split

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"), "o_orderkey"
    )
    s = stratified_exact_split(
        od,
        ["stratum"],
        ["o_orderkey"],
        [("train", 800_000), ("val", 100_000), ("test", 100_000)],
        seed="split",
    )
    return s.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


@query(
    "did_building_1995",
    """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         (c_mktsegment = 'BUILDING') AS t,
         (o_orderdate >= TIMESTAMP '1995-01-01') AS p
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::BIGINT AS n_t1,
       sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::BIGINT AS n_t0,
       sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::BIGINT AS n_c1,
       sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::BIGINT AS n_c0,
       sum(CASE WHEN t AND p THEN cents ELSE 0 END)::DOUBLE
         / sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::DOUBLE AS mean_t1,
       sum(CASE WHEN t AND NOT p THEN cents ELSE 0 END)::DOUBLE
         / sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::DOUBLE AS mean_t0,
       sum(CASE WHEN NOT t AND p THEN cents ELSE 0 END)::DOUBLE
         / sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::DOUBLE AS mean_c1,
       sum(CASE WHEN NOT t AND NOT p THEN cents ELSE 0 END)::DOUBLE
         / sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::DOUBLE AS mean_c0,
       ((sum(CASE WHEN t AND p THEN cents ELSE 0 END)::DOUBLE
          / sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::DOUBLE
         - sum(CASE WHEN t AND NOT p THEN cents ELSE 0 END)::DOUBLE
          / sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::DOUBLE)
        - (sum(CASE WHEN NOT t AND p THEN cents ELSE 0 END)::DOUBLE
            / sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::DOUBLE
           - sum(CASE WHEN NOT t AND NOT p THEN cents ELSE 0 END)::DOUBLE
            / sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::DOUBLE)) AS did
FROM base
""",
)
def q_did_building_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (operators/stats.diff_in_diff —
    Card-Krueger 1994 design; extends the hypothesis-test suite into
    quasi-experimental econometrics): BUILDING-segment customers as the
    treated group, 1995-01-01 as the intervention, order value in exact
    integer cents. ONE conditional aggregation produces all four cells
    (no groupBy — the cell lattice is fixed), each mean is a single IEEE
    division of exact integers and the estimator an IEEE subtraction
    chain, so even the double hash-matches the oracle."""
    from datapipeline_spark.operators.stats import diff_in_diff

    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("c_mktsegment") == "BUILDING").alias("t"),
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")).alias("p"),
    )
    return diff_in_diff(j, "t", "p", "cents")


@query(
    "embedding_gram_matrix",
    """
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
m AS (
  SELECT v, greatest(abs(list_aggregate(v, 'min')), abs(list_aggregate(v, 'max'))) AS maxabs
  FROM e
),
q AS (
  SELECT CASE WHEN maxabs = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(floor(x / (maxabs / 127) + 0.5) AS INTEGER))
         END AS qvec
  FROM m
),
px AS (
  SELECT ti.i, tj.j,
         (qvec[ti.i + 1]::BIGINT * qvec[tj.j + 1]::BIGINT) AS prod,
         qvec[ti.i + 1]::BIGINT AS qi, qvec[tj.j + 1]::BIGINT AS qj
  FROM q, range(0, 64) ti(i), range(0, 64) tj(j)
  WHERE tj.j >= ti.i
)
SELECT i::INT AS i, j::INT AS j, count(*)::BIGINT AS n,
       sum(prod)::BIGINT AS s_ij, sum(qi)::BIGINT AS s_i, sum(qj)::BIGINT AS s_j,
       (count(*)::HUGEINT * sum(prod) - sum(qi)::HUGEINT * sum(qj))::BIGINT AS cov_num
FROM px GROUP BY 1, 2
""",
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gram/covariance matrix of the int8-quantized
    embedding corpus (similarity/gram.py — the distributed second-moment
    primitive under PCA/whitening/drift; the reference has no linear
    algebra): all 2080 upper-triangle cells from ONE map stage (nested
    transform over sequence flattens each row's outer product in
    Tungsten) + one map-side-combined (i,j) aggregation — the shuffle
    carries ≤2080 cells per task at ANY corpus size. cov_num =
    n·S_ij − S_i·S_j in DECIMAL(38)/HUGEINT, bit-identical across
    engines and partitionings where a float covariance is
    accumulation-order-dependent. Quantization replays the
    embedding_quantize projection; eigen-decomposition of the 64×64
    result is a driver-side numpy call outside the engine."""
    from datapipeline_spark.similarity.gram import int_gram_matrix

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    m = e.withColumn(
        "maxabs",
        F.greatest(F.abs(F.array_min("v")), F.abs(F.array_max("v"))),
    )
    q = m.select(
        F.when(F.col("maxabs") == 0, F.transform(F.col("v"), lambda x: F.lit(0)))
        .otherwise(
            F.transform(
                F.col("v"),
                lambda x: F.floor(x / (F.col("maxabs") / 127) + 0.5).cast("int"),
            )
        )
        .alias("qvec")
    )
    return int_gram_matrix(q, "qvec", dim=64)


def _cover_oracle_sql(k: int) -> str:
    parts = [
        """tt AS MATERIALIZED (
  SELECT DISTINCT source AS grp, s AS item FROM (
    SELECT source, lower(w[g.i]) || ' ' || lower(w[g.i + 1]) AS s
    FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS w
          FROM documents WHERE trim(text) <> '') d,
         unnest(generate_series(1, len(w) - 1)) g(i)
  )
)"""
    ]
    for r in range(1, k + 1):
        not_taken = (
            ""
            if r == 1
            else "WHERE t.grp NOT IN ("
            + " UNION ALL ".join(f"SELECT grp FROM s{i}" for i in range(1, r))
            + ")"
        )
        anti = (
            ""
            if r == 1
            else (" AND" if not_taken else "WHERE")
            + f" t.item NOT IN (SELECT item FROM cov{r-1})"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT t.grp, count(*)::BIGINT AS gain "
            f"FROM tt t {not_taken}{anti} GROUP BY 1)"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT {r} AS rank, grp, gain "
            f"FROM c{r} ORDER BY gain DESC, grp LIMIT 1)"
        )
        prev = f"SELECT item FROM cov{r-1} UNION " if r > 1 else ""
        parts.append(
            f"cov{r} AS MATERIALIZED ({prev}SELECT DISTINCT t.item FROM tt t "
            f"JOIN s{r} USING (grp))"
        )
    union = " UNION ALL ".join(
        f"SELECT rank, grp, gain FROM s{r}" for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
all_s AS ({union})
SELECT CAST(rank AS INT) AS rank, grp, gain,
       CAST(sum(gain) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_covered
FROM all_s
"""
    )


@query("source_cover_greedy", _cover_oracle_sql(4))
def q_source_cover_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage source selection (operators/cover.py —
    Nemhauser-Wolsey-Fisher 1978 submodular greedy, the (1−1/e)
    guarantee; no reference analogue): which 4 document sources buy the
    most distinct word-bigram coverage for a training mix. Driver loop of k small
    jobs over the distinct (source, word) projection — per round one
    anti-join against the checkpointed covered set, one count, a 1-row
    argmax with a total-order tie-break — so the whole run is
    deterministic and the oracle is the unrolled 4-round MATERIALIZED-CTE
    chain (the kcore/bfs pattern), cumulative coverage via a window over
    the 4-row result."""
    from datapipeline_spark.operators.cover import greedy_max_coverage

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    w = docs.select("source", F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    bigrams = w.filter(F.size("w") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> lower(element_at(w, i)) || ' ' || lower(element_at(w, i + 1)))"
            )
        ).alias("item"),
    )
    return greedy_max_coverage(spark, bigrams, "source", "item", k=4)


def _er_pipeline_sql() -> str:
    from datapipeline_spark.operators.linkage import WEIGHT_SCALE, weight_pair

    name_a, name_d = weight_pair(0.95, 0.01)
    seg_a, seg_d = weight_pair(0.90, 0.20)
    bal_a, bal_d = weight_pair(0.80, 0.10)
    up = 3 * WEIGHT_SCALE
    return f"""
WITH RECURSIVE mp AS (
  SELECT a.c_custkey AS left_key, b.c_custkey AS right_key
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE a.c_nationkey < 5
    AND CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
             THEN {name_a} ELSE {name_d} END
      + CASE WHEN a.c_mktsegment = b.c_mktsegment
             THEN {seg_a} ELSE {seg_d} END
      + CASE WHEN abs(CAST(round(a.c_acctbal * 100) AS BIGINT)
                      - CAST(round(b.c_acctbal * 100) AS BIGINT)) <= 50000
             THEN {bal_a} ELSE {bal_d} END >= {up}
),
bi AS (SELECT left_key AS a, right_key AS b FROM mp
       UNION SELECT right_key, left_key FROM mp),
reach(a, b) AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
agg AS (
  SELECT cluster_id,
         count(*)::BIGINT AS n_members,
         max(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS max_bal_cents,
         count(DISTINCT c.c_mktsegment)::BIGINT AS n_segments
  FROM comp JOIN customer c ON c.c_custkey = comp.id
  GROUP BY 1
)
SELECT g.cluster_id, g.n_members, cc.c_name AS canonical_name,
       g.max_bal_cents, g.n_segments
FROM agg g JOIN customer cc ON cc.c_custkey = g.cluster_id
"""


@query("entity_resolution_pipeline", _er_pipeline_sql())
def q_entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the composition the MDM stack runs
    as one lazy plan plus one bounded iteration: exact deletion-join
    candidate pairs (dedup/symdelete.py — every same-nation pair that can
    reach the 'match' threshold, see inline proof) → Fellegi-Sunter
    scoring (operators/linkage.py, integer micro-unit weights) →
    'match'-decision pairs → distributed min-label connected
    components (dedup/cluster.py pointer jumping, checkpointed) → cluster
    profile with the canonical record (the min-custkey member's name —
    deterministic survivorship) and exact-cent extrema. The oracle
    replays the identical weights and closes the match graph with a
    recursive CTE (the near_dup_clusters pattern). Every stage is the
    bounded form: blocked pairs (never all-pairs), capped levenshtein,
    O(log d)-round CC."""
    from datapipeline_spark.dedup.cluster import connected_components
    from datapipeline_spark.operators.linkage import (
        FieldComparison,
        fellegi_sunter_score,
    )

    from datapipeline_spark.dedup.symdelete import deletion_join

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    scoped = c.filter(F.col("c_nationkey") < 5)
    # Composite candidate generation (the production default): a 'match'
    # decision REQUIRES name agreement (without it the max attainable score
    # is 0.86 < upper=3.0), so the exact deletion-neighborhood join — all
    # (id_a < id_b) same-nation pairs with levenshtein <= 2 — yields every
    # pair that can possibly match. Output is therefore IDENTICAL to the
    # plain nation-blocked self-join the oracle replays, while the pair
    # volume is Σ variant-bucket² instead of Σ nation-block² (the shape
    # that went 10.3x at sf1: fixed blocking keys grow blocks linearly,
    # deletion variants keep the discriminating content in the join key).
    cand = deletion_join(
        scoped, "c_custkey", "c_name", k=2, block_cols=["c_nationkey"]
    ).select("id_a", "id_b")
    a = c.alias("a")
    b = c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment").alias("b")
    pairs = cand.join(a, cand.id_a == F.col("a.c_custkey")).join(
        b, cand.id_b == F.col("b.c_custkey")
    )
    comparisons = [
        FieldComparison(
            "name",
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2) >= 0,
            0.95,
            0.01,
        ),
        FieldComparison(
            "segment", F.col("a.c_mktsegment") == F.col("b.c_mktsegment"), 0.90, 0.20
        ),
        FieldComparison(
            "acctbal",
            F.abs(
                F.round(F.col("a.c_acctbal") * 100).cast("long")
                - F.round(F.col("b.c_acctbal") * 100).cast("long")
            )
            <= 50000,
            0.80,
            0.10,
        ),
    ]
    scored = fellegi_sunter_score(pairs, comparisons, upper=3.0, lower=0.0)
    matches = scored.filter(F.col("decision") == "match").select(
        F.col("a.c_custkey").alias("left_key"),
        F.col("b.c_custkey").alias("right_key"),
    )
    comp = connected_components(matches, src="left_key", dst="right_key")
    members = comp.join(c, comp.id == c.c_custkey)
    agg = members.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
            "max_bal_cents"
        ),
        F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
    )
    canon = c.select(
        F.col("c_custkey").alias("cluster_id"),
        F.col("c_name").alias("canonical_name"),
    )
    return agg.join(canon, "cluster_id").select(
        "cluster_id", "n_members", "canonical_name", "max_bal_cents", "n_segments"
    )


@query(
    "churn_life_table",
    """
WITH span AS (SELECT max(ts) AS tmax FROM events),
u AS (
  SELECT user_id,
         date_diff('day', min(ts), max(ts))::BIGINT AS t,
         CASE WHEN max(ts) < (SELECT tmax FROM span) - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS ev
  FROM events GROUP BY user_id
),
cell AS (
  SELECT t,
         sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d_events,
         sum(CASE WHEN ev = 1 THEN 0 ELSE 1 END)::BIGINT AS c_censored
  FROM u GROUP BY t
)
SELECT t, CAST(sum(d_events + c_censored)
               OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
       d_events, c_censored
FROM cell
""",
)
def q_churn_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival life table (operators/survival.py — Kaplan-Meier 1958;
    the reference has no survival surface): per-user activity lifetime in
    whole days, churn observed when the user's last event ends more than
    7 days before the corpus edge (otherwise right-censored). One
    aggregation collapses users to the (duration, event) contingency —
    bounded by the day domain, not users — and the at-risk counts are a
    reverse prefix over that tiny table. Pure exact integers; the KM
    float product stays in the operator, pinned by a pytest differential,
    never in the oracle (the libm discipline)."""
    from datapipeline_spark.operators.survival import life_table

    ev = load_table(spark, sf_dir, "events")
    edge = ev.agg(F.max("ts").alias("tmax"))
    u = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(edge))
        .select(
            F.datediff(F.col("t1"), F.col("t0")).cast("long").alias("t"),
            F.when(
                F.col("t1") < F.col("tmax") - F.expr("INTERVAL 7 DAYS"), 1
            )
            .otherwise(0)
            .alias("ev"),
        )
    )
    return life_table(u, "t", "ev")


@query(
    "rfm_segmentation",
    """
WITH edge AS (SELECT max(o_orderdate) AS dmax FROM orders),
m AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT dmax FROM edge))::BIGINT AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS monetary_cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days, o_custkey) AS pr,
         row_number() OVER (ORDER BY frequency, o_custkey) AS pf,
         row_number() OVER (ORDER BY monetary_cents, o_custkey) AS pm,
         count(*) OVER () AS n
  FROM m
)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       (((pr - 1) * 5) // n + 1)::INT AS recency_band,
       (((pf - 1) * 5) // n + 1)::INT AS frequency_band,
       (((pm - 1) * 5) // n + 1)::INT AS monetary_band
FROM r
""",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (operators/rank.bucketed_value_rank —
    the retail-analytics classic; no reference analogue): recency /
    frequency / monetary per customer, each banded into equal-count
    quintiles by the VALUE-ordered two-phase rank (monotone value-range
    buckets from the broadcast min/max → exclusive bucket offsets →
    within-bucket window) — three global ranks with NO single-task sort
    anywhere, where the oracle's three row_number windows are the
    single-node equivalent of the same (value, custkey) total orders.
    Band arithmetic is pure integer ((pos−1)·5 DIV n + 1).

    The three ranks are FUSED (operators/rank.multi_value_rank): metrics
    melt to long form, one (metric, bucket)-partitioned window ranks all
    three in a single full-data exchange, and one groupBy pivots back —
    two full-data exchanges total where three chained
    bucketed_value_rank calls cost six."""
    from datapipeline_spark.operators.rank import multi_value_rank

    od = load_table(spark, sf_dir, "orders")
    edge = od.agg(F.max("o_orderdate").alias("dmax"))
    m = (
        od.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("dlast"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(edge))
        .select(
            "o_custkey",
            F.datediff(F.col("dmax"), F.col("dlast")).cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    long = multi_value_rank(
        m, ["recency_days", "frequency", "monetary_cents"], ["o_custkey"]
    )
    names = ["recency_days", "frequency", "monetary_cents"]
    wide = long.groupBy("o_custkey").agg(
        *[
            F.max(F.when(F.col("metric") == i, F.col("value"))).alias(v)
            for i, v in enumerate(names)
        ],
        *[
            F.max(F.when(F.col("metric") == i, F.col("pos"))).alias(p)
            for i, p in enumerate(["pr", "pf", "pm"])
        ],
    )
    n = m.agg(F.count(F.lit(1)).alias("n"))
    return (
        wide.crossJoin(F.broadcast(n))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            F.expr("CAST(((pr - 1) * 5) DIV n + 1 AS INT)").alias("recency_band"),
            F.expr("CAST(((pf - 1) * 5) DIV n + 1 AS INT)").alias("frequency_band"),
            F.expr("CAST(((pm - 1) * 5) DIV n + 1 AS INT)").alias("monetary_band"),
        )
    )


@query(
    "top_user_journeys",
    """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY user_id
)
SELECT path, count(*)::BIGINT AS n_users
FROM paths GROUP BY 1 HAVING count(*) >= 2
""",
)
def q_top_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining (product analytics' entry-path report; no
    reference analogue): each user's first three event types in exact
    (ts, event_id) order concatenated into a path, then counted across
    users. The per-user prefix is a WindowGroupLimit candidate (≤3 rows
    per user per map task cross the one keyed exchange, never whole
    histories); the path build is an in-row array_sort over (rank, type)
    structs — deterministic because the order is total. Supports the
    funnel queries' design question: which entry sequences actually
    occur."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    paths = first3.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .filter(F.col("n_users") >= 2)
    )


@query(
    "funnel_three_step",
    """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT v.user_id, v.t1, min(e.ts) AS t2
      FROM v JOIN events e ON e.user_id = v.user_id
       AND e.event_type = 'click' AND e.ts > v.t1
       AND e.ts <= v.t1 + INTERVAL 72 HOUR
      GROUP BY 1, 2),
p AS (SELECT c.user_id, c.t2, min(e.ts) AS t3
      FROM c JOIN events e ON e.user_id = c.user_id
       AND e.event_type = 'purchase' AND e.ts > c.t2
       AND e.ts <= c.t2 + INTERVAL 72 HOUR
      GROUP BY 1, 2)
SELECT (SELECT count(*) FROM v)::BIGINT AS n_step1,
       (SELECT count(*) FROM c)::BIGINT AS n_step2,
       (SELECT count(*) FROM p)::BIGINT AS n_step3,
       ((SELECT count(*) FROM c) * 1000000 // (SELECT count(*) FROM v))::BIGINT
         AS conv12_ppm,
       ((SELECT count(*) FROM p) * 1000000 // (SELECT count(*) FROM c))::BIGINT
         AS conv23_ppm
""",
)
def q_funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ordered funnel with a per-step 72-hour window (extends
    the two-step funnel_conversion to the k-step chained-as-of shape):
    first view → first subsequent click within 72 h → first subsequent
    purchase within 72 h of the click. Each step is a user-keyed join
    bounded to one row per user on the build side (min-aggregate before
    the next join), so the chain is k user-keyed joins, never a
    per-event explosion; conversion rates are exact integer ppm."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        v.join(
            ev.filter(F.col("event_type") == "click").select(
                "user_id", F.col("ts").alias("tc")
            ),
            "user_id",
        )
        .filter(
            (F.col("tc") > F.col("t1"))
            & (F.col("tc") <= F.col("t1") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("tc").alias("t2"))
    )
    p = (
        c.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("tp")
            ),
            "user_id",
        )
        .filter(
            (F.col("tp") > F.col("t2"))
            & (F.col("tp") <= F.col("t2") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id", "t2")
        .agg(F.min("tp").alias("t3"))
    )
    n1 = v.agg(F.count(F.lit(1)).cast("long").alias("n_step1"))
    n2 = c.agg(F.count(F.lit(1)).cast("long").alias("n_step2"))
    n3 = p.agg(F.count(F.lit(1)).cast("long").alias("n_step3"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            F.expr("CAST(n_step2 * 1000000 DIV n_step1 AS BIGINT)").alias(
                "conv12_ppm"
            ),
            F.expr("CAST(n_step3 * 1000000 DIV n_step2 AS BIGINT)").alias(
                "conv23_ppm"
            ),
        )
    )


@query(
    "recsys_eval_popularity",
    """
WITH train AS (
  SELECT o_custkey AS u, l_partkey AS it
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate < TIMESTAMP '2000-01-01'
),
top5 AS (
  SELECT it, row_number() OVER (ORDER BY count(*) DESC, it ASC) AS rec_rank
  FROM train GROUP BY it
  QUALIFY rec_rank <= 5
),
test AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS it
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
),
hits AS (
  SELECT t.u, min(r.rec_rank) AS first_hit
  FROM test t LEFT JOIN top5 r ON r.it = t.it
  GROUP BY t.u
)
SELECT count(*)::BIGINT AS n_eval_users,
       sum(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
       (sum(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        // count(*))::BIGINT AS hit_rate_ppm,
       sum(coalesce(1000000 // first_hit, 0))::BIGINT AS mrr_sum_micro,
       (sum(coalesce(1000000 // first_hit, 0)) // count(*))::BIGINT
         AS mrr_mean_micro
FROM hits
""",
)
def q_recsys_eval_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation (the recsys-metrics family; no
    reference analogue): a popularity@5 baseline trained on pre-2000
    purchases, scored on each customer's post-2000 held-out items —
    hit-rate@5 and MRR@5 as EXACT integers (reciprocal rank is
    1000000 DIV rank — no floats, so the metrics hash-match). Plan:
    the 5-item model is a tiny aggregate ranked once; evaluation is one
    broadcast join of the model onto the distinct test pairs + per-user
    min + one final aggregate. Time-based split, not random — the only
    leak-free protocol for temporal interaction data."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cut = F.lit("2000-01-01").cast("timestamp")
    pairs = od.join(li, od.o_orderkey == li.l_orderkey).select(
        "o_custkey", "l_partkey", "o_orderdate"
    )
    train = pairs.filter(F.col("o_orderdate") < cut)
    from pyspark.sql import Window

    counts = train.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    # top-5 via orderBy().limit() — compiles to TakeOrderedAndProject
    # (distributed per-partition top-k + driver merge), NOT an
    # unpartitioned row_number window over the whole part domain (which
    # single-partition-sorts the full aggregate at 100x scale). The rank
    # window then runs on the 5 surviving rows only.
    w = Window.orderBy(F.desc("c"), F.asc("l_partkey"))
    top5 = (
        counts.orderBy(F.desc("c"), F.asc("l_partkey"))
        .limit(5)
        .withColumn("rec_rank", F.row_number().over(w))
        .select("l_partkey", "rec_rank")
    )
    test = (
        pairs.filter(F.col("o_orderdate") >= cut)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    hits = (
        test.join(F.broadcast(top5), "l_partkey", "left")
        .groupBy("o_custkey")
        .agg(F.min("rec_rank").alias("first_hit"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_users"),
        F.sum(F.when(F.col("first_hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.sum(
            F.coalesce(F.expr("CAST(1000000 DIV first_hit AS BIGINT)"), F.lit(0))
        )
        .cast("long")
        .alias("mrr_sum_micro"),
    ).select(
        "n_eval_users",
        "n_hits",
        F.expr("CAST(n_hits * 1000000 DIV n_eval_users AS BIGINT)").alias(
            "hit_rate_ppm"
        ),
        "mrr_sum_micro",
        F.expr("CAST(mrr_sum_micro DIV n_eval_users AS BIGINT)").alias(
            "mrr_mean_micro"
        ),
    )


@query(
    "revenue_decile_concentration",
    """
WITH m AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS pos,
         count(*) OVER () AS n
  FROM m
),
d AS (
  SELECT (((pos - 1) * 10) // n)::INT AS decile,
         count(*)::BIGINT AS n_customers,
         sum(cents)::BIGINT AS cents
  FROM r GROUP BY 1
),
t AS (SELECT sum(cents) AS total FROM d)
SELECT decile, n_customers, cents,
       ((cents::HUGEINT * 1000000) // total)::BIGINT AS share_ppm,
       CAST((sum(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)::HUGEINT
             * 1000000) // total AS BIGINT) AS cum_share_ppm
FROM d, t
""",
)
def q_revenue_decile_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration report (the 80/20 readout — the empirical
    companion to gini_revenue_by_nation's coefficient): customers ranked
    by lifetime revenue, cut into population deciles, each decile's exact
    revenue share and the cumulative share in integer ppm. The
    top-revenue rank rides bucketed_value_rank on NEGATED cents (the
    value-ordered two-phase rank — monotone bucket prefix, no single-task
    sort); decile math, shares, and the cumulative window (10-row table)
    are pure integer arithmetic."""
    from datapipeline_spark.operators.rank import bucketed_value_rank

    od = load_table(spark, sf_dir, "orders")
    m = od.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # rank descending by revenue: negate the exact integer
    ranked = bucketed_value_rank(
        m.withColumn("neg", -F.col("cents")), "neg", ["o_custkey"], out="pos"
    )
    n = m.agg(F.count(F.lit(1)).alias("n"))
    d = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", F.expr("CAST(((pos - 1) * 10) DIV n AS INT)"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    t = d.agg(F.sum(F.col("cents").cast("decimal(38,0)")).alias("total"))
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.crossJoin(F.broadcast(t))
        .withColumn(
            "share_ppm",
            F.expr(
                "CAST((CAST(cents AS DECIMAL(38,0)) * 1000000) DIV total AS BIGINT)"
            ),
        )
        .withColumn(
            "cum_share_ppm",
            F.expr(
                "CAST((CAST(SUM(cents) OVER (ORDER BY decile ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0))"
                " * 1000000) DIV total AS BIGINT)"
            ),
        )
        .select("decile", "n_customers", "cents", "share_ppm", "cum_share_ppm")
    )


@query(
    "weekday_seasonality_anomalies",
    """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         (dayofweek(o_orderdate) + 1)::INT AS wd,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
  FROM orders GROUP BY 1, 2
),
wd AS (
  SELECT wd, count(*)::BIGINT AS n,
         sum(cents)::BIGINT AS s,
         sum(cents::HUGEINT * cents)::DOUBLE AS q
  FROM daily GROUP BY 1
)
SELECT d.day, d.wd, d.cents,
       s::DOUBLE / n::DOUBLE AS wd_mean,
       d.cents::DOUBLE - s::DOUBLE / n::DOUBLE AS residual,
       CASE WHEN n >= 2 AND
                 abs(d.cents::DOUBLE - s::DOUBLE / n::DOUBLE)
                 > 2 * sqrt((n::DOUBLE * q - (s::DOUBLE * s::DOUBLE))
                            / (n::DOUBLE * (n::DOUBLE - 1)))
            THEN 1 ELSE 0 END AS is_anomaly
FROM daily d JOIN wd USING (wd)
""",
)
def q_weekday_seasonality_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-seasonal decomposition with anomaly flags (STL-lite — the
    additive seasonal baseline; complements cusum/robust_anomaly which
    are trend-side): daily revenue in exact cents, per-weekday mean as
    ONE IEEE division of exact integer sums, residual as an IEEE
    subtraction, and a 2-sigma flag whose variance comes from exact
    integer Σx/Σx² (the sqrt and divides are the IEEE-correctly-rounded
    chain the repo's stats suite standardizes on — bit-stable
    cross-engine). Two aggregations + one broadcast join of the 7-row
    weekday profile; no windows over raw rows."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        F.dayofweek("o_orderdate").cast("int").alias("wd"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wd = daily.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("double")
        .alias("q"),
    )
    j = daily.join(F.broadcast(wd), "wd")
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    resid = F.col("cents").cast("double") - mean
    nd = F.col("n").cast("double")
    sd = F.sqrt(
        (nd * F.col("q") - F.col("s").cast("double") * F.col("s").cast("double"))
        / (nd * (nd - F.lit(1.0)))
    )
    return j.select(
        "day",
        "wd",
        "cents",
        mean.alias("wd_mean"),
        resid.alias("residual"),
        F.when((F.col("n") >= 2) & (F.abs(resid) > 2 * sd), 1)
        .otherwise(0)
        .alias("is_anomaly"),
    )


@query(
    "longest_activity_streak",
    """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
isl AS (
  SELECT user_id, d,
         date_trunc('day', d) - to_days(
           row_number() OVER (PARTITION BY user_id ORDER BY d)::INT
         ) AS anchor
  FROM days
),
runs AS (
  SELECT user_id, anchor, count(*)::BIGINT AS len,
         min(d) AS streak_start
  FROM isl GROUP BY 1, 2
),
best AS (
  SELECT user_id, len, streak_start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, streak_start ASC) AS rn
  FROM runs
)
SELECT user_id, len AS streak_days, streak_start
FROM best WHERE rn = 1
""",
)
def q_longest_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands rank-difference trick (day minus its per-user day
    ordinal is constant exactly along a consecutive run): one distinct
    projection bounded by (user × active days), two user-keyed windows
    over that bounded table, deterministic earliest-start tie-break.
    The SCD2 machinery's island identity applied to engagement
    analytics; exact integers and timestamps only."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "anchor",
        F.expr("d - make_interval(0, 0, 0, CAST(row_number() OVER "
               "(PARTITION BY user_id ORDER BY d) AS INT), 0, 0, 0)"),
    )
    runs = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    return (
        runs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("len").alias("streak_days"), "streak_start")
    )


@query(
    "cohort_ltv_curve",
    """
WITH first_m AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS m0
  FROM orders GROUP BY 1
),
sz AS (SELECT m0, count(*)::BIGINT AS cohort_users FROM first_m GROUP BY 1),
rev AS (
  SELECT f.m0,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.m0 AS age_months,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT AS cents
  FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT r.m0 AS cohort_month, r.age_months, s.cohort_users,
       CAST(sum(r.cents) OVER (PARTITION BY r.m0 ORDER BY r.age_months
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
       CAST(sum(r.cents) OVER (PARTITION BY r.m0 ORDER BY r.age_months
                               ROWS UNBOUNDED PRECEDING) // s.cohort_users
            AS BIGINT) AS ltv_cents_per_user
FROM rev r JOIN sz s ON s.m0 = r.m0
""",
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve (the revenue companion to
    cohort_retention_grid / weekly_retention): customers cohorted by
    first-order month (exact integer year*12+month — no fractional
    months_between), revenue accumulated by cohort age, cumulative LTV
    per user in exact integer cents. The cumulative window runs on the
    aggregated (cohort × age) table — bounded by the calendar, not
    customers; cohort sizes broadcast back."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    mth = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first_m = od.groupBy("o_custkey").agg(F.min(mth).alias("m0"))
    sz = first_m.groupBy("m0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = (
        od.join(first_m, "o_custkey")
        .groupBy(
            F.col("m0"),
            (mth - F.col("m0")).alias("age_months"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("m0").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(F.broadcast(sz), "m0")
        .withColumn("cum_cents", F.sum("cents").over(w).cast("long"))
        .select(
            F.col("m0").alias("cohort_month"),
            "age_months",
            "cohort_users",
            "cum_cents",
            F.expr("CAST(cum_cents DIV cohort_users AS BIGINT)").alias(
                "ltv_cents_per_user"
            ),
        )
    )


@query(
    "inclusion_deps",
    """
WITH prof AS (
  SELECT 'lineitem.l_orderkey' AS dependent, 'orders.o_orderkey' AS referenced,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(count(r.k) AS BIGINT) AS n_contained
  FROM (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
        WHERE l_orderkey IS NOT NULL) d
  LEFT JOIN (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS k FROM orders
             WHERE o_orderkey IS NOT NULL) r USING (k)
  UNION ALL
  SELECT 'orders.o_custkey', 'customer.c_custkey',
         CAST(count(*) AS BIGINT), CAST(count(r.k) AS BIGINT)
  FROM (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
        WHERE o_custkey IS NOT NULL) d
  LEFT JOIN (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
             WHERE c_custkey IS NOT NULL) r USING (k)
  UNION ALL
  SELECT 'lineitem.l_partkey', 'part.p_partkey',
         CAST(count(*) AS BIGINT), CAST(count(r.k) AS BIGINT)
  FROM (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
        WHERE l_partkey IS NOT NULL) d
  LEFT JOIN (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS k FROM part
             WHERE p_partkey IS NOT NULL) r USING (k)
  UNION ALL
  SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
         CAST(count(*) AS BIGINT), CAST(count(r.k) AS BIGINT)
  FROM (SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS k FROM lineitem
        WHERE l_suppkey IS NOT NULL) d
  LEFT JOIN (SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS k FROM supplier
             WHERE s_suppkey IS NOT NULL) r USING (k)
  UNION ALL
  SELECT 'customer.c_custkey', 'orders.o_custkey',
         CAST(count(*) AS BIGINT), CAST(count(r.k) AS BIGINT)
  FROM (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
        WHERE c_custkey IS NOT NULL) d
  LEFT JOIN (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
             WHERE o_custkey IS NOT NULL) r USING (k)
  UNION ALL
  SELECT 'supplier.s_nationkey', 'nation.n_nationkey',
         CAST(count(*) AS BIGINT), CAST(count(r.k) AS BIGINT)
  FROM (SELECT DISTINCT CAST(s_nationkey AS VARCHAR) AS k FROM supplier
        WHERE s_nationkey IS NOT NULL) d
  LEFT JOIN (SELECT DISTINCT CAST(n_nationkey AS VARCHAR) AS k FROM nation
             WHERE n_nationkey IS NOT NULL) r USING (k)
)
SELECT dependent, referenced, n_distinct, n_contained,
       CAST(CASE WHEN n_distinct = n_contained THEN 1 ELSE 0 END AS INT)
         AS holds,
       CASE WHEN n_distinct > 0
            THEN (n_contained * 1000000) // n_distinct END AS contained_ppm
FROM prof
""",
)
def q_inclusion_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (FK-candidate) profile over six TPC-H column
    pairs — four true foreign keys, one reverse direction that TPC-H
    breaks by construction (customers without orders), one dimension
    lookup (operators/ind.ind_profile). Each side collapses to its
    distinct value set before any join, so shuffle mass is distinct
    values, never rows; the result is six exact-integer rows. The FD half
    of this profiling family is fd_discovery_orders.

    Measured, NOT spread (round-7): lineitem's keys are high-cardinality
    but ~4x-duplicated, so the single-task partial bit-or dedups the
    branch to ~170k rows before the exchange — a spread re-scatters the
    duplicates across 32 tasks and triples the exchanged partial rows
    (same-sitting A/B: masks stage 0.97 s unspread vs 1.32 s spread)."""
    from datapipeline_spark.operators.ind import ind_profile

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    pa = load_table(spark, sf_dir, "part")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    return ind_profile(
        [
            ("lineitem", li, "l_orderkey", "orders", od, "o_orderkey"),
            ("orders", od, "o_custkey", "customer", cu, "c_custkey"),
            ("lineitem", li, "l_partkey", "part", pa, "p_partkey"),
            ("lineitem", li, "l_suppkey", "supplier", su, "s_suppkey"),
            ("customer", cu, "c_custkey", "orders", od, "o_custkey"),
            ("supplier", su, "s_nationkey", "nation", na, "n_nationkey"),
        ]
    )


@query(
    "target_encode_priority",
    """
WITH per_fold AS (
  SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
         CAST(count(*) AS BIGINT) AS f_cnt,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS f_sum
  FROM orders GROUP BY 1, 2
),
totals AS (
  SELECT cat, CAST(sum(f_cnt) AS BIGINT) AS t_cnt,
         CAST(sum(f_sum) AS BIGINT) AS t_sum
  FROM per_fold GROUP BY 1
)
SELECT p.cat, p.fold,
       t.t_cnt - p.f_cnt AS oof_cnt,
       t.t_sum - p.f_sum AS oof_sum,
       CASE WHEN t.t_cnt - p.f_cnt > 0
            THEN (t.t_sum - p.f_sum) // (t.t_cnt - p.f_cnt) END AS enc
FROM per_fold p JOIN totals t USING (cat)
""",
)
def q_target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof K-fold target encoding of order priority against
    order value in exact integer cents (dataset/encode.target_encode_oof):
    the encoding fold f sees is the mean over every OTHER fold, by the
    subtraction trick — ONE (cat, fold) aggregate plus a broadcast totals
    join, never K passes. Folds are the deterministic o_orderkey % 5 (the
    split_hash_label machinery is the production fold source)."""
    from datapipeline_spark.dataset.encode import target_encode_oof

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 5).alias("fold"),
    )
    return target_encode_oof(
        od, cat_col="o_orderpriority", target_col="cents", fold_col="fold"
    )


@query(
    "link_prediction_parts",
    """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 29 = 0
),
e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
und AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0
),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a),
nz AS MATERIALIZED (
  SELECT u.a AS z, u.b AS n, dg.d
  FROM und u JOIN deg dg ON u.a = dg.a WHERE dg.d <= 200
),
wedges AS (
  SELECT w1.n AS u, w2.n AS v, w1.d
  FROM nz w1 JOIN nz w2 ON w1.z = w2.z AND w1.n < w2.n
),
unlinked AS (
  SELECT w.u, w.v, w.d FROM wedges w
  ANTI JOIN (SELECT a AS u, b AS v FROM und WHERE a < b) e USING (u, v)
)
SELECT u AS part_u, v AS part_v,
       CAST(count(*) AS BIGINT) AS common_neighbors,
       CAST(sum(1000000 // d) AS BIGINT) AS ra_micros
FROM unlinked GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def q_link_prediction_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction on the part co-purchase graph
    (operators/graph.link_prediction): unconnected part pairs scored by
    Σ 1000000 DIV deg(z) over common neighbors z — RA instead of
    Adamic-Adar exactly so no libm log enters the oracle (integer-exact
    cross-engine). Wedge volume is the only cost and is double-bounded:
    hub centers above deg 200 never center wedges (their RA terms are
    ~0 at quadratic cost), and each wedge emits once. Registered output
    keeps the standard ≥2-common-neighbor confidence floor (single-wedge
    pairs are noise and dominate row count). Demo scope: 1-in-29 orders —
    the operator shape is identical at any subset."""
    from datapipeline_spark.operators.graph import (
        cooccurrence_edges,
        link_prediction,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 29 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = cooccurrence_edges(li, group_col="l_orderkey", item_col="l_partkey")
    return (
        link_prediction(edges, max_degree=200)
        .filter(F.col("common_neighbors") >= 2)
        .select(
            F.col("u").alias("part_u"),
            F.col("v").alias("part_v"),
            "common_neighbors",
            "ra_micros",
        )
    )


@query(
    "skew_profile_lineitem",
    """
WITH keys(key) AS (VALUES ('l_orderkey'), ('l_partkey'), ('l_returnflag')),
freq AS MATERIALIZED (
  SELECT 'l_orderkey' AS key, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'l_partkey', CAST(count(*) AS BIGINT) FROM lineitem GROUP BY l_partkey
  UNION ALL
  SELECT 'l_returnflag', CAST(count(*) AS BIGINT)
  FROM lineitem GROUP BY l_returnflag
),
fof AS MATERIALIZED (
  SELECT key, f, CAST(count(*) AS BIGINT) AS nk FROM freq GROUP BY key, f
),
cum AS (
  SELECT key, f, nk,
         CAST(sum(nk) OVER (PARTITION BY key ORDER BY f
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ck
  FROM fof
),
tot AS (
  SELECT key, CAST(sum(f * nk) AS BIGINT) AS n_rows,
         CAST(sum(nk) AS BIGINT) AS n_keys,
         CAST(max(f) AS BIGINT) AS max_freq
  FROM fof GROUP BY key
)
SELECT c.key, t.n_rows, t.n_keys,
       t.n_rows // t.n_keys AS avg_freq,
       CAST(min(CASE WHEN c.ck >= (t.n_keys * 50 + 99) // 100 THEN c.f END)
            AS BIGINT) AS p50_freq,
       CAST(min(CASE WHEN c.ck >= (t.n_keys * 95 + 99) // 100 THEN c.f END)
            AS BIGINT) AS p95_freq,
       CAST(min(CASE WHEN c.ck >= (t.n_keys * 99 + 99) // 100 THEN c.f END)
            AS BIGINT) AS p99_freq,
       t.max_freq,
       (t.max_freq * 1000000) // t.n_rows AS hot_key_ppm,
       greatest(CAST(1 AS BIGINT),
                (t.max_freq * 32 + t.n_rows - 1) // t.n_rows)
         AS suggested_salt
FROM cum c JOIN tot t USING (key)
GROUP BY c.key, t.n_rows, t.n_keys, t.max_freq
""",
)
def q_skew_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew advisor over three lineitem key candidates
    (operators/skewprof.skew_profile): exact p50/p95/p99/max key
    frequencies from the frequency-of-frequency profile (cumulative
    threshold lookups on a table bounded by DISTINCT frequency values —
    never a percentile sort over keys), hottest-key ppm, and the salt
    factor that levels the hot key across 32 partitions. l_returnflag's
    3-value domain is the deliberate pathological case (suggested_salt
    ≈ 10) against the two well-spread keys (salt 1); the salted
    execution path it recommends is operators/skew.py (skew_salted_agg)."""
    from datapipeline_spark.operators.skewprof import skew_profile

    # measured, NOT spread (round-7): the (key, value) partial aggregate
    # dedups the single scan task's 1.8M exploded pairs to ~170k before
    # the exchange; a spread re-scatters the duplicated key values and
    # multiplies the exchanged partial rows (interleaved A/B: 1.82 s
    # unspread vs 3.07 s spread at matched ambient controls)
    li = load_table(spark, sf_dir, "lineitem")
    return skew_profile(
        li, ["l_orderkey", "l_partkey", "l_returnflag"], target_partitions=32
    )


@query(
    "incremental_join_delta",
    """
WITH base_o AS (SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'),
delta_o AS (
  SELECT * FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-02-01'
),
base_l AS (SELECT * FROM lineitem WHERE l_shipdate < DATE '1997-01-01'),
delta_l AS (
  SELECT * FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-02-01'
),
old_v AS (
  SELECT o_orderpriority, l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM base_o JOIN base_l ON o_orderkey = l_orderkey
),
new_v AS (
  SELECT o_orderpriority, l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM (SELECT * FROM base_o UNION ALL SELECT * FROM delta_o) o
  JOIN (SELECT * FROM base_l UNION ALL SELECT * FROM delta_l) l
    ON o_orderkey = l_orderkey
),
delta_v AS (SELECT * FROM new_v EXCEPT ALL SELECT * FROM old_v)
SELECT o_orderpriority, l_returnflag,
       CAST(count(*) AS BIGINT) AS delta_rows,
       CAST(sum(cents) AS BIGINT) AS delta_cents
FROM delta_v GROUP BY 1, 2
""",
)
def q_incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an orders⋈lineitem join view under one
    month of appends (operators/incremental.incremental_join_delta): the
    differential-dataflow decomposition ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — delta
    sides broadcast, base relations scanned once with no shuffle — then
    the view's group-by folds the delta rows. The oracle is the
    INDEPENDENT formulation (full new join EXCEPT ALL old join), so the
    equivalence of the decomposition itself is what's checked. Append-only
    multiset semantics; the keyed-upsert path is operators/cdc.py."""
    from datapipeline_spark.operators.incremental import incremental_join_delta

    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    jan = (F.col("o_orderdate") >= "1997-01-01") & (
        F.col("o_orderdate") < "1997-02-01"
    )
    jan_l = (F.col("l_shipdate") >= "1997-01-01") & (
        F.col("l_shipdate") < "1997-02-01"
    )
    # column names differ across sides; align the join key explicitly
    base_a = od.filter(F.col("o_orderdate") < "1997-01-01").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    delta_a = od.filter(jan).select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    base_b = li.filter(F.col("l_shipdate") < "1997-01-01").select(
        F.col("l_orderkey").alias("k"), "l_returnflag", "l_extendedprice"
    )
    delta_b = li.filter(jan_l).select(
        F.col("l_orderkey").alias("k"), "l_returnflag", "l_extendedprice"
    )
    dv = incremental_join_delta(base_a, delta_a, base_b, delta_b, on=["k"])
    return dv.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("delta_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("delta_cents"),
    )


@query(
    "holt_forecast_users",
    """
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i,
         CAST(value AS DOUBLE) AS y
  FROM events
),
ncnt AS (SELECT user_id, CAST(max(i) AS BIGINT) AS n_obs FROM seq GROUP BY 1),
rec AS (
  SELECT user_id, i, y AS l, 0.0::DOUBLE AS b FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         0.5 * s.y + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
)
SELECT r.user_id, n.n_obs, r.l AS level, r.b AS trend,
       r.l + 3.0 * r.b AS forecast_3
FROM rec r JOIN ncnt n ON n.user_id = r.user_id AND r.i = n.n_obs
""",
)
def q_holt_forecast_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of each user's event-value series
    (operators/holt.holt_linear, α=β=½): per-series level/trend fold as a
    JVM array aggregate — one row per user out, state two doubles — and
    the 3-step linear forecast. Bit-exact vs the step-for-step recursive-
    CTE oracle because every multiply at ½ is exact scaling and the fold
    order is pinned by (ts, event_id). The windowed-stat families
    (rolling/ewma/cusum) cover the identity-expressible recurrences;
    this is the honest sequential one."""
    from datapipeline_spark.operators.holt import holt_linear

    ev = load_table(spark, sf_dir, "events")
    return holt_linear(
        ev,
        key_cols=["user_id"],
        y_col="value",
        order_cols=["ts", "event_id"],
        alpha=0.5,
        beta=0.5,
        horizon=3,
    )


@query(
    "t5_span_corruption",
    """
WITH raw AS MATERIALIZED (
  SELECT id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS arr
        FROM documents)
),
toks AS MATERIALIZED (
  SELECT id, pos, tok,
         CASE WHEN (('0x' || substr(md5(id::VARCHAR || '|' || pos::VARCHAR),
                     1, 12))::UBIGINT)::BIGINT % 100 < 15
              THEN 1 ELSE 0 END AS m
  FROM raw WHERE tok <> ''
),
wm AS MATERIALIZED (
  SELECT id, pos, tok, m,
         sum(m) OVER (PARTITION BY id ORDER BY pos) AS mrank,
         lag(m, 1, 0) OVER (PARTITION BY id ORDER BY pos) AS prevm
  FROM toks
),
sp AS (
  SELECT id, pos,
         dense_rank() OVER (PARTITION BY id ORDER BY (pos - mrank)) - 1
           AS span
  FROM wm WHERE m = 1
),
t AS MATERIALIZED (
  SELECT w.id, w.pos, w.tok, w.m, s.span,
         (w.m = 1 AND w.prevm = 0) AS fos
  FROM wm w LEFT JOIN sp s ON s.id = w.id AND s.pos = w.pos
),
agg AS (
  SELECT id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m) AS BIGINT) AS n_masked,
         CAST(count(DISTINCT span) AS BIGINT) AS n_spans,
         string_agg(CASE WHEN m = 0 THEN tok
                         WHEN fos THEN '<extra_id_' || span::VARCHAR || '>'
                    END, ' ' ORDER BY pos) AS input_text,
         string_agg(CASE WHEN m = 1 THEN
                      CASE WHEN fos
                           THEN '<extra_id_' || span::VARCHAR || '> ' || tok
                           ELSE tok END
                    END, ' ' ORDER BY pos) AS tgt_body
  FROM t GROUP BY id
)
SELECT id AS doc_id, n_tokens, n_masked, n_spans, input_text,
       CASE WHEN n_spans = 0 THEN '<extra_id_0>'
            ELSE tgt_body || ' <extra_id_' || n_spans::VARCHAR || '>'
       END AS target_text
FROM agg
""",
)
def q_t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 denoising-pair generation over the corpus
    (text/corrupt.span_corrupt, 15% corruption): deterministic md5 coin
    per (doc, position), consecutive masks merged to numbered sentinels
    by the gaps-and-islands identity, input/target rebuilt with ordered
    string aggregation — all JVM expressions, all windows doc-keyed. The
    oracle replays the identical hash coin and island arithmetic, so the
    generated training pairs are verified STRING-EXACT."""
    from datapipeline_spark.text.corrupt import span_corrupt

    # span_corrupt is map-only since round 7 (in-row fold) — spread the
    # single-split scan or the per-token md5 coin serializes on one task
    d = spread(load_table(spark, sf_dir, "documents"))
    return span_corrupt(d, id_col="doc_id", text_col="text", rate_pct=15)


@query(
    "bootstrap_revenue_ci",
    """
WITH hashed AS MATERIALIZED (
  SELECT (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::UBIGINT)::BIGINT
           % 2147483647 AS h,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
rows_b AS (
  SELECT h, v, g.b
  FROM hashed, LATERAL (SELECT unnest(range(0, 100)) AS b) g
),
weighted AS (
  SELECT b, v,
         CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1 WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5 WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7 WHEN u < 999998 THEN 8 ELSE 9 END AS w
  FROM (
    SELECT b, v, (h * (b * 2 + 1)) % 2147483647 % 1000000 AS u
    FROM rows_b
  )
),
reps AS (
  SELECT b,
         CASE WHEN sum(w) > 0
              THEN CAST(sum(w * v) // sum(w) AS BIGINT) END AS mean_b
  FROM weighted GROUP BY b
),
ranked AS (
  SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rnk,
         count(*) OVER () AS nb
  FROM reps
),
ci AS (
  SELECT CAST(min(CASE WHEN rnk >= (2 * nb + 99) // 100 THEN mean_b END)
              AS BIGINT) AS ci_lo,
         CAST(min(CASE WHEN rnk >= (97 * nb + 99) // 100 THEN mean_b END)
              AS BIGINT) AS ci_hi,
         CAST(count(*) AS BIGINT) AS n_replicates
  FROM ranked
),
pt AS (
  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              // count(*) AS BIGINT) AS mean_point,
         CAST(count(*) AS BIGINT) AS n
  FROM orders
)
SELECT pt.mean_point, pt.n, ci.ci_lo, ci.ci_hi, ci.n_replicates
FROM pt, ci
""",
)
def q_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for mean order value in exact
    integer cents (operators/bootstrap.bootstrap_mean_ci, B=100): each
    order hashes ONCE (md5-48bit); each replicate scrambles that row
    entropy multiplicatively mod 2^31-1 into its uniform, inverted
    through Poisson CDF thresholds embedded as integer literals in both
    engines
    (generated once from math.exp - libm never runs in-query, the
    minhash-constants convention). Replicate means fold map-side into a
    B-row table; the percentile bounds are exact ceil-rank order
    statistics over it. The scale story is the point: no RNG state, no
    coordination - every row decides its own resample weights."""
    from datapipeline_spark.operators.bootstrap import bootstrap_mean_ci

    od = spread(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return bootstrap_mean_ci(
        od, key_col="o_orderkey", value_col="cents", n_replicates=100,
        lo_pct=2, hi_pct=97,
    )


_PIPE_QUALITY = """round(0.3 * least(len(w) / 100.0, 1.0)
             + 0.3 * (len(list_distinct(w)) * 1.0 / len(w))
             + 0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      * 1.0 / length(text)), 6)"""

_PIPE_8GRAM = " || ' ' || ".join(f"w8[g.i + {j}]" for j in range(8))


@query(
    "pretraining_pipeline",
    """
WITH {lsh},
q AS (
  SELECT doc_id, source, len(w) AS n_tokens, {quality} AS quality
  FROM (SELECT doc_id, source, text, {words} AS w FROM documents)
),
kept AS (SELECT * FROM q WHERE quality >= 0.55),
ded AS (
  SELECT doc_id, source, n_tokens, quality FROM (
    SELECT k.*, row_number() OVER (PARTITION BY md5(dd.text)
                                   ORDER BY k.doc_id) AS rn
    FROM kept k JOIN documents dd USING (doc_id)
  ) WHERE rn = 1
),
drops AS (
  SELECT DISTINCT v.id_b FROM vpairs v
  JOIN ded a ON a.doc_id = v.id_a
  JOIN ded b ON b.doc_id = v.id_b
),
nd AS (SELECT s.* FROM ded s ANTI JOIN drops dr ON s.doc_id = dr.id_b),
d8 AS (SELECT doc_id, {words} AS w8 FROM documents),
sh8 AS (
  SELECT DISTINCT doc_id, {gram} AS s
  FROM d8, unnest(generate_series(1, len(w8) - 7)) g(i)
),
h8 AS (SELECT doc_id, {h48} AS h FROM sh8),
bench AS (SELECT DISTINCT h FROM h8 WHERE {split} % 100 < 10),
contam AS (
  SELECT DISTINCT t.doc_id FROM h8 t JOIN bench b ON t.h = b.h
  WHERE {tsplit} % 100 >= 10
),
fin AS (
  SELECT n.* FROM (SELECT * FROM nd WHERE {nsplit} % 100 >= 10) n
  ANTI JOIN contam c ON n.doc_id = c.doc_id
)
SELECT row_number() OVER (ORDER BY {order_h}, doc_id) AS pos,
       doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, quality
FROM fin
""".format(
        lsh=_lsh_pairs_ctes(bands=PIPE_BANDS, params=PIPE_PARAMS),
        quality=_PIPE_QUALITY,
        words=WORDS,
        gram=_PIPE_8GRAM,
        h48=H48.format(col="s"),
        split=_SHA_SQL.format(prefix="21|", col="doc_id"),
        tsplit=_SHA_SQL.format(prefix="21|", col="t.doc_id"),
        nsplit=_SHA_SQL.format(prefix="21|", col="doc_id"),
        order_h=_SHA_SQL.format(prefix="11|", col="doc_id"),
    ),
)
def q_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining-corpus preparation pipeline as one lazy
    plan — the composition a user of this engine actually runs:

      quality gate (JVM heuristics) → exact dedup (first doc per content
      md5) → NEAR-dup removal (shingle → minhash → banded LSH → exact
      jaccard verify ≥ 0.5, drop the higher id of each surviving pair) →
      benchmark decontamination (verbatim 8-gram hash overlap vs the 10%
      held-out split, bench docs themselves excluded) → stable global
      training order (two-phase bucketed rank, no single-task sort).

    Every stage is the scale-safe registered form (LSH candidates are
    bucket-capped, the jaccard verify is candidate-bounded, the 8-gram
    join collapses to 48-bit ints); the oracle replays all five stages —
    minhash constants, CDF hash splits and all — so the composed output
    is verified exactly, not just stagewise (419 of 500 docs
    survive at sf0.01; 4257 of 5000 at sf0.1).

    Plan shape: `documents` is scanned ONCE. The tokenized+scored base
    (content md5, token array, quality) is a lazy localCheckpoint shared
    by the quality/exact-dedup subtree, the 2-gram minhash stage, and the
    8-gram decontamination stage (previously three independent scans —
    the multi-consumer-subtree rule from PERFORMANCE.md); the 2-gram
    shingle set is likewise checkpointed once and feeds both the
    signature aggregation and the jaccard verify."""
    from pyspark.sql import Window

    from datapipeline_spark.dedup.minhash import (
        hashed_word_shingles_from_tokens,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles_from_tokens,
    )
    from datapipeline_spark.operators.rank import bucketed_global_rank
    from datapipeline_spark.tables import spread

    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    base = (
        quality_score(spread(d))
        .select(
            "doc_id",
            "source",
            F.md5(F.col("text")).alias("content_md5"),
            w.alias("w"),
            "quality",
        )
        .withColumn("n_tokens", F.size("w"))
        .localCheckpoint(eager=False)
    )
    kept = base.filter(F.col("quality") >= 0.55)
    wd = Window.partitionBy("content_md5").orderBy("doc_id")
    ded = (
        kept.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens", "quality")
    )
    sh2 = word_shingles_from_tokens(base, "doc_id", "w", 2).localCheckpoint(
        eager=False
    )
    sig = minhash_signatures(sh2, "doc_id", PIPE_PARAMS)
    cand = lsh_candidate_pairs(sig, "doc_id", PIPE_PARAMS, bands=PIPE_BANDS)
    pairs = jaccard_pairs(sh2, "doc_id", cand, threshold=0.5)
    ids = ded.select("doc_id")
    drops = (
        pairs.join(ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .select("id_b")
        .distinct()
    )
    nd = ded.join(
        drops.withColumnRenamed("id_b", "doc_id"), "doc_id", "left_anti"
    )
    # hashed BEFORE dedup, and no dedup at all: every consumer below is
    # multiplicity- and collision-insensitive (bench_h re-distincts the
    # bare hash, contam is a semi-join closed by a doc_id distinct), so
    # the old distinct exchange of full 8-gram STRINGS — the widest
    # shuffle in this query — is deleted outright, not just narrowed
    sh8 = hashed_word_shingles_from_tokens(base, "doc_id", "w", 8, distinct=False)
    is_bench = _sha_long("21|", F.col("doc_id")) % 100 < 10
    bench_h = sh8.filter(is_bench).select("h").distinct()
    contam = (
        sh8.filter(~is_bench)
        .join(bench_h, "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    fin = (
        nd.filter(~is_bench)
        .join(contam, "doc_id", "left_anti")
        .withColumn("hs", _sha_long("11|", F.col("doc_id")))
    )
    return bucketed_global_rank(fin, "hs", ["doc_id"]).select(
        "pos", "doc_id", "source", "n_tokens", "quality"
    )


@query(
    "clustering_coefficient_parts",
    """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0),
e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0),
deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a),
ranked AS (
  SELECT u.a, u.b FROM und u
  JOIN deg da ON u.a = da.a JOIN deg db ON u.b = db.a
  WHERE (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
),
wedges AS (
  SELECT w1.a AS w, w1.b AS u, w2.b AS v
  FROM ranked w1 JOIN ranked w2 ON w1.a = w2.a AND w1.b < w2.b
),
closing AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM ranked),
tris AS (SELECT w, u, v FROM wedges JOIN closing USING (u, v)),
cr AS (
  SELECT w AS node FROM tris
  UNION ALL SELECT u FROM tris
  UNION ALL SELECT v FROM tris
),
tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM cr GROUP BY node)
SELECT d.a AS p_partkey, d.d AS degree,
       CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.d >= 2
            THEN (coalesce(tc.n_triangles, 0) * 2000000) // (d.d * (d.d - 1))
            ELSE NULL END AS clustering_ppm
FROM deg d LEFT JOIN tc ON tc.node = d.a
""",
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the co-purchase graph:
    cc(v) = 2·T(v) / (d(v)·(d(v)−1)) in exact integer ppm, composing the
    degree-oriented triangle counter (operators/graph.triangle_counts —
    wedge volume bounded at the low-degree vertex) with the degree table;
    degree-1 nodes report NULL (undefined denominator, ANSI-guarded).
    The transitivity profile behind 'is this co-purchase neighborhood
    cliquish or hub-like' — same demo scope as triangle_counts_parts."""
    from datapipeline_spark.operators.graph import (
        cooccurrence_edges,
        oriented_edges,
        triangle_counts_from_oriented,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = cooccurrence_edges(li, group_col="l_orderkey", item_col="l_partkey")
    # ONE checkpointed undirected/oriented edge subtree feeds both the
    # degree table and the wedge counter (triangle_counts would otherwise
    # re-derive the same co-occurrence self-join + dedup internally)
    deg0, ranked = oriented_edges(edges, checkpoint=True)
    deg = deg0.select("a", F.col("d").cast("long").alias("d"))
    tc = triangle_counts_from_oriented(ranked)
    j = deg.join(tc, deg["a"] == tc["node"], "left")
    nt = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return j.select(
        F.col("a").alias("p_partkey"),
        F.col("d").alias("degree"),
        nt.alias("n_triangles"),
        F.when(
            F.col("d") >= 2,
            F.expr(
                "(coalesce(n_triangles, 0) * 2000000) DIV (d * (d - 1))"
            ),
        )
        .cast("long")
        .alias("clustering_ppm"),
    )


def _hll_sliding_sql(p: int = 10, window_days: int = 7) -> str:
    from datapipeline_spark.sketch.hll import alpha_numerator

    m = 1 << p
    rem_bits = 60 - p
    mask = (1 << rem_bits) - 1
    rho_max = rem_bits + 1
    num = repr(alpha_numerator(p))
    return f"""
WITH h AS (
  SELECT date_trunc('day', ts) AS day,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
  FROM events
),
r AS MATERIALIZED (
  SELECT day, h >> {rem_bits} AS reg,
         max(CASE WHEN (h & {mask}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h & {mask})) END) AS rho
  FROM h GROUP BY day, reg
),
days AS (SELECT DISTINCT day FROM r),
contrib AS (
  SELECT r.day + INTERVAL (g.i) DAY AS day, r.reg, r.rho
  FROM r, generate_series(0, {window_days - 1}) g(i)
),
merged AS (
  SELECT c.day, c.reg, max(c.rho) AS rho
  FROM contrib c JOIN days d USING (day)
  GROUP BY 1, 2
),
s AS (
  SELECT day, count(*)::BIGINT AS n_registers,
         (sum(1::BIGINT << ({rho_max} - rho))
          + ({m} - count(*)) * (1::BIGINT << {rho_max}))::BIGINT
           AS scaled_harmonic
  FROM merged GROUP BY day
)
SELECT day, n_registers, scaled_harmonic,
       {num} / scaled_harmonic::DOUBLE AS est_raw
FROM s
"""


@query("hll_sliding_distinct", _hll_sliding_sql())
def q_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day, computed WITHOUT ever
    re-scanning a window: one per-day HLL register pass over events, then
    the sliding max-merge (sketch/hll.hll_sliding_merge — each register
    row fans out to the 7 days it serves; fan-out is sketch-sized, m×7
    rows per day, never event-sized). The moving-distinct problem that is
    non-decomposable exactly becomes one bounded aggregate under the
    sketch — the canonical 100 TB dashboard query. Register states and
    the scaled harmonic are bit-identical to the oracle's direct replay."""
    from datapipeline_spark.sketch.hll import (
        hll_estimate,
        hll_registers,
        hll_sliding_merge,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    partial = hll_registers(ev, "user_id", ["day"], p=10)
    merged = hll_sliding_merge(partial, "day", window_days=7)
    return hll_estimate(merged, ["day"], p=10)


@query(
    "quantile_normalize_events",
    """
WITH v AS (
  SELECT event_id, event_type,
         CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
),
g AS (
  SELECT vm AS qnorm,
         row_number() OVER (ORDER BY vm, event_id) AS gpos
  FROM v
),
r AS (
  SELECT event_id, event_type, vm,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY vm, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n,
         count(*) OVER () AS nn
  FROM v
)
SELECT r.event_id, r.event_type, r.vm AS value_micros, g.qnorm
FROM r JOIN g ON g.gpos = (r.r * r.nn + r.n - 1) // r.n
""",
)
def q_quantile_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values across event types
    (dataset/qnorm.quantile_normalize): each row's value is replaced by
    the GLOBAL order statistic at its within-type relative rank
    (ceil(r·N/n) — exact integer rank arithmetic, no interpolation). The
    global lookup table rides the two-phase bucketed VALUE rank, so the
    plan never global-sorts in one task; the within-type windows are
    group-bounded. The oracle's plain global window is the semantic spec
    the bucketed decomposition must (and does) reproduce exactly."""
    from datapipeline_spark.dataset.qnorm import quantile_normalize

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("vm"),
    )
    return quantile_normalize(
        ev, group_col="event_type", value_col="vm", tiebreak=["event_id"]
    ).select(
        "event_id", "event_type", F.col("vm").alias("value_micros"), "qnorm"
    )


@query(
    "contrastive_pairs",
    """
WITH d AS (SELECT doc_id, {words} AS w FROM documents),
ck AS (
  SELECT doc_id, ((start - 1) // 64)::BIGINT AS chunk_idx
  FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w), 1), 64)) AS start
        FROM d)
),
hc AS (
  SELECT doc_id, chunk_idx,
         {h48} AS h
  FROM ck
),
hb AS (SELECT *, h % 64 AS b FROM hc),
wp AS (
  SELECT *,
         lead(chunk_idx) OVER (PARTITION BY doc_id ORDER BY chunk_idx)
           AS pos_chunk_idx,
         lead(doc_id, 1) OVER wb AS nd1,
         lead(chunk_idx, 1) OVER wb AS ni1,
         lead(doc_id, 2) OVER wb AS nd2,
         lead(chunk_idx, 2) OVER wb AS ni2
  FROM hb
  WINDOW wb AS (PARTITION BY b ORDER BY h, doc_id, chunk_idx)
)
SELECT doc_id, chunk_idx, pos_chunk_idx,
       CASE WHEN nd1 <> doc_id THEN nd1
            WHEN nd2 <> doc_id THEN nd2 END AS neg_doc_id,
       CASE WHEN nd1 <> doc_id THEN ni1
            WHEN nd2 <> doc_id THEN ni2 END AS neg_chunk_idx
FROM wp
WHERE pos_chunk_idx IS NOT NULL
  AND (CASE WHEN nd1 <> doc_id THEN nd1
            WHEN nd2 <> doc_id THEN nd2 END) IS NOT NULL
""".format(
        words=WORDS,
        h48="(('0x' || substr(md5(doc_id::VARCHAR || ':' || "
        "chunk_idx::VARCHAR), 1, 12))::UBIGINT)::BIGINT",
    ),
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets over the corpus
    (text/contrastive.contrastive_pairs): anchor chunk, next-chunk
    positive (inverse-cloze signal, non-overlapping 64-token chunks so
    the positive never leaks anchor tokens), and a deterministic
    different-doc negative from the anchor's md5-hash-order neighbor
    within its hash bucket — negative assignment is a bucketed window,
    never a global sort or an RNG; bucket-tail anchors drop
    deterministically. All ids integer-exact against the oracle's
    identical window replay."""
    from datapipeline_spark.text.contrastive import contrastive_pairs

    d = load_table(spark, sf_dir, "documents")
    return contrastive_pairs(d, chunk_size=64, buckets=64)


@query(
    "resharding_report_orders",
    """
WITH asg AS (
  SELECT list_position(s17[1:16], list_max(s17[1:16])) - 1 AS s_before,
         list_position(s17, list_max(s17)) - 1 AS s_after
  FROM (
    SELECT list_transform(range(0, 17), s ->
             (('0x' || substr(md5(o_orderkey::VARCHAR || '#' || s::VARCHAR),
                        1, 12))::UBIGINT)::BIGINT) AS s17
    FROM orders
  )
),
pb AS (SELECT s_before AS shard, CAST(count(*) AS BIGINT) AS n_before
       FROM asg GROUP BY 1),
pa AS (
  SELECT s_after AS shard, CAST(count(*) AS BIGINT) AS n_after,
         CAST(sum(CASE WHEN s_before <> s_after THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_in
  FROM asg GROUP BY 1
)
SELECT coalesce(pb.shard, pa.shard)::BIGINT AS shard,
       CAST(coalesce(pb.n_before, 0) AS BIGINT) AS n_before,
       CAST(coalesce(pa.n_after, 0) AS BIGINT) AS n_after,
       CAST(coalesce(pa.moved_in, 0) AS BIGINT) AS moved_in
FROM pb FULL JOIN pa ON pb.shard = pa.shard
""",
)
def q_resharding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash placement audit for scaling orders from 16 to 17
    shards (operators/shard.resharding_report): per-shard row counts
    under both layouts and rows moved in. The minimal-movement law —
    surviving shards receive ZERO moved rows, the new shard receives
    ≈ N/17 — is checked row-exactly by the oracle and pinned as a pytest
    invariant; scores are true per-(key, shard) md5 hashes (joint
    independence is what balance requires — a one-hash scramble family
    measured 1.8x off-uniform), argmax'd in-row with no explode."""
    from datapipeline_spark.operators.shard import resharding_report

    # spread: the 17-hash rendezvous argmax is a compute-heavy map over a
    # single-split scan (1 task otherwise — the simhash finding), and both
    # downstream aggregates key on 17-value shard ids, so per-task partial
    # aggregation collapses to ≤17 rows regardless of the spread (zero
    # map-side-combining dilution — the clean spread case)
    od = spread(load_table(spark, sf_dir, "orders").select("o_orderkey"))
    return resharding_report(od, "o_orderkey", n_before=16, n_after=17)


@query(
    "weighted_median_price",
    """
WITH v AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, v, wt,
         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cw,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM v
)
SELECT l_returnflag,
       CAST(min(v) AS BIGINT) AS weighted_median,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM cum WHERE cw * 2 >= tw
GROUP BY l_returnflag
""",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag
    (operators/stats.weighted_median): the smallest price cents whose
    cumulative quantity reaches half the flag's total — lower weighted
    median, integer-exact, no interpolation. Prices stay exact cents end
    to end.

    Caveat pinned by the oracle: ties on v at the crossing point resolve
    by min(v) identically in both engines because the cumulative sum is
    over the SAME total order (v alone — duplicate v rows are
    interchangeable under sum).

    Plan: one (returnflag)-keyed exchange feeds one in-partition sort;
    the cumulative and total weights are windows over it, then one
    aggregate keeps the smallest crossing value. No join."""
    from datapipeline_spark.operators.stats import weighted_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_median(li, ["l_returnflag"], "cents", "qty")


@query(
    "mann_kendall_daily_revenue",
    """
WITH d AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         date_trunc('day', o_orderdate) AS o,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.m, sign(b.v - a.v) AS sg
  FROM d a JOIN d b ON a.m = b.m AND a.o < b.o
),
s AS (
  SELECT m, CAST(sum(sg) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY m
),
n AS (SELECT m, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY m),
ties AS (
  SELECT m, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT m, v, count(*)::BIGINT AS t FROM d GROUP BY m, v
        HAVING count(*) > 1)
  GROUP BY m
)
SELECT s.m AS month, n.n, s.s,
       CAST(n.n * (n.n - 1) * (2 * n.n + 5)
            - coalesce(ties.tie_term, 0) AS BIGINT) AS var18
FROM s JOIN n ON s.m = n.m LEFT JOIN ties ON ties.m = s.m
""",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend statistic on daily revenue, one series
    per month of 1997+ (operators/stats.mann_kendall): S = Σ sign
    differences over all day pairs (self-join bounded by ≤31 days per
    series — the per-key sequence contract), exact tie-corrected Var·18
    as an integer. The nonparametric is-it-drifting monitor beside
    cusum's changepoint view; consumers take z = S/sqrt(var18/18)
    downstream (sqrt stays out of the oracle)."""
    from datapipeline_spark.operators.stats import mann_kendall

    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1997-01-01"
    )
    daily = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.date_trunc("day", F.col("o_orderdate")).alias("o"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    return mann_kendall(daily, ["m"], "v", "o").select(
        F.col("m").alias("month"), "n", "s", "var18"
    )


@query(
    "bitmap_sliding_distinct",
    """
WITH bm AS MATERIALIZED (
  SELECT date_trunc('day', ts) AS day,
         user_id // 63 AS word,
         bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS bits
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM bm),
contrib AS (
  SELECT bm.day + INTERVAL (g.i) DAY AS day, bm.word, bm.bits
  FROM bm, generate_series(0, 6) g(i)
),
merged AS (
  SELECT c.day, c.word, bit_or(c.bits) AS bits
  FROM contrib c JOIN days d USING (day)
  GROUP BY 1, 2
)
SELECT day, CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct_exact
FROM merged GROUP BY day
""",
)
def q_bitmap_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct active users per day via presence
    bitmaps (sketch/bitmap.sliding_distinct_exact): ids pack into 63-bit
    words, per-day bitmaps fan out to the days they serve (bitmap-sized
    state — domain/63 longs per day), bit_or merges, one popcount sum.
    The exact twin of hll_sliding_distinct — together they bracket the
    standard trade: bitmap-exact while the id domain fits, sketch
    beyond. All integer bit arithmetic, engine-exact."""
    from datapipeline_spark.sketch.bitmap import sliding_distinct_exact

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    return sliding_distinct_exact(ev, "day", "user_id", window_days=7)


@query(
    "best_split_daily_revenue",
    """
WITH d AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         date_trunc('day', o_orderdate) AS o,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
  GROUP BY 1, 2
),
pre AS (
  SELECT m, o, v,
         sum(v) OVER (PARTITION BY m ORDER BY o
                      ROWS UNBOUNDED PRECEDING) AS p,
         row_number() OVER (PARTITION BY m ORDER BY o) AS i,
         count(*) OVER (PARTITION BY m) AS n,
         sum(v) OVER (PARTITION BY m) AS pn
  FROM d
),
scored AS (
  SELECT m, o, i, n,
         CAST((abs(p * (n - i) - (pn - p) * i) * 1000000)
              // (i * (n - i)) AS BIGINT) AS score
  FROM pre WHERE i < n
)
SELECT m AS month, CAST(max(n) AS BIGINT) AS n,
       max_by(o, score * 1000 - i) AS split_at,
       CAST(max(score) AS BIGINT) AS shift_score_micros
FROM scored GROUP BY m
""",
)
def q_best_split_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint localization on daily revenue per month
    (operators/stats.best_split): the split maximizing the between-
    segment mean shift — one binary-segmentation step, completing the
    drift toolkit (cusum flags, mann_kendall tests monotonicity, this
    says WHERE). Cross-split comparison is scaled-rational integer
    arithmetic (|P_i·(n−i) − (P_n−P_i)·i|·1e6 DIV i(n−i)); earliest-split
    tie-break via max_by struct order — replayed exactly by the oracle."""
    from datapipeline_spark.operators.stats import best_split

    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1997-01-01"
    )
    daily = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.date_trunc("day", F.col("o_orderdate")).alias("o"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    return best_split(daily, ["m"], "v", "o").select(
        F.col("m").alias("month"), "n", "split_at", "shift_score_micros"
    )


@query(
    "xcorr_value_volume",
    """
WITH d AS (
  SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01',
              date_trunc('day', ts)) AS BIGINT) AS o,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xv,
         CAST(count(*) AS BIGINT) AS yv
  FROM events GROUP BY 1
),
pairs AS (
  SELECT g.lag, a.xv, b.yv AS yl
  FROM d a
  CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) g
  JOIN d b ON a.o + g.lag = b.o
),
agg AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         sum(xv::HUGEINT) AS sx, sum(yl::HUGEINT) AS sy,
         sum(xv::HUGEINT * xv::HUGEINT) AS sxx,
         sum(yl::HUGEINT * yl::HUGEINT) AS syy,
         sum(xv::HUGEINT * yl::HUGEINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT lag, n,
       CASE WHEN (n::HUGEINT * sxx - sx * sx) = 0
              OR (n::HUGEINT * syy - sy * sy) = 0 THEN NULL
            ELSE round((n::HUGEINT * sxy - sx * sy)::DOUBLE
                 / (sqrt((n::HUGEINT * sxx - sx * sx)::DOUBLE)
                    * sqrt((n::HUGEINT * syy - sy * sy)::DOUBLE)), 6)
       END AS xcorr
FROM agg
""",
)
def q_xcorr_value_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily event value (cents) and
    daily event volume at lags −7..+7 (operators/stats.cross_correlation):
    does value lead volume? The exact-integer Pearson chain per lag
    (decimal(38,0) sums ≡ HUGEINT, IEEE-correctly-rounded sqrt/divide,
    round 6dp) over a lag-exploded join of the ALREADY-AGGREGATED daily
    grid — series rows, never event rows, hit the 15-way fan-out. Day
    index is an integer day-diff so the oracle's join arithmetic is
    identical."""
    from datapipeline_spark.operators.stats import cross_correlation

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("xv"),
        F.count(F.lit(1)).cast("long").alias("yv"),
    ).select(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("timestamp"))
        .cast("long")
        .alias("o"),
        "xv",
        "yv",
    )
    # wide=True: daily value-cents grow with data volume (same scale
    # posture as acf7_daily_revenue — aggregate-built series square past
    # int64 at ~100x sf0.1)
    return cross_correlation(daily, "o", "xv", "yv", max_lag=7, wide=True)


@query(
    "hampel_filter_values",
    """
WITH v AS (
  SELECT event_id, user_id, ts AS time,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
fr AS (
  SELECT event_id, user_id, time, cents,
         list_sort(list(cents) OVER (PARTITION BY user_id
                                     ORDER BY time, event_id
                                     ROWS BETWEEN 6 PRECEDING
                                     AND CURRENT ROW)) AS a
  FROM v
),
m AS (
  SELECT event_id, user_id, time, cents, a,
         a[(len(a) + 1) // 2] AS med
  FROM fr
),
d AS (
  SELECT *,
         list_sort(list_transform(a, x -> abs(x - med)))
           [(len(a) + 1) // 2] AS mad
  FROM m
)
SELECT event_id, user_id, time, cents,
       CASE WHEN len(a) >= 3 AND abs(cents - med) > 3 * mad
            THEN med ELSE cents END AS hampel
FROM d
""",
)
def q_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier repair on each user's event-value stream
    (operators/window.hampel, trailing 7-row frame, k=3): points more
    than 3 window-MADs from the window median are replaced with that
    median — the robust cleaner whose breakdown point survives the very
    outliers that poison mean/stddev imputation (fill/rolling); frames
    below min_samples=3 pass through (zero-MAD degeneracy gate). Lower
    medians by integer index — the whole decision chain is integer
    comparison, hash-exact against the oracle's identical frame replay."""
    from datapipeline_spark.operators.window import hampel

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").alias("time"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return hampel(
        ev,
        "cents",
        window=7,
        k=3,
        partition_by=["user_id"],
        order_by=["time", "event_id"],
    )


@query(
    "theil_sen_daily_revenue",
    """
WITH d AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(date_diff('day', TIMESTAMP '1997-01-01',
              date_trunc('day', o_orderdate)) AS BIGINT) AS o,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
  GROUP BY 1, 2
),
slopes AS (
  SELECT a.m, ((b.v - a.v) * 1000000) // (b.o - a.o) AS sl
  FROM d a JOIN d b ON a.m = b.m AND a.o < b.o
),
ranked AS (
  SELECT m, sl,
         row_number() OVER (PARTITION BY m ORDER BY sl) AS i,
         count(*) OVER (PARTITION BY m) AS np
  FROM slopes
)
SELECT m AS month, CAST(np AS BIGINT) AS n_pairs,
       CAST(sl AS BIGINT) AS ts_slope_micros
FROM ranked WHERE i = (np + 1) // 2
""",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of daily revenue per month
    (operators/stats.theil_sen): lower median of pairwise
    micro-quantized slopes — the estimator companion to mann_kendall's
    test over the same bounded pair enumeration (≤31-day series). Day
    index is an integer day-diff so Δo arithmetic is identical in both
    engines."""
    from datapipeline_spark.operators.stats import theil_sen

    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1997-01-01"
    )
    daily = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1997-01-01").cast("timestamp"),
        )
        .cast("long")
        .alias("o"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    return theil_sen(daily, ["m"], "v", "o").select(
        F.col("m").alias("month"), "n_pairs", "ts_slope_micros"
    )


@query(
    "conformal_holt_users",
    """
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i,
         CAST(value AS DOUBLE) AS y
  FROM events
),
rec AS (
  SELECT user_id, i, y AS l, 0.0::DOUBLE AS b FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         0.5 * s.y + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
),
scored AS (
  SELECT s.user_id, abs(s.y - (r.l + r.b)) AS score
  FROM seq s JOIN rec r ON r.user_id = s.user_id AND r.i = s.i - 1
),
ranked AS (
  SELECT user_id, score,
         row_number() OVER (PARTITION BY user_id ORDER BY score) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM scored
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_cal,
       max(CASE WHEN i = ((n + 1) * 90 + 99) // 100 THEN score END)
         AS q_halfwidth
FROM ranked GROUP BY user_id
""",
)
def q_conformal_holt_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval half-width per user's event-value
    forecast (operators/conformal.conformal_holt_interval): calibration
    scores are one-step-ahead Holt residuals |y_t − (l_{t−1}+b_{t−1})|
    (the bit-exact ½-smoothing fold), the half-width is the
    ceil((n+1)·0.9)-th smallest score — a SELECTED double, so the value
    hash-matches the oracle's step-for-step recursion despite floats.
    Distribution-free coverage, no parametric residual assumption; the
    production companion to holt_forecast_users."""
    from datapipeline_spark.operators.conformal import conformal_holt_interval

    ev = load_table(spark, sf_dir, "events")
    return conformal_holt_interval(
        ev,
        key_cols=["user_id"],
        y_col="value",
        order_cols=["ts", "event_id"],
        coverage_pct=90,
    )


@query(
    "ols2_price_model",
    """
WITH v AS (
  SELECT l_returnflag,
         CAST(l_quantity AS HUGEINT) AS x1,
         CAST(round(l_discount * 100) AS HUGEINT) AS x2,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
  FROM lineitem
),
a AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1 * x1) AS s11, sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
         sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
  FROM v GROUP BY 1
)
SELECT l_returnflag, n,
       CASE WHEN det = 0 THEN NULL ELSE round((m22 * m1y - m12 * m2y) / det, 6) END AS b1,
       CASE WHEN det = 0 THEN NULL ELSE round((m11 * m2y - m12 * m1y) / det, 6) END AS b2,
       CASE WHEN det = 0 THEN NULL
            ELSE round((sy::DOUBLE
                        - ((m22 * m1y - m12 * m2y) / det) * s1::DOUBLE
                        - ((m11 * m2y - m12 * m1y) / det) * s2::DOUBLE)
                       / n::DOUBLE, 2) END AS intercept
FROM (
  SELECT *,
         (n::HUGEINT * s11 - s1 * s1)::DOUBLE AS m11,
         (n::HUGEINT * s22 - s2 * s2)::DOUBLE AS m22,
         (n::HUGEINT * s12 - s1 * s2)::DOUBLE AS m12,
         (n::HUGEINT * s1y - s1 * sy)::DOUBLE AS m1y,
         (n::HUGEINT * s2y - s2 * sy)::DOUBLE AS m2y,
         ((n::HUGEINT * s11 - s1 * s1)::DOUBLE
          * (n::HUGEINT * s22 - s2 * s2)::DOUBLE
          - (n::HUGEINT * s12 - s1 * s2)::DOUBLE
            * (n::HUGEINT * s12 - s1 * s2)::DOUBLE) AS det
  FROM a
)
""",
)
def q_ols2_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS per return flag: extended price (cents) on
    quantity and discount-pct (operators/stats.ols2) — multiple
    regression as ONE aggregation pass: nine exact decimal(38,0)
    sufficient statistics, exact n-scaled centered moments, and a 2×2
    Cramer solve whose double chain is expression-order-pinned in both
    engines (det would overflow any fixed decimal — the same
    exact-until-the-last-division discipline as ols/pearson)."""
    from datapipeline_spark.operators.stats import ols2

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # prereduce: quantity x discount-pct is a ~550-cell joint domain — nine
    # decimal sums combine from the (flag, x1, x2) table (round-7 opt)
    return ols2(li, "x1", "x2", "y", ["l_returnflag"], prereduce=True)
