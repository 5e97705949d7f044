"""MinHash + LSH near-duplicate detection, cross-engine deterministic.

Pipeline (each stage a narrow DataFrame op; shuffles only on group-bys/joins):
  shingle → 48-bit md5 hash → k permuted min-hashes (signature)
  → band buckets → candidate pairs (equi-join on band signature)
  → exact jaccard verification on candidates only.

Determinism: the base hash is the first 12 hex chars of md5 (identical in
any engine), permutations are (a_j·h + b_j) mod P with constants generated
from a seeded PRNG at module import — the SQL oracle embeds the same
constants, so signatures are bit-identical.

Scale: the candidate join is the only quadratic-risk step and it is bounded
by band-bucket size; banding keeps buckets tiny for non-duplicates, and a
bucket-size cap (MAX_BUCKET) drops degenerate buckets (boilerplate) the
same way production dedup pipelines do.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_HEX_LEN = 12  # 48-bit base hash: products with a<2^15 stay in int64
MOD = (1 << 31) - 1
#: LSH buckets with more members are dropped before any pair forms; the
#: SQL oracle (queries_data._lsh_pairs_ctes) gates at the same 1000
MAX_BUCKET = 1000

# Parsed-Column memos (round-7 opt): the permutation-min aggregates and the
# band-explode expression are pure functions of the MinHash parameters, but
# every F.expr is a Py4J parse round-trip (~12 ms) paid on EVERY plan
# construction by every LSH-family caller. Columns wrap immutable expression
# trees — reuse across plans is safe, and nothing data-dependent is cached.
_MIN_EXPR_CACHE: dict[tuple, list] = {}
_BAND_EXPR_CACHE: dict[tuple, object] = {}


@dataclass(frozen=True)
class MinHashParams:
    num_hashes: int = 8
    seed: int = 42
    coeffs: tuple[tuple[int, int], ...] = field(default=())

    def __post_init__(self):
        if not self.coeffs:
            rng = random.Random(self.seed)
            object.__setattr__(
                self,
                "coeffs",
                tuple(
                    (rng.randrange(1, 1 << 15) | 1, rng.randrange(0, MOD))
                    for _ in range(self.num_hashes)
                ),
            )


def hash48(col) -> F.Column:
    """48-bit integer hash of a string column via md5 prefix (engine-neutral)."""
    return F.conv(F.substring(F.md5(col), 1, HASH_HEX_LEN), 16, 10).cast("long")


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Distinct word n-grams per document → (id, shingle)."""
    return word_shingles_from_tokens(
        df.select(id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("w")),
        id_col,
        "w",
        n,
    )


def word_shingles_from_tokens(
    df: DataFrame, id_col: str, token_col: str, n: int = 2
) -> DataFrame:
    """`word_shingles` over an ALREADY-tokenized column (array<string>) —
    bit-identical output. Lets a pipeline tokenize once (e.g. into a
    checkpointed base) and derive shingles of several orders from the same
    scan instead of re-splitting the raw text per order."""
    joined = " || ' ' || ".join(f"{token_col}[i + {j}]" for j in range(n))
    grams = F.expr(
        f"transform(sequence(0, size({token_col}) - {n}), i -> {joined})"
    )
    return (
        df.filter(F.size(token_col) >= n)
        .select(id_col, F.explode(grams).alias("shingle"))
        .distinct()
    )


def hashed_word_shingles_from_tokens(
    df: DataFrame,
    id_col: str,
    token_col: str,
    n: int = 2,
    distinct: bool = True,
) -> DataFrame:
    """(id, h) word n-gram stream hashed to 48-bit longs BEFORE any
    deduplication — no full shingle string ever reaches an exchange
    (guide §2.4: shuffle narrower types; an 8-gram averages ~50 bytes,
    the hash is 8). With ``distinct=True`` the stream is deduplicated on
    (id, h); with ``distinct=False`` it is the raw multiset and the plan
    has NO exchange at all below the consumer.

    Only for consumers that read the HASH and are multiplicity- and
    collision-insensitive (semi-joins, countDistinct, distinct-of-hash):
    two distinct shingles colliding in 48 bits collapse here but not in
    `word_shingles(...).select(hash48(...))` — identical downstream
    results for those consumers, NOT a drop-in elsewhere."""
    joined = " || ' ' || ".join(f"{token_col}[i + {j}]" for j in range(n))
    grams = F.expr(
        f"transform(sequence(0, size({token_col}) - {n}), i -> {joined})"
    )
    out = (
        df.filter(F.size(token_col) >= n)
        .select(id_col, F.explode(grams).alias("__sh__"))
        .select(id_col, hash48(F.col("__sh__")).alias("h"))
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    shingles: DataFrame, id_col: str, params: MinHashParams = MinHashParams()
) -> DataFrame:
    """(id, mh0..mh{k-1}) — one aggregation pass over the shingle stream.

    The 48-bit base hash is projected ONCE before the aggregate: the old
    form nested `hash48(shingle)` inside every min(), so the map-side
    partial aggregate carried k copies of the md5→conv chain (k=64 for
    the sharp profile). Each permutation min is also a single parsed SQL
    expression instead of ~8 chained Column calls — at k=64 the per-call
    Py4J assembly alone was ~0.9 s of driver time per plan construction.
    Arithmetic is unchanged: int literal · bigint promotes to bigint in
    SQL exactly as `F.lit(a) * h` did, so signatures are bit-identical.

    The parsed Column list is memoized per coefficient set (round-7 opt):
    even as single parses, k F.expr round-trips cost ~12 ms each, paid on
    EVERY plan construction by every LSH-family caller. Columns wrap
    immutable expression trees, so reuse across plans is safe (Spark
    re-analyzes per plan); nothing data-dependent is cached."""
    hashed = shingles.select(id_col, hash48(F.col("shingle")).alias("__h48"))
    key = tuple(params.coeffs)
    aggs = _MIN_EXPR_CACHE.get(key)
    if aggs is None:
        aggs = [
            F.expr(f"min(({a} * __h48 + {b}) % {MOD}) AS mh{j}")
            for j, (a, b) in enumerate(params.coeffs)
        ]
        _MIN_EXPR_CACHE[key] = aggs
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    params: MinHashParams = MinHashParams(),
    bands: int = 4,
) -> DataFrame:
    """Band the signature, bucket the ids, emit candidate (id_a < id_b)
    pairs from each bucket's sorted member list IN-ROW (the basket-pair
    pattern — one groupBy instead of a bucket-keyed self-join plus a
    separate count gate, which consumed the banded subtree three times).

    rows_per_band = num_hashes // bands. Buckets larger than MAX_BUCKET
    are dropped by the in-row size gate BEFORE any pair materializes
    (degenerate boilerplate guard — prevents the quadratic blowup that
    would otherwise dominate at corpus scale; the aggregation buffer holds
    one bucket's id list linearly, bounded by the largest bucket, never
    its pair count).
    """
    rows = params.num_hashes // bands
    # one parsed expression for the whole band array: the per-Column form
    # (bands × struct/lit/concat_ws assembly) was hundreds of Py4J round
    # trips per plan construction; CAST(... AS STRING) matches the implicit
    # cast F.concat_ws inserted, so band signatures are byte-identical.
    # Memoized per (num_hashes, bands) — same rationale as the signature
    # Column cache above (the expression names only mh<j> columns).
    bkey = (params.num_hashes, bands)
    band_col = _BAND_EXPR_CACHE.get(bkey)
    if band_col is None:
        structs = ", ".join(
            "named_struct('band', {b}, 'sig', concat_ws('_', {cols}))".format(
                b=b,
                cols=", ".join(
                    f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
                ),
            )
            for b in range(bands)
        )
        band_col = F.expr(f"explode(array({structs}))")
        _BAND_EXPR_CACHE[bkey] = band_col
    banded = signatures.select(id_col, band_col.alias("bs")).select(
        id_col, "bs.band", "bs.sig"
    )
    from datapipeline_spark.functions.pairs import inrow_pairs

    return inrow_pairs(banded, ["band", "sig"], id_col, MAX_BUCKET).distinct()


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact jaccard over distinct shingles, with two bounded forms.

    With `candidates` (distinct (id_a, id_b) pairs — the LSH path), the
    intersection is driven FROM the candidate pairs: shingles are first
    semi-joined to the candidate doc-id set, candidate pairs fan out over
    side-a shingles, and the match is an equi-join on (id_b, shingle).
    Work is O(Σ over candidate pairs |shingles(a)|) — there is never a join
    keyed on the shingle alone, so a boilerplate shingle shared by 100k
    documents cannot explode the plan (that co-shingle self-join was the
    one all-pairs stage an LSH bucket cap could not protect).

    Without `candidates`, all co-shingled pairs are compared (quadratic in
    shingle document frequency — bounded corpora). `max_doc_freq` restricts
    the shingle universe to shingles appearing in at most that many
    documents BEFORE sizes and intersections are computed, i.e. jaccard
    over the non-boilerplate shingle universe — the same degenerate-key
    guard `shared_passage_pairs` uses, and a deterministic semantics an
    oracle can mirror exactly. The two bounds are alternatives: passing
    both raises ValueError.
    """
    if candidates is not None and max_doc_freq is not None:
        raise ValueError("jaccard_pairs takes candidates or max_doc_freq, not both")
    if max_doc_freq is not None:
        # In-row pair generation (round-7 opt, the ppjoin/inrow_pairs
        # shape): ONE groupBy(shingle) collects each rare shingle's member
        # ids — shingles are distinct per doc, so array size == doc freq
        # and the size gate IS the old df filter — and two streaming
        # Generates explode the (id_a < id_b) pairs. This replaces the df
        # aggregate + semi-join + shingle-keyed self-join (three
        # consumptions of the shingle stream, two of them full-width
        # exchanges) with one consumption; per-doc sizes re-derive from the
        # same grouped table (each rare (doc, shingle) appears exactly once
        # in exactly one member list), which AQE reuses as a ReusedExchange.
        # Group memory is bounded by max_doc_freq — the unbounded case
        # keeps the join form below.
        grp = (
            shingles.groupBy("shingle")
            .agg(F.collect_list(F.col(id_col)).alias("__m__"))
            .filter(F.size("__m__") <= max_doc_freq)
        )
        inter = (
            grp.select("__m__", F.explode("__m__").alias("id_a"))
            .select("id_a", F.explode("__m__").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sizes = grp.select(F.explode("__m__").alias(id_col)).groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n")
        )
        return (
            inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n": "n_a"}), "id_a")
            .join(sizes.withColumnsRenamed({id_col: "id_b", "n": "n_b"}), "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if candidates is not None:
        # both pair ids in-row (one Generate) — the unionByName form
        # consumed the candidate subtree twice, and the candidate subtree
        # is the expensive half of every caller's plan (round-7 opt)
        ids = candidates.select(
            F.explode(F.array("id_a", "id_b")).alias(id_col)
        ).distinct()
        shingles = shingles.join(ids, id_col, "leftsemi")
        a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
        b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
        b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    out = (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: MinHashParams = MinHashParams(),
    bands: int = 4,
    threshold: float = 0.5,
    shingle_words: int = 2,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → LSH → verified jaccard.

    The shingle stream is consumed four times (signatures + semi-join +
    both sides of the jaccard verification) — without the lazy checkpoint
    below each consumer re-runs the whole upstream (5-6 redundant shingle
    passes measured inside one materialization; the contamination_check
    fix, generalized). Lazy, not eager: callers that never execute the
    plan pay nothing, and the first action materializes the subtree
    exactly once. The signature table is NOT checkpointed: since the
    in-row band-pair rewrite it has exactly one consumer (the banded
    explode), so a checkpoint there bought nothing and cost a full
    catalyst planning pass (~0.9 s at k=64) per plan construction plus a
    64-column block-store round trip per run."""
    sh = word_shingles(df, id_col, text_col, shingle_words).localCheckpoint(
        eager=False
    )
    sig = minhash_signatures(sh, id_col, params)
    cand = lsh_candidate_pairs(sig, id_col, params, bands)
    return jaccard_pairs(sh, id_col, cand, threshold)


def row_minhash(
    df: DataFrame,
    text_col: str = "text",
    params: MinHashParams = MinHashParams(),
    shingle_words: int = 2,
    out: str = "minhash_sig",
) -> DataFrame:
    """Per-ROW minhash signature — a pure map stage, no shuffle.

    min over the shingle MULTISET equals min over the distinct set, so the
    per-document aggregation path (`minhash_signatures`) and this per-row
    expression produce identical signatures (tested); but this form needs
    no groupBy at all, which makes it the ingest-time shape: it runs inside
    the scan projection in batch, and is legal in an append-mode stream
    where a per-doc aggregation is not.

    `out` is the banded-ready string "mh0_mh1_..." (join/dedupe key);
    documents with fewer than `shingle_words` words get a NULL signature
    (no shingles — they cannot be near-dups of anything).
    """
    n = shingle_words
    joined = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    grams = (
        f"transform(sequence(0, size(w) - {n}), i -> {joined})"
    )
    # hash array materialized ONCE into its own column: nesting it inside
    # each permutation would re-evaluate the md5 per shingle k times
    # (higher-order-function subtrees are not subexpression-eliminated) —
    # measured 2.0 s -> 0.3 s at sf0.1 for k=8
    # the short-doc guard must wrap THIS column too: sequence(0, size-n)
    # counts DOWN for size < n ([0, -1]) and w[i+1] then faults — the guard
    # on the signature alone only protects the nested form
    hashes = (
        f"CASE WHEN size(w) >= {n} THEN transform({grams}, s ->"
        f" CAST(conv(substring(md5(s), 1, {HASH_HEX_LEN}), 16, 10) AS BIGINT)) END"
    )
    mins = [
        f"array_min(transform(h48s, h -> ({a}L * h + {b}L) % {MOD}L))"
        for a, b in params.coeffs
    ]
    sig = "concat_ws('_', " + ", ".join(f"CAST({m} AS STRING)" for m in mins) + ")"
    expr = (
        f"CASE WHEN size(w) >= {n} THEN {sig} END"
    )
    return (
        df.withColumn("w", F.split(F.trim(F.col(text_col)), r"\s+"))
        .withColumn("h48s", F.expr(hashes))
        .withColumn(out, F.expr(expr))
        .drop("w", "h48s")
    )
