"""Prefix-filtered exact set-similarity join (PPJoin-style).

The EXACT counterpart to the MinHash/LSH pipeline: for a jaccard threshold
t, any pair with jaccard(A, B) >= t must (a) satisfy |B| >= t·|A| (else
|A∩B| <= |B| < t·|A| <= t·|A∪B|), and (b) share at least one token in
each side's PREFIX — the first |X| - ceil(t·|X|) + 1 tokens under a global
rare-tokens-first order (Chaudhuri et al. SSJoin; Bayardo et al. 2007;
Xiao et al. PPJoin). So candidate generation joins only the exploded
prefixes, and exact verification of those candidates returns EXACTLY the
all-pairs result — bounded plan, zero recall loss (equality against the
brute-force form is the unit test, and the registry oracle IS the plain
all-pairs SQL).

Scale shape: token document frequencies are one aggregate; per-doc token
arrays sort in-row by (df, token) — rare tokens first, so the exploded
prefix stream is dominated by low-frequency join keys (the whole point of
the ordering: a boilerplate token shared by 100k docs lands at the END of
every doc's array and never enters a prefix unless the threshold forces
it). Verification reuses the candidate-bounded `jaccard_pairs` — no join
keyed on a token alone ever sees more than the prefix stream.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.dedup.minhash import jaccard_pairs


def prefix_filter_candidates(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    max_prefix_group: int | None = None,
    on_exceed: str = "error",
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs via prefix filtering.

    `shingles` = distinct (id, shingle) rows. Lossless for
    jaccard >= threshold (see module docstring); the length filter
    t·|A| <= |B| (and symmetrically) prunes further without affecting
    correctness, and the PPJoin POSITION filter prunes again: a prefix
    match at (1-based) positions (pa, pb) bounds the achievable overlap
    by min(na - pa, nb - pb) + 1, which must reach the jaccard-equivalent
    overlap requirement ceil(t/(1+t)·(na+nb)) (Xiao et al., PPJoin) —
    exactly the prune that bites when a small vocabulary makes bare
    prefix collisions near-all-pairs (sf0.1 documents: 212k -> 131k
    candidates, 4.4 s -> 2.8 s, bit-identical output).

    Degenerate-corpus guard (`max_prefix_group`): on a corpus whose
    vocabulary is small relative to document count, even the rare-first
    prefix tokens collide across a large share of documents and the exact
    join's OUTPUT is inherently quadratic — no lossless filter can bound
    it. `max_prefix_group` caps the size of a prefix-token group before any
    pair is generated (mirroring `inrow_pairs`' max_group_size):

    - ``on_exceed="error"`` (default): an ACTION-TIME assertion — every
      prefix-group row carries an ``assert_true(size <= cap)`` that fails
      the caller's first action with the offending group and a pointer to
      the capped LSH path (`minhash_lsh_pairs`) — the production posture
      for degenerate corpora. Fully lazy: construction runs no job (the
      round-6 form paid an eager full shingle-scan pre-flight on every
      HEALTHY corpus, once per rebuilt plan); the error surfaces as a
      Spark runtime exception at the action instead of a ValueError at
      build.
    - ``on_exceed="drop"``: prefix groups larger than the cap are dropped
      before the self-join. Pairs whose EVERY shared prefix token is
      boilerplate are lost (documented recall trade, deterministic — an
      oracle can mirror the cap exactly); all other pairs still verify
      exactly.

    With `max_prefix_group=None` (default) the join is exact and unguarded.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    if on_exceed not in ("error", "drop"):
        raise ValueError("on_exceed must be 'error' or 'drop'")
    dfreq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    toks = shingles.join(dfreq, "shingle").select(id_col, "shingle", "df")
    per_doc = toks.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("df"), F.col("shingle")))
        ).alias("toks"),
        F.count(F.lit(1)).alias("n"),
    )
    # prefix length p = n - ceil(t·n) + 1, in INTEGER arithmetic: with
    # T = floor(t·1e6), ceil(n·T / 1e6) = (n·T + 999999) DIV 1e6 is the
    # ceil of an UNDER-approximation of t·n, so it never exceeds the exact
    # ceil and the prefix can only come out longer — lossless. The float
    # form F.ceil(n * lit(t)) overshoots exact integers for some (t, n)
    # (e.g. t=0.07, n=100: float ceil 8 vs exact 7), shortening the prefix
    # by one token — the same float over-pruning class the position filter
    # had.
    t_num = int(math.floor(float(threshold) * 1_000_000))
    p = F.expr(f"CAST(n - ((n * {t_num} + 999999) DIV 1000000) + 1 AS INT)")
    prefix = per_doc.select(
        F.col(id_col),
        F.col("n"),
        F.posexplode(F.slice(F.col("toks"), F.lit(1), p)).alias("pos0", "pt"),
    ).select(
        id_col,
        "n",
        (F.col("pos0") + 1).alias("pos"),  # 1-based position in sorted order
        F.col("pt.shingle").alias("shingle"),
    )
    # Pair generation is IN-ROW per prefix-token group (round-7 opt, the
    # inrow_pairs/deletion_join shape): ONE groupBy(shingle) collects each
    # group's (id, n, pos) members and two streaming Generates explode the
    # (id_a < id_b) pairs with the length/position filters applied in
    # place. The old shape self-joined the prefix stream on shingle (two
    # consumers of the subtree forced a localCheckpoint whose AQE stage
    # materialization ran the full shingle scan at BUILD time, plus two
    # join exchanges), and the group-size guard was a third consumer via a
    # semi-join. Here the guard is an in-row gate on the collected array —
    # same cap, same row counts (each (doc, shingle) appears once in the
    # prefix, so array size == the old count(*) per group) — and the pair
    # explode equals the join output exactly: one row per shared prefix
    # token per (a < b) doc pair, positions carried in the member structs.
    # Work and output volume are C(group, 2) either way; group memory is
    # the prefix-group size — bounded by max_prefix_group when the guard
    # is on, and inherently join-output-sized otherwise.
    grp = prefix.groupBy("shingle").agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("i"), F.col("n"), F.col("pos")
            )
        ).alias("__m__")
    )
    if max_prefix_group is not None:
        if on_exceed == "error":
            # ACTION-TIME guard (round-7 ADVICE): assert_true returns NULL
            # for passing groups (isNull keeps every row) and detonates
            # during the caller's first action iff a group exceeds the
            # cap. Zero extra jobs at build; degenerate corpora fail the
            # first action with the offending group in the message.
            msg = F.concat(
                F.lit(
                    "prefix_filter_candidates: degenerate corpus — "
                    "prefix-token group '"
                ),
                F.col("shingle"),
                F.lit("' has "),
                F.size("__m__").cast("string"),
                F.lit(
                    f" documents (cap {max_prefix_group}); the exact "
                    "join's output is inherently quadratic here. Use the "
                    "capped LSH path (minhash_lsh_pairs / "
                    "minhash_dedup_pairs with max_bucket) for this "
                    "corpus, or pass on_exceed='drop' to trade recall on "
                    "boilerplate-only pairs for a bounded plan."
                ),
            )
            grp = grp.filter(
                F.assert_true(
                    F.size("__m__") <= max_prefix_group, msg
                ).isNull()
            )
        else:
            grp = grp.filter(F.size("__m__") <= max_prefix_group)
    # overlap requirement: a prefix match at (pa, pb) can extend to at most
    # m = min(na-pa, nb-pb)+1 common tokens, and jaccard >= t needs
    # m >= t/(1+t)·(na+nb). Evaluated in INTEGER arithmetic — the float
    # form ceil(lit(t/(1+t)) * (na+nb)) rounds ABOVE the exact rational for
    # many (t, na+nb) combos (e.g. t=0.8, na+nb=63: exact 28, float ceil
    # 29), silently over-pruning pairs whose jaccard equals the threshold.
    # T = floor(t·1e6) (t_num above) under-approximates t, so the integer
    # test m·(1e6+T) >= T·(na+nb) is never stricter than the exact
    # condition: lossless by construction, at worst a few extra candidates
    # for exact verification to discard.
    ma, mb = F.col("ma"), F.col("mb")
    m = (F.least(ma.n - ma.pos, mb.n - mb.pos) + 1).cast("long")
    return (
        grp.select("__m__", F.explode("__m__").alias("ma"))
        .select("ma", F.explode("__m__").alias("mb"))
        .filter(
            (ma.i < mb.i)
            & (mb.n * 1_000_000 >= ma.n * t_num)
            & (ma.n * 1_000_000 >= mb.n * t_num)
            & (m * (1_000_000 + t_num) >= t_num * (ma.n + mb.n))
        )
        .select(ma.i.alias("id_a"), mb.i.alias("id_b"))
        .distinct()
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_words: int = 2,
    max_prefix_group: int | None = None,
    on_exceed: str = "error",
) -> DataFrame:
    """End-to-end exact similarity join: shingle → prefix-filter candidates
    → candidate-bounded exact jaccard. Returns exactly the brute-force
    all-pairs result (id_a, id_b, jaccard >= threshold) with a bounded plan.
    The registry queries use 0.5; the property test sweeps ``threshold``
    against brute force. `max_prefix_group`/`on_exceed` engage the
    degenerate-corpus guard — see `prefix_filter_candidates`."""
    from datapipeline_spark.dedup.minhash import word_shingles

    # the shingle stream feeds the document-frequency aggregate, the
    # per-doc token sort, the size table, and both intersection sides of
    # the verification (~5 consumers) — lazy checkpoint, minhash-path style
    sh = word_shingles(df, id_col, text_col, shingle_words).localCheckpoint(
        eager=False
    )
    cand = prefix_filter_candidates(
        sh, id_col, threshold, max_prefix_group, on_exceed
    )
    return jaccard_pairs(sh, id_col, cand, threshold)
