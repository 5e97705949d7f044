"""Bloom-filter semi-join pre-filtering: drop probe rows that cannot match
BEFORE the join shuffle.

The 100 TB join problem this solves: a selective inner join shuffles the
entire probe side even though most rows find no partner. Spark's own AQE
runtime filters cover some shapes; this operator makes the pattern
explicit, deterministic, and available to any plan: build an m-bit Bloom
bitmap from the build side's keys with ONE map-side-combined ``bit_or``
aggregation (the shuffle carries at most ``m/64`` longs per task,
independent of build rows), collect the ≤ m/64 words to the driver (a
bounded few-hundred-KB aggregate, never the key set), embed them as an
array literal, and filter the probe side with pure JVM bit tests in the
scan stage — zero extra shuffle, zero join, whole-stage codegen.

Guarantee: NO false negatives (every probe row with a real partner
survives), so ``bloom_prefilter_join == plain join`` exactly — which is
also its SQL oracle. False positives only cost wasted shuffle; the rate
for n build keys is ~(1 - e^(-k*n/m))^k (k=5, m/n=32 bits/key → ~0.04%).

Hashing is xxhash64 (fixed seed) — deterministic and
partitioning-invariant, and JVM-native with no string round-trip (the
md5→hex→conv contract costs ~10x more per row and buys nothing here: the
oracle is the PLAIN JOIN, it never replays the hash, so cross-engine hash
equality is not required — only no-false-negatives, which any hash
satisfies). One 64-bit hash split into two halves drives k positions via
Kirsch-Mitzenmacher double hashing (h1 + i*h2 mod m).

Reference gap: the reference engine joins by aligned iteration only
(src/datapipeline/pipelines/streams/align.py); it has no join
pre-filtering at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M_BITS = 1 << 18  # 256 Kbit = 4096 words; size for ~8k keys at <0.1% FP
K_DEFAULT = 5


def _positions(key, m_bits: int, k: int) -> list[F.Column]:
    """k bit positions for a key: double hashing off one xxhash64."""
    h = F.xxhash64(key, F.lit(42))
    h1 = F.shiftright(h, 33)  # 31 high bits, non-negative
    h2 = h.bitwiseAND(F.lit((1 << 31) - 1)).bitwiseOR(F.lit(1))  # odd → full-period
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def bloom_build(build: DataFrame, key: str, k: int = K_DEFAULT) -> list[int]:
    """Aggregate the build side into a packed bitmap (list of M_BITS/64
    longs). One bit_or aggregation — partial combine caps the shuffle at
    m/64 rows per map task; the collect is the finished bitmap, bounded by
    m regardless of build cardinality."""
    pos = F.explode(F.array(*_positions(F.col(key), M_BITS, k))).alias("pos")
    words = (
        build.select(pos)
        .select(
            F.shiftright(F.col("pos"), 6).alias("w"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    out = [0] * (M_BITS // 64)
    for r in words:
        out[r.w] = r.bits
    return out


def bloom_filter_keys(
    probe: DataFrame,
    key: str,
    words: list[int],
    k: int = K_DEFAULT,
) -> DataFrame:
    """Map-side filter: keep probe rows whose key hits all k bits of the
    bitmap ``words`` (bloom_build's, 64 bits per word). Pure
    JVM expressions against one packed-binary literal — no shuffle, no
    join.

    The bitmap ships as ONE base64 string literal decoded by
    ``unbase64(lit(...))`` — a single Py4J call carrying the string as
    DATA, constant-folded to a binary literal before codegen (unbase64 is
    a deterministic unary over a literal; no higher-order function is
    involved, which is what made the split-CSV variant non-foldable and
    ~300x slower per row — round-7 A/B). Each probe row then tests k
    BYTES: substring(bin, pos DIV 8 + 1, 1) -> ISO-8859-1 decode ->
    ascii() codepoint -> bit AND. Versus the previous
    ``F.expr("array(...L)")`` form this trades ~+0.1 s of per-query scan
    work (the decode/ascii pair) for -0.3 s of construction (parsing a
    35 KB SQL array expression), a net win under the rebuild-per-run
    protocol — and construction stays flat in m where the parse grew
    linearly. (``F.lit(list)`` remains off the table: 4096 Py4J calls,
    ~7.5 s.) Bytes are packed little-endian per 64-bit word, so bit n of
    word w lives at byte 8w + n DIV 8, bit n % 8."""
    import base64
    import struct

    packed = struct.pack(
        f"<{len(words)}Q", *(w & 0xFFFFFFFFFFFFFFFF for w in words)
    )
    bin_ = F.unbase64(F.lit(base64.b64encode(packed).decode()))
    pred = None
    for pos in _positions(F.col(key), 64 * len(words), k):
        byte = F.ascii(
            F.decode(
                F.substring(
                    bin_, (F.shiftright(pos, 3) + F.lit(1)).cast("int"), 1
                ),
                "ISO-8859-1",
            )
        )
        bit = F.call_function("shiftleft", F.lit(1), (pos % 8).cast("int"))
        cond = byte.bitwiseAND(bit) != 0
        pred = cond if pred is None else (pred & cond)
    return probe.filter(pred)


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    k: int = K_DEFAULT,
) -> DataFrame:
    """probe ⋈ build with the probe side Bloom-filtered before the join
    shuffle. Exactly equal to the plain join (no false negatives; the join
    removes false positives) — which is its oracle.

    Inner join only: pre-filtering the probe side would drop unmatched
    probe rows under left/outer semantics.

    Two-phase by design: the bitmap job is phase 1 of the algorithm (its
    cost shows up as construction time under rebuild-per-run benching —
    that is real work, not Py4J waste). An in-plan variant (bitmap as a
    1-row broadcast frame crossJoined onto the probe) was A/B'd in round
    7 and REJECTED: construction fell 0.9 -> 0.35 s but total rose
    1.4 -> 2.0 s — the BroadcastNestedLoopJoin breaks the probe scan's
    whole-stage codegen fusion, which costs more than the collect saved."""
    words = bloom_build(build, build_key, k)
    filtered = bloom_filter_keys(probe, probe_key, words, k)
    return filtered.join(build, filtered[probe_key] == build[build_key], "inner")
