"""Dual-mode hashing for hash-defined operators (HLL registers,
rendezvous placement).

Two modes, resolved per call ($SPARK_GRAFT_HASH_MODE, else "oracle"; only
keyed_hash48 also takes an explicit mode, which the shard operators pass):

- ``oracle`` (default): md5-prefix integer hashes. md5 is the one hash
  both Spark and ANSI-SQL engines compute bit-identically, so an oracle
  can REPLAY the operator — register states and shard placements match
  row-exactly cross-engine. Cost: a string cast + md5 + hex conv per
  hash (measured ~5x the whole-query cost for the HLL/resharding
  queries at sf0.1).
- ``fast``: native ``xxhash64`` — stays inside whole-stage codegen, no
  string round-trip, ~10x cheaper per hash. The production path: same
  operator semantics, same distribution (pinned by test), but not
  replayable in a foreign engine, so oracle runs must not use it.

Precedent: operators/bloom.py chose xxhash64 outright because its oracle
(plain-join equivalence) never replays the hash. Here the oracle DOES
replay hashes, hence the switch. bench.py defaults the env var to
``fast`` (disclosed in PERFORMANCE.md); the correctness harness leaves
the default ``oracle``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

_MODES = ("oracle", "fast")
ENV_VAR = "SPARK_GRAFT_HASH_MODE"


def resolve_hash_mode(mode: str | None = None) -> str:
    """Explicit arg wins; else $SPARK_GRAFT_HASH_MODE; else 'oracle'.
    Read at query-CONSTRUCTION time, never at module import."""
    m = mode if mode is not None else os.environ.get(ENV_VAR, "oracle")
    if m not in _MODES:
        raise ValueError(f"hash mode must be one of {_MODES}, got {m!r}")
    return m


def hash60(col: Column) -> Column:
    """60-bit non-negative integer hash of a column (HLL register space).

    oracle: first 15 md5 hex chars of the string form (engine-neutral).
    fast: xxhash64 masked to 60 bits (sign bit and top nibble dropped)."""
    if resolve_hash_mode() == "fast":
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 60) - 1))
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def hash52_seeded(seed: str, cols) -> Column:
    """52-bit non-negative uniform hash of (seed, col...) — the stratified
    split's rank key. oracle: sha256("seed|c1|c2|…") first-13-hex-chars
    (bit-exact replayable in DuckDB); fast: xxhash64 over (seed, cols)
    masked to 52 bits. For EXACT rank-based splits the per-label COUNTS
    are identical in either mode (cuts depend only on the stratum size);
    only which row lands in which label moves — same contract as the
    HLL/rendezvous dual-mode precedent above."""
    if resolve_hash_mode() == "fast":
        return F.xxhash64(F.lit(seed), *cols).bitwiseAND(F.lit((1 << 52) - 1))
    return F.conv(
        F.substring(
            F.sha2(
                F.concat_ws("|", F.lit(seed), *[c.cast("string") for c in cols]), 256
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")


def keyed_hash48(key: Column, salt: Column, mode: str | None = None) -> Column:
    """Per-(key, salt) integer hash — the rendezvous score family. Joint
    independence across salts is required for placement balance (a
    one-hash multiplicative scramble measured 1.8x off-uniform), so both
    modes hash the (key, salt) pair properly.

    oracle: 48-bit md5 prefix of "key#salt" (replayable in SQL).
    fast: xxhash64 of the two columns (multi-arg form seeds the salt into
    the hash state — no string concat materialized), masked to 48 bits so
    BOTH modes honor the name's non-negative-48-bit contract (callers like
    bucketed rankers may feed this into consumers that assume a bounded
    non-negative range; raw signed xxhash64 would be a trap there)."""
    if resolve_hash_mode(mode) == "fast":
        return F.xxhash64(key, salt).bitwiseAND(F.lit((1 << 48) - 1))
    return F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit("#"), salt.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
