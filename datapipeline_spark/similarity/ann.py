"""Similarity search over embedding columns (array<float>).

- `brute_force_knn`: exact cosine top-k — broadcast the (small) query set
  against the corpus; one narrow map + per-partition top-k via window rank.
  The baseline and the verifier for approximate paths.
- `lsh_knn`: random-hyperplane (sign) LSH — banding over sign bits buckets
  the corpus so each query only scans its buckets. The 100 TB path: bucket
  assignment is a map; the join is an equi-join on (band, bucket).
- All float math is done in DOUBLE by Arrow-batched numpy kernels that
  accumulate dimension by dimension (see `_cosine_rows`), so results are
  deterministic and equal to the oracles' sequential SQL folds.
"""

from __future__ import annotations

import random
import sys

import numpy as np
import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The Arrow kernels below call this module's helpers from Python workers,
# which need not have this package on their path: ship them by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

#: decimal places of every cosine score before ranking or thresholding
SCORE_DIGITS = 4
#: lsh_similar_pairs skips buckets with more members (its SQL oracle,
#: queries_data._lsh_similar_pairs_sql, gates at the same 1000)
MAX_BUCKET = 1000

#: the sign-LSH signature column `random_hyperplane_signature` adds
_SIG = "rh_sig"


def _lengths(v: pd.Series) -> np.ndarray:
    """Array length per row; -1 for a NULL array."""
    ok = v.notna().to_numpy()
    vv = v.to_numpy()
    return np.fromiter(
        (len(vv[i]) if ok[i] else -1 for i in range(len(vv))),
        dtype=np.int64,
        count=len(vv),
    )


def _stack_rows(v: pd.Series, rows: np.ndarray) -> np.ndarray:
    """The arrays at positions `rows` (non-NULL, all one length) as one
    float64 matrix, a row each."""
    vv = v.to_numpy()
    return np.vstack([vv[i] for i in rows]).astype(np.float64)


def _cosine_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two equal-shape matrices; NaN for a zero norm.

    numpy vectorizes ACROSS ROWS while looping OVER DIMS, so each row's
    sums are the exact left-associative IEEE chain the SQL oracles replay
    (``acc += x*y`` per dim ≡ ``aggregate(zip_with(..), 0.0, acc + x*y)``)
    — bit-identical, not merely close. The sign-flip loop of
    `random_hyperplane_signature` and the squared-distance loop of
    `_centroid_dists` keep the same dim order for the same reason."""
    dot = np.zeros(len(A))
    qa = np.zeros(len(A))
    qb = np.zeros(len(A))
    for j in range(A.shape[1]):
        x, y = A[:, j], B[:, j]
        dot += x * y
        qa += x * x
        qb += y * y
    den = np.sqrt(qa) * np.sqrt(qb)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(den == 0.0, np.nan, dot / den)


def cosine_similarity_np(a: Column, b: Column) -> Column:
    """Cosine of two array columns as DOUBLE, Arrow-vectorized (~100x an
    interpreted HOF fold on wide candidate sets).

    NULL for a NULL array, a length-mismatched pair, a NaN element and a
    zero norm. One caveat: Arrow erases the null-vs-NaN distinction INSIDE
    an array (both arrive as NaN), so a NaN element is treated like a null
    element (→ NULL result) rather than Spark's NaN-is-greatest ordering —
    immaterial under the repo's strict-finite input discipline (api.py
    model batches reject non-finite values)."""
    @F.pandas_udf("double")
    def _cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = np.full(len(sa), np.nan, dtype=np.float64)
        la, lb = _lengths(sa), _lengths(sb)
        for d in np.unique(la[(la == lb) & (la >= 0)]):
            rows = np.flatnonzero((la == d) & (lb == d))
            out[rows] = _cosine_rows(_stack_rows(sa, rows), _stack_rows(sb, rows))
        res = pd.Series(out).astype("Float64")
        res[np.isnan(out)] = pd.NA
        return res

    return _cos(a, b)


def _score(a: str, b: str) -> Column:
    return F.round(cosine_similarity_np(F.col(a), F.col(b)), SCORE_DIGITS)


def _top_k(cand: DataFrame, q_vec: str, c_vec: str, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, score): the `k` best candidates per
    query by rounded cosine, ties broken by neighbor id for cross-engine
    determinism."""
    scored = cand.withColumn("score", _score(q_vec, c_vec)).select(
        "query_id", "neighbor_id", "score"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, rank, score).

    The query side is broadcast — corpus never shuffles; ranking is a window
    over query_id (top-k per query via row_number).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    cand = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    return _top_k(cand, "q_vec", "c_vec", k)


def random_hyperplane_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Adds the sign-LSH signature column ``rh_sig``: bit p = [v · h_p > 0]
    with h_p a deterministic pseudo-random ±1 hyperplane. Pure map stage.

    ±1 planes make every product a sign flip (x·(−1.0) ≡ −x and a+(−x) ≡
    a−x are IEEE-exact), so ``acc ±= M[:, j]`` per dim equals the SQL
    oracle's fold. A single F.expr chain was A/B-rejected (the 26 KB
    expression cost ~7 s to parse). Rows whose array length differs from
    ``dim`` get signature 0, exactly like the fold (zip_with's null
    padding poisons every plane's sum)."""
    rng = random.Random(seed)
    hyper = [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(planes)
    ]
    @F.pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        res = np.zeros(len(v), dtype=np.int64)
        rows = np.flatnonzero(_lengths(v) == dim)
        if len(rows):
            M = _stack_rows(v, rows)
            sig = np.zeros(len(rows), dtype=np.int64)
            for p, plane in enumerate(hyper):
                acc = np.zeros(len(rows))
                for j, s in enumerate(plane):
                    if s > 0:
                        acc += M[:, j]
                    else:
                        acc -= M[:, j]
                sig |= (acc > 0).astype(np.int64) << np.int64(p)
            res[rows] = sig
        return pd.Series(res)

    return df.withColumn(_SIG, _sig(F.col(vec_col)))


def _banded(
    df: DataFrame,
    cols: dict[str, str],
    vec_col: str,
    dim: int,
    planes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """One row per (vector, band): the `cols` ({alias: column}) plus the
    band number and its `planes // bands`-bit bucket of the signature.

    One parsed expression instead of per-band Column ops: the band/bucket
    structs are generated by a transform over a literal sequence (each
    F.lit/shiftright/bitwiseAND chain was a Py4J round-trip, ~0.13 s per
    call at bands=4)."""
    bits = planes // bands
    bb = F.expr(
        f"explode(transform(sequence(0, {bands - 1}), b -> "
        f"struct(CAST(b AS INT) AS band, "
        f"shiftright({_SIG}, b * {bits}) & {(1 << bits) - 1} AS bucket)))"
    )
    return (
        random_hyperplane_signature(df, vec_col, dim, planes, seed)
        .select(*[F.col(c).alias(a) for a, c in cols.items()], bb.alias("bb"))
        .select(*cols, "bb.band", "bb.bucket")
    )


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band with the
    query, then exact cosine re-rank. The query side of both joins is
    driver-broadcast — sized for the typical few-to-thousands query set.

    Scale shape (the `lsh_similar_pairs` discipline): candidate
    generation carries (id, band, bucket) rows ONLY — vectors never ride
    through the bucket stage or the distinct (deduping array<double>
    pairs was the old plan's dominant cost), and rejoin by id afterwards.
    Bucket members are collected in-row per (band, bucket) and corpus
    buckets larger than `max_bucket` are dropped by a size gate on the
    array (degenerate-region guard; without it a band holds
    ~n/2^(planes/bands) of the corpus and the explode approaches a
    quarter-cartesian as n grows). A bucket's id list must fit in a row —
    the same bound every collect in this repo carries (LSH buckets,
    pagerank adjacency); size `planes` so n / 2^(planes/bands) stays
    under `max_bucket`: planes ≈ bands · log2(n / max_bucket) — 16/4
    suits ~10⁴–10⁵ vectors; a 100 TB corpus wants more planes (deeper
    buckets), not a bigger cap."""
    from datapipeline_spark.tables import spread

    # the signature projection is compute-bound (planes × dim per row) and
    # the corpus arrives as few file splits — spread it wide.
    # Bucket membership is collected IN-ROW (round-7 opt, the
    # lsh_similar_pairs discipline): one groupBy(band, bucket) holds each
    # bucket's member ids, the max_bucket gate is a size filter on the
    # array (a member id lands in a band's bucket exactly once, so array
    # size == the old count(*)), and candidates explode the member list
    # against the query's bucket stream. The old shape consumed the
    # signature subtree twice (a count-gate aggregate plus the candidate
    # join) through a localCheckpoint whose AQE materialization ran the
    # signature scan at build; one consumer needs no checkpoint and one
    # fewer join.
    c_banded = _banded(
        spread(corpus), {"neighbor_id": id_col}, vec_col, dim, planes, bands, seed
    )
    buckets = c_banded.groupBy("band", "bucket").agg(
        F.collect_list("neighbor_id").alias("__ids__")
    ).filter(F.size("__ids__") <= max_bucket)
    q_banded = _banded(queries, {"query_id": id_col}, vec_col, dim, planes, bands, seed)
    cand = (
        buckets.join(F.broadcast(q_banded), ["band", "bucket"])
        .select("query_id", F.explode("__ids__").alias("neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    cand = cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
    return _top_k(cand, "q_vec", "c_vec", k)


def fit_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Coarse quantizer for IVF: distributed k-means (Lloyd's via
    pyspark.ml, k-means|| init). Centroid count is tiny (~sqrt(n) in
    practice), so the model itself always fits on the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _centroid_dists(vec_col: str, centroids: list[list[float]]) -> Column:
    """Array of squared L2 distances to each centroid — Arrow-vectorized
    like `_cosine_rows`: ``acc += (x − c_j)²`` per dim is the exact
    left-associative IEEE chain of the zip_with/aggregate fold the SQL
    oracle replays. The centroid constants live in the UDF closure — no
    per-element driver-side lit() calls (the expression form built k×dim
    Py4J literals per query construction). Rows whose array length
    differs from the centroid dim yield a NULL distance array (the fold
    form yields all-null distances; both reduce to a null assignment
    downstream — inputs are fixed-dim per contract)."""
    dim = len(centroids[0]) if centroids else 0

    @F.pandas_udf("array<double>")
    def _d(v: pd.Series) -> pd.Series:
        out: list = [None] * len(v)
        rows = np.flatnonzero(_lengths(v) == dim)
        if len(rows):
            M = _stack_rows(v, rows)
            D = np.empty((len(rows), len(centroids)), dtype=np.float64)
            for ci, c in enumerate(centroids):
                acc = np.zeros(len(rows))
                for j, cj in enumerate(c):
                    t = M[:, j] - cj
                    acc += t * t
                D[:, ci] = acc
            for r_i, i in enumerate(rows):
                out[i] = D[r_i]
        return pd.Series(out)

    return _d(F.col(vec_col))


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "centroid_id",
) -> DataFrame:
    """Nearest-centroid assignment (IVF inverted-list key). Pure map stage:
    at 100 TB this is the partitioning column for the vector table."""
    dists = _centroid_dists(vec_col, centroids)
    return df.withColumn(
        out, (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    )


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 3,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its `nprobe` nearest
    inverted lists and exact-cosine re-ranks only those candidates.

    Scale shape: corpus assignment is a map stage (then ideally persisted
    hive-partitioned by centroid_id); the probe join is an
    equi-join on centroid_id with the tiny exploded query side broadcast —
    the corpus never shuffles. `nprobe = n_centroids` degenerates to exact
    brute force (useful as a correctness gate)."""
    if centroids is None:
        centroids = fit_ivf_centroids(corpus, vec_col, n_centroids, seed=seed)
    assigned = ivf_assign(corpus, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_vec"),
        "centroid_id",
    )
    # nprobe nearest centroids per query: sort (dist, cid) structs, slice
    dists = _centroid_dists(vec_col, centroids)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.zip_with(
                        dists,
                        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                        lambda d, i: F.struct(d.alias("dist"), i.alias("cid")),
                    )
                ),
                1,
                nprobe,
            )
        ).alias("probe"),
    ).select("query_id", "query_vec", F.col("probe.cid").alias("centroid_id"))

    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _top_k(cand, "query_vec", "neighbor_vec", k)


def lsh_similar_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    dim: int = 64,
    planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Sign-LSH-blocked cosine pairs — the 100 TB form of the pair surface.

    Each vector is banded into one (band, bucket) row per band, and every
    bucket scores its own (id_a < id_b) pairs in one grouped-map call;
    buckets larger than MAX_BUCKET are skipped BEFORE any pair
    materializes (degenerate-region guard, mirroring the MinHash path).

    Deterministic end-to-end: the hyperplanes are seed-derived literals, so
    the candidate set — and hence the result — has an exact SQL oracle
    (recall vs the brute-force all-pairs form is the only approximation).
    """
    banded = _banded(
        df, {"bid": id_col, "__v__": vec_col}, vec_col, dim, planes, bands, seed
    )

    # Scoring happens IN-BUCKET (grouped map per (band, bucket)) instead of
    # per candidate pair: the old shape generated distinct id pairs and
    # joined the vectors back, so every vector crossed the Python boundary
    # once PER CANDIDATE PAIR (~463k pairs from a 2 000-vector corpus =
    # ~470 MB through Arrow; guide §4 — pass only what the function
    # needs). Here each vector is shuffled and Arrow-transferred exactly
    # `bands` times, and Σ C(|bucket|, 2) ≥ Σ |bucket| whenever buckets
    # average ≥ 3 members, so the in-bucket form moves strictly fewer
    # bytes in exactly the dense-bucket regime where pair scoring gets
    # expensive; per-group memory is bounded by the MAX_BUCKET cap
    # (≤ cap × dim doubles). The raw `_cosine_rows` score is returned and
    # Spark applies the SAME F.round as the pair form; pairs appearing in
    # several buckets carry identical scores, so the trailing distinct is
    # unchanged in effect. Pairs whose cosine is NULL in the pair form
    # (null / length-mismatched / NaN vector, zero norm) are dropped
    # in-group — identical to the NULL failing the threshold filter.
    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "__raw__": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2 or len(pdf) > MAX_BUCKET:
            return empty
        keep = np.flatnonzero(_lengths(pdf["__v__"]) == dim)
        if len(keep) < 2:
            return empty
        ids = pdf["bid"].to_numpy()
        order = keep[np.argsort(ids[keep], kind="stable")]
        M = _stack_rows(pdf["__v__"], order)
        oid = ids[order].astype(np.int64)
        ia, ib = np.triu_indices(len(order), k=1)
        raw = _cosine_rows(M[ia], M[ib])
        ok = ~np.isnan(raw)
        return pd.DataFrame(
            {"id_a": oid[ia[ok]], "id_b": oid[ib[ok]], "__raw__": raw[ok]}
        )

    scored = banded.groupBy("band", "bucket").applyInPandas(
        _score_bucket, "id_a long, id_b long, __raw__ double"
    )
    return (
        scored.withColumn("cosine", F.round(F.col("__raw__"), SCORE_DIGITS))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def embedding_similar_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup surface).

    Brute-force O(n²) formulation — a test-fixture verifier for bounded
    corpora only (it measures `lsh_similar_pairs` recall in the unit
    tests); the registered / production surface is `lsh_similar_pairs`.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _score("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
