"""Unit tests for the Count-Min sketch (sketch/cm.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipeline_spark.sketch import build_cm_sketch, cm_estimate


def test_cm_never_underestimates(spark):
    df = spark.createDataFrame(
        [(i % 7,) for i in range(500)] + [(99,)] * 40, "k int"
    )
    sketch = build_cm_sketch(df, "k", depth=4, width=16)  # tiny width: collisions
    keys = df.select("k").distinct()
    est = cm_estimate(sketch, keys, "k", depth=4, width=16)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    rows = est.join(exact, "k").collect()
    assert len(rows) == 8
    assert all(r.est >= r.n for r in rows)  # CM guarantee: overcount only


def test_cm_exact_when_no_collisions(spark):
    df = spark.createDataFrame([(1,)] * 5 + [(2,)] * 3, "k int")
    sketch = build_cm_sketch(df, "k", depth=4, width=4096)
    est = cm_estimate(sketch, df.select("k").distinct(), "k", depth=4, width=4096)
    got = {r.k: r.est for r in est.collect()}
    assert got == {1: 5, 2: 3}


def test_cm_sketch_size_bounded(spark):
    df = spark.createDataFrame([(i,) for i in range(10_000)], "k int")
    sketch = build_cm_sketch(df, "k", depth=4, width=32)
    assert sketch.count() <= 4 * 32  # cells, independent of input rows
    # total mass per hash row equals the input row count
    per_row = {r.j: r.s for r in sketch.groupBy("j").agg(F.sum("c").alias("s")).collect()}
    assert per_row == {0: 10_000, 1: 10_000, 2: 10_000, 3: 10_000}


def test_cm_unseen_key_estimates_zero_or_collision(spark):
    df = spark.createDataFrame([(1,)] * 10, "k int")
    sketch = build_cm_sketch(df, "k", depth=4, width=4096)
    unseen = spark.createDataFrame([(777,)], "k int")
    est = cm_estimate(sketch, unseen, "k", depth=4, width=4096)
    assert est.collect()[0].est == 0


def test_approx_distinct_within_bound(spark):
    """The CORRECTED estimate (driver-side linear counting at small range,
    sketch/hll.corrected_estimate) must track the exact count; the query
    itself emits only the bit-deterministic raw pieces."""
    from datapipeline_spark.queries_core import approx_distinct_users
    from datapipeline_spark.sketch.hll import corrected_estimate

    rows = approx_distinct_users(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        est = corrected_estimate(r.n_registers, r.scaled_harmonic)
        assert abs(est - r.exact_users) / r.exact_users <= 0.05, r


def test_hll_accuracy_and_merge_associativity(spark):
    from datapipeline_spark.sketch.hll import (
        corrected_estimate,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    d = spark.range(50_000).select(F.col("id").alias("k"), (F.col("id") % 4).alias("g"))
    est = hll_estimate(hll_registers(d, "k", ["g"]), ["g"])
    for r in est.collect():
        c = corrected_estimate(r.n_registers, r.scaled_harmonic)
        # m=1024 -> stderr ~3.3%; deterministic hash, observed max 2.9%
        assert abs(c - 12_500) / 12_500 < 0.05, (r.g, c)

    # per-"day" partial sketches merged == one direct pass, bit-exactly
    part = hll_registers(d.withColumn("day", F.col("k") % 7), "k", ["g", "day"])
    merged = hll_estimate(hll_merge(part, ["g"]), ["g"])
    direct = hll_estimate(hll_registers(d, "k", ["g"]), ["g"])
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_hll_linear_counting_regime(spark):
    from datapipeline_spark.sketch.hll import corrected_estimate, hll_estimate, hll_registers

    d = spark.range(300).select(F.col("id").alias("k"))
    r = hll_estimate(hll_registers(d, "k")).collect()[0]
    c = corrected_estimate(r.n_registers, r.scaled_harmonic)
    # n << m: raw HLL is badly biased here, linear counting must kick in
    assert abs(c - 300) / 300 < 0.05
    assert r.n_registers < 1024


def test_hll_overlap_accuracy(spark):
    from datapipeline_spark.sketch.hll import hll_overlap

    # A = [0, 30k), B = [20k, 50k): true intersection 10k, union 50k
    a = spark.range(0, 30_000).select(F.col("id").alias("k"), F.lit("a").alias("f"))
    b = spark.range(20_000, 50_000).select(F.col("id").alias("k"), F.lit("b").alias("f"))
    r = hll_overlap(a.union(b), "k", "f", "a", "b").collect()[0]
    assert abs(r.est_a - 30_000) / 30_000 < 0.1
    assert abs(r.est_union - 50_000) / 50_000 < 0.1
    # inclusion-exclusion amplifies union error by |U|/|I| = 5x -> loose bound
    assert abs(r.est_intersection - 10_000) / 10_000 < 0.35


# ---------------------------------------------------------------- Misra-Gries


def test_mg_heavy_hitters_exact_vs_groupby(spark):
    from datapipeline_spark.sketch import heavy_hitters

    # skewed stream: key i appears i^2 times, i in 1..30 -> N = 9455
    rows = [(i,) for i in range(1, 31) for _ in range(i * i)]
    df = spark.createDataFrame(rows, "k int")
    k = 15  # threshold 9455/16 ~ 591 -> keys 25..30 qualify
    got = {r.k: r.n for r in heavy_hitters(df, "k", k=k).collect()}
    n_total = len(rows)
    expect = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
        if r.n * (k + 1) > n_total
    }
    assert got == expect and len(expect) > 0


def test_mg_partition_invariant(spark):
    from datapipeline_spark.sketch import heavy_hitters

    rows = [("a",)] * 400 + [("b",)] * 260 + [(f"x{i}",) for i in range(450)]
    df = spark.createDataFrame(rows, "k string")
    outs = []
    for nparts in (1, 3, 13):
        hh = heavy_hitters(df.repartition(nparts), "k", k=4)
        outs.append(sorted((r.k, r.n, r.total) for r in hh.collect()))
    # candidate sweep is layout-dependent; the exact recount is not
    assert outs[0] == outs[1] == outs[2]
    assert outs[0] == [("a", 400, 1110), ("b", 260, 1110)]  # threshold N/5 = 222


def test_mg_candidates_bounded_and_superset(spark):
    from datapipeline_spark.sketch import heavy_hitters, mg_candidates

    # adversarial: huge distinct tail, k far smaller than the domain
    rows = [(i % 5000,) for i in range(5000)] + [(7,)] * 900
    df = spark.createDataFrame(rows, "k int").repartition(8)
    k = 20
    cand = mg_candidates(df, "k", k=k).collect()
    assert len(cand) <= k * 8  # <= k per partition
    got = {r.k for r in heavy_hitters(df, "k", k=k).collect()}
    assert got == {7}  # 901/5900 > 1/21; every tail key is 1 or 2


def test_mg_nulls_dropped(spark):
    from datapipeline_spark.sketch import heavy_hitters

    df = spark.createDataFrame([("a",)] * 10 + [(None,)] * 90, "k string")
    got = {(r.k, r.n, r.total) for r in heavy_hitters(df, "k", k=3).collect()}
    assert got == {("a", 10, 10)}  # N excludes NULLs; 'a' is 100% of non-null


def test_hll_sliding_merge_equals_direct_window_pass(spark):
    """The sliding merge of per-day sketches must equal sketching each
    trailing window from scratch (register-max associativity)."""
    from pyspark.sql import functions as F

    from datapipeline_spark.sketch.hll import (
        hll_estimate,
        hll_registers,
        hll_sliding_merge,
    )

    rows = [
        (d, (d * 13 + u) % 200)
        for d in range(1, 15)
        for u in range(d * 3)  # growing daily populations
    ]
    df = spark.createDataFrame(rows, "dno: int, user_id: long").selectExpr(
        "CAST(timestamp '2024-03-01' + (dno - 1) * INTERVAL 1 DAY AS TIMESTAMP)"
        " AS day",
        "user_id",
    )
    partial = hll_registers(df, "user_id", ["day"])
    got = {
        r["day"]: (r["n_registers"], r["scaled_harmonic"])
        for r in hll_estimate(
            hll_sliding_merge(partial, "day", window_days=7), ["day"]
        ).collect()
    }
    days = [r["day"] for r in df.select("day").distinct().collect()]
    assert set(got) == set(days)
    for d in days:
        window = df.filter(
            (F.col("day") <= d)
            & (F.col("day") > F.expr(f"timestamp'{d}' - INTERVAL 7 DAY"))
        )
        direct = hll_estimate(
            hll_registers(window, "user_id", []), []
        ).collect()[0]
        assert got[d] == (direct["n_registers"], direct["scaled_harmonic"])


def test_bitmap_sliding_distinct_equals_exact_count(spark):
    """The bitmap fan-out must equal COUNT(DISTINCT) over each trailing
    window computed directly — exactness is the whole contract."""
    from pyspark.sql import functions as F

    from datapipeline_spark.sketch.bitmap import sliding_distinct_exact

    rows = [
        (d, (d * 17 + u * u) % 300)
        for d in range(1, 13)
        for u in range(d * 5)
    ]
    df = spark.createDataFrame(rows, "dno: int, user_id: long").selectExpr(
        "CAST(timestamp '2024-05-01' + (dno - 1) * INTERVAL 1 DAY AS TIMESTAMP)"
        " AS day",
        "user_id",
    )
    got = {
        r["day"]: r["n_distinct_exact"]
        for r in sliding_distinct_exact(df, "day", "user_id", 7).collect()
    }
    for d in [r["day"] for r in df.select("day").distinct().collect()]:
        want = (
            df.filter(
                (F.col("day") <= d)
                & (F.col("day") > F.expr(f"timestamp'{d}' - INTERVAL 7 DAY"))
            )
            .select("user_id")
            .distinct()
            .count()
        )
        assert got[d] == want
