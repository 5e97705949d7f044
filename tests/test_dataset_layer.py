"""Dataset layer: series projection, sample assembly, scaler (incl. the
walk-forward leakage invariant), splits, postprocess, metadata."""

from __future__ import annotations

import hashlib
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from datapipeline_spark.dataset import (
    apply_scaler,
    assemble_samples,
    collect_series_metadata,
    column_coverage,
    conform_columns,
    coverage_stats,
    drop_rows_by_coverage,
    encode_series_id_expr,
    fit_scaler,
    hash_split_label,
    project_series,
    route_folds,
    select_columns_by_coverage,
    time_split_label,
)
from datapipeline_spark.dataset.metadata import combine_bounds
from datapipeline_spark.dataset.split import hash_split_value


def ts(d, h=0):
    return datetime(2024, 1, d, h)


def test_series_id_encoding(spark):
    df = spark.createDataFrame(
        [("AAPL", 5, True, None)], "ticker string, rank int, active boolean, note string"
    )
    got = df.select(
        encode_series_id_expr("price", df, ["ticker", "rank", "active", "note"]).alias("sid")
    ).collect()[0]["sid"]
    assert got == "price__@ticker:AAPL|@rank:!i:5|@active:!b:1|@note:!n"


def test_series_id_encoding_float_and_quoting(spark):
    df = spark.createDataFrame([(2.5, "a b/c")], "level double, name string")
    got = df.select(
        encode_series_id_expr("x", df, ["level", "name"]).alias("sid")
    ).collect()[0]["sid"]
    assert got == f"x__@level:!f:{(2.5).hex()}|@name:a%20b%2Fc"


def test_project_series_leftover_partition_fields(spark):
    df = spark.createDataFrame(
        [(ts(1), "A", "pe", 1.0), (ts(1), "A", "ps", 2.0)],
        "time timestamp, ticker string, metric string, value double",
    )
    out = project_series(df, "fund", ["ticker", "metric"], entity_keys=["ticker"])
    rows = {r["series_id"]: r["value"] for r in out.collect()}
    assert rows == {"fund__@metric:pe": 1.0, "fund__@metric:ps": 2.0}
    assert out.columns == ["series_id", "time", "ticker", "value"]


def test_assemble_samples_pivot(spark):
    rows = [
        ("a", ts(1, 0), "A", 1.0),
        ("a", ts(1, 1), "A", 2.0),   # same day bucket → keep last
        ("b", ts(1, 0), "A", 10.0),
        ("a", ts(2, 0), "B", 3.0),
    ]
    df = spark.createDataFrame(rows, "series_id string, time timestamp, ent string, value double")
    wide = assemble_samples(df, "1d", ["ent"], series_ids=["a", "b"])
    got = {(r["ent"], r["time"].day): (r["a"], r["b"]) for r in wide.collect()}
    assert got[("A", 1)] == (2.0, 10.0)
    assert got[("B", 2)] == (3.0, None)


def test_scaler_fit_apply_and_clamp(spark):
    df = spark.createDataFrame(
        [("x", 1.0), ("x", 3.0), ("y", 5.0), ("y", 5.0), ("z", 1.0), ("z", 3.0)],
        "series_id string, value double",
    )
    stats = {r["series_id"]: r for r in fit_scaler(df).collect()}
    assert stats["x"]["mean"] == 2.0 and stats["x"]["std"] == 1.0
    assert stats["y"]["std"] == 1e-12  # zero variance clamped

    wide = spark.createDataFrame(
        [(1.0, 5.0, [1.0, None, 3.0]), (None, 5.0, None)],
        "x double, y double, z array<double>",
    )
    collected = {sid: (r["mean"], r["std"]) for sid, r in stats.items()}
    out = apply_scaler(wide, collected, ["x", "y", "z"]).collect()
    assert out[0]["x"] == -1.0
    assert out[0]["y"] == 0.0
    # arrays scale elementwise; null cells and null elements pass through
    assert out[0]["z"] == [-1.0, None, 1.0]
    assert out[1]["x"] is None and out[1]["z"] is None


def test_folded_scaler_leakage_invariant(spark):
    """Mutating validation/test rows must not change fitted train stats
    (reference tests/integration/test_walk_forward_regression.py:36-130)."""
    rows = [
        ("s", ts(d), float(d)) for d in range(1, 11)
    ]  # days 1..10, value = day
    df = spark.createDataFrame(rows, "series_id string, time timestamp, value double")
    intervals = [("train_0", ts(5)), ("val_0", ts(8)), ("test_0", None)]
    labeled = df.withColumn("label", time_split_label("time", intervals))
    labeled = labeled.withColumn("fold", F.lit("f0"))

    def fit(frame):
        return {
            (r["fold"], r["series_id"]): (r["mean"], r["std"])
            for r in fit_scaler(
                frame, fold_col="fold", train_filter=F.col("label") == "train_0"
            ).collect()
        }

    base = fit(labeled)
    # poison every non-train row
    poisoned = labeled.withColumn(
        "value", F.when(F.col("label") != "train_0", F.lit(1e9)).otherwise(F.col("value"))
    )
    assert fit(poisoned) == base
    assert base[("f0", "s")][0] == pytest.approx(2.5)  # mean of days 1..4


def test_hash_split_bit_exact_vs_python(spark):
    """Engine hash value must equal the reference formula computed in Python."""
    keys = ["u1", "u2", "k-42", "长"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["v"]
        for r in df.select("k", hash_split_value(F.col("k"), seed=7).alias("v")).collect()
    }
    for k in keys:
        digest = hashlib.sha256(f"7|{k}".encode()).digest()
        expected = (int.from_bytes(digest[:8], "big") % (1 << 53)) / float(1 << 53)
        assert got[k] == pytest.approx(expected, abs=0), k


def test_hash_split_label_ratios(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    counts = {
        r[0]: r[1]
        for r in df.select(hash_split_label("k", {"train": 0.8, "eval": 0.2}).alias("l"))
        .groupBy("l")
        .count()
        .collect()
    }
    assert 0.75 < counts["train"] / 2000 < 0.85


def test_route_folds_purge(spark):
    df = spark.createDataFrame(
        [(ts(d), float(d)) for d in range(1, 11)], "time timestamp, value double"
    )
    intervals = [
        ("train_0", ts(4)), ("purge_0", ts(5)), ("val_0", ts(6)),
        ("train_1", ts(8)), ("purge_1", ts(9)), ("val_1", None),
    ]
    labeled = df.withColumn("label", time_split_label("time", intervals))
    plan = {
        "f0": {"train": ["train_0"], "validation": ["val_0"]},
        "f1": {"train": ["train_0", "purge_0", "val_0", "train_1"], "validation": ["val_1"]},
        "f2": {"train": ["train_0"], "validation": [], "test": ["val_1"]},
    }
    outs = route_folds(labeled, "label", plan)
    # a role without labels has no output
    assert ("f2", "validation") not in outs
    assert outs[("f2", "test")].count() == 2  # days 9-10
    assert outs[("f0", "train")].count() == 3  # days 1-3
    assert outs[("f0", "validation")].count() == 1  # day 5
    # purge day 4 in no f0 output
    all_f0 = outs[("f0", "train")].union(outs[("f0", "validation")])
    assert all_f0.filter(F.col("time") == ts(4)).count() == 0


def test_postprocess_coverage_select_conform_drop(spark):
    rows = [
        (1.0, None, [1.0, None]),
        (2.0, None, [1.0, 2.0]),
        (None, 5.0, [None, None]),
        (4.0, None, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "f1 double, f2 double, f3 array<double>")
    cov = column_coverage(df, ["f1", "f2", "f3"])
    assert cov["f1"] == 0.75 and cov["f2"] == 0.25
    assert cov["f3"] == pytest.approx(5 / 8)

    kept_df, kept = select_columns_by_coverage(df, ["f1", "f2", "f3"], 0.5)
    assert kept == ["f1", "f3"] and "f2" not in kept_df.columns

    conformed = conform_columns(
        kept_df, [("f1", "scalar", None), ("f9", "scalar", None), ("f3", "list", 2)]
    )
    assert conformed.columns == ["f1", "f9", "f3"]
    assert conformed.collect()[0]["f9"] is None

    filtered = drop_rows_by_coverage(df, ["f1", "f3"], threshold=0.75)
    # row coverages: (1+0.5)/2=0.75, (1+1)/2=1, (0+0)/2=0, (1+1)/2=1
    assert filtered.count() == 3


def test_metadata_and_window_bounds(spark):
    rows = [
        ("a", ts(1), 1.0), ("a", ts(5), None), ("b", ts(3), 2.0), ("b", ts(9), 3.0),
    ]
    df = spark.createDataFrame(rows, "series_id string, time timestamp, value double")
    meta = {r["series_id"]: r for r in collect_series_metadata(df).collect()}
    assert meta["a"]["n_rows"] == 2 and meta["a"]["n_present"] == 1 and meta["a"]["n_null"] == 1
    assert meta["a"]["first_time"] == ts(1) and meta["a"]["last_time"] == ts(5)
    ranges = [(r["first_time"], r["last_time"]) for r in meta.values()]
    assert combine_bounds(ranges, "union") == (ts(1), ts(9))
    assert combine_bounds(ranges, "intersection") == (ts(3), ts(5))
    assert combine_bounds([*ranges, (None, None)], "intersection") == (ts(3), ts(5))
    assert combine_bounds([(None, None)], "union") == (None, None)

    wide = spark.createDataFrame([(1.0, None), (2.0, 3.0)], "x double, y double")
    stats = {r["column"]: r for r in coverage_stats(wide, ["x", "y"]).collect()}
    assert stats["x"]["coverage"] == 1.0 and stats["y"]["coverage"] == 0.5


def test_quantile_normalize_exact_rank_mapping(spark):
    """Each group's sorted values must map onto the global order stats at
    ceil(r*N/n); identical distributions across groups normalize to the
    same targets."""
    from pyspark.sql import functions as F

    from datapipeline_spark.dataset.qnorm import quantile_normalize

    # group a: values 10,20,30,40 ; group b: 15,25  (N=6)
    rows = [("a", 10, 1), ("a", 20, 2), ("a", 30, 3), ("a", 40, 4),
            ("b", 15, 5), ("b", 25, 6)]
    df = spark.createDataFrame(rows, "g: string, v: long, id: long")
    out = {
        (r["g"], r["v"]): r["qnorm"]
        for r in quantile_normalize(df, "g", "v", ["id"]).collect()
    }
    # global sorted: [10,15,20,25,30,40]
    # a (n=4): ranks 1..4 -> gpos ceil(r*6/4) = 2,3,5,6 -> 15,20,30,40
    assert out[("a", 10)] == 15
    assert out[("a", 20)] == 20
    assert out[("a", 30)] == 30
    assert out[("a", 40)] == 40
    # b (n=2): ranks 1,2 -> gpos 3,6 -> 20,40
    assert out[("b", 15)] == 20
    assert out[("b", 25)] == 40


def test_quantile_normalize_partition_invariant(spark):
    from datapipeline_spark.dataset.qnorm import quantile_normalize

    rows = [("g" + str(i % 3), (i * 37) % 101, i) for i in range(300)]
    df = spark.createDataFrame(rows, "g: string, v: long, id: long")
    a = {r["id"]: r["qnorm"] for r in quantile_normalize(df, "g", "v", ["id"]).collect()}
    b = {
        r["id"]: r["qnorm"]
        for r in quantile_normalize(df.repartition(13), "g", "v", ["id"]).collect()
    }
    assert a == b
