"""Unit tests for the CDC merge (operators/cdc.py)."""

from __future__ import annotations

import pytest

from datapipeline_spark.operators.cdc import apply_changes


@pytest.fixture()
def snap(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], "k int, seq int, v string"
    )


def _chg(spark, rows):
    return spark.createDataFrame(rows, "k int, seq int, v string, op string")


def test_upsert_delete_insert(spark, snap):
    chg = _chg(
        spark,
        [
            (1, 20, "a2", "U"),   # update
            (2, 20, None, "D"),   # delete
            (4, 20, "d", "U"),    # brand-new key
        ],
    )
    out = {r.k: (r.seq, r.v) for r in apply_changes(snap, chg, ["k"], ["seq"]).collect()}
    assert out == {1: (20, "a2"), 3: (10, "c"), 4: (20, "d")}


def test_latest_change_wins_and_resurrection(spark, snap):
    chg = _chg(
        spark,
        [
            (1, 20, "x", "U"),
            (1, 30, None, "D"),
            (1, 40, "y", "U"),  # re-insert after delete: latest wins
            (2, 25, "m", "U"),
            (2, 21, "stale", "U"),  # arrives out of order, loses by seq
        ],
    )
    out = {r.k: r.v for r in apply_changes(snap, chg, ["k"], ["seq"]).collect()}
    assert out == {1: "y", 2: "m", 3: "c"}


def test_delete_of_unknown_key_is_noop(spark, snap):
    chg = _chg(spark, [(99, 20, None, "D")])
    out = apply_changes(snap, chg, ["k"], ["seq"])
    assert out.count() == 3


def test_plan_uses_window_group_limit(spark, snap):
    chg = _chg(spark, [(1, 20, "a2", "U")])
    plan = (
        apply_changes(snap, chg, ["k"], ["seq"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan  # one candidate per key before the shuffle


def test_streaming_cdc_fold_equals_one_shot(spark, tmp_path):
    """Folding the changelog one micro-batch at a time through
    cdc_upsert_sink must equal applying it all at once — the
    incremental-processing invariant of the CDC merge."""
    from datapipeline_spark.streaming.ops import cdc_upsert_sink

    src = str(tmp_path / "chg")
    state = str(tmp_path / "state")
    rows = [
        (k, seq, f"v{k}_{seq}", "D" if (k + seq) % 11 == 0 else "U")
        for k in range(20)
        for seq in range(1, 7)
    ]
    chg = spark.createDataFrame(rows, "k int, seq int, v string, op string")
    chg.orderBy("seq").repartition(4).write.parquet(src)  # 4 files -> 4 batches

    stream = (
        spark.readStream.schema("k int, seq int, v string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(cdc_upsert_sink(state, ["k"], ["seq"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    from datapipeline_spark.operators.cdc import apply_changes
    from datapipeline_spark.streaming.ops import read_cdc_state

    empty = spark.createDataFrame([], "k int, seq int, v string")
    want = sorted(map(tuple, apply_changes(empty, chg, ["k"], ["seq"]).collect()))
    got = sorted(map(tuple, read_cdc_state(spark, state).collect()))
    assert got == want and len(got) > 0
    # deleted keys stay as tombstones in the raw state (resurrection guard)
    raw = spark.read.parquet(state)
    assert raw.filter("op = 'D'").count() > 0


def test_cdc_state_query_folds_its_changelog_on_every_call(spark, monkeypatch):
    """The ``streaming_cdc_state`` registry query caches only its inputs:
    a second call in one session runs its micro-batches again, returns the
    same state, and leaves no per-call state directory behind."""
    import os

    from datapipeline_spark.queries_streaming import streaming_cdc_state
    from datapipeline_spark.streaming import ops
    from tests.test_construction_time import SF

    sink, batches, states = ops.cdc_upsert_sink, [], []

    def counted(path, *args, **kwargs):
        process = sink(path, *args, **kwargs)
        states.append(path)

        def run(batch_df, batch_id):
            batches.append(batch_id)
            process(batch_df, batch_id)

        return run

    monkeypatch.setattr(ops, "cdc_upsert_sink", counted)
    first = sorted(map(tuple, streaming_cdc_state(spark, SF).collect()))
    n_first = len(batches)
    second = sorted(map(tuple, streaming_cdc_state(spark, SF).collect()))
    assert n_first > 0 and len(batches) == 2 * n_first
    assert first == second and len(first) > 0
    assert len(set(states)) == 2
    assert not any(os.path.exists(os.path.dirname(p)) for p in states)
