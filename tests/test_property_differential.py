"""Property-based differential tests: Spark operators vs independent pandas
reference implementations on hypothesis-generated series.

These complement the ported golden values: goldens pin the reference's exact
cases, properties sweep the input space (missing patterns, partition layouts,
window sizes) against a second implementation written directly from the
semantics in SURVEY.md §2.7.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st


values_strategy = st.lists(
    st.one_of(
        st.none(),
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=0,
    max_size=25,
)


def _df(spark, values):
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("A", t0 + timedelta(hours=i), None if v is None else float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "part string, time timestamp, value double")


def _ref_rolling(values, window, statistic, min_samples):
    """Direct transcription of reference rolling semantics: trailing `window`
    ticks; emit stat over non-missing when count >= min_samples."""
    out = []
    for i in range(len(values)):
        frame = values[max(0, i - window + 1) : i + 1]
        present = [v for v in frame if v is not None]
        if len(present) < min_samples:
            out.append(None)
        elif statistic == "mean":
            out.append(sum(present) / len(present))
        elif statistic == "min":
            out.append(min(present))
        elif statistic == "max":
            out.append(max(present))
        elif statistic == "pstdev":
            m = sum(present) / len(present)
            out.append(math.sqrt(sum((v - m) ** 2 for v in present) / len(present)))
    return out


@settings(max_examples=20, deadline=None)
@given(values=values_strategy, window=st.integers(1, 6), stat=st.sampled_from(["mean", "min", "max", "pstdev"]))
def test_rolling_matches_reference_model(spark, values, window, stat):
    from datapipeline_spark.operators.window import rolling

    min_samples = 1
    got = [
        r["out"]
        for r in rolling(_df(spark, values), "value", window, stat, min_samples, ["part"], out="out")
        .orderBy("time")
        .collect()
    ]
    expected = _ref_rolling(values, window, stat, min_samples)
    assert got == pytest.approx(expected, rel=1e-9, abs=1e-9)


def _ref_forward_sum(values, window):
    out = []
    for i in range(len(values)):
        nxt = values[i + 1 : i + 1 + window]
        if len(nxt) < window or any(v is None for v in nxt):
            out.append(None)
        else:
            out.append(sum(nxt))
    return out


@settings(max_examples=20, deadline=None)
@given(values=values_strategy, window=st.integers(1, 5))
def test_forward_sum_matches_reference_model(spark, values, window):
    from datapipeline_spark.operators.window import forward_sum

    got = [
        r["out"]
        for r in forward_sum(_df(spark, values), "value", window, ["part"], out="out")
        .orderBy("time")
        .collect()
    ]
    assert got == pytest.approx(_ref_forward_sum(values, window), rel=1e-9, abs=1e-9)


@settings(max_examples=15, deadline=None)
@given(
    left_times=st.lists(st.integers(0, 200), min_size=1, max_size=15, unique=True),
    right_times=st.lists(st.integers(0, 200), min_size=1, max_size=15, unique=True),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_times, right_times):
    from datapipeline_spark.operators.asof import asof_join

    t0 = datetime(2024, 1, 1)
    lpd = pd.DataFrame(
        {"time": [t0 + timedelta(minutes=m) for m in sorted(left_times)]}
    )
    rpd = pd.DataFrame(
        {
            "time": [t0 + timedelta(minutes=m) for m in sorted(right_times)],
            "x": [float(m) for m in sorted(right_times)],
        }
    )
    expected = pd.merge_asof(lpd, rpd, on="time", direction="backward")

    left = spark.createDataFrame(
        [("g", t.to_pydatetime()) for t in lpd["time"]], "g string, time timestamp"
    )
    right = spark.createDataFrame(
        [("g", t.to_pydatetime(), x) for t, x in zip(rpd["time"], rpd["x"])],
        "g string, time timestamp, x double",
    )
    got = (
        asof_join(left, right, ["g"], right_fields=["x"])
        .orderBy("time")
        .collect()
    )
    got_x = [r["x_asof"] for r in got]
    exp_x = [None if pd.isna(v) else float(v) for v in expected["x"]]
    assert got_x == exp_x


@settings(max_examples=15, deadline=None)
@given(
    xy=st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=0,
        max_size=20,
    ),
    window=st.integers(2, 5),
)
def test_rolling_slope_matches_reference_model(spark, xy, window):
    from datapipeline_spark.operators.window import rolling_slope

    # reference model: run-based reset; emit slope when `window` consecutive
    # complete pairs are in hand and x-variance is nonzero
    expected = []
    run: list[tuple[float, float]] = []
    for x, y in xy:
        if x is None or y is None:
            run = []
            expected.append(None)
            continue
        run.append((x, y))
        if len(run) < window:
            expected.append(None)
            continue
        cur = run[-window:]
        mx = sum(p[0] for p in cur) / window
        my = sum(p[1] for p in cur) / window
        varx = sum((p[0] - mx) ** 2 for p in cur)
        if varx == 0.0:
            expected.append(None)  # Spark yields null; reference raises
        else:
            expected.append(
                sum((p[0] - mx) * (p[1] - my) for p in cur) / varx
            )

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("A", t0 + timedelta(hours=i), x, y) for i, (x, y) in enumerate(xy)
    ]
    df = spark.createDataFrame(rows, "part string, time timestamp, x double, y double")
    got = [
        r["out"]
        for r in rolling_slope(df, "x", "y", window, ["part"], out="out")
        .orderBy("time")
        .collect()
    ]
    assert got == pytest.approx(expected, rel=1e-6, abs=1e-9)


# ---------------------------------------------------------------- round 2 ops


@settings(max_examples=15, deadline=None)
@given(
    fact_times=st.lists(st.integers(0, 200), min_size=0, max_size=15),
    windows=st.lists(
        st.tuples(st.integers(0, 200), st.integers(1, 60)), min_size=0, max_size=8
    ),
    bucket_minutes=st.sampled_from([7, 30, 120]),
)
def test_interval_join_matches_naive_model(spark, fact_times, windows, bucket_minutes):
    """Bucketed interval join == brute-force containment check, for any
    bucket width (including widths that don't divide the window lengths)."""
    from datapipeline_spark.operators.interval import interval_join

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    facts = spark.createDataFrame(
        [("k", t0 + timedelta(minutes=m), i) for i, m in enumerate(fact_times)],
        "g string, time timestamp, fid int",
    )
    iv = spark.createDataFrame(
        [
            ("k", t0 + timedelta(minutes=s), t0 + timedelta(minutes=s + d), j)
            for j, (s, d) in enumerate(windows)
        ],
        "g string, start timestamp, end timestamp, wid int",
    )
    got = sorted(
        (r.fid, r.wid)
        for r in interval_join(
            facts, iv, ["g"], bucket=f"{bucket_minutes}m"
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, m in enumerate(fact_times)
        for j, (s, d) in enumerate(windows)
        if s <= m < s + d
    )
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    changes=st.lists(
        st.tuples(
            st.integers(0, 5),            # key
            st.integers(0, 30),           # seq
            st.booleans(),                # is delete
        ),
        min_size=0,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_apply_changes_matches_naive_model(spark, changes):
    """CDC merge == last-writer-wins dict fold (ties impossible: unique
    (key, seq))."""
    from datapipeline_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame(
        [(k, -1, f"init{k}") for k in range(3)], "k int, seq int, v string"
    )
    chg = spark.createDataFrame(
        [(k, s, None if d else f"v{k}_{s}", "D" if d else "U") for k, s, d in changes],
        "k int, seq int, v string, op string",
    )
    got = {r.k: (r.seq, r.v) for r in apply_changes(snap, chg, ["k"], ["seq"]).collect()}

    state = {k: (-1, f"init{k}", "U") for k in range(3)}
    for k, s, d in sorted(changes, key=lambda t: t[1]):
        if k not in state or s > state[k][0]:
            state[k] = (s, None if d else f"v{k}_{s}", "D" if d else "U")
    want = {k: (s, v) for k, (s, v, op) in state.items() if op != "D"}
    assert got == want


# ---------------------------------------------------------------- pagerank


def _ref_pagerank(edges, iterations=3):
    """Pure-python transcription of the integer-exact PageRank contract."""
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, d in edges:
        outdeg[s] += 1
    ranks = {n: 1_000_000 for n in outdeg}
    for _ in range(iterations):
        agg = defaultdict(int)
        for s, d in edges:
            agg[d] += ranks[s] // outdeg[s]
        ranks = {n: 150_000 + (85 * v) // 100 for n, v in agg.items()}
    return ranks


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=10, deadline=None)
def test_pagerank_matches_reference_and_is_order_invariant(spark, edges):
    from datapipeline_spark.operators.graph import pagerank

    # symmetrize, as the co-occurrence construction does
    sym = sorted({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=3).collect()}
    want = _ref_pagerank(sym, iterations=3)
    assert got == want

    # partition/order invariance: reversed rows, different layout
    df2 = spark.createDataFrame(sym[::-1], "src long, dst long").repartition(5)
    got2 = {r.node: r.rank for r in pagerank(df2, iterations=3).collect()}
    assert got2 == want


# ------------------------------------------------------------ co-occurrence


@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 7)), min_size=0, max_size=30
    )
)
# a duplicate row, the pair (10, 11) in two groups, a single-item group
@example(rows=[(1, 10), (1, 11), (1, 11), (1, 12), (2, 10), (2, 11), (3, 14)])
@settings(max_examples=10, deadline=None)
def test_cooccurrence_edges_match_pure_python(spark, rows):
    """Distinct directed edges between items sharing a group, against a
    pure-Python transcription: duplicate (group, item) rows add no edge,
    single-item groups add none, every edge appears in both directions,
    never as a self-loop, and exactly once."""
    from collections import defaultdict

    from datapipeline_spark.operators.graph import cooccurrence_edges

    items = defaultdict(set)
    for g, item in rows:
        items[g].add(item)
    want = {(a, b) for its in items.values() for a in its for b in its if a != b}

    df = spark.createDataFrame(rows, "g long, item long")
    got = [tuple(r) for r in cooccurrence_edges(df, "g", "item").collect()]
    edges = set(got)
    assert len(got) == len(edges)  # distinct
    assert all((b, a) in edges for a, b in got)  # both directions
    assert all(a != b for a, b in got)  # no self-loops
    assert edges == want


# ---------------------------------------------------------------- triangles


def _ref_triangle_counts(sym_edges):
    """Pure-python brute force: per-node count of triangles it belongs to.
    ``sym_edges`` is the symmetric distinct edge set."""
    from itertools import combinations

    und = {tuple(sorted(e)) for e in sym_edges}
    nodes = sorted({n for e in und for n in e})
    counts = {}
    for u, v, w in combinations(nodes, 3):
        if (u, v) in und and (u, w) in und and (v, w) in und:
            for n in (u, v, w):
                counts[n] = counts.get(n, 0) + 1
    return counts


@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@settings(max_examples=10, deadline=None)
def test_triangle_counts_match_brute_force(spark, edges):
    """Degree-oriented wedge closure (with the in-row corner crediting)
    must equal the O(n^3) brute force on arbitrary small graphs, and be
    partition-order invariant."""
    from datapipeline_spark.operators.graph import triangle_counts

    sym = sorted({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _ref_triangle_counts(sym)

    df2 = spark.createDataFrame(sym[::-1], "src long, dst long").repartition(5)
    got2 = {r.node: r.n_triangles for r in triangle_counts(df2).collect()}
    assert got2 == got


# ------------------------------------------------------- label propagation


def _ref_lpa(sym_edges, rounds):
    """Pure-python sync LPA with min-tie: each round every node adopts the
    most frequent label among its in-neighbors' PREVIOUS labels, ties to
    the smallest label."""
    from collections import Counter, defaultdict

    in_nbrs = defaultdict(set)
    for s, d in sym_edges:
        in_nbrs[d].add(s)
    labels = {n: n for n in {s for s, _ in sym_edges}}
    for _ in range(rounds):
        new = {}
        for node, nbrs in in_nbrs.items():
            c = Counter(labels[a] for a in nbrs)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[node] = best[0]
        labels = new
    return labels


@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    st.integers(1, 3),
)
@settings(max_examples=8, deadline=None)
def test_label_propagation_matches_reference(spark, edges, rounds):
    from datapipeline_spark.operators.graph import label_propagation

    sym = sorted({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r.node: r.community
        for r in label_propagation(df, rounds=rounds).collect()
    }
    assert got == _ref_lpa(sym, rounds)


# ---------------------------------------------------------------- k-core


def _ref_kcore(sym_edges, k):
    """Pure-python peel to fixpoint: survivors of iterated deg >= k."""
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in sym_edges:
        adj[s].add(d)
    alive = set(adj)
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < k}
        if not drop:
            return alive
        alive -= drop


@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    st.integers(1, 3),
)
@settings(max_examples=8, deadline=None)
def test_kcore_matches_reference(spark, edges, k):
    from datapipeline_spark.operators.graph import kcore_nodes

    sym = sorted({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r.node for r in kcore_nodes(df, k=k).collect()}
    assert got == _ref_kcore(sym, k)


# ------------------------------------------------------------- bfs / sssp


def _ref_bfs(sym_edges, sources, max_hops):
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in sym_edges:
        adj[s].add(d)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for hop in range(1, max_hops + 1):
        nxt = {d for f in frontier for d in adj[f]} - dist.keys()
        for n in nxt:
            dist[n] = hop
        if not nxt:
            break
        frontier = nxt
    return dist


@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    st.integers(1, 3),
)
@settings(max_examples=8, deadline=None)
def test_bfs_matches_reference(spark, edges, max_hops):
    from datapipeline_spark.operators.graph import bfs_distances

    sym = sorted({(s, d) for s, d in edges} | {(d, s) for s, d in edges})
    srcs = sorted({s for s, _ in sym})[:2]
    df = spark.createDataFrame(sym, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in srcs], "node long")
    got = {
        r.node: r.dist
        for r in bfs_distances(df, sdf, max_hops=max_hops).collect()
    }
    assert got == _ref_bfs(sym, srcs, max_hops)


def _ref_sssp(edges_w, sources, rounds):
    """Capped Bellman-Ford: `rounds` synchronous relaxations of EVERY
    settled node's out-edges, min-merged."""
    dist = {s: 0 for s in sources}
    for _ in range(rounds):
        new = dict(dist)
        for s, d, w in edges_w:
            if s in dist:
                cand = dist[s] + w
                if d not in new or cand < new[d]:
                    new[d] = cand
        dist = new
    return dist


@given(
    st.lists(
        st.tuples(
            st.integers(0, 6), st.integers(0, 6), st.integers(1, 9)
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(1, 3),
)
@settings(max_examples=8, deadline=None)
def test_sssp_matches_reference(spark, edges_w, rounds):
    from datapipeline_spark.operators.graph import sssp_distances

    srcs = sorted({s for s, _, _ in edges_w})[:2]
    df = spark.createDataFrame(edges_w, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in srcs], "node long")
    got = {
        r.node: r.dist
        for r in sssp_distances(df, sdf, rounds=rounds).collect()
    }
    assert got == _ref_sssp(edges_w, srcs, rounds)


# ---------------------------------------------------------------- scd2


def _ref_scd2(rows):
    """Pure-python gaps-and-islands transcription: rows = (t, attr) sorted."""
    out = []
    for t, a in rows:
        if not out or out[-1]["attr"] != a:
            out.append({"attr": a, "from": t, "n": 1})
        else:
            out[-1]["n"] += 1
    for i, iv in enumerate(out):
        iv["to"] = out[i + 1]["from"] if i + 1 < len(out) else None
        iv["current"] = iv["to"] is None
    return out


@given(
    st.lists(st.integers(0, 3), min_size=1, max_size=25)
)
@settings(max_examples=10, deadline=None)
def test_scd2_matches_reference_and_shuffle_invariant(spark, attrs):
    from datetime import datetime, timedelta

    from datapipeline_spark.operators.scd import scd2_history

    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(hours=i), a) for i, a in enumerate(attrs)]
    df = spark.createDataFrame(
        [("k", t, a) for t, a in rows], "key string, time timestamp, attr long"
    )
    got = sorted(
        (
            (r.valid_from, r.valid_to, r.attr, r.n_events, r.is_current)
            for r in scd2_history(df, ["key"], "attr").collect()
        )
    )
    want = sorted(
        (iv["from"], iv["to"], iv["attr"], iv["n"], iv["current"])
        for iv in _ref_scd2(rows)
    )
    assert got == want

    # shuffle invariance: scrambled input order and layout
    df2 = spark.createDataFrame(
        [("k", t, a) for t, a in rows[::-1]], "key string, time timestamp, attr long"
    ).repartition(4)
    got2 = sorted(
        (
            (r.valid_from, r.valid_to, r.attr, r.n_events, r.is_current)
            for r in scd2_history(df2, ["key"], "attr").collect()
        )
    )
    assert got2 == want


@settings(max_examples=20, deadline=None)
@given(
    cents=st.lists(st.integers(-500, 500), min_size=1, max_size=40),
    target_c=st.integers(-100, 100),
)
def test_cusum_matches_recurrence_model(spark, cents, target_c):
    """Window-identity CUSUM == the direct max(0, s + d) recurrence for
    arbitrary integer-cent series (clamp resets, all-negative runs,
    monotone drifts)."""
    from datapipeline_spark.operators.window import cusum

    rows = [(1, i, c / 100.0) for i, c in enumerate(cents)]
    df = spark.createDataFrame(rows, "k long, time long, v double")
    got = [
        r.c
        for r in cusum(
            df, "v", target=target_c / 100.0, scale=100,
            partition_by=["k"], out="c", order_by=["time"],
        ).orderBy("time").collect()
    ]
    s, want = 0, []
    for c in cents:
        s = max(0, s + c - target_c)
        want.append(s)
    assert got == want


def _avg_ranks(vals):
    """1-based average ranks with ties (pure Python)."""
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j < len(order) and vals[order[j]] == vals[order[i]]:
            j += 1
        for k in range(i, j):
            ranks[order[k]] = (i + j + 1) / 2
        i = j
    return ranks


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=3, max_size=60
    )
)
@settings(max_examples=25, deadline=None)
def test_spearman_matches_pure_python(spark, xy):
    from datapipeline_spark.operators.stats import spearman_corr

    xs = [float(a) for a, _ in xy]
    ys = [float(b) for _, b in xy]

    rx, ry = _avg_ranks(xs), _avg_ranks(ys)
    n = len(xy)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(a * a for a in rx)
    syy = sum(a * a for a in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    got = spark_val = spearman_corr(df, "x", "y").collect()[0].spearman
    if vx == 0 or vy == 0:  # a constant column -> correlation undefined
        assert got is None or math.isnan(got)
        return
    expect = (n * sxy - sx * sy) / math.sqrt(vx) / math.sqrt(vy)
    assert abs(got - expect) < 1e-5


@given(st.lists(st.integers(-3, 3), min_size=1, max_size=200))
@settings(max_examples=25, deadline=None)
def test_table_checksum_matches_pure_python(spark, vals):
    import hashlib

    from datapipeline_spark.operators.checksum import MERSENNE61, table_checksum

    rows = [(i, v) for i, v in enumerate(vals)]
    expect = {}
    for i, v in rows:
        h = int(hashlib.md5(f"{i}|{v}".encode()).hexdigest()[:12], 16)
        b = h % 8
        c, s, x = expect.get(b, (0, 0, 0))
        expect[b] = (c + 1, (s + h) % MERSENNE61, x ^ h)
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.bucket: (r.n_rows, r.hash_sum, r.hash_xor)
        for r in table_checksum(df, ["k", "v"], n_buckets=8).collect()
    }
    assert got == expect


@given(st.lists(st.integers(0, 5000), min_size=1, max_size=300))
@settings(max_examples=20, deadline=None)
def test_hll_registers_match_pure_python(spark, keys):
    import hashlib

    from datapipeline_spark.sketch.hll import hll_estimate, hll_registers

    P = 10
    expect_regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        reg, rem = h >> 50, h & ((1 << 50) - 1)
        rho = 51 if rem == 0 else 51 - rem.bit_length()
        expect_regs[reg] = max(expect_regs.get(reg, 0), rho)
    scaled = sum(1 << (51 - r) for r in expect_regs.values()) + (
        1024 - len(expect_regs)
    ) * (1 << 51)
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    # pin the md5 mode: this transcription IS the md5 contract, and test
    # order must not matter if something set $SPARK_GRAFT_HASH_MODE
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_HASH_MODE", "oracle")
        regs = {r.reg: r.rho for r in hll_registers(df, "k").collect()}
        est = hll_estimate(hll_registers(df, "k")).collect()[0]
    assert regs == expect_regs
    assert est.scaled_harmonic == scaled


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)), min_size=4, max_size=80
    )
)
@settings(max_examples=25, deadline=None)
def test_chi_square_matches_pure_python(spark, pairs):
    from collections import Counter

    from datapipeline_spark.operators.stats import chi_square

    df = spark.createDataFrame([(str(a), str(b)) for a, b in pairs], "x string, y string")
    r = chi_square(df, "x", "y").collect()[0]
    cells = Counter(pairs)
    n = len(pairs)
    rt = Counter(a for a, _ in pairs)
    ct = Counter(b for _, b in pairs)
    want = sum(o * o * n / (rt[a] * ct[b]) for (a, b), o in cells.items()) - n
    assert (r.n, r.r, r.c) == (n, len(rt), len(ct))
    assert abs(r.chi2 - want) < 1e-4


@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-1000, 1000)),
        min_size=2,
        max_size=80,
    )
)
@settings(max_examples=25, deadline=None)
def test_ols_matches_pure_python(spark, xy):
    from datapipeline_spark.operators.stats import ols

    df = spark.createDataFrame(xy, "x long, y long")
    r = ols(df, "x", "y").collect()[0]
    n = len(xy)
    sx = sum(a for a, _ in xy)
    sy = sum(b for _, b in xy)
    sxx = sum(a * a for a, _ in xy)
    syy = sum(b * b for _, b in xy)
    sxy = sum(a * b for a, b in xy)
    cov, vx, vy = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    if vx == 0:
        assert r.slope is None and r.intercept is None and r.r2 is None
        return
    slope = cov / vx
    assert abs(r.slope - slope) < 1e-5
    # intercept is rounded to 2 decimals: worst-case rounding error is
    # EXACTLY 0.005 (x.xx5 rounds away) — the bound must be inclusive
    assert abs(r.intercept - (sy - slope * sx) / n) <= 5e-3 + 1e-9
    if vy == 0:
        assert r.r2 is None
    else:
        assert abs(r.r2 - cov * cov / (vx * vy)) < 1e-5


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.booleans()), min_size=4, max_size=100
    ).filter(lambda xs: any(s for _, s in xs) and any(not s for _, s in xs))
)
@example([(2**33 + 5, True), (2**33 + 5, False), (3, False), (2**40, True)])
@settings(max_examples=25, deadline=None)
def test_ks_matches_pure_python(spark, data):
    from datapipeline_spark.operators.stats import ks_test

    rows = [(v, int(s)) for v, s in data]
    df = spark.createDataFrame(rows, "v long, s long")
    r = ks_test(df, "v", "s", bucket_shift=2).collect()[0]
    n0 = sum(1 for _, s in rows if s == 0)
    n1 = len(rows) - n0
    vals = sorted({v for v, _ in rows})
    c0 = c1 = best = 0
    for v in vals:
        c0 += sum(1 for x, s in rows if x == v and s == 0)
        c1 += sum(1 for x, s in rows if x == v and s == 1)
        best = max(best, abs(c0 * n1 - c1 * n0))
    assert (r.n0, r.n1, r.d_num) == (n0, n1, best)
    assert abs(r.ks - best / (n0 * n1)) < 1e-6


def _maybe(values):
    return st.one_of(st.none(), values)


@given(
    rows=st.lists(
        st.tuples(_maybe(st.integers(0, 2)), _maybe(st.integers(-40, 40)), _maybe(st.integers(0, 9))),
        max_size=40,
    ),
    bucket=st.sampled_from(["hash", "range", "range_desc"]),
    grouped=st.booleans(),
    exclusive=st.booleans(),
)
@example(rows=[], bucket="range", grouped=True, exclusive=False)
@example(rows=[(i % 2, 5, i) for i in range(9)], bucket="range", grouped=False, exclusive=False)
@example(rows=[(None, 5, i) for i in range(6)], bucket="range_desc", grouped=True, exclusive=True)
@example(rows=[(1, None, i) for i in range(4)] + [(None, 3, 1)], bucket="hash", grouped=True, exclusive=False)
@settings(max_examples=25, deadline=None)
def test_prefix_scan_matches_naive_window(spark, rows, bucket, grouped, exclusive):
    """The two-phase scan equals the single window row for row — row numbers,
    running sums (inclusive or exclusive) and group totals — and keeps every
    row, with NULL group keys, NULL order values (their own bucket) and
    NULL summed values; all-equal values put every row in one bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.rank import prefix_scan, value_buckets

    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "id long, g long, v long, w long"
    )
    by = ["g"] if grouped else []
    order = [F.col("v").desc() if bucket == "range_desc" else F.col("v"), F.col("id")]
    w = Window.partitionBy(*by).orderBy(*order)
    frame = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    naive = df.select(
        "*",
        (F.row_number().over(w) - int(exclusive)).alias("n_naive"),
        F.sum("w").over(frame).alias("s_naive"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("nt_naive"),
        F.sum("w").over(Window.partitionBy(*by)).alias("st_naive"),
    )
    if bucket == "hash":
        b, col = naive, F.shiftright("v", 3)
    else:
        b = value_buckets(naive, "v", by, 4, descending=bucket == "range_desc")
        col = F.col("__bucket__")
    got = prefix_scan(
        b, by, col, order, {"n": None, "s": "w"}, exclusive=exclusive, totals={"nt": "n", "st": "s"}
    ).collect()
    assert sorted(r.id for r in got) == list(range(len(rows)))
    for r in got:
        assert (r.n, r.s, r.nt, r.st) == (r.n_naive, r.s_naive, r.nt_naive, r.st_naive), r


@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.booleans()), min_size=4, max_size=80
    ).filter(lambda xs: any(s for _, s in xs) and any(not s for _, s in xs))
)
@settings(max_examples=25, deadline=None)
def test_mann_whitney_matches_pure_python(spark, data):
    from datapipeline_spark.operators.stats import mann_whitney

    rows = [(v, int(s)) for v, s in data]
    df = spark.createDataFrame(rows, "v long, s long")
    r = mann_whitney(df, "v", "s").collect()[0]
    n0 = sum(1 for _, s in rows if s == 0)
    n1 = len(rows) - n0
    n = n0 + n1
    # average ranks
    by_v: dict = {}
    for v, _ in rows:
        by_v[v] = by_v.get(v, 0) + 1
    start, avg_rank = 1, {}
    for v in sorted(by_v):
        t = by_v[v]
        avg_rank[v] = start + (t - 1) / 2
        start += t
    r1 = sum(avg_rank[v] for v, s in rows if s == 1)
    u1 = r1 - n1 * (n1 + 1) / 2
    assert abs(r.u - u1) < 1e-9
    tie = sum(t ** 3 - t for t in by_v.values())
    var = n0 * n1 / 12 * ((n + 1) - tie / (n * (n - 1)))
    if var == 0:
        assert r.z is None
    else:
        want = (u1 - n0 * n1 / 2) / math.sqrt(var)
        assert abs(r.z - want) < 1e-5


@given(
    st.lists(
        st.tuples(st.integers(-500, 500), st.booleans()), min_size=4, max_size=80
    ).filter(
        lambda xs: sum(1 for _, s in xs if s) >= 2
        and sum(1 for _, s in xs if not s) >= 2
    )
)
@settings(max_examples=25, deadline=None)
def test_welch_matches_pure_python(spark, data):
    from datapipeline_spark.operators.stats import welch_ttest

    rows = [(v, int(s)) for v, s in data]
    df = spark.createDataFrame(rows, "y long, s long")
    r = welch_ttest(df, "y", "s").collect()[0]
    g0 = [v for v, s in rows if s == 0]
    g1 = [v for v, s in rows if s == 1]
    n0, n1 = len(g0), len(g1)
    assert (r.n0, r.n1) == (n0, n1)
    m0, m1 = sum(g0) / n0, sum(g1) / n1
    v0 = sum((x - m0) ** 2 for x in g0) / (n0 - 1)
    v1 = sum((x - m1) ** 2 for x in g1) / (n1 - 1)
    a0, a1 = v0 / n0, v1 / n1
    if a0 + a1 == 0:
        assert r.t is None and r.df_welch is None
        return
    assert abs(r.t - (m1 - m0) / math.sqrt(a0 + a1)) < 1e-4
    if a0 * a0 / (n0 - 1) + a1 * a1 / (n1 - 1) > 0:
        want_df = (a0 + a1) ** 2 / (a0 * a0 / (n0 - 1) + a1 * a1 / (n1 - 1))
        assert abs(r.df_welch - want_df) < 0.05


@given(
    weights=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=12),
    budget=st.integers(min_value=1, max_value=100_000),
)
@settings(max_examples=12, deadline=None)
def test_apportion_hamilton_properties(spark, weights, budget):
    """Sum == budget exactly; every allocation within 1 of the exact share
    (the Hamilton quota property); zero-weight groups get zero."""
    from datapipeline_spark.operators.apportion import apportion

    if sum(weights) == 0:
        weights = weights + [1]
    rows = [(f"g{i:02d}", w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "g string, w long")
    got = {r.g: r.allocated for r in apportion(df, ["g"], "w", budget).collect()}
    assert sum(got.values()) == budget
    tot = sum(weights)
    for (g, w) in rows:
        exact = budget * w / tot
        assert exact - 1 < got[g] < exact + 1 or got[g] in (
            math.floor(exact),
            math.ceil(exact),
        )
        if w == 0:
            assert got[g] == 0


@given(
    n_rows=st.integers(min_value=0, max_value=60),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_reservoir_per_key_size_and_uniform_subset(spark, n_rows, k):
    """Exactly min(n_key, k) rows per key, drawn from the key's rows, and
    stable under repartitioning."""
    from datapipeline_spark.operators.rank import reservoir_per_key

    rows = [(i % 3, i) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "key long, id long") if rows else None
    if df is None:
        return
    out = reservoir_per_key(df, ["key"], ["id"], n=k).collect()
    per_key: dict = {}
    for r in out:
        per_key.setdefault(r.key, set()).add(r.id)
    for key in {r[0] for r in rows}:
        n_key = sum(1 for r in rows if r[0] == key)
        assert len(per_key.get(key, set())) == min(n_key, k)
        assert per_key[key] <= {r[1] for r in rows if r[0] == key}
    again = reservoir_per_key(df.repartition(7), ["key"], ["id"], n=k).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5)), min_size=2, max_size=40
    )
)
@settings(max_examples=10, deadline=None)
def test_frequent_pairs_matches_pure_python(spark, rows):
    """Pair counts equal an independent per-basket set model."""
    from itertools import combinations

    from datapipeline_spark.operators.basket import frequent_pairs

    df = spark.createDataFrame(rows, "b long, i long")
    got = {(r.ia, r.ib): r.pair_support for r in frequent_pairs(df, "b", "i").collect()}
    baskets: dict = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    want: dict = {}
    for items in baskets.values():
        for a, c in combinations(sorted(items), 2):
            want[(a, c)] = want.get((a, c), 0) + 1
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                 # entity
            st.integers(0, 50),                # priority (may tie across entities, not within after dedup)
            st.one_of(st.none(), st.text(alphabet="abc", max_size=2)),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=12, deadline=None)
def test_golden_record_matches_pure_python(spark, rows):
    """Per-field latest-non-null survivorship vs a dict model. Priorities
    are de-duplicated per entity to keep the order total (the operator's
    documented contract)."""
    from datapipeline_spark.operators.survivorship import golden_record

    seen = set()
    uniq = []
    for e, p, a, b in rows:
        if (e, p) not in seen:
            seen.add((e, p))
            uniq.append((e, p, a, b))
    df = spark.createDataFrame(uniq, "e long, p long, fa string, fb long")
    got = {r.e: (r.fa, r.fb, r.n_records)
           for r in golden_record(df, ["e"], ["p"], ["fa", "fb"]).collect()}
    want = {}
    for e in {r[0] for r in uniq}:
        recs = sorted((r for r in uniq if r[0] == e), key=lambda r: r[1])
        fa = next((r[2] for r in reversed(recs) if r[2] is not None), None)
        fb = next((r[3] for r in reversed(recs) if r[3] is not None), None)
        want[e] = (fa, fb, len(recs))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=40
    )
)
@settings(max_examples=12, deadline=None)
def test_fd_profile_matches_pure_python(spark, rows):
    from datapipeline_spark.operators.fd import fd_profile

    df = spark.createDataFrame(rows, "a int, b int")
    got = {(r.det, r.dep): (r.det_groups, r.n_rows, r.violating_rows, r.holds)
           for r in fd_profile(df, ["a", "b"]).collect()}
    for det, dep in ((0, 1), (1, 0)):
        groups: dict = {}
        for r in rows:
            groups.setdefault(r[det], []).append(r[dep])
        viol = sum(len(v) for v in groups.values() if len(set(v)) > 1)
        key = ("a", "b") if det == 0 else ("b", "a")
        assert got[key] == (len(groups), len(rows), viol, int(viol == 0))


@given(
    durs=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 1)), min_size=1, max_size=40
    )
)
@settings(max_examples=12, deadline=None)
def test_life_table_matches_pure_python(spark, durs):
    from datapipeline_spark.operators.survival import life_table

    df = spark.createDataFrame(durs, "t long, ev int")
    got = {r.t: (r.n_risk, r.d_events, r.c_censored)
           for r in life_table(df, "t", "ev").collect()}
    for t in {d for d, _ in durs}:
        n_risk = sum(1 for d, _ in durs if d >= t)
        d_ev = sum(1 for d, e in durs if d == t and e == 1)
        c_ce = sum(1 for d, e in durs if d == t and e == 0)
        assert got[t] == (n_risk, d_ev, c_ce)


@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None)
def test_holt_linear_matches_pure_python_fold(spark, ys):
    """holt_linear at alpha=beta=0.5 must be BIT-identical to the naive
    sequential fold (all multiplies are exact power-of-two scalings; the
    adds follow the identical evaluation order)."""
    from datapipeline_spark.operators.holt import holt_linear

    l = ys[0]
    b = 0.0
    for y in ys[1:]:
        l_new = 0.5 * y + 0.5 * (l + b)
        b = 0.5 * (l_new - l) + 0.5 * b
        l = l_new
    rows = [("k", i, float(y)) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "k: string, i: long, y: double")
    got = holt_linear(
        df, key_cols=["k"], y_col="y", order_cols=["i"], horizon=3
    ).collect()[0]
    assert got["n_obs"] == len(ys)
    assert got["level"] == l  # bit-exact
    assert got["trend"] == b
    assert got["forecast_3"] == l + 3.0 * b


def test_holt_linear_partition_invariant(spark):
    """The fold must not depend on input partitioning (sort_array pins
    the order inside the aggregate)."""
    from datapipeline_spark.operators.holt import holt_linear

    rows = [("k", i, float((i * 37) % 11) - 5.0) for i in range(30)]
    df1 = spark.createDataFrame(rows, "k: string, i: long, y: double")
    df8 = df1.repartition(8)
    r1 = holt_linear(df1, ["k"], "y", ["i"]).collect()[0]
    r8 = holt_linear(df8, ["k"], "y", ["i"]).collect()[0]
    assert (r1["level"], r1["trend"]) == (r8["level"], r8["trend"])


def test_holt_running_matches_final_state_and_stream_semantics(spark):
    """holt_running's last row per key must equal holt_linear's final
    state (same fold, per-row emission) — ties batch, running, and
    streaming forms together."""
    from datapipeline_spark.operators.holt import holt_linear, holt_running

    rows = [(u, i, float(((i * 31 + u * 7) % 23)) - 11.0)
            for u in range(3) for i in range(25)]
    df = spark.createDataFrame(rows, "k: long, t: long, v: double")
    run = holt_running(df, "v", ["k"], order_by=["t"])
    last = {
        r["k"]: (r["holt_level"], r["holt_trend"])
        for r in run.orderBy("t").collect()
        if r["t"] == 24
    }
    fin = {
        r["k"]: (r["level"], r["trend"])
        for r in holt_linear(df, ["k"], "v", ["t"]).collect()
    }
    assert last == fin  # bit-exact


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 9)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=25, deadline=None)
def test_weighted_median_matches_pure_python(spark, vw):
    from datapipeline_spark.operators.stats import weighted_median

    rows = [("g", v, w) for v, w in vw]
    df = spark.createDataFrame(rows, "g: string, v: long, w: long")
    got = weighted_median(df, ["g"], "v", "w").collect()[0]
    # pure python lower weighted median
    total = sum(w for _, w in vw)
    cum = 0
    exp = None
    for v, w in sorted(vw):
        cum += w
        if cum * 2 >= total:
            exp = v
            break
    assert got["weighted_median"] == exp
    assert got["total_weight"] == total


@given(
    st.lists(st.integers(-20, 20), min_size=2, max_size=25)
)
@settings(max_examples=25, deadline=None)
def test_mann_kendall_matches_pure_python(spark, xs):
    from datapipeline_spark.operators.stats import mann_kendall

    rows = [("g", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g: string, o: long, v: long")
    got = mann_kendall(df, ["g"], "v", "o").collect()[0]
    n = len(xs)
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(xs).values() if t > 1
    )
    assert got["s"] == s
    assert got["n"] == n
    assert got["var18"] == n * (n - 1) * (2 * n + 5) - tie


@given(
    st.lists(st.integers(-100, 100), min_size=2, max_size=20)
)
@settings(max_examples=25, deadline=None)
def test_best_split_matches_pure_python(spark, xs):
    from datapipeline_spark.operators.stats import best_split

    rows = [("g", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g: string, o: long, v: long")
    got = best_split(df, ["g"], "v", "o").collect()[0]
    n = len(xs)
    pn = sum(xs)
    best = None  # (score, -i, o)
    p = 0
    for i in range(1, n):
        p += xs[i - 1]
        score = abs(p * (n - i) - (pn - p) * i) * 1_000_000 // (i * (n - i))
        cand = (score, -i, i - 1)  # o of split row = index i-1
        if best is None or cand[:2] > best[:2]:
            best = cand
    assert got["split_at"] == best[2]
    assert got["shift_score_micros"] == best[0]
    assert got["n"] == n


def test_best_split_exact_at_aggregate_scale_magnitudes(spark):
    """Red-on-revert for the decimal(38,0) score numerator: prefix sums of
    aggregate-built series grow with data volume, and |P·(n−i)|·1e6 blows
    int64 well below 100 TB shape (sf1 daily revenue sat within 9% of
    2^63). Values here make the numerator ~1e21; the pure-python int
    reference is arbitrary-precision."""
    from datapipeline_spark.operators.stats import best_split

    xs = [4_000_000_000_000 + (7919 * i * i) % 900_000_000_000 for i in range(30)]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g: string, o: long, v: long"
    )
    got = best_split(df, ["g"], "v", "o").collect()[0]
    n = len(xs)
    pn = sum(xs)
    best = None
    p = 0
    for i in range(1, n):
        p += xs[i - 1]
        score = abs(p * (n - i) - (pn - p) * i) * 1_000_000 // (i * (n - i))
        cand = (score, -i, i - 1)
        if best is None or cand[:2] > best[:2]:
            best = cand
    assert got["split_at"] == best[2]
    assert got["shift_score_micros"] == best[0]


def test_best_split_accepts_any_order_col_name(spark):
    """Regression: the prefix-sum windows must order by the internal alias
    'o', not the caller's order_col name (which `base` renames away) —
    order_col='day' used to throw UNRESOLVED_COLUMN."""
    from datapipeline_spark.operators.stats import best_split

    xs = [0, 0, 0, 10, 10, 10]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g: string, day: long, val: long"
    )
    got = best_split(df, ["g"], "val", "day").collect()[0]
    assert got["split_at"] == 2 and got["n"] == 6


def test_cross_correlation_lag_zero_is_pearson_and_symmetry(spark):
    """xcorr at lag 0 equals plain Pearson on the paired series; xcorr of
    (x vs y) at +k equals (y vs x) at -k over the same overlap."""
    from datapipeline_spark.operators.stats import (
        cross_correlation,
        pearson_corr,
    )

    rows = [(i, (i * 7) % 23, ((i + 3) * 5) % 19) for i in range(40)]
    df = spark.createDataFrame(rows, "o: long, x: long, y: long")
    xc = {r["lag"]: r["xcorr"]
          for r in cross_correlation(df, "o", "x", "y", 5).collect()}
    p0 = pearson_corr(df, "x", "y").collect()[0]["pearson"]
    assert xc[0] == p0
    yx = {r["lag"]: r["xcorr"]
          for r in cross_correlation(df, "o", "y", "x", 5).collect()}
    for k in range(-5, 6):
        assert xc[k] == yx[-k]


@given(
    st.lists(st.integers(-50, 50), min_size=2, max_size=15)
)
@settings(max_examples=25, deadline=None)
def test_theil_sen_matches_pure_python(spark, xs):
    from datapipeline_spark.operators.stats import theil_sen

    rows = [("g", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g: string, o: long, v: long")
    got = theil_sen(df, ["g"], "v", "o").collect()[0]
    n = len(xs)

    def idiv(a, b):  # truncate toward zero — Spark DIV == DuckDB // semantics
        q = abs(a) // b
        return q if a >= 0 else -q

    slopes = sorted(
        idiv((xs[j] - xs[i]) * 1_000_000, j - i)
        for i in range(n)
        for j in range(i + 1, n)
    )
    assert got["n_pairs"] == len(slopes)
    assert got["ts_slope_micros"] == slopes[(len(slopes) + 1) // 2 - 1]


def test_theil_sen_robust_to_one_outlier(spark):
    """A single wild point must not move the slope (the point of the
    estimator): slope of a clean 1-per-step line stays ~1e6 micros."""
    from datapipeline_spark.operators.stats import theil_sen

    clean = [("g", i, i) for i in range(20)]
    dirty = [("g", i, 100000 if i == 10 else i) for i in range(20)]
    sc = theil_sen(
        spark.createDataFrame(clean, "g: string, o: long, v: long"),
        ["g"], "v", "o",
    ).collect()[0]["ts_slope_micros"]
    sd = theil_sen(
        spark.createDataFrame(dirty, "g: string, o: long, v: long"),
        ["g"], "v", "o",
    ).collect()[0]["ts_slope_micros"]
    assert sc == 1_000_000
    assert sd == 1_000_000  # outlier absorbed by the median


def test_conformal_holt_coverage_property(spark):
    """Empirical check of the conformal guarantee's mechanics: the
    half-width must be the ceil((n+1)*0.9)-th smallest |residual|, and at
    least 90% of calibration residuals must lie within it."""
    from datapipeline_spark.operators.conformal import conformal_holt_interval
    from datapipeline_spark.operators.holt import holt_running

    rows = [("u", i, float(((i * 37) % 29)) + (50.0 if i == 17 else 0.0))
            for i in range(60)]
    df = spark.createDataFrame(rows, "k: string, t: long, y: double")
    got = conformal_holt_interval(
        df, ["k"], "y", ["t"], coverage_pct=90
    ).collect()[0]
    run = sorted(
        (r["t"], r["holt_level"], r["holt_trend"], r["y"])
        for r in holt_running(df, "y", ["k"], order_by=["t"]).collect()
    )
    scores = sorted(
        abs(y - (run[i - 1][1] + run[i - 1][2]))
        for i, (_, _, _, y) in enumerate(run)
        if i >= 1
    )
    n = len(scores)
    assert got["n_cal"] == n
    want_rank = ((n + 1) * 90 + 99) // 100
    assert got["q_halfwidth"] == scores[want_rank - 1]
    covered = sum(s <= got["q_halfwidth"] for s in scores)
    assert covered / n >= 0.9


def test_ols2_recovers_exact_linear_model(spark):
    from datapipeline_spark.operators.stats import ols2

    # y = 3*x1 - 2*x2 + 7 exactly, non-collinear regressors
    rows = [("g", a, b, 3 * a - 2 * b + 7)
            for a in range(10) for b in range(7)]
    df = spark.createDataFrame(rows, "g: string, x1: long, x2: long, y: long")
    r = ols2(df, "x1", "x2", "y", ["g"]).collect()[0]
    assert r["b1"] == 3.0
    assert r["b2"] == -2.0
    assert r["intercept"] == 7.0


def test_ols2_matches_numpy_lstsq(spark):
    import numpy as np

    from datapipeline_spark.operators.stats import ols2

    rows = [("g", a, (a * 7) % 13, ((a * 31) % 97) - 40) for a in range(50)]
    df = spark.createDataFrame(rows, "g: string, x1: long, x2: long, y: long")
    r = ols2(df, "x1", "x2", "y", ["g"]).collect()[0]
    X = np.array([[a, b, 1.0] for _, a, b, _ in rows])
    yv = np.array([y for *_, y in rows], dtype=float)
    beta = np.linalg.lstsq(X, yv, rcond=None)[0]
    assert abs(r["b1"] - beta[0]) < 1e-4
    assert abs(r["b2"] - beta[1]) < 1e-4
    assert abs(r["intercept"] - beta[2]) < 1e-2


def test_ols2_collinear_is_null(spark):
    from datapipeline_spark.operators.stats import ols2

    rows = [("g", a, 2 * a, a + 1) for a in range(20)]  # x2 = 2*x1
    df = spark.createDataFrame(rows, "g: string, x1: long, x2: long, y: long")
    r = ols2(df, "x1", "x2", "y", ["g"]).collect()[0]
    assert r["b1"] is None and r["b2"] is None and r["intercept"] is None


# --------------------------------------------------- capped prefix join


def _ref_ppjoin_capped(docs, t, cap):
    """Pure-python transcription of ppjoin_pairs(max_prefix_group=cap,
    on_exceed='drop'): rare-first prefixes with the integer prefix length,
    over-cap prefix groups dropped before pair generation, surviving
    candidates (length + position filtered) verified with exact jaccard
    rounded to 6."""
    import itertools
    from collections import Counter, defaultdict

    sh = {
        i: {f"{w[j]} {w[j+1]}" for j in range(len(w) - 1)}
        for i, w in docs.items()
        if len(w) >= 2
    }
    sh = {i: s for i, s in sh.items() if s}
    dfreq = Counter(s for ss in sh.values() for s in ss)
    t_num = int(t * 1_000_000)
    prefix = {}  # id -> {shingle: (pos, n)}
    for i, ss in sh.items():
        toks = sorted(ss, key=lambda s: (dfreq[s], s))
        n = len(toks)
        p = n - ((n * t_num + 999_999) // 1_000_000) + 1
        prefix[i] = {s: (pos + 1, n) for pos, s in enumerate(toks[:p])}
    groups = Counter(s for pp in prefix.values() for s in pp)
    surviving = {s for s, g in groups.items() if g <= cap}
    by_shingle = defaultdict(list)
    for i, pp in prefix.items():
        for s in pp:
            if s in surviving:
                by_shingle[s].append(i)
    cand = set()
    for s, ids in by_shingle.items():
        for a, b in itertools.combinations(sorted(ids), 2):
            pa, na = prefix[a][s]
            pb, nb = prefix[b][s]
            if nb * 1_000_000 < na * t_num or na * 1_000_000 < nb * t_num:
                continue
            m = min(na - pa, nb - pb) + 1
            if m * (1_000_000 + t_num) >= t_num * (na + nb):
                cand.add((a, b))
    out = set()
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
        if j >= t:
            out.add((a, b))
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=2, max_size=8),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
    st.integers(1, 6),
)
@settings(max_examples=12, deadline=None)
def test_capped_ppjoin_matches_reference(spark, word_lists, t, cap):
    """The drop-mode guard's semantics are deterministic and must match a
    direct transcription: over-cap prefix groups never generate pairs, and
    the tiny vocabulary here forces the cap to bite."""
    from datapipeline_spark.dedup import ppjoin_pairs

    docs = {i: w for i, w in enumerate(word_lists)}
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs.items()], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in ppjoin_pairs(
            df, threshold=t, max_prefix_group=cap, on_exceed="drop"
        ).collect()
    }
    assert got == _ref_ppjoin_capped(docs, t, cap)


def test_disc_revenue_units_exact_at_rounding_boundary(spark):
    """Red-on-revert for the exact-units revenue discipline
    (queries_core._disc_units / _UNITS_REV): 10 rows of price 0.01 at
    discount 0.05 sum to EXACTLY 0.095 dollars, which half-up-rounds to
    0.10 — while the double path (round(sum(p*(1-d)), 2)) accumulates
    0.09499999999999999 and reports 0.09. The sf1 oracle sweep caught
    exactly this class live: q7_nation_volume flipped one group's 2dp
    rounding through IEEE accumulation-order drift between engines."""
    from pyspark.sql import functions as F

    from datapipeline_spark.queries_core import _UNITS_REV, _disc_units

    df = spark.createDataFrame(
        [(0.01, 0.05)] * 10, "l_extendedprice double, l_discount double"
    )
    got = (
        df.withColumn("__units__", _disc_units())
        .agg(F.expr(_UNITS_REV).alias("revenue"))
        .collect()[0]["revenue"]
    )
    # arbitrary-precision reference: units are exact integers end to end
    units = sum(round(0.01 * 100) * (100 - round(0.05 * 100)) for _ in range(10))
    assert units == 950
    assert got == float((units + 50) // 100) / 100.0 == 0.10
    # and the repartitioned sum is identical (order/partition invariance)
    got32 = (
        df.repartition(32)
        .withColumn("__units__", _disc_units())
        .agg(F.expr(_UNITS_REV).alias("revenue"))
        .collect()[0]["revenue"]
    )
    assert got32 == got


@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),
            st.one_of(st.none(), st.integers(-9, 9)),
            st.one_of(st.none(), st.integers(-9, 9)),
            st.one_of(st.none(), st.integers(-10_000, 10_000)),
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=20, deadline=None)
def test_prereduce_sufficient_stats_identical(spark, rows):
    """prereduce=True must return the EXACT rows of the per-row form for
    ols / ols2 / pearson_corr — including NULL columns (NULL keys group
    separately, so per-column NULL skipping is preserved) and duplicate
    value combinations (the whole point of the frequency rewrite)."""
    from datapipeline_spark.operators.stats import ols, ols2, pearson_corr

    df = spark.createDataFrame(rows, "g long, x1 long, x2 long, y long")

    def rs(frame):
        return sorted(tuple(r) for r in frame.collect())

    assert rs(ols(df, "x1", "y", ["g"], prereduce=True)) == rs(
        ols(df, "x1", "y", ["g"])
    )
    assert rs(ols2(df, "x1", "x2", "y", ["g"], prereduce=True)) == rs(
        ols2(df, "x1", "x2", "y", ["g"])
    )
    assert rs(pearson_corr(df, "x1", "x2", ["g"], prereduce=True)) == rs(
        pearson_corr(df, "x1", "x2", ["g"])
    )


#: rank-family values: heavy ties near zero plus magnitudes at and past 2^39
_rank_values = st.one_of(
    st.integers(-3, 3),
    st.sampled_from([-(2**41) - 7, -(2**39), 2**39, 2**39 + 1, 2**40, 2**62]),
)


@given(
    st.lists(
        st.tuples(
            st.sampled_from([None, 0, 1]),
            _rank_values,
            _rank_values,
            st.integers(0, 1),
            st.integers(0, 3),
        ),
        min_size=1,
        max_size=60,
    )
)
@example(
    [
        (None, 2**39, -(2**41) - 7, 1, 2),
        (None, 2**39, 2**62, 0, 1),
        (None, -3, 2**39, 0, 0),
        (0, 1, 1, 1, 3),
        (0, 2**40, 1, 0, 1),
        (1, 0, 0, 1, 0),
    ]
)
@settings(max_examples=20, deadline=None)
def test_rank_family_matches_pure_python_per_group(spark, rows):
    """spearman_corr, mann_whitney and weighted_median per group against
    pure-Python transcriptions: NULL group keys (each NULL-keyed group is
    its own output row), heavy ties, and |x| >= 2^39."""
    from datapipeline_spark.operators.stats import (
        mann_whitney,
        spearman_corr,
        weighted_median,
    )

    df = spark.createDataFrame(rows, "g long, x long, y long, s long, w long")
    groups: dict = {}
    for g, x, y, s, w in rows:
        groups.setdefault(g, []).append((x, y, s, w))

    sp = {r.g: r for r in spearman_corr(df, "x", "y", ["g"]).collect()}
    mw = {r.g: r for r in mann_whitney(df, "x", "s", ["g"]).collect()}
    wm = {r.g: r for r in weighted_median(df, ["g"], "x", "w").collect()}
    assert set(sp) == set(mw) == set(wm) == set(groups)

    for g, grp in groups.items():
        n = len(grp)
        rx = _avg_ranks([x for x, _, _, _ in grp])
        ry = _avg_ranks([y for _, y, _, _ in grp])
        vx = n * sum(a * a for a in rx) - sum(rx) ** 2
        vy = n * sum(b * b for b in ry) - sum(ry) ** 2
        assert sp[g].n == n
        if vx == 0 or vy == 0:
            assert sp[g].spearman is None
        else:
            cov = n * sum(a * b for a, b in zip(rx, ry)) - sum(rx) * sum(ry)
            assert abs(sp[g].spearman - cov / math.sqrt(vx * vy)) < 1e-5

        n1 = sum(s for _, _, s, _ in grp)
        n0 = n - n1
        u1 = sum(r for r, (_, _, s, _) in zip(rx, grp) if s == 1) - n1 * (n1 + 1) / 2
        ties = {}
        for x, _, _, _ in grp:
            ties[x] = ties.get(x, 0) + 1
        tie = sum(t**3 - t for t in ties.values())
        assert (mw[g].n0, mw[g].n1) == (n0, n1)
        assert mw[g].u == u1
        var = n0 * n1 / 12 * ((n + 1) - tie / (n * (n - 1))) if n > 1 else 0
        if n0 == 0 or n1 == 0 or var == 0:
            assert mw[g].z is None
        else:
            assert abs(mw[g].z - (u1 - n0 * n1 / 2) / math.sqrt(var)) < 1e-5

        total = sum(w for _, _, _, w in grp)
        cum, median = 0, None
        for x, w in sorted((x, w) for x, _, _, w in grp):
            cum += w
            if cum * 2 >= total:
                median = x
                break
        assert (wm[g].weighted_median, wm[g].total_weight) == (median, total)


#: vector elements: small integers (exact zero vectors, exact ties),
#: decimals whose sums round (so accumulation order shows) and finite
#: doubles, bounded so no product or square overflows
_vec_elem = st.one_of(
    st.integers(-3, 3).map(float),
    st.sampled_from([0.1, 0.2, 0.3, -0.3, 0.4, 0.6, 0.7, 1 / 3]),
    st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
)


@st.composite
def _vector_case(draw):
    dim = draw(st.integers(1, 9))
    bands = draw(st.sampled_from([1, 2]))
    planes = bands * draw(st.integers(1, 3))
    seed = draw(st.integers(0, 2**16))
    vec = st.one_of(
        st.none(),
        st.lists(_vec_elem, min_size=dim, max_size=dim),
        st.lists(_vec_elem, min_size=dim, max_size=dim),
        st.lists(_vec_elem, min_size=0, max_size=dim + 1),
    )
    rows = draw(st.lists(st.tuples(vec, vec), min_size=1, max_size=12))
    cents = draw(
        st.lists(st.lists(_vec_elem, min_size=dim, max_size=dim), min_size=1, max_size=3)
    )
    return dim, planes, bands, seed, rows, cents


def _fold_cosine(a, b):
    """Left-to-right IEEE fold: NULL for a NULL side, a length mismatch or
    a zero norm."""
    if a is None or b is None or len(a) != len(b):
        return None
    dot = qa = qb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
        qa = qa + x * x
        qb = qb + y * y
    den = math.sqrt(qa) * math.sqrt(qb)
    return None if den == 0.0 else dot / den


@given(_vector_case())
@example(
    # NULL array, mismatched pair lengths, zero vector, length != dim
    (
        2,
        4,
        2,
        42,
        [
            (None, [1.0, 2.0]),
            ([1.0, 2.0], [1.0, 2.0, 3.0]),
            ([0.0, 0.0], [1.0, 1.0]),
            ([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
            ([1.0, -2.0], [0.5, 0.25]),
            ([3.0, -1.0], [-2.0, 7.5]),
        ],
        [[0.0, 0.0], [1.0, -1.0]],
    )
)
@example(
    # sums that round: a different accumulation order changes the bits
    (
        3,
        2,
        1,
        7,
        [
            ([0.1, 0.2, 0.3], [1.0, 1.0, 1.0]),
            ([0.2, 0.4, 0.6], [0.3, 0.2, 0.1]),
            ([0.1, 0.2, -0.3], [0.7, 1 / 3, 0.1]),
            # plane 0 of seed 7 is (+, +, -): 0.1 + 0.6 - 0.7 signs by order
            ([0.1, 0.6, 0.7], [0.4, 0.6, -0.3]),
        ],
        [[0.3, 0.1, 0.2], [1 / 3, 0.7, -0.3]],
    )
)
@settings(max_examples=10, deadline=None)
def test_vector_kernels_match_pure_python_fold(spark, case):
    """The Arrow vector kernels of similarity/ann.py against pure-Python
    left-to-right folds, bit for bit: the cosine, the sign-LSH signature
    (a NULL or wrong-length row signs 0), the squared centroid distances
    (NULL array for a NULL or wrong-length row) and the in-bucket pair
    scores of `lsh_similar_pairs` (rounded half-up to 4 places by Spark)."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from datapipeline_spark.similarity import (
        cosine_similarity_np,
        lsh_similar_pairs,
        random_hyperplane_signature,
    )
    from datapipeline_spark.similarity.ann import _centroid_dists

    dim, planes, bands, seed, pairs, cents = case
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "vec_id long, a array<double>, b array<double>",
    )
    got = {
        r.vec_id: r
        for r in random_hyperplane_signature(df, "a", dim, planes, seed)
        .select(
            "vec_id",
            cosine_similarity_np(F.col("a"), F.col("b")).alias("cos"),
            "rh_sig",
            _centroid_dists("a", cents).alias("dists"),
        )
        .collect()
    }

    rng = random.Random(seed)
    hyper = [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(planes)
    ]
    sigs = {}
    for i, (a, b) in enumerate(pairs):
        ok = a is not None and len(a) == dim
        sig = 0
        if ok:
            for p, plane in enumerate(hyper):
                acc = 0.0
                for x, s in zip(a, plane):
                    acc = acc + x if s > 0 else acc - x
                sig |= int(acc > 0) << p
        dists = None
        if ok:
            dists = []
            for c in cents:
                acc = 0.0
                for x, cj in zip(a, c):
                    t = x - cj
                    acc = acc + t * t
                dists.append(acc)
        assert got[i].cos == _fold_cosine(a, b)
        assert got[i].rh_sig == sig
        assert got[i].dists == dists
        if ok:
            sigs[i] = sig

    bits = planes // bands
    want = {}
    for i in sigs:
        for j in sigs:
            shared = any(
                (sigs[i] >> (k * bits)) & ((1 << bits) - 1)
                == (sigs[j] >> (k * bits)) & ((1 << bits) - 1)
                for k in range(bands)
            )
            cos = _fold_cosine(pairs[i][0], pairs[j][0]) if i < j and shared else None
            if cos is not None:
                want[(i, j)] = float(
                    Decimal(repr(cos)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
                )
    scored = lsh_similar_pairs(
        df, vec_col="a", threshold=-2.0, dim=dim, planes=planes, bands=bands, seed=seed
    )
    assert {(r.id_a, r.id_b): r.cosine for r in scored.collect()} == want
