"""The benchmark's workloads: what one run does, times and checks.

Both workloads are closed loops with one client: one Python process driving
one ``local[<cores>]`` session, each operation starting when the previous
one has returned.

- ``registry_mix``: a fixed, stratified list of registry queries over the
  generated sf0.1 tables, in an order shuffled by the seed. An operation
  is one query: construct the DataFrame, execute it and collect the result
  to the driver. Every result is compared with the digest of the query's
  DuckDB oracle, outside the timed window.
- ``project_serve``: a seeded sensor project. One cycle runs the four user
  calls in order: ``api.serve`` (parquet outputs), ``build_artifacts``
  with ``force=True``, ``build_artifacts`` again when every artifact is
  fresh, and ``api.iter_model_batches`` over the train role. Outputs are
  checked after each call, outside the timed window.

A traced run splits each operation at the public calls it makes into the
engine's layers and reads Spark's status store per operation (see
``measure.Tracer``).
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager
from pathlib import Path
from typing import Callable

from perfbench import gen, measure, oracle

#: Fixed registry list, stratified across the registry's families.
REGISTRY_MIX = [
    # TPC-H / relational
    "q3_shipping_priority",
    "q13_order_distribution",
    "q14_promo_share",
    "anti_join_customers",
    # statistics (weighted_median_price is one of the heavy rank queries)
    "weighted_median_price",
    "pearson_qty_discount",
    # window / time series
    "seasonal_naive_mae",
    "longest_activity_streak",
    # text / dedup / similarity
    "exact_dedup",
    "knn_cosine",
    # graph
    "bfs_parts",
]

#: Session warm-up of the registry workloads (bench.py's three queries).
REGISTRY_WARMUP = ("q1_pricing_summary", "lag_lead", "semi_join_customers")

#: Seed of the registry tables: the tables are one fixed dataset, the run
#: seed orders the queries.
TABLE_SEED = 42

#: Seconds of --seconds per timed registry pass and per project cycle; a run
#: does --seconds divided by these (rounded, at least one), so the work in a
#: run depends on --seconds only. At --seconds 10 each query has one timed
#: sample (a pass takes about 8 s on 4 cores) and the project one cycle
#: (about 45 s): a run's time moves with the host as a whole, and a second
#: pass or cycle did not narrow the spread between runs.
REGISTRY_PASS_S = 10.0
PROJECT_CYCLE_S = 45.0

#: The skip path takes well under a second; it runs this many times per
#: cycle and reports the median.
FRESH_REPEATS = 3

#: Sensor project size: sites x days of hourly readings (36k site-hours).
#: The workload was specified from a 250-site, 30-day prototype; a run's
#: time is mostly per-job overhead that does not shrink with the data (on
#: 4 cores a run took about 110 s at 250 sites, 79 s at 125 and 74 s at
#: 100), and the runs of both workloads have to fit the benchmark's
#: schedule of about 3,400 s.
PROJECT_SITES = 50
PROJECT_DAYS = 30

FEATURES = ["temp", "temp_roll6", "temp_lag1", "load", "load_roll6", "temp_minus_outside"]
SCALED = ["temp", "temp_roll6", "temp_lag1", "load", "load_roll6"]
TARGETS = ["load_next3"]
ROLES = ("train", "validation", "test")


class Mismatch(Exception):
    """An operation returned, but its output is wrong."""


class Run:
    """One benchmark run: its settings, op records, layer sums and tracer."""

    def __init__(self, work: Path, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = measure.Tracer(trace)
        self.ops: list[dict] = []
        self.layers: dict[str, float] = {}
        self.setup: dict = {}  # start_s, warmup_s, total_s of the set-up
        self.spark = None  # the session, once it is up
        self.op_medians: dict[str, float] = {}  # op → median timed wall
        self.detail: dict = {}
        self._wall = 0.0
        results = work / "results"
        results.mkdir(parents=True, exist_ok=True)
        stem = f"{workload}-seed{seed}-trace{int(trace)}"
        self.partial = results / f"{stem}.jsonl"
        self.partial.write_text("", encoding="utf-8")
        self.trace_path = work / "traces" / f"{stem}.json"

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    @contextmanager
    def window(self):
        """A part of the current operation that counts as its time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._wall += time.perf_counter() - t0

    def attempt(self, name: str, kind: str, timed: bool, fn: Callable[[], None]) -> None:
        """Run one operation; ``fn`` times its work in ``window()`` blocks
        and raises on a failure or a wrong output. Each record is appended
        to the partial results file as soon as the operation ends."""
        self._wall = 0.0
        try:
            fn()
        except Exception as e:  # the run goes on; the failure is counted
            self.failed(name, kind, e, timed)
            return
        self._record({"op": name, "kind": kind, "timed": timed, "ok": True, "wall_s": self._wall, "error": None})

    def failed(self, name: str, kind: str, error: Exception, timed: bool = False) -> None:
        """Record a failed operation: an exception, or a wrong output."""
        if isinstance(error, Mismatch):
            msg = f"mismatch: {error}"
        else:
            msg = f"{type(error).__name__}: {str(error)[:500]}"
            traceback.print_exception(error)
        self._record({"op": name, "kind": kind, "timed": timed, "ok": False, "wall_s": None, "error": msg})

    def _record(self, rec: dict) -> None:
        self.ops.append(rec)
        with self.partial.open("a", encoding="utf-8") as f:
            f.write(json.dumps(rec) + "\n")


# --------------------------------------------------------------------------- #
# session
# --------------------------------------------------------------------------- #


def start_session():
    from datapipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(run: Run, imports_s: float, warmup: Callable) -> bool:
    """The cold set-up, one per process: start the session (its time plus
    ``imports_s``, the engine imports already done) and warm it up. Recorded
    as an operation of kind ``setup``, so a failure is counted; returns
    whether the session is up and warm."""

    def fn() -> None:
        t0 = time.perf_counter()
        with run.tracer.span("session.start"):
            run.spark = start_session()
        t1 = time.perf_counter()
        with run.tracer.span("session.warmup"):
            warmup(run.spark)
        t2 = time.perf_counter()
        start_s = imports_s + t1 - t0
        run.setup = {"start_s": start_s, "warmup_s": t2 - t1, "total_s": start_s + t2 - t1}

    run.attempt("setup", "setup", False, fn)
    return bool(run.setup)


def close_session(spark) -> None:
    """Stop the session, if any, and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


# --------------------------------------------------------------------------- #
# registry_mix
# --------------------------------------------------------------------------- #


def _sha256(text: str | bytes) -> str:
    return hashlib.sha256(text.encode() if isinstance(text, str) else text).hexdigest()


def tables_key(oracle_sql: dict[str, str]) -> dict:
    """What the generated tables and their oracle digests depend on: the
    table seed, the sources of the generator and of the result
    normalization, and every listed query's oracle SQL."""
    return {
        "seed": TABLE_SEED,
        "sources": {
            Path(f).name: _sha256(Path(f).read_bytes())
            for f in (gen.__file__, oracle.__file__, oracle.CHECKER)
        },
        "oracle_sql": {n: _sha256(oracle_sql[n]) for n in REGISTRY_MIX},
    }


def prepare_tables(work: Path, oracle_sql: dict[str, str]) -> tuple[Path, dict[str, dict]]:
    """Generate the registry tables and their oracle digests once per
    checkout; later runs reuse them while ``tables_key`` is unchanged."""
    tables = work / "tables"
    stamp = tables / "oracle.json"
    key = tables_key(oracle_sql)
    if stamp.is_file():
        saved = json.loads(stamp.read_text(encoding="utf-8"))
        if saved.get("key") == key:
            return tables, saved["digests"]
    if tables.exists():
        shutil.rmtree(tables)
    gen.make_tables(tables, TABLE_SEED)
    digests = oracle.oracle_digests(str(tables), REGISTRY_MIX, oracle_sql)
    stamp.write_text(json.dumps({"key": key, "digests": digests}), encoding="utf-8")
    return tables, digests


def registry_mix(run: Run) -> None:
    t0 = time.perf_counter()
    import __spark_entry__ as entry

    queries = entry.queries()
    imports_s = time.perf_counter() - t0
    # input generation is not part of the set-up
    tables, expected = prepare_tables(run.work, entry.oracle_sql())

    def warmup(spark) -> None:
        for name in REGISTRY_WARMUP:
            queries[name](spark, str(tables)).write.format("noop").mode("overwrite").save()

    if not set_up(run, imports_s, warmup):
        return
    spark = run.spark
    rng = random.Random(run.seed)
    passes = max(1, round(run.seconds / REGISTRY_PASS_S))
    for p in range(1 + passes):
        # pass 0 runs each query once in list order, so every query's first
        # execution (code generation, first-use JIT) is paid before timing
        # starts, whatever the seed; its outputs are checked like the rest
        order = list(REGISTRY_MIX)
        if p:
            rng.shuffle(order)
        for name in order:
            run.attempt(
                name,
                "query",
                timed=p > 0,
                fn=lambda n=name: _query(run, spark, queries[n], str(tables), n, expected[n]),
            )
    walls = [o["wall_s"] for o in run.ops if o["timed"] and o["ok"]]
    tail = measure.tail_percentile(len(walls))
    run.detail.update(queries=len(REGISTRY_MIX), timed_passes=passes)
    if walls:
        run.detail.update(
            query_p50_s=statistics.median(walls),
            query_tail={"p": tail, "s": measure.percentile(walls, tail) if tail else None, "n": len(walls)},
        )
    for name in REGISTRY_MIX:
        _op_medians(run, name, "op")


def _query(run: Run, spark, fn, tables: str, name: str, expected: dict) -> None:
    tr = run.tracer
    with tr.span(f"query:{name}"):
        group = tr.group(spark, name)
        df = _timed(run, "queries.construct_s", lambda: fn(spark, tables))
        construct_jobs = tr.job_count(spark, group)
        if tr.enabled:
            # toPandas reuses this plan, so planning is not done twice
            _timed(run, "catalyst.plan_s", lambda: df._jdf.queryExecution().executedPlan())
        pdf = _timed(run, "spark.execute_s", df.toPandas)
        stats = tr.readout(spark, group)
    if tr.enabled:
        run.add("queries.construct_jobs", construct_jobs)
        _add_spark(run, stats)
    got = oracle.digest(pdf)
    if got != expected:
        raise Mismatch(
            f"{name}: {got['rows']} rows {got['sha256'][:12]} != "
            f"oracle {expected['rows']} rows {expected['sha256'][:12]}"
        )


# --------------------------------------------------------------------------- #
# project_serve
# --------------------------------------------------------------------------- #


def project_serve(run: Run) -> None:
    t0 = time.perf_counter()
    from datapipeline_spark import api

    imports_s = time.perf_counter() - t0
    # input generation is not part of the set-up
    projects = run.work / "projects"
    warm_root = gen.make_tiny_project(fresh_dir(projects / "warmup"), 0)
    root = gen.make_sensor_project(
        fresh_dir(projects / "current"), run.seed, PROJECT_SITES, PROJECT_DAYS
    )

    def warmup(spark) -> None:
        api.serve(spark, warm_root, run_id="warmup")

    if not set_up(run, imports_s, warmup):
        return
    spark = run.spark
    cycles = max(1, round(run.seconds / PROJECT_CYCLE_S))
    digests = _recorded_digests()
    for c in range(cycles):
        served: dict = {}
        run.attempt("serve", "serve", True, lambda: serve_checked(run, spark, root, f"cycle{c}", served, digests))
        run.attempt("artifacts_force", "artifacts_force", True, lambda: _artifacts(run, spark, root, force=True))
        for _ in range(FRESH_REPEATS):
            run.attempt(
                "artifacts_fresh", "artifacts_fresh", True, lambda: _artifacts(run, spark, root, force=False)
            )
        run.attempt("feed", "feed", True, lambda: _feed(run, spark, root, served))
    for kind in ("serve", "artifacts_force", "artifacts_fresh", "feed"):
        _op_medians(run, kind, "kind")
    rows, feed_s = run.detail.get("feed_rows"), run.op_medians.get("feed")
    if rows and feed_s:
        run.detail["feed_rows_per_s"] = rows / feed_s


def fresh_dir(path: Path) -> Path:
    if path.exists():
        shutil.rmtree(path)
    return path


def serve_checked(run: Run, spark, root: Path, run_id: str, served: dict, digests: dict) -> None:
    """``api.serve``; traced, the same public calls it makes, one by one."""
    from datapipeline_spark import api

    if run.tracer.enabled:
        written = _serve_traced(run, spark, root, run_id)
    else:
        with run.window():
            written = api.serve(spark, root, run_id=run_id)
    served.update(_check_outputs(run, written, digests))


def _serve_traced(run: Run, spark, root: Path, run_id: str) -> dict:
    from datapipeline_spark.io.writers import run_output_path, write_parquet
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    tr = run.tracer
    with tr.span("op:serve"):
        group = tr.group(spark, "serve")
        defn = _timed(run, "plans.load_s", lambda: load_project(root))
        compiled = _timed(run, "plans.compile_s", lambda: compile_project(spark, defn))
        build = _timed(run, "plans.dataset_build_s", lambda: build_dataset(compiled))
        run.add("plans.dataset_build_jobs", tr.job_count(spark, group))
        outputs = _timed(run, "plans.outputs_s", build.outputs)
        _add_spark(run, tr.readout(spark, group))
        written = {}
        for (fold, role), df in sorted(outputs.items()):
            path = run_output_path(str(root / "output"), run_id, "dataset", fold, role, ext="parquet")
            t0 = time.perf_counter()
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t0
            # the write plans its own command again: timing this plan is
            # work the untraced serve does not do
            tr.overhead_s += plan_s
            run.add("catalyst.plan_s", plan_s)
            wgroup = tr.group(spark, f"write:{fold}.{role}")
            _timed(run, "io.write_s", lambda: write_parquet(df, path))
            stats = tr.readout(spark, wgroup)
            _add_spark(run, stats)
            run.add("io.write_jobs", stats["jobs"])
            run.add("io.rows_written", stats["outputRecords"])
            run.add("io.mb_written", stats["outputBytes"] / measure.MB)
            run.add("io.files_written", sum(1 for p in Path(path).glob("part-*")))
            written[(fold, role)] = path
    return written


def _timed(run: Run, layer: str, fn: Callable):
    """Call ``fn`` as part of the operation's time, inside a span named
    after the layer metric; add its wall time to the layer when tracing."""
    with run.tracer.span(layer.rsplit("_", 1)[0]), run.window():
        t0 = time.perf_counter()
        value = fn()
        dt = time.perf_counter() - t0
    if run.tracer.enabled:
        run.add(layer, dt)
    return value


def _artifacts(run: Run, spark, root: Path, force: bool) -> None:
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.artifacts import build_artifacts

    tr = run.tracer
    name = "artifacts_force" if force else "artifacts_fresh"
    with tr.span(f"op:{name}"):
        group = tr.group(spark, name)
        defn = _timed(run, "plans.load_s", lambda: load_project(root))
        compiled = _timed(run, "plans.compile_s", lambda: compile_project(spark, defn))
        results = _timed(run, "artifacts.build_s", lambda: build_artifacts(compiled, force=force))
        _add_spark(run, tr.readout(spark, group))
    skipped = sum(r.skipped for r in results.values())
    ratio = skipped / len(results) if results else math.nan
    if tr.enabled:
        run.add("artifacts.built", len(results) - skipped)
        run.add("artifacts.skipped", skipped)
        if not force:
            run.layers["artifacts.fresh_skip_ratio"] = ratio
    want = 0.0 if force else 1.0
    if not results or ratio != want:
        raise Mismatch(f"{name}: skip ratio {ratio} over {len(results)} artifacts, want {want}")
    run.detail[f"{name}_skip_ratio"] = ratio


def _feed(run: Run, spark, root: Path, served: dict) -> None:
    import numpy as np

    from datapipeline_spark import api

    tr = run.tracer
    with tr.span("op:feed"):
        group = tr.group(spark, "feed")
        batches = _timed(
            run, "api.feed_s", lambda: list(api.iter_model_batches(spark, root, fold="main", role="train"))
        )
        _add_spark(run, tr.readout(spark, group))
    rows = sum(b.features.shape[0] for b in batches)
    if tr.enabled:
        run.add("api.batches", len(batches))
        run.add("api.rows", rows)
    run.detail["feed_rows"] = rows
    train = served.get("train")
    if train is None:
        raise Mismatch("feed: serve produced no train output to compare with")
    cols = batches[0].columns
    got = np.concatenate([b.features for b in batches]).astype(np.float32)
    want = train[cols].to_numpy(dtype=np.float32)
    if got.shape != want.shape or not np.array_equal(_sorted_rows(got), _sorted_rows(want)):
        raise Mismatch(f"feed: {got.shape} batch rows differ from served train {want.shape}")


def _sorted_rows(m):
    import numpy as np

    return m[np.lexsort(m.T[::-1])]


def _check_outputs(run: Run, written: dict, digests: dict) -> dict:
    """Served outputs: one per role, the expected columns, finite values,
    unique (site, time), times inside the role's split interval, train
    features scaled, and the content digest recorded for this seed."""
    import numpy as np
    import pandas as pd

    want_keys = {("main", r) for r in ROLES}
    if set(written) != want_keys:
        raise Mismatch(f"serve wrote {sorted(written)}, want {sorted(want_keys)}")
    frames = {role: pd.read_parquet(written[("main", role)]) for role in ROLES}
    cols = {"site", "time", *FEATURES, *TARGETS}
    val_start, test_start = gen.split_bounds(PROJECT_DAYS)
    bounds = {
        "train": (None, val_start),
        "validation": (val_start, test_start),
        "test": (test_start, None),
    }
    for role, df in frames.items():
        if set(df.columns) != cols:
            raise Mismatch(f"{role}: columns {sorted(df.columns)}, want {sorted(cols)}")
        if df.empty:
            raise Mismatch(f"{role}: no rows")
        values = df[FEATURES + TARGETS].to_numpy(dtype=np.float64)
        if not np.isfinite(values).all():
            raise Mismatch(f"{role}: non-finite feature or target values")
        if df.duplicated(["site", "time"]).any():
            raise Mismatch(f"{role}: duplicate (site, time) samples")
        lo, hi = bounds[role]
        t = pd.to_datetime(df["time"], utc=True)
        if (lo is not None and (t < lo).any()) or (hi is not None and (t >= hi).any()):
            raise Mismatch(f"{role}: sample times outside its split interval")
    train = frames["train"][SCALED].to_numpy(dtype=np.float64)
    if np.abs(train.mean(axis=0)).max() > 0.05 or np.abs(train.std(axis=0) - 1).max() > 0.05:
        raise Mismatch("train: scaled features are not centred with unit variance")
    rows = {role: len(df) for role, df in frames.items()}
    # 6 digits: a last-bit difference in a scaler sum must not flip a digit
    content = oracle.digest(pd.concat([frames[r].assign(role=r) for r in ROLES]), 6)["sha256"]
    run.detail.update(rows_per_role=rows, content_sha256=content)
    recorded = digests.get(str(run.seed))
    run.detail["digest_recorded"] = recorded is not None
    if recorded is not None and (recorded["rows"] != rows or recorded["sha256"] != content):
        raise Mismatch(f"served content {rows} {content[:12]} != recorded {recorded}")
    return frames


def _recorded_digests() -> dict:
    """Served-content digests recorded per seed (seed → rows, sha256)."""
    path = Path(__file__).with_name("serve_digests.json")
    return json.loads(path.read_text(encoding="utf-8")) if path.is_file() else {}


# --------------------------------------------------------------------------- #
# shared
# --------------------------------------------------------------------------- #


def _op_medians(run: Run, value: str, field: str) -> None:
    """Median timed wall of the operations whose ``field`` is ``value``
    (one query, or one kind of project call)."""
    walls = [o["wall_s"] for o in run.ops if o["timed"] and o["ok"] and o[field] == value]
    if walls:
        run.op_medians[value] = statistics.median(walls)


def _add_spark(run: Run, stats: dict) -> None:
    if not stats:
        return
    run.add("spark.jobs", stats["jobs"])
    run.add("spark.stages", stats["stages"])
    run.add("spark.tasks", stats["tasks"])
    run.add("spark.exec_s", stats["job_wall_s"])
    run.add("spark.executor_run_s", stats["executorRunTime"] / 1000)
    run.add("spark.executor_cpu_s", stats["executorCpuTime"] / 1e9)
    run.add("spark.shuffle_read_mb", stats["shuffleReadBytes"] / measure.MB)
    run.add("spark.shuffle_write_mb", stats["shuffleWriteBytes"] / measure.MB)
    run.add("spark.spill_mb", (stats["memoryBytesSpilled"] + stats["diskBytesSpilled"]) / measure.MB)


WORKLOADS = {"registry_mix": registry_mix, "project_serve": project_serve}
