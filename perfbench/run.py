#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones of a traced run, whose spans are written under
``perfbench/work/traces/``. The line before it (``{"detail": ...}``) holds
the pinned settings and the per-operation figures behind the metrics.

Exit status 0 when every operation succeeded and every output was correct;
1 when any operation failed or returned a wrong output (the result line is
still printed, and each finished operation is kept in
``perfbench/work/results/``); 2 when the engine is not there to run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "work"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.jobs_per_op": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_ratio": "ratio",
    "plans.load_s": "s",
    "plans.compile_s": "s",
    "plans.dataset_build_s": "s",
    "plans.dataset_build_jobs": "count",
    "plans.outputs_s": "s",
    "artifacts.build_s": "s",
    "artifacts.built": "count",
    "artifacts.skipped": "count",
    "artifacts.fresh_skip_ratio": "ratio",
    "io.write_s": "s",
    "io.write_jobs": "count",
    "io.rows_written": "count",
    "io.mb_written": "MB",
    "io.files_written": "count",
    "api.feed_s": "s",
    "api.batches": "count",
    "api.rows": "count",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def pin_engine_settings() -> dict[str, str]:
    """Engine settings of every run: bench.py's hash mode and shuffle
    partitions, local[<cores>], and every scratch path inside the work
    directory. Overrides inherited from the environment are dropped."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k == "SPARK_MASTER":
            del os.environ[k]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SHUFFLE": "16",
        "SPARK_GRAFT_HASH_MODE": "fast",
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_GRAFT_EXTRA_CONF": (
            "spark.ui.showConsoleProgress=false;"
            f"spark.sql.warehouse.dir={WORK / 'warehouse'}"
        ),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(pinned)
    return pinned


def end_to_end(run) -> dict[str, float]:
    """setup_s: the run's cold set-up, engine imports to warm session.
    pass_s: the sum, over the workload's operations, of each one's median
    timed wall time. A metric whose operations failed is left out."""
    out = {}
    if run.setup:
        out["setup_s"] = run.setup["total_s"]
    if run.op_medians:
        out["pass_s"] = math.fsum(run.op_medians.values())
    return out


def per_layer(run, cores: int, peak_mb: float) -> dict[str, float]:
    lay = {k: run.layers.get(k, 0.0) for k in PER_LAYER}
    lay["driver.peak_rss_mb"] = peak_mb
    lay["session.start_s"] = run.setup.get("start_s", 0.0)
    lay["session.warmup_s"] = run.setup.get("warmup_s", 0.0)
    ops = [o for o in run.ops if o["ok"] and o["kind"] != "setup"]
    if ops:
        lay["spark.jobs_per_op"] = lay["spark.jobs"] / len(ops)
    if lay["spark.exec_s"] > 0:
        lay["spark.busy_ratio"] = lay["spark.executor_run_s"] / (cores * lay["spark.exec_s"])
    work = math.fsum(o["wall_s"] for o in ops)
    if work > 0:
        lay["trace.overhead_ratio"] = (work + run.tracer.overhead_s) / work
    return lay


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = ("datapipeline_spark/__init__.py", "__spark_entry__.py", "tools/check_correctness.py")
    missing = [n for n in needed if not (ROOT / n).is_file()]
    if missing:
        print(f"engine sources not found under {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    pinned = pin_engine_settings()

    from perfbench import measure, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = workloads.Run(WORK, args.workload, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception as e:  # counted, so the result line is still printed
            run.failed("workload", "workload", e)
        peak_mb = measure.peak_rss_mb(measure.driver_pids())
    finally:
        workloads.close_session(run.spark)
    cores = int(pinned["SPARK_GRAFT_CPUS"])
    if args.trace:
        run.tracer.write(run.trace_path)
        metrics = per_layer(run, cores, peak_mb)
        units = PER_LAYER
    else:
        metrics = end_to_end(run)
        units = END_TO_END

    failed = [o for o in run.ops if not o["ok"]]
    run.detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        settings={k: v for k, v in pinned.items() if k.startswith("SPARK_GRAFT_")},
        setup=run.setup,
        op_median_s=run.op_medians,
        op_geomean_s=measure.geomean(list(run.op_medians.values())) if run.op_medians else None,
        peak_rss_mb=peak_mb,
        run_wall_s=time.perf_counter() - t0,
        errors=[f"{o['op']}: {o['error']}" for o in failed],
    )
    if args.trace:
        run.detail["spans"] = str(run.trace_path.relative_to(ROOT))
    print(json.dumps({"detail": run.detail}, default=float))
    result = {
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
