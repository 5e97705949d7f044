#!/usr/bin/env python
"""Round-8 bench protocol (VERDICT r07 "What's wrong" #2: best-of-session
is not a defensible headline). Runs N COLD full benches (fresh process per
run), logs a single-core phase probe and a 16-way parallel throughput probe
immediately before each run, and writes:

  <out>_run<i>.json   one per cold run (bench.py stdout + probes, its
                      return code and stderr)
  <out>.json          the runs ranked by total, the MEDIAN run's parsed
                      bench line, all probe readings and the failed runs

A run fails when bench.py exits non-zero, prints nothing, or its last line
is not a bench JSON object; the failure and its stderr are recorded, the
remaining runs still go ahead, and the median is taken over the runs that
finished. The exit status is 1 if any run failed.

The probe pair distinguishes ambient multi-core throughput phases (single
core flat, parallel scaling degraded — the round-7 finding) from plain CPU
contention. Usage:
  python tools/bench_protocol.py --out BENCH_protocol [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def probe() -> dict:
    """Single-core loop time + 16-way parallel wall for the same loop."""
    src = "t0=__import__('time').time()\ns=0\nfor i in range(10_000_000): s+=i\nprint(__import__('time').time()-t0)"
    t0 = time.time()
    one = float(subprocess.run([sys.executable, "-c", src], capture_output=True,
                               text=True).stdout.strip())
    procs = [subprocess.Popen([sys.executable, "-c", src], stdout=subprocess.DEVNULL)
             for _ in range(16)]
    t0 = time.time()
    for p in procs:
        p.wait()
    par = time.time() - t0
    return {"single_core_10m_s": round(one, 3), "par16_wall_s": round(par, 3)}


def run_bench(cmd: list[str]) -> dict:
    """Run one cold bench process. Returns its wall time, return code and
    stderr, plus ``total_s``/``bench`` parsed from the last stdout line, or
    ``error`` when the run failed."""
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    rec = {"process_wall_s": round(time.time() - t0, 1),
           "returncode": proc.returncode, "stderr": proc.stderr}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0:
        rec["error"] = f"bench exited with {proc.returncode}"
    elif not lines:
        rec["error"] = "bench printed nothing on stdout"
    else:
        try:
            parsed = json.loads(lines[-1])
            rec.update(total_s=parsed["value"], bench=parsed)
        except (json.JSONDecodeError, KeyError, TypeError) as exc:
            rec["error"] = f"unparseable bench line {lines[-1][:200]!r}: {exc}"
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    runs = []
    failed = []
    bench = [sys.executable, os.path.join(ROOT, "bench.py")]
    for i in range(1, args.runs + 1):
        pr = probe()
        rec = {"run": i, "probe": pr, **run_bench(bench)}
        with open(os.path.join(ROOT, f"{args.out}_run{i}.json"), "w") as fh:
            json.dump(rec, fh, indent=1)
        if "error" in rec:
            failed.append(rec)
            print(f"run {i}: FAILED ({rec['error']}); stderr kept in "
                  f"{args.out}_run{i}.json", file=sys.stderr, flush=True)
            continue
        runs.append(rec)
        print(f"run {i}: total={rec['total_s']}s probe={pr}", flush=True)

    summary = {
        "protocol": f"median of {args.runs} cold runs (fresh process each), "
                    "phase probe before each",
        "failed_runs": [{"run": r["run"], "error": r["error"]} for r in failed],
    }
    if runs:
        by_total = sorted(runs, key=lambda r: r["total_s"])
        median = by_total[len(by_total) // 2]
        summary.update(
            totals_s=[r["total_s"] for r in runs],
            probes=[r["probe"] for r in runs],
            median_run=median["run"],
            median_total_s=median["total_s"],
            bench=median["bench"],
        )
    with open(os.path.join(ROOT, f"{args.out}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    if not runs:
        print(f"all {args.runs} runs failed -> {args.out}.json", file=sys.stderr)
        sys.exit(1)
    print(f"median run {median['run']} of {len(runs)} finished: "
          f"{median['total_s']}s -> {args.out}.json")
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
