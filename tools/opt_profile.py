#!/usr/bin/env python
"""Optimization-round profiler: time single queries exactly the way bench.py
does (rebuild per timed run, noop sink, min-of-N) and optionally dump their
`.explain("formatted")` to plans/<round>/<name>_<tag>.txt.

Usage:
  python tools/opt_profile.py q1 q2 ...            # time, min-of-3
  python tools/opt_profile.py --runs 5 q1
  python tools/opt_profile.py --dump before q1 q2  # also write plan files
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "16")
os.environ.setdefault("SPARK_GRAFT_HASH_MODE", "fast")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--dump", default=None, help="tag: write plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--plans-dir", default="plans/r08")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from datapipeline_spark.session import get_spark

    spark = get_spark(app_name="opt_profile")
    qs = entry.queries()

    # absorb session JIT like bench.py
    if not args.no_warm:
        for wname in ("q1_pricing_summary", "lag_lead", "semi_join_customers"):
            qs[wname](spark, args.sf_dir).write.format("noop").mode("overwrite").save()

    out = {}
    for name in args.names:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP {name}: not in registry", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"opt:{name}")
        t0 = time.time()
        df = fn(spark, args.sf_dir)
        build0 = time.time() - t0
        if args.dump:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            p = Path(args.plans_dir) / f"{name}_{args.dump}.txt"
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(plan)
        df.write.format("noop").mode("overwrite").save()  # warm run, discarded
        del df
        best, builds = float("inf"), []
        for _ in range(args.runs):
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            tb = time.time() - t0
            df.write.format("noop").mode("overwrite").save()
            tt = time.time() - t0
            builds.append(round(tb, 3))
            best = min(best, tt)
            del df
        out[name] = {
            "best_s": round(best, 3),
            "build_cold_s": round(build0, 3),
            "build_warm_s": builds,
        }
        print(f"{name}: best={best:.3f}s build_cold={build0:.2f} builds={builds}",
              flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
