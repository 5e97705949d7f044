#!/usr/bin/env python3
"""Record the content served by the project_serve workload, per seed.

    python3 perfbench/record_digests.py --seeds 0-39

Serves the seed's generated project once per seed and writes the row count
of each role and the content digest to ``perfbench/serve_digests.json``. A
project_serve run whose seed is listed there must serve exactly that
content. Record again only with a change that is meant to alter the served
values, and say so in that change.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 0-39")
    args = ap.parse_args(argv)
    first, _, last = args.seeds.partition("-")
    seeds = range(int(first), int(last or first) + 1)

    sys.path.insert(0, str(ROOT))
    from perfbench import gen, workloads
    from perfbench.run import WORK, pin_engine_settings

    pin_engine_settings()
    out_path = Path(__file__).with_name("serve_digests.json")
    recorded = json.loads(out_path.read_text(encoding="utf-8")) if out_path.is_file() else {}
    spark = workloads.start_session()
    try:
        for seed in seeds:
            root = gen.make_sensor_project(
                workloads.fresh_dir(WORK / "projects" / f"record{seed}"),
                seed,
                workloads.PROJECT_SITES,
                workloads.PROJECT_DAYS,
            )
            run = workloads.Run(WORK, "record", seed, 0, False)
            workloads.serve_checked(run, spark, root, "record", {}, {})
            recorded[str(seed)] = {
                "rows": run.detail["rows_per_role"],
                "sha256": run.detail["content_sha256"],
            }
            shutil.rmtree(root)
            print(seed, recorded[str(seed)], flush=True)
    finally:
        workloads.close_session(spark)
    lines = [f"  {json.dumps(k)}: {json.dumps(recorded[k])}" for k in sorted(recorded, key=int)]
    out_path.write_text("{\n" + ",\n".join(lines) + "\n}\n", encoding="utf-8")
    return 0


if __name__ == "__main__":
    sys.exit(main())
