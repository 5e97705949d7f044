#!/usr/bin/env python
"""Differential artifact for the ONE rows-only registry entry (ivf_knn):
the learned k-means quantizer is not SQL-expressible, so its evidence is a
differential against exact brute force instead of a DuckDB hash (the
BPE-merge precedent, promoted to an on-disk artifact per the round-6
verdict item 7). The round-7 record, DIFFERENTIAL_ivf_r7.json, is kept in
git history (`git show 2ed05b6:DIFFERENTIAL_ivf_r7.json`); rerun this tool
for a current one.

Per SF it records:
- full_probe_exact: ivf_knn at nprobe == n_centroids returns EXACTLY the
  brute-force top-k (the quantizer cannot change the candidate set when
  every inverted list is probed — approximation structure verified exact);
- recall_at_k: fraction of brute-force top-k hits recovered at the
  registry's production setting (nprobe=3 of 8) — the honest
  approximation number, asserted >= RECALL_BOUND;
- centroids_deterministic: fit twice with the fixed seed, byte-equal.

Usage: python tools/ivf_differential.py [--out DIFFERENTIAL_ivf.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "16")

# nprobe=3/8 on the driver's SYNTHETIC embeddings, which are near-random
# (neighbors scatter across inverted lists — the hard case for IVF);
# measured 0.57/0.83/0.67 at sf0.01/0.001/0.1. Real clustered corpora
# recall far higher; the bound pins "the probe path works", the full-probe
# EXACTNESS above pins the structure.
RECALL_BOUND = 0.5

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="DIFFERENTIAL_ivf.json")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from datapipeline_spark.session import get_spark
    from datapipeline_spark.similarity import (
        brute_force_knn,
        fit_ivf_centroids,
        ivf_knn,
    )
    from datapipeline_spark.tables import load_table

    spark = get_spark(app_name="ivf-differential")
    out: dict = {"metric": "ivf_learned_quantizer_differential", "sfs": {}}
    ok = True
    for sf_dir in SF_DIRS:
        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 10)
        brute = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
            for r in brute_force_knn(e, q, k=3).collect()
        }
        full = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
            for r in ivf_knn(e, q, n_centroids=8, nprobe=8, k=3).collect()
        }
        full_exact = full == brute
        brute_sets = {}
        for (qid, _rank), (nid, _s) in brute.items():
            brute_sets.setdefault(qid, set()).add(nid)
        probe = ivf_knn(e, q, n_centroids=8, nprobe=3, k=3).collect()
        hits = sum(
            1 for r in probe if r["neighbor_id"] in brute_sets.get(r["query_id"], set())
        )
        denom = sum(len(s) for s in brute_sets.values())
        recall = hits / denom if denom else 1.0
        deterministic = fit_ivf_centroids(e, n_centroids=8, seed=42) == (
            fit_ivf_centroids(e, n_centroids=8, seed=42)
        )
        rec = {
            "full_probe_exact": full_exact,
            "recall_at_3_nprobe3": round(recall, 4),
            "recall_bound": RECALL_BOUND,
            "centroids_deterministic": deterministic,
            "n_queries": len(brute_sets),
        }
        out["sfs"][sf_dir] = rec
        ok = ok and full_exact and recall >= RECALL_BOUND and deterministic
        print(sf_dir, rec, flush=True)
    out["pass"] = ok
    with open(args.out, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
