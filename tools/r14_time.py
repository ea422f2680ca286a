"""Targeted per-query timing for the r14 optimization round.

Times named queries (min-of-N count() actions, bench methodology) plus the
frozen canary trio, in one session, and prints a compact JSON map — used
for before/after A/B evidence in OPTIMIZATION_r14.md. Does NOT write the
tracked bench sidecars.

Run: python tools/r14_time.py [--reps 5] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from bench import CANARY_REF_R12, CANARY_TRIO

    from data_warehouse_flink_spark.registry import all_queries
    from data_warehouse_flink_spark.session import get_spark, stop

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r14-time")
    qs = all_queries()

    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    for warm in ("page_view", "tpch_q6", "doc_token_stats", "knn_bruteforce"):
        qs[warm].spark_fn(spark, sf_dir).count()

    def best_of(name: str, reps: int) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[name].spark_fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    canary = {n: best_of(n, 5) for n in CANARY_TRIO}
    timings = {n: best_of(n, args.reps) for n in args.queries}
    out = {
        "sf": sf_dir,
        "canary": canary,
        "canary_ratio_vs_r12": round(
            sum(canary.values()) / sum(CANARY_REF_R12.values()), 4
        ),
        "queries": timings,
    }
    print(json.dumps(out))
    stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
