"""Dump full `.explain("formatted")` output for named queries into
plans/r<NN>/<query>_<tag>.txt — an optimization round's before/after plan
evidence (OPTIMIZATION_r14.md cites the round-14 files).

Run: python tools/explain.py --round 15 --tag before q1 q2 ...
SF dir from $SPARK_GRAFT_SF_DIR (default sf0.1 — the bench tier, so the
plans match what the bench measures).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--round", type=int, required=True, help="writes plans/rNN/")
    ap.add_argument("--tag", required=True, help="before | after | <label>")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from data_warehouse_flink_spark.registry import all_queries
    from data_warehouse_flink_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO_ROOT, "plans", f"r{args.round:02d}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"r{args.round:02d}-explain")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = all_queries()
    rc = 0
    for name in args.queries:
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        try:
            df = qs[name].spark_fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(jmode)
        except Exception as exc:
            plan = f"(not explainable: {exc})"
            rc = 1
        with open(path, "w") as fh:
            fh.write(f"-- {name} [{args.tag}] at {sf_dir}\n\n{plan}")
        print(f"wrote {path}")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
