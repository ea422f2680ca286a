"""Guide-1.4 measurement audit: time each headline query's `.count()`
(the bench's timed action since r1) against the noop sink
(`write.format("noop")`, which computes every column of every row) in one
session, min-of-2 each, and flag queries where noop reads strictly above
BOTH 2x count and count + 0.3 s (the absolute floor suppresses sub-300 ms
deltas that are pure noise at this tier) — i.e. where count() lets
Catalyst prune real compute out of the timed plan.

Receipt: NOOP_AUDIT_r14.json (r14 reading: totals equal within noise,
8 projection/sketch-shaped queries flagged; decision recorded there is to
KEEP count() — every prior round, the canary references, and the driver's
cross-round comparison are count()-based).

Run: [SPARK_GRAFT_SF_DIR=...] python tools/noop_audit.py
It prints the receipt's timing fields as one JSON object; bench.py reads
the flags under NOOP_AUDIT_FLAG_KEY.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def receipt(per_query: dict[str, dict]) -> dict:
    """Receipt of one audit: per-query {count, noop} min walls (or
    {error}), and the flagged subset under the key bench.py reads."""
    from bench import NOOP_AUDIT_FLAG_KEY

    flag = {
        k: v
        for k, v in per_query.items()
        if "error" not in v and v["noop"] > max(2 * v["count"], v["count"] + 0.3)
    }
    return {NOOP_AUDIT_FLAG_KEY: flag, "n_flagged": len(flag),
            "per_query": per_query}


def main() -> int:
    from bench import HEADLINE

    from data_warehouse_flink_spark.registry import all_queries
    from data_warehouse_flink_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("count-vs-noop")
    qs = all_queries()
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    for warm in ("page_view", "tpch_q6", "doc_token_stats", "knn_bruteforce"):
        qs[warm].spark_fn(spark, sf_dir).count()

    out: dict[str, dict] = {}
    for name in HEADLINE:
        fn = qs[name].spark_fn
        try:
            tc = tn = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                tc = min(tc, time.perf_counter() - t0)
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                tn = min(tn, time.perf_counter() - t0)
            out[name] = {"count": round(tc, 3), "noop": round(tn, 3)}
        except Exception as exc:  # keep sweeping; surface in the map
            out[name] = {"error": str(exc)[:80]}
    print(json.dumps(receipt(out), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
