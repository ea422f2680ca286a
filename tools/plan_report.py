"""Generate PLANS.md: the formatted physical plan of every headline query.

Run: python tools/plan_report.py  (writes PLANS.md at the repo root)

The report is the evidence trail for SCALING.md — for each query it lists
scan pushdown/pruning and the exchange/join structure Catalyst produced, so
plan regressions are reviewable in diffs.
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

INTERESTING = re.compile(
    r"Scan parquet|PushedFilters|ReadSchema|Exchange|Join|HashAggregate|"
    r"WindowExec|Window |Sort |MapInPandas|FlatMapGroupsInPandas"
)


def generate(spark, sf_dir: str) -> str:
    """The full report text for one session + tier. Byte-deterministic for
    a given engine tree (verified: regeneration reproduces the committed
    file exactly), which is what lets `--check` and the in-suite drift
    guard compare it verbatim."""
    from data_warehouse_flink_spark.registry import all_queries

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    from bench import HEADLINE

    lines = [
        "# PLANS — physical plans of every registered query",
        "",
        f"Auto-generated by tools/plan_report.py at {sf_dir}.",
        "Filtered to scan/exchange/join/aggregate nodes; regenerate after",
        "any plan-shaping change and review the diff. Headline (bench)",
        "queries first in bench order, then the non-headline remainder",
        "alphabetically. tests/test_entry.py asserts every registered",
        "query name appears here, so the report cannot silently decay",
        "(VERDICT r10 #4). Driver-loop queries (trainers) surface as a",
        "LocalTableScan of the materialized model — their per-iteration",
        "scan shape lives in the kernel docstrings, not one plan dump.",
        "",
    ]
    qs = all_queries()
    report_order = HEADLINE + sorted(set(qs) - set(HEADLINE))
    for name in report_order:
        q = qs[name]
        try:
            df = q.spark_fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(jmode)
        except Exception as exc:  # streaming/memory-sink queries can't explain
            lines += [f"## {name}", "", f"(not explainable: {exc})", ""]
            continue
        # Renumber Catalyst expression ids (#123, #123L) sequentially PER
        # QUERY: the session-global counter renumbers every plan whenever
        # ANY earlier query allocates one more expression, so an unrelated
        # one-line change churned all 176 sections' diffs and buried the
        # structural changes the report exists to review. (Plain stripping
        # would also mangle data literals like TPC-H's 'Brand#1'; a
        # per-section first-seen map keeps them distinct and stable.)
        seen: dict[str, int] = {}

        def _norm(m: re.Match) -> str:
            n = m.group(1)
            if n not in seen:
                seen[n] = len(seen)
            return f"#{seen[n]}{m.group(2)}"

        picked = [
            re.sub(r"#(\d+)(L?)", _norm, ln)
            for ln in plan.splitlines()
            if INTERESTING.search(ln)
        ]
        n_exchanges = sum(
            1 for ln in picked if ln.strip().startswith("(") and ") Exchange" in ln
        )
        lines += [f"## {name}  —  {n_exchanges} exchange(s)", "", "```"]
        lines += [ln.rstrip()[:160] for ln in picked]
        lines += ["```", ""]
    return "\n".join(lines)


def drift(new_text: str, committed_text: str) -> list:
    """Per-query drift between a regenerated report and the committed one.

    Compares section-by-section (a section is everything from one
    ``## name`` header to the next), so the returned list names exactly
    which queries' plans changed — including a changed exchange count in
    the header, changed pushdown/join/exchange structure in the body, a
    vanished section, or a new one. Empty list = byte-identical plans.
    """
    import re as _re

    def sections(text: str) -> dict:
        out, name = {}, None
        for ln in text.splitlines():
            m = _re.match(r"## (\S+)", ln)
            if m:
                name = m.group(1)
                out[name] = [ln]
            elif name:
                out[name].append(ln)
        # Trailing blank lines are section separators, not plan content.
        return {k: "\n".join(v).rstrip() for k, v in out.items()}

    new, old = sections(new_text), sections(committed_text)
    out = []
    for name in sorted(set(new) | set(old)):
        if name not in old:
            out.append(f"{name}: new section (not in committed PLANS.md)")
        elif name not in new:
            out.append(f"{name}: section vanished from the regenerated report")
        elif new[name] != old[name]:
            head_new = new[name].splitlines()[0]
            head_old = old[name].splitlines()[0]
            what = (
                f"header '{head_old}' -> '{head_new}'"
                if head_new != head_old
                else "body changed (same exchange count)"
            )
            out.append(f"{name}: plan drifted — {what}")
    return out


def main() -> int:
    import argparse

    from data_warehouse_flink_spark.session import get_spark, stop

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--check",
        action="store_true",
        help="regenerate in memory and diff against the committed PLANS.md "
        "instead of overwriting it; exit 1 on any per-query plan drift",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-report")
    text = generate(spark, sf_dir)
    out = os.path.join(REPO_ROOT, "PLANS.md")
    rc = 0
    if args.check:
        with open(out) as f:
            committed = f.read()
        drifted = drift(text, committed)
        if drifted:
            print(f"PLAN DRIFT vs committed PLANS.md ({len(drifted)} queries):")
            for d in drifted:
                print(f"  - {d}")
            print("review, then regenerate: python tools/plan_report.py")
            rc = 1
        else:
            n = text.count("\n## ")
            print(f"PLANS.md check OK: {n} sections, no drift")
    else:
        with open(out, "w") as f:
            f.write(text)
        print(f"wrote {out} ({len(text.splitlines())} lines)")
    stop(spark)
    return rc


if __name__ == "__main__":
    sys.exit(main())
