"""Generate PLANS.md: physical-plan evidence for every bench query —
join strategies, exchange (shuffle) counts, pushed filters, read
schemas. The reviewable artifact behind the "plans hold at scale" claim.

    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark_distributed_kmodes_spark.plans.inspect import formatted_plan
from pyspark_distributed_kmodes_spark.registry import load_all
from pyspark_distributed_kmodes_spark.session import get_spark

JOIN_KINDS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")


def summarize(plan: str) -> dict:
    # count NODE headers "(N) <Op>" so tree + detail sections don't double-count
    joins = [j for j in JOIN_KINDS for _ in range(len(re.findall(rf"\(\d+\) {j}\b", plan)))]
    return {
        "joins": joins or ["(none)"],
        "shuffles": len(re.findall(r"\(\d+\) Exchange\b", plan)),
        "pushed": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        # under plan-only mode the built plan has no AdaptiveSparkPlan node;
        # report the EXECUTION default from session.py instead (header note)
        "aqe": "AdaptiveSparkPlan" in plan
        or os.environ.get("SPARK_GRAFT_PLAN_ONLY") == "1",
    }


def main():
    from pyspark_distributed_kmodes_spark.functions.lineage import plan_only_mode

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-report")
    plan_only_mode(spark)  # lazy lineage cuts: build plans, run no checkpoint jobs
    reg = load_all()
    lines = [
        "# PLANS — physical-plan evidence for bench queries (auto-generated)",
        "",
        f"Source: `python tools/plan_report.py {sf_dir}` — regenerate after plan-affecting changes.",
        "",
        "Plans are built in plan-only mode (functions/lineage.py): lineage cuts",
        "stay in the plan as `Scan ExistingRDD` but their fill jobs don't run,",
        "and AQE is disabled during plan BUILD only — execution sessions enable",
        "it (session.py), so the AQE column reports the execution default.",
        "",
        "| query | joins | shuffles | parquet scans | filters pushed to scan | AQE |",
        "|---|---|---|---|---|---|",
    ]
    import gc

    for name, q in sorted(reg.items()):
        if not q.bench:
            continue
        df = q.fn(spark, sf_dir)
        s = summarize(formatted_plan(df))
        del df
        gc.collect()  # free this query's checkpointed blocks before the next
        pushed = "; ".join(p for p in s["pushed"] if p)[:80] or "—"
        lines.append(
            f"| {name} | {', '.join(sorted(set(s['joins'])))} | {s['shuffles']} | {s['scans']} | {pushed} | {'✓' if s['aqe'] else '✗'} |"
        )
    lines += [
        "",
        "Notes: shuffle counts are pre-AQE static plans (AQE coalesces/",
        "re-plans at runtime); Python-stage queries (q60/q63/q70/q97/c03) include",
        "their candidate-join, CC-iteration, or aggregation exchanges by design — see",
        "operator docstrings for the scale rationale.",
    ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
