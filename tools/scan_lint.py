"""Plan-scan-amplification lint — the k13 lesson generalized (round-6
verdict item 4): an uncheckpointed iterative loop doubles its logical
plan per iteration, so the static physical plan scans the data-sized
source table once per lineage copy (k13's squaring loop hit 32 events
scans before its localCheckpoint fix). This lint counts parquet-scan
nodes PER SOURCE TABLE in every registered query's static plan and
fails when any table exceeds _MAX_SCANS, unless the query is in the
declared multi-scan allowlist (union-of-scans shapes, self-join
audits that deliberately read a table from several angles).

    python tools/scan_lint.py [sf_dir]        # lint the whole registry

Semantics and caveats (round-7 ADVICE, revised round 9):
- The lint measures the AS-EXECUTED scan shape, where a checkpointed
  shared intermediate appears as an RDD scan, not a parquet re-scan. A
  raw lazy-lineage mode would count the untruncated logical tree and
  flag every checkpoint-bounded query — so the lineage cut must stay in
  the plan. Round 9 moved the cut behind functions/lineage.cut_lineage:
  this tool enables PLAN-ONLY mode (lazy localCheckpoint + AQE off),
  where Spark still swaps the lineage for a LogicalRDD immediately —
  scan counts are IDENTICAL to the eager mode (pinned by
  tests/test_scan_lint.py's plan-only twin) — but the checkpoint-fill
  jobs never run, so the 447-plan sweep stops executing ~450 queries'
  worth of intermediates. Queries whose plan CONSTRUCTION needs a
  driver-side scalar (collected median cuts, day dictionaries) still
  run those jobs; that is inherent.
- In eager contexts, checkpointed RDD blocks stay pinned on executors
  until the Python DataFrame is GC'd (ContextCleaner frees them); the
  registry sweep gc.collect()s between queries so a full pass does not
  accumulate hundreds of pinned blocks.
- Under-count caveat: 'formatted' plans deduplicate repeated scans under
  ReusedExchange / ReusedSubquery nodes, so a table consumed N times via
  one reused exchange counts once. That direction is safe for THIS lint
  (a reused exchange executes its scan once — no amplification), but the
  reported multiplicities are a lower bound on logical references.
- Gate: tests/test_scan_lint.py pins known iterative offenders per-query;
  tests/test_scan_lint_registry.py (slow-marked) runs lint_plan over the
  FULL registry so a new query exceeding _MAX_SCANS fails CI, not just
  this manual tool.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the canonical driver tables — the only data-sized inputs; temp-dir
# round-trip scans (ORC/CSV/JSONL sinks read back) are parameter-bounded
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_MAX_SCANS = 4

# query -> why more than _MAX_SCANS scans of one table is the declared
# shape, not lineage amplification. Keep reasons specific: a new entry
# needs a docstring-level justification, not a lint mute.
ALLOWLIST: dict[str, str] = {}


def table_scan_counts(plan: str) -> dict[str, int]:
    """Per-table parquet scan-node count from a formatted physical plan.

    Counts Location lines of Scan nodes rather than node headers so the
    tree and detail sections don't double-count, and so temp-dir scans
    (sink round-trips) are excluded: only the canonical source tables
    are data-sized at 100 TB.
    """
    counts: dict[str, int] = {}
    for m in re.finditer(r"Location: \S+ \[[^\]]*?/([a-z_]+)\.parquet\]", plan):
        t = m.group(1)
        if t in TABLES:
            counts[t] = counts.get(t, 0) + 1
    return counts


def lint_plan(name: str, plan: str, max_scans: int = _MAX_SCANS) -> list[str]:
    """Offending 'table xN' strings for one query's plan (empty = clean)."""
    if name in ALLOWLIST:
        return []
    return [
        f"{t} x{n}" for t, n in sorted(table_scan_counts(plan).items()) if n > max_scans
    ]


def main() -> int:
    from pyspark_distributed_kmodes_spark.plans.inspect import formatted_plan
    from pyspark_distributed_kmodes_spark.registry import load_all
    from pyspark_distributed_kmodes_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark_distributed_kmodes_spark.functions.lineage import plan_only_mode

    spark = get_spark("scan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    plan_only_mode(spark)  # lazy lineage cuts: build plans, run no checkpoint jobs
    reg = load_all()
    bad: list[tuple[str, list[str]]] = []
    worst: list[tuple[int, str, str]] = []
    import gc

    for name, q in sorted(reg.items()):
        try:
            plan = formatted_plan(q.fn(spark, sf_dir))
        except Exception as e:  # a query that cannot even plan is its own failure
            bad.append((name, [f"plan build failed: {e!r:.120}"]))
            continue
        counts = table_scan_counts(plan)
        for t, n in counts.items():
            worst.append((n, name, t))
        off = lint_plan(name, plan)
        if off:
            bad.append((name, off))
        # release this query's checkpointed RDD blocks (ContextCleaner
        # frees them on GC) so the sweep doesn't pin executor storage
        gc.collect()
    worst.sort(reverse=True)
    print("top table-scan multiplicities (n, query, table):")
    for n, name, t in worst[:10]:
        print(f"  {n:3d}  {name}  {t}")
    if bad:
        print(f"\nFAIL — {len(bad)} queries exceed {_MAX_SCANS} scans of one table:")
        for name, off in bad:
            print(f"  {name}: {', '.join(off)}")
        spark.stop()
        return 1
    print(f"\nOK — no query scans any source table more than {_MAX_SCANS}x "
          f"({len(reg)} queries linted)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
