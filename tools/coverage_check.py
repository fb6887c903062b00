"""Guard against ledger rot: every registered query key must be
mentioned in COVERAGE.md (by its stable number), and every bench-tagged
query must appear in PLANS.md.

    python tools/coverage_check.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark_distributed_kmodes_spark.registry import load_all


def main():
    reg = load_all()
    cov = open(os.path.join(ROOT, "COVERAGE.md")).read()
    plans = open(os.path.join(ROOT, "PLANS.md")).read()
    missing_cov, missing_plan = [], []
    for name, q in sorted(reg.items()):
        stem = name.split("_")[0]  # stable number, e.g. q01 / b12 / z21
        if stem not in cov:
            missing_cov.append(name)
        if q.bench and name not in plans:
            missing_plan.append(name)
    if missing_cov:
        print("NOT IN COVERAGE.md:", ", ".join(missing_cov))
    if missing_plan:
        print("BENCH QUERY NOT IN PLANS.md:", ", ".join(missing_plan))
    print(f"coverage check: {len(reg)} queries, {len(missing_cov)} undocumented, "
          f"{len(missing_plan)} missing from plan report")
    sys.exit(1 if (missing_cov or missing_plan) else 0)


if __name__ == "__main__":
    main()
