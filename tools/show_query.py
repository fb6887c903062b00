"""Audit one registered query: docstring, DuckDB oracle, physical plan,
and a sample of results — the single-command view of everything the
correctness gate compares.

    python tools/show_query.py <key> [sf_dir] [--no-run]
    python tools/show_query.py                       # list everything
    python tools/show_query.py --tag statistics      # list one domain
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main():
    argv = sys.argv[1:]
    tag = None
    if "--tag" in argv:
        i = argv.index("--tag")
        if i + 1 >= len(argv):
            sys.exit("--tag requires a value")
        tag = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]  # strip exactly the two tokens by position
    args = [a for a in argv if not a.startswith("--")]
    if not args:
        from pyspark_distributed_kmodes_spark.registry import load_all

        for name, q in sorted(load_all().items()):
            if tag is not None and tag not in q.tags:
                continue
            kind = "oracle" if q.oracle else "rows-only"
            bench = " bench" if q.bench else ""
            print(f"{name:42s} {kind}{bench}  {','.join(q.tags)}")
        return
    key = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.001"
    run = "--no-run" not in sys.argv

    from pyspark_distributed_kmodes_spark.registry import load_all

    reg = load_all()
    if key not in reg:
        import difflib

        close = difflib.get_close_matches(key, reg, n=5)
        sys.exit(f"unknown query {key!r}; close: {close}")
    q = reg[key]
    print(f"== {key}  tags={q.tags}  bench={q.bench} ==\n")
    print(q.doc.strip(), "\n")
    if q.oracle:
        print("-- DuckDB oracle " + "-" * 50)
        print(q.oracle.strip(), "\n")
    else:
        print("-- rows-only (no SQL oracle; see property tests) --\n")
    if run:
        from pyspark_distributed_kmodes_spark.plans.inspect import formatted_plan
        from pyspark_distributed_kmodes_spark.session import get_spark

        spark = get_spark("show-query")
        df = q.fn(spark, sf_dir)
        print("-- physical plan " + "-" * 50)
        print(formatted_plan(df))
        print("-- sample " + "-" * 57)
        df.show(10, truncate=100)


if __name__ == "__main__":
    main()
