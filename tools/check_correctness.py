"""Local mirror of the driver's correctness gate.

Runs every queries() entry on Spark AND its oracle_sql() on DuckDB at a
given scale factor, then compares row count, column names, and
order-insensitive canonicalized values. Run this before every commit:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from datetime import date, datetime
from decimal import Decimal

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import os

    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # driver-fidelity mode: a bare session exactly like the harness
        # builds — any conf the engine needs must come from
        # sources.tables/session.configure() hooks, not from here
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName("check-vanilla").getOrCreate()
    else:
        from pyspark_distributed_kmodes_spark.session import get_spark

        spark = get_spark("check-correctness")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = df.collect()
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            status = "ROWS" if len(srows) >= 0 else "??"
            print(f"{status}  {name}: {len(srows)} rows ({dt:.1f}s) [rows-only]")
            n_rowsonly += 1
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        if len(srows) != len(drows):
            print(f"FAIL  {name}: row count spark={len(srows)} duckdb={len(drows)}")
            ok = False
        elif sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            ok = False
        else:
            sk, dk = rows_key(scols, srows), rows_key(dcols, drows)
            if sk != dk:
                ok = False
                print(f"FAIL  {name}: value mismatch; first diffs:")
                shown = 0
                for a, b in zip(sk, dk):
                    if a != b and shown < 3:
                        print(f"   spark : {a}\n   duckdb: {b}")
                        shown += 1
        if ok:
            print(f"PASS  {name}: {len(srows)} rows ({dt:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
