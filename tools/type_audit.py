"""Schema-type parity audit: Spark result dtypes vs DuckDB DESCRIBE for
every oracle query. The hash gate compares schemas; int-width drift
(e.g. Spark row_number → int32 vs DuckDB → BIGINT) must be caught
before the driver sees it.

    python tools/type_audit.py [sf_dir]    # exits non-zero on mismatch
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

NORM = {
    "INTEGER": "int",
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
    "BOOLEAN": "boolean",
    "HUGEINT": "hugeint",
    "FLOAT": "float",
    "DATE": "date",
}
# DuckDB `T[]` ≙ Spark `array<t>` — derive from the scalar map
NORM.update({f"{k}[]": f"array<{v}>" for k, v in list(NORM.items())})
# Spark's parquet-naive timestamps surface as timestamp_ntz; with the
# session pinned to UTC they are value-identical to DuckDB TIMESTAMP.
SPARK_EQUIV = {"timestamp_ntz": "timestamp"}

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as m
    from pyspark_distributed_kmodes_spark.session import get_spark

    spark = get_spark("type-audit")
    qs, oracles = m.queries(), m.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    mismatches = 0
    for name in sorted(oracles):
        stypes = dict(qs[name](spark, sf_dir).dtypes)
        for col, dtype, *_ in con.execute(f"DESCRIBE (\n{oracles[name]}\n)").fetchall():
            want = NORM.get(str(dtype), str(dtype))
            got = SPARK_EQUIV.get(stypes.get(col), stypes.get(col))
            if got is None:
                print(f"MISSING {name}.{col}")
                mismatches += 1
            elif got != want:
                print(f"TYPE    {name}.{col}: spark={stypes[col]} duckdb={dtype}")
                mismatches += 1
    print(f"type mismatches: {mismatches}")
    spark.stop()
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
