"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship query smoke check at sf0.001.
queries()  — every implemented operator (SURVEY.md §2), keyed by name.
oracle_sql() — DuckDB ANSI-SQL equivalents for the hash-match gate;
               approximate / non-SQL operators are omitted (rows-only).

Implementations live in pyspark_distributed_kmodes_spark/; this module
is a thin adapter over its registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this file from any CWD — anchor the package path
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark_distributed_kmodes_spark.registry import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    reg = load_all()
    return reg["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in sorted(load_all().items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL for each hash-checkable query; rows-only ops omitted."""
    return {name: q.oracle for name, q in sorted(load_all().items()) if q.oracle is not None}
