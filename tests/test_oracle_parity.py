"""Oracle parity at sf0.001 for every SQL-expressible query (SURVEY.md §5
layer 2) — the same comparison the driver runs at sf0.01.

Every key is built once per run: the parity and rows-only tests record
each built DataFrame's schema in SCHEMAS, and the scalar-column guard
reads it from there (it builds the key itself only when run alone or
under -k). Both collecting tests also gate per-key state leaks: the
session conf must be unchanged after the collect and no streaming query
may still be active."""

import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import rows_key

QS = entrymod.queries()
ORACLES = entrymod.oracle_sql()
SCHEMAS = {}


def _collect_without_leaks(name, spark, sf_dir):
    """Build and collect one key; assert it leaves the session's explicitly
    set confs and its active streams as it found them."""
    conf_before = dict(spark.conf.getAll)
    df = QS[name](spark, sf_dir)
    SCHEMAS[name] = df.schema
    rows = df.collect()
    conf_after = dict(spark.conf.getAll)
    changed = {
        k: (conf_before.get(k), conf_after.get(k))
        for k in conf_before.keys() | conf_after.keys()
        if conf_before.get(k) != conf_after.get(k)
    }
    assert not changed, f"{name}: session conf leaked (before, after): {changed}"
    active = [q.name or q.id for q in spark.streams.active]
    assert not active, f"{name}: streaming queries left running: {active}"
    return df.columns, rows


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck, sf_dir):
    scols, srows = _collect_without_leaks(name, spark, sf_dir)
    rel = duck.execute(ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert rows_key(scols, srows) == rows_key(dcols, drows), f"{name}: value mismatch"


@pytest.mark.parametrize("name", sorted(set(QS) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    _, rows = _collect_without_leaks(name, spark, sf_dir)
    assert rows is not None


@pytest.mark.parametrize("name", sorted(QS))
def test_queries_return_hashable_scalar_columns(name, spark, sf_dir):
    """Driver-canonicalizer guard: the harness sorts results through
    pandas sort_values, which cannot factorize array/map/struct cells
    (r02's a91 crash on a rows-only query, r03's b14 crash on an
    ORACLE-GATED query — the r02 version of this guard only covered
    rows-only queries, which is exactly how b14 slipped through).
    EVERY registered query must emit only scalar (atomic) columns;
    sequences are carried as position-ordered hashes (b14 pattern).
    The schema comes from the collecting tests above when they ran."""
    from pyspark.sql import types as T

    schema = SCHEMAS.get(name) or QS[name](spark, sf_dir).schema
    bad = [f.name for f in schema.fields if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))]
    assert not bad, f"{name}: non-scalar columns {bad} would crash the driver canonicalizer"


def test_pround_engine_agreement_on_knife_edge_rationals(spark, duck):
    """pround (Spark) and sql_pround (DuckDB) must agree bit-for-bit on
    exactly the values where the engines' built-in round() diverges:
    rational means whose true value sits exactly on a ...5 rounding
    boundary but is not binary-representable (the b08 sf0.1 failure:
    0.616992/192 = exactly 0.0032135)."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.functions.deterministic import pround, sql_pround

    # (numerator, denominator) pairs whose quotient ends in ...5 at the
    # 7th decimal — reduced denominators contain 5^k so the boundary is
    # never binary-representable
    cases = [
        (616992, 192_000_000),   # the observed b08 cell
        (1, 2_000_000),          # 0.0000005
        (3, 2_000_000),          # 0.0000015
        (12345, 2_000_000),      # 0.0061725
        (987654321, 2_000_000),  # 493.8271605
        (-616992, 192_000_000),  # negative side
        (7, 4_000_000),          # 0.00000175 -> nd=6 boundary x.xxxxxx5? 0.0000017|5
    ]
    rows = [(float(a) / float(b),) for a, b in cases]
    sdf = spark.createDataFrame(rows, "x double").select(pround(F.col("x"), 6).alias("r"))
    got_spark = [r.r for r in sdf.collect()]
    got_duck = [
        duck.execute(f"SELECT {sql_pround('CAST(? AS DOUBLE)', 6)}", [x]).fetchone()[0]
        for (x,) in rows
    ]
    assert got_spark == got_duck, list(zip(got_spark, got_duck))
