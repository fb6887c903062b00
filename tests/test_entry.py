"""Driver-contract smoke tests (SURVEY.md §5 layer 1)."""

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns and "count_order" in df.columns


def test_every_oracle_key_has_a_query():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50


def test_queries_are_callables():
    for name, fn in entrymod.queries().items():
        assert callable(fn), name

