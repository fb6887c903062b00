import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark_distributed_kmodes_spark.session import get_spark

    s = get_spark("pytest")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')")
    return con
