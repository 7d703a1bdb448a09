"""Oracle parity: every ``queries()`` entry against its DuckDB
``oracle_sql()`` twin at sf0.01, compared the way tools/check_oracle.py
compares them (row count, column names, normalised row multiset).
Entries without a twin must still execute."""

import os

import pytest

import __spark_entry__ as entry
from tools.check_oracle import TABLES, rows_to_multiset

SF_DIR = "/root/testdata/sf0.01"
QUERIES = entry.queries()
ORACLES = entry.oracle_sql()

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    spdf = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        return  # rows-only entry: executing it is the check
    dpdf = duck.execute(ORACLES[name]).df()
    assert len(spdf) == len(dpdf)
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    ms, md = (
        rows_to_multiset(list(p.columns), p.itertuples(index=False, name=None))
        for p in (spdf, dpdf)
    )
    assert ms == md, (
        f"spark-only={list((ms - md).items())[:3]} "
        f"oracle-only={list((md - ms).items())[:3]}"
    )
