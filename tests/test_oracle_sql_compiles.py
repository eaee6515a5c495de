"""Every oracle SQL must parse/bind in DuckDB against the real table
schemas — catches oracle typos in seconds, without Spark."""

import hashlib
import json

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') LIMIT 0"
        )
    return con


# sha256 of the registry's (name, oracle SQL) pairs in registry order: the
# oracle text and the driver-window order are a contract (ROADMAP
# standing rules), so any change to either must update this pin on purpose
ORACLE_SQL_SHA256 = "d8ad48d8e9b0ae1c2a4ac82af637a52dacc972b2ea39303ffc918ed0baf92b5c"


def test_oracle_sql_pinned():
    blob = json.dumps(list(entrymod.oracle_sql().items()))
    assert hashlib.sha256(blob.encode()).hexdigest() == ORACLE_SQL_SHA256


def test_registry_counts():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 44
    assert len(o) >= len(q) - 2  # at most two rows-only queries


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_compiles(con, name):
    sql = entrymod.oracle_sql()[name]
    con.execute("EXPLAIN " + sql)
