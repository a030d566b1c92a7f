"""Simulate the driver's correctness gate: Spark queries vs DuckDB oracle.

Row-count + schema-shape + order-insensitive value comparison at sf0.01,
mirroring CORRECTNESS_r{N}.json. Any mismatch here is a mismatch there.
"""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from perfbench.checks import canon, mismatch

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return c


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, con, name):
    got = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    exp = con.sql(entry_mod.oracle_sql()[name]).df()
    # dtype-strict: the driver hashes raw values, so int64 vs float64 (e.g.
    # DuckDB HUGEINT SUM results) must fail here too, not just values —
    # add CAST(... AS BIGINT/DOUBLE) to the oracle SQL
    err = mismatch(got, exp)
    assert err is None, err


@pytest.mark.parametrize("name", ["knn_embeddings_bruteforce", "knn_embeddings_ivf"])
def test_chunked_oracle_equivalence(con, name):
    """The sweep's bounded-memory escape hatch for the quadratic ANN
    oracles (scripts/sweep_contract.py --oracle-chunks) must be
    row-identical to the unchunked SQL: chunking filters `q.vec_id % n`
    on the QUERY side only, and ROW_NUMBER partitions by query_id, so
    each query's whole neighbor set lives in exactly one chunk. No Spark
    involved — this pins DuckDB-vs-DuckDB."""
    from ferrobus_spark.registry_ext import ORACLE_CHUNKERS

    plain = canon(con.sql(entry_mod.oracle_sql()[name]).df())
    n = 4
    parts = [con.sql(ORACLE_CHUNKERS[name](n, i)).df() for i in range(n)]
    chunked = canon(pd.concat(parts, ignore_index=True))
    pd.testing.assert_frame_equal(plain, chunked)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"cell", "n_pages", "n_domains"} <= set(df.columns)
    assert len(rows) > 0  # flagship query must return data at sf0.001
