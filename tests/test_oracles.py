"""Local replica of the driver's correctness gate: run every queries() entry
at sf0.01 on Spark AND its oracle_sql() twin on DuckDB, compare row count +
sorted values exactly. Catching an oracle mismatch here is the whole point —
the driver's CORRECTNESS_r{N}.json runs the same comparison.
"""

import numpy as np
import pandas as pd
import pytest

from scripts.oracle_compare import compare, normalize

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


def _oracle_names():
    import __spark_entry__ as e

    return sorted(e.oracle_sql().keys())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(name, spark, duck, contract):
    qs, oracles = contract
    sdf = qs[name](spark, SF_DIR).toPandas()
    ddf = duck.execute(oracles[name]).df()
    err = compare(sdf, ddf)
    assert err is None, f"{name}: {err}"


def test_rows_only_queries_run(spark, contract):
    qs, oracles = contract
    for name in sorted(set(qs) - set(oracles)):
        n = qs[name](spark, SF_DIR).count()
        assert n >= 0, name


def test_compare_object_int_column_equals_int64_twin():
    """An integer column that arrives object-typed (Python ints) must
    normalize to int64 and compare equal to its int64 twin."""
    obj = pd.DataFrame({"k": pd.Series([3, 1, 2], dtype=object), "v": ["c", "a", "b"]})
    i64 = pd.DataFrame({"k": np.array([1, 2, 3], dtype=np.int64), "v": ["a", "b", "c"]})
    assert normalize(obj)["k"].dtype == np.int64
    assert compare(obj, i64) is None
    assert compare(i64, obj) is None
    i64.loc[0, "k"] = 0
    assert compare(obj, i64) is not None
