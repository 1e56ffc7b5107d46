"""Driver-mimic differential gate (SURVEY.md §5.2): every queries()
entry runs on Spark AND its oracle SQL on DuckDB over the same parquet
tables; row counts, column names, and values must match exactly.

This mirrors the external driver's CORRECTNESS check, so failures show
up here first.  Runs at sf0.001 for speed (the driver uses sf0.01).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from wtq.queries import (
    EXTRA_ORACLE_SQL,
    EXTRA_QUERIES,
    ORACLE_SQL,
    QUERIES,
)

# beyond-cap extras (see wtq/queries.py EXTRA registry note) get the
# identical differential gate here, since the driver caps at 50
ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
ALL_ORACLE_SQL = {**ORACLE_SQL, **EXTRA_ORACLE_SQL}

import os

# default sf0.001 for fast CI; set WTQ_ORACLE_SF_DIR=/root/testdata/sf0.01
# to replicate the external driver's exact configuration
SF_DIR = os.environ.get("WTQ_ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype(bool)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(name, spark, duck):
    got = _normalize(ALL_QUERIES[name](spark, SF_DIR).toPandas())
    exp = _normalize(duck.execute(ALL_ORACLE_SQL[name]).fetchdf())
    assert list(got.columns) == list(exp.columns), (list(got.columns), list(exp.columns))
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    if len(got):
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)


def test_all_queries_have_oracles():
    assert set(QUERIES) == set(ORACLE_SQL)
    assert set(EXTRA_QUERIES) == set(EXTRA_ORACLE_SQL)


def test_driver_registry_stays_at_cap():
    # the external driver records at most 50 CORRECTNESS rows; going
    # over silently drops queries from the hard gate (round-2 lesson)
    assert len(QUERIES) == 50


@pytest.mark.parametrize("name", ["region_revenue", "cust_supp_nation_matrix"])
def test_half_cent_revenue_matches_oracle(name, spark, tmp_path):
    """A revenue sum of exactly 4958901.2250 is stored as the double
    4958901.22499999963…: DuckDB's round(x, 2) = round(x · 100) / 100
    gives .22, and the Spark side must too (round(x, 2) on the double's
    shortest decimal form gave .23)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({"r_regionkey": pa.array([0], i32), "r_name": ["EUROPE"]}),
        "nation": pa.table({
            "n_nationkey": pa.array([0], i32), "n_name": ["FRANCE"],
            "n_regionkey": pa.array([0], i32),
        }),
        "customer": pa.table({"c_custkey": pa.array([1], i64), "c_nationkey": pa.array([0], i32)}),
        "supplier": pa.table({"s_suppkey": pa.array([1], i64), "s_nationkey": pa.array([0], i32)}),
        "orders": pa.table({"o_orderkey": pa.array([1], i64), "o_custkey": pa.array([1], i64)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array([1, 1], i64), "l_suppkey": pa.array([1, 1], i64),
            "l_extendedprice": [4958900.0, 1.225], "l_discount": [0.0, 0.0],
        }),
    }
    con = duckdb.connect()
    for t, tab in tables.items():
        pq.write_table(tab, tmp_path / f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    exp = _normalize(con.execute(ALL_ORACLE_SQL[name]).fetchdf())
    con.close()
    got = _normalize(ALL_QUERIES[name](spark, str(tmp_path)).toPandas())
    assert exp["revenue"].tolist() == [4958901.22]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
