"""Driver-contract conformance: every queries() entry runs, and each
oracle_sql() entry matches the Spark result (row count + column names +
order-insensitive values) at sf0.01 — mimicking the driver's comparison."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
DRIVER_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in DRIVER_TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(6)
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "solar_day", "band", "tile_y", "tile_x", "n_scenes", "item_ids",
        "valid_frac", "checksum",
    }


#: SQL-oracled queries retired from the 50-entry driver registry (the
#: driver caps correctness rows at 50) but still pinned here every run,
#: against the oracle text that stays in oracle_sql()
RETIRED_SQL = {
    "data_ids": "_q_data_ids",
}


@pytest.mark.parametrize(
    "name", sorted(entry_mod.queries().keys()) + sorted(RETIRED_SQL)
)
def test_query_vs_oracle(spark, con, name):
    q = entry_mod.queries().get(name) or getattr(entry_mod, RETIRED_SQL[name])
    sdf = q(spark, SF_DIR)
    spdf = sdf.toPandas()
    assert len(spdf) > 0, f"{name} returned no rows"
    osql = entry_mod.oracle_sql().get(name)
    if osql is None:
        return  # rows-only contract (pixel pipeline)
    odf = con.sql(osql).df()
    assert len(spdf) == len(odf), f"{name}: rowcount {len(spdf)} != oracle {len(odf)}"
    a, b = _norm(spdf), _norm(odf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6, rtol=0)
