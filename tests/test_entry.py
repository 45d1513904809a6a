"""Replicates the driver's verify: every queries() entry has an SQL oracle,
runs at sf0.01 and is compared to DuckDB (row count + column names +
order-insensitive value equality, columns sorted by name — exactly the
driver's comparison shape)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import persisted_rdd_ids

SF = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def oracle_con():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _compare(spark_df, duck_df) -> None:
    a = _canon(spark_df)
    b = _canon(duck_df)
    assert list(a.columns) == list(b.columns), f"columns: {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"rows: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(np.asarray(av).dtype, np.floating):
            assert np.allclose(av.astype(float), bv.astype(float), atol=1e-9, equal_nan=True), c
        else:
            assert (av == bv).all(), f"value mismatch in {c}"


ORACLED = sorted(entrymod.oracle_sql().keys())


def test_every_query_has_an_oracle():
    assert set(entrymod.queries()) <= set(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, oracle_con, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF).toPandas()
    ddf = oracle_con.sql(entrymod.oracle_sql()[name]).df()
    assert len(sdf) > 0, "oracle comparison must not pass trivially on empty results"
    _compare(sdf, ddf)


def test_minhash_lsh_query_releases_its_shingle_cache(spark):
    """The contract query collects its verified pairs and releases the
    shingle frame jaccard_verify persisted: nothing stays cached."""
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    out = entrymod.queries()["minhash_lsh"](spark, SF).toPandas()
    assert len(out) > 0
    assert not persisted_rdd_ids(spark) - before


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
