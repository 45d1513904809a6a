"""Replicates the driver's verify: every queries() entry has an SQL oracle,
runs at sf0.01 and is compared to DuckDB (row count + column names +
order-insensitive value equality, columns sorted by name — exactly the
driver's comparison shape)."""

from __future__ import annotations

import importlib

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

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


# Capacity switches forced to their other branch: query -> (module, cap
# constant, the function only the forced branch calls). With no such
# function, the forced run must take more Spark jobs than the default one.
CAPS_FORCED = {
    "euclidean_cluster": (
        "codem_spark.operators.cluster", "DRIVER_MAX_ROWS", "_distributed_label_map"
    ),
    "quantize": ("codem_spark.operators.grid", "PCT_COLLECT_CAP", None),
    "coarse_registration": (
        "codem_spark.registration.coarse", "BF_MATCH_CAPACITY", "_match_features_lsh"
    ),
}


def _run_counting_jobs(spark, name, run):
    """The query's rows and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"caps_forced_{name}_{run}"
    sc.setJobGroup(group, group)
    try:
        pdf = entrymod.queries()[name](spark, SF).toPandas()
    finally:
        sc.setJobGroup(None, None)
    return pdf, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", list(CAPS_FORCED))
def test_query_matches_oracle_with_caps_forced(spark, oracle_con, monkeypatch, name):
    """Each driver-collect cap set to 0 forces the branch the default cap
    never reaches at sf0.01; the contract query must still match its
    oracle, and the forced branch must be shown to have run."""
    mod_name, cap, branch = CAPS_FORCED[name]
    mod = importlib.import_module(mod_name)
    if branch is None:
        _, default_jobs = _run_counting_jobs(spark, name, "default")
    else:
        calls = []
        real = getattr(mod, branch)
        monkeypatch.setattr(mod, branch, lambda *a, **kw: calls.append(1) or real(*a, **kw))
    monkeypatch.setattr(mod, cap, 0)
    sdf, forced_jobs = _run_counting_jobs(spark, name, "forced")
    if branch is None:
        assert forced_jobs > default_jobs, (forced_jobs, default_jobs)
    else:
        assert calls, f"{branch} did not run"
    ddf = oracle_con.sql(entrymod.oracle_sql()[name]).df()
    assert len(sdf) > 0
    _compare(sdf, ddf)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
