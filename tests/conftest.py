from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from codem_spark.session import get_spark

EXTENT = (0.0, 0.0, 100_000.0, 100_000.0)
SMALL_EXTENT = (0.0, 0.0, 1000.0, 1000.0)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="codem_spark_tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(scope="session")
def blob_points() -> pd.DataFrame:
    """Three dense blobs + scattered noise (FIXTURES.md §5 shape)."""
    rng = np.random.default_rng(7)
    frames = []
    for ci, (cx, cy) in enumerate([(100, 100), (500, 500), (800, 200)]):
        frames.append(
            pd.DataFrame(
                {
                    "pid": np.arange(ci * 1000, ci * 1000 + 60),
                    "x": cx + rng.uniform(-5, 5, 60),
                    "y": cy + rng.uniform(-5, 5, 60),
                    "z": np.zeros(60),
                }
            )
        )
    frames.append(
        pd.DataFrame(
            {
                "pid": np.arange(5000, 5020),
                "x": rng.uniform(0, 1000, 20),
                "y": rng.uniform(0, 1000, 20),
                "z": np.zeros(20),
            }
        )
    )
    return pd.concat(frames, ignore_index=True)


def persisted_rdd_ids(spark) -> set:
    """Ids of the persisted RDDs. Compared as sets: a frame an earlier test
    left behind may be released by Spark's cleaner meanwhile, which a
    difference of counts would read as a missing new frame."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


# modules whose every test must leave no persisted or checkpointed RDD
_LEAK_GATED = ("test_entry.py", "test_cli.py")


@pytest.fixture(autouse=True)
def no_leftover_caches(request):
    """Around each contract-query and CLI test: no RDD id persisted during
    the test survives it."""
    if request.path.name not in _LEAK_GATED:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = persisted_rdd_ids(spark)
    yield
    assert not persisted_rdd_ids(spark) - before, "the test left cached RDDs"


def union_find_oracle(P: np.ndarray, tol: float) -> np.ndarray:
    """Single-machine exact connected components (edges = dist <= tol)."""
    n = len(P)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    d2 = ((P[:, None, :] - P[None, :, :]) ** 2).sum(2)
    ii, jj = np.nonzero(d2 <= tol * tol)
    for a, b in zip(ii, jj):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)])


def frame_digest(pdf: pd.DataFrame, cols: list[str], key: list[str]) -> str:
    """Order-free digest of ``cols`` (rows sorted by ``key``); floats are
    rounded to 1e-6 so the pin names the output, not the last ulp."""
    pdf = pdf.sort_values(key).reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        v = pdf[c].to_numpy()
        if v.dtype.kind == "f":
            v = np.round(v, 6) + 0.0  # + 0.0 folds -0.0 into 0.0
        h.update(np.ascontiguousarray(v).tobytes())
    return h.hexdigest()[:16]
