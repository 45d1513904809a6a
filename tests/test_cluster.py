"""Euclidean clustering vs exact single-machine union-find oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from codem_spark import util
from codem_spark.operators import cluster
from tests.conftest import SMALL_EXTENT, persisted_rdd_ids, union_find_oracle

# Both routes of euclidean_cluster face every exact test: None keeps the
# default cap (driver route at these sizes), 0 forces the distributed route.
ROUTES = pytest.mark.parametrize("driver_max_rows", [None, 0])


def _cap(monkeypatch, driver_max_rows):
    if driver_max_rows is not None:
        monkeypatch.setattr(cluster, "DRIVER_MAX_ROWS", driver_max_rows)


@ROUTES
def test_cluster_matches_union_find_oracle(spark, blob_points, monkeypatch, driver_max_rows):
    _cap(monkeypatch, driver_max_rows)
    df = spark.createDataFrame(blob_points)
    got = (
        cluster.euclidean_cluster(
            df, SMALL_EXTENT, tolerance=3.0, min_points=2
        )
        .toPandas()
        .sort_values("pid")
        .reset_index(drop=True)
    )
    P = blob_points.sort_values("pid")[["x", "y", "z"]].values
    pids = blob_points.sort_values("pid").pid.values
    roots = union_find_oracle(P, 3.0)
    # oracle labels -> min pid per component
    comp_min = {}
    for i, r in enumerate(roots):
        comp_min[r] = min(comp_min.get(r, pids[i]), pids[i])
    exp_label = np.array([comp_min[r] for r in roots])
    sizes = {r: (roots == r).sum() for r in set(roots)}
    exp = np.where(np.array([sizes[r] for r in roots]) >= 2, exp_label, -1)
    assert (got.cluster_id.values == exp).all()


@ROUTES
def test_cluster_min_points_filter(spark, blob_points, monkeypatch, driver_max_rows):
    _cap(monkeypatch, driver_max_rows)
    df = spark.createDataFrame(blob_points)
    got = cluster.euclidean_cluster(
        df, SMALL_EXTENT, tolerance=3.0, min_points=30
    ).toPandas()
    labelled = got[got.cluster_id >= 0]
    counts = labelled.groupby("cluster_id").size()
    assert (counts >= 30).all()
    assert len(counts) == 3  # the three blobs (isolated stragglers culled)


def test_dense_blob_emits_no_interior_edges(spark):
    """A dense blob strictly inside one tile contributes ZERO cross-tile
    edge rows (~m^2 without the kernel's home-cell filter): the in-tile
    kernel resolves it alone, so the edge pass stays O(boundary) at scale."""
    from codem_spark.functions import cells

    rng = np.random.default_rng(3)
    m = 2000
    tol = 3.0
    level = 4  # 16x16 tiles of 62.5 m over SMALL_EXTENT
    size = cells.cell_size(SMALL_EXTENT, level)
    # blob centered mid-tile, radius << distance to any border
    cx = 5 * size + size / 2
    pdf = pd.DataFrame(
        {
            "pid": np.arange(m),
            "x": cx + rng.uniform(-5, 5, m),
            "y": cx + rng.uniform(-5, 5, m),
            "z": np.zeros(m),
        }
    )
    df = spark.createDataFrame(pdf)
    tiled = cells.with_cell(df, "x", "y", SMALL_EXTENT, level)
    border = tiled.filter(cells.border_col(SMALL_EXTENT, level, tol)).select(
        "pid", "x", "y", "z"
    )
    assert border.count() == 0  # interior blob: nothing near a tile border
    edges = cluster._cross_tile_label_edges(
        border.withColumnRenamed("pid", "lab"), SMALL_EXTENT, tol, level
    )
    assert edges.count() == 0
    # without the border pre-filter, the kernel's home-cell filter alone
    # drops all m^2 intra-tile pairs
    edges_all = cluster._cross_tile_label_edges(
        df.withColumnRenamed("pid", "lab"), SMALL_EXTENT, tol, level
    )
    assert edges_all.count() == 0
    # and the full operator still clusters the blob exactly as one component
    got = cluster.euclidean_cluster(df, SMALL_EXTENT, tolerance=tol, min_points=2).toPandas()
    assert (got.cluster_id == 0).all()


@ROUTES
def test_cross_tile_chain_still_connects(spark, monkeypatch, driver_max_rows):
    """A chain of points crossing a tile border must still merge into one
    cluster through the border-band edge pass."""
    _cap(monkeypatch, driver_max_rows)
    from codem_spark.functions import cells

    level_size = cells.cell_size(SMALL_EXTENT, 4)
    xb = 3 * level_size  # a tile border
    xs = np.arange(xb - 10, xb + 10, 1.0)
    pdf = pd.DataFrame({"pid": np.arange(len(xs)), "x": xs, "y": np.full(len(xs), 40.0), "z": 0.0})
    got = (
        cluster.euclidean_cluster(
            spark.createDataFrame(pdf), SMALL_EXTENT, tolerance=1.5, min_points=2,
        )
        .toPandas()
        .sort_values("pid")
    )
    assert (got.cluster_id == 0).all()


def test_distributed_route_keeps_only_the_checkpoints_its_result_reads(spark, monkeypatch):
    """On the distributed route, the edge table and every superseded root
    map are released as label propagation goes: once the result is
    collected, only the tile kernel's checkpoint and the last root map are
    live (the result reads both), and the caller's scope releases them."""
    monkeypatch.setattr(cluster, "DRIVER_MAX_ROWS", 0)
    # a chain across the whole extent: one component over many tiles, so
    # the root map needs several propagation rounds
    xs = np.arange(0.5, 1000.0, 1.0)
    pdf = pd.DataFrame({"pid": np.arange(len(xs)), "x": xs, "y": 40.0, "z": 0.0})
    before = persisted_rdd_ids(spark)
    with util.cache_scope():
        got = cluster.euclidean_cluster(
            spark.createDataFrame(pdf), SMALL_EXTENT, tolerance=1.5, min_points=2
        ).toPandas()
        assert len(persisted_rdd_ids(spark) - before) == 2
    assert not persisted_rdd_ids(spark) - before
    assert len(got) == len(xs) and (got.cluster_id == 0).all()


@ROUTES
def test_cluster_duplicate_pids_preserve_cardinality(spark, monkeypatch, driver_max_rows):
    """Inputs may carry repeated pids (the bench's lineitem-derived cloud
    does): the label map must stay one-row-per-label, so the final join
    cannot fan out rows."""
    _cap(monkeypatch, driver_max_rows)
    rng = np.random.default_rng(7)
    base = pd.DataFrame(
        {
            "pid": np.arange(40),
            "x": rng.uniform(10, 90, 40),
            "y": rng.uniform(10, 90, 40),
            "z": 0.0,
        }
    )
    dup = pd.concat([base, base.iloc[:15]], ignore_index=True)  # repeated pids
    got = (
        cluster.euclidean_cluster(
            spark.createDataFrame(dup), SMALL_EXTENT, tolerance=3.0, min_points=2,
        )
        .toPandas()
        .sort_values(["pid", "cluster_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(dup)  # no fan-out, no loss
    # duplicate pid rows agree with their originals
    per_pid = got.groupby("pid").cluster_id.nunique()
    assert (per_pid == 1).all()

    # Two components far apart that share their min pid: each emits a size
    # row for label 5. The sizes must be summed per label, not joined twice.
    far = pd.DataFrame(
        {
            "pid": [5, 10, 11, 5, 20, 21],
            "x": [100.0, 101.0, 102.0, 800.0, 801.0, 802.0],
            "y": 40.0,
            "z": 0.0,
        }
    )
    got = cluster.euclidean_cluster(
        spark.createDataFrame(far), SMALL_EXTENT, tolerance=3.0, min_points=2,
    ).toPandas()
    assert len(got) == len(far)
    assert sorted(got.pid) == sorted(far.pid)
    assert (got.cluster_id == 5).all()


def test_driver_label_edges_dedups_point_pairs():
    """Two dense blobs touching across one tile border give ~m^2 point
    pairs but exactly one label edge."""
    rng = np.random.default_rng(5)
    m = 400
    left = np.column_stack([rng.uniform(98.0, 100.0, m), rng.uniform(0.0, 2.0, m), np.zeros(m)])
    right = np.column_stack([rng.uniform(100.0, 102.0, m), rng.uniform(0.0, 2.0, m), np.zeros(m)])
    pts = np.concatenate([left, right])
    labs = np.concatenate([np.full(m, 700, np.int64), np.full(m, 3, np.int64)])
    edges = cluster._driver_label_edges(pts, labs, 3.0)
    assert edges.tolist() == [[3, 700]]


def test_driver_label_edges_slices_equal_one_call(monkeypatch):
    """At >= 131,072 border rows the driver route splits the left side into
    thread slices; their union equals one grid_topk call over all rows
    with the same label order."""
    from codem_spark.operators import knn

    rng = np.random.default_rng(17)
    n = 140_000
    pts = np.column_stack([rng.uniform(0, 1000, n), rng.uniform(0, 1000, n), np.zeros(n)])
    # 10 m label blocks, their ids shuffled so label order is not row order
    block = (pts[:, 0] // 10).astype(np.int64) * 100 + (pts[:, 1] // 10).astype(np.int64)
    labs = rng.permutation(10_000)[block]
    tol = 2.0
    li, ri, _d, _rk = knn.grid_topk(pts, pts, np.arange(n), tol, k=None, order=(labs, labs))
    want = np.unique(np.stack([labs[li], labs[ri]], axis=1), axis=0)

    calls = []
    real = knn.grid_topk

    def spy(lpts, *a, **kw):
        calls.append(len(lpts))
        return real(lpts, *a, **kw)

    monkeypatch.setattr(knn, "grid_topk", spy)
    got = cluster._driver_label_edges(pts, labs, tol)
    assert len(calls) >= 2 and sum(calls) == n  # the sliced route ran
    assert len(want) > 10_000
    assert np.array_equal(got, want)
