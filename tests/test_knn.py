"""kNN joins and the cross-tile clustering edges vs exact numpy
brute-force oracles."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from codem_spark import synth
from codem_spark.functions import cells
from codem_spark.operators import cluster, knn
from tests.conftest import EXTENT, SMALL_EXTENT, persisted_rdd_ids


def _brute_nn(A: np.ndarray, B: np.ndarray, b_ids: np.ndarray):
    d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(2)
    order = np.lexsort((np.broadcast_to(b_ids, d2.shape), d2), axis=1)[:, 0]
    return b_ids[order], np.sqrt(d2[np.arange(len(A)), order])


def test_knn_complete_matches_bruteforce(spark):
    before = synth.point_cloud(spark, 3000).select("pid", "x", "y", "z")
    after = synth.point_cloud(spark, 2000, jitter=1.0).select(
        (F.col("pid") + 1_000_000).alias("pid"), "x", "y", "z"
    )
    res = knn.knn_join_complete(after, before, EXTENT, radius=2000.0).toPandas()
    bp = before.toPandas().sort_values("pid").reset_index(drop=True)
    ap = after.toPandas().sort_values("pid").reset_index(drop=True)
    exp_nn, exp_d = _brute_nn(
        ap[["x", "y", "z"]].values, bp[["x", "y", "z"]].values, bp.pid.values
    )
    assert len(res) == len(ap)
    got = res.set_index("pid")
    assert (got.loc[ap.pid.values, "n_pid"].values == exp_nn).all()
    assert np.allclose(got.loc[ap.pid.values, "nn_dist"].values, exp_d, atol=1e-9)


def test_knn_radius_bound_respected(spark):
    a = synth.point_cloud(spark, 500).select("pid", "x", "y", "z")
    b = synth.point_cloud(spark, 500).select((F.col("pid") + 10_000).alias("pid"), "x", "y", "z")
    res = knn.knn_join(a, b, EXTENT, radius=800.0, k=3).toPandas()
    assert (res.nn_dist <= 800.0).all()
    assert res.groupby("pid").size().max() <= 3


def test_knn_join_complete_checkpoints_no_right_side(spark):
    """A single-round call persists only its round's checkpoint: the right
    side is read from its own plan, not checkpointed."""
    before = synth.point_cloud(spark, 3000).select("pid", "x", "y", "z")
    after = synth.point_cloud(spark, 2000, jitter=1.0).select(
        (F.col("pid") + 1_000_000).alias("pid"), "x", "y", "z"
    )
    ids0 = persisted_rdd_ids(spark)
    res = knn.knn_join_complete(after, before, EXTENT, radius=2000.0)
    assert len(persisted_rdd_ids(spark) - ids0) == 1
    assert res.count() == 2000


def test_cross_tile_label_edges_match_bruteforce(spark, blob_points):
    """With every point its own label, the edges are exactly the
    within-radius pairs whose endpoints have different home tiles, lower
    id first, each once."""
    level, tol = 6, 3.0
    border = spark.createDataFrame(blob_points).withColumnRenamed("pid", "lab")
    got = cluster._cross_tile_label_edges(border, SMALL_EXTENT, tol, level).toPandas()
    P = blob_points[["x", "y", "z"]].to_numpy()
    ids = blob_points.pid.to_numpy()
    home = cells.cell_encode_np(P[:, 0], P[:, 1], SMALL_EXTENT, level)
    d2 = ((P[:, None, :] - P[None, :, :]) ** 2).sum(2)
    ii, jj = np.nonzero((d2 <= tol * tol) & (home[:, None] != home[None, :]))
    exp = {(int(a), int(b)) for a, b in zip(ids[ii], ids[jj]) if a < b}
    pairs = list(zip(got.la.astype(int), got.lb.astype(int)))
    assert exp
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == exp


def test_knn_deterministic_across_runs(spark):
    a = synth.point_cloud(spark, 1000).select("pid", "x", "y", "z")
    b = synth.point_cloud(spark, 1000).select((F.col("pid") + 10_000).alias("pid"), "x", "y", "z")
    r1 = knn.knn_join(a, b, EXTENT, radius=3000.0, k=2).toPandas().sort_values(["pid", "nn_rank"])
    r2 = knn.knn_join(a.repartition(7), b.repartition(3), EXTENT, radius=3000.0, k=2).toPandas().sort_values(["pid", "nn_rank"])
    assert (r1.n_pid.values == r2.n_pid.values).all()


def test_grid_topk_k1_path_matches_rank1_of_k2():
    """grid_topk's k=1 path (segmented minimum.reduceat) picks the same
    neighbour as the rank-1 rows of the general lexsort path. Integer-grid
    clouds with repeated points make exact distance ties common; they
    break by right id, which is permuted so it disagrees with row order."""
    rng = np.random.default_rng(31)
    n_ties = 0
    for _ in range(20):
        lpts = rng.integers(0, 10, (300, 3)).astype(np.float64)
        rpts = rng.integers(0, 10, (400, 3)).astype(np.float64)
        rids = rng.permutation(10_000)[:400].astype(np.int64)
        li1, ri1, d1, rk1 = knn.grid_topk(lpts, rpts, rids, 2.0, 1)
        li2, ri2, d2, rk2 = knn.grid_topk(lpts, rpts, rids, 2.0, 2)
        top = rk2 == 1
        o1, o2 = np.argsort(li1, kind="stable"), np.argsort(li2[top], kind="stable")
        assert (rk1 == 1).all()
        assert np.array_equal(li1[o1], li2[top][o2])
        assert np.array_equal(ri1[o1], ri2[top][o2])
        assert np.array_equal(d1[o1], d2[top][o2])
        # a rank-2 row at the rank-1 distance is a tie the id had to break
        second = rk2 == 2
        best = dict(zip(li2[top], d2[top]))
        n_ties += int(sum(best[li] == d for li, d in zip(li2[second], d2[second])))
    assert n_ties > 100
