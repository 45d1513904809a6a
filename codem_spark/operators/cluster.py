"""Euclidean clustering (J8) — distributed connected components.

Reference analog: PDAL filters.cluster groups points within ``tolerance``
(2.0 m) into ClusterID, keeping clusters with >= min_points members
(vcd/preprocessing/preprocess.py:234-249). Single-machine PDAL walks one
KD-tree; at 10^12 rows the engine instead:

1. tiles points by cell (cell edge >= tolerance) and runs a vectorized
   union-find *inside* each tile (applyInPandas kernel — grid-hash buckets,
   pairwise distance checks only between adjacent sub-buckets). Each row
   leaves the kernel with its tile-local label (min pid of its tile
   component), a border-band flag, and — on one representative row per
   component — the component size;
2. takes ONE bounded collect of the rows the rest needs (border rows and
   size representatives, ``limit(DRIVER_MAX_ROWS + 1)``). That probe picks
   the route, once, like the reference's single brute-force -> FLANN
   descriptor-match switch:

   - driver route (probe within the cap): the probe IS the data. Cross-tile
     LABEL edges come from the grid-hash kernel in numpy, components from
     the vectorized hash-to-min over the contracted label graph, sizes from
     a bincount; the resulting (label, cluster_id) map joins back to points
     in one broadcast join;
   - distributed route (probe over the cap): cross-tile label edges from
     the tile+halo plan of operators/knn.py over the border rows
     (:func:`_cross_tile_label_edges`), components by min-label propagation
     with group shortcutting (O(log diameter) rounds over label rows, the
     standard Spark connected-components-without-GraphX pattern), sizes by
     a label-level groupBy, then the same point join. Nothing is collected.

Labels are deterministic: a cluster's id is the minimum point id it
contains; singleton/small clusters get id -1 (the reference's convention:
ClusterID -1/0 are culled, preprocess.py:228-231). Repeated pids are
allowed; components that share a min pid share a label and are counted
as one cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.functions import cells
from codem_spark.operators import knn

Extent = tuple[float, float, float, float]

# The one driver collect (border rows plus one size row per tile component)
# holds at most this many rows; above it the distributed route runs. Read
# at call time.
DRIVER_MAX_ROWS = 1 << 21


def components_np(n: int, ii: np.ndarray, jj: np.ndarray) -> np.ndarray:
    """Connected components over ``n`` nodes and edges (ii, jj) — fully
    vectorized min-label propagation with pointer-doubling shortcuts
    (hash-to-min): labels only decrease, each round is O(E + n), and the
    shortcut step (label <- label of label) gives O(log diameter) rounds.
    Returns the component root index per node (min node index)."""
    lab = np.arange(n, dtype=np.int64)
    if len(ii) == 0:
        return lab
    a = np.concatenate([ii, jj])
    b = np.concatenate([jj, ii])
    while True:
        l2 = lab.copy()
        np.minimum.at(l2, a, lab[b])
        l2 = np.minimum(l2, l2[l2])
        l2 = np.minimum(l2, l2[l2])
        if np.array_equal(l2, lab):
            return lab
        lab = l2


def _tile_union_find(tolerance: float):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        pids = pdf["pid"].to_numpy()
        cols = ["pid", "label", "lab_n", "x", "y", "z", "is_border"]
        if n == 0:
            return pd.DataFrame({c: [] for c in cols})
        pts = pdf[["x", "y", "z"]].to_numpy(np.float64)
        # within-tolerance pairs via the shared grid-hash radius kernel
        # (linear in candidate volume); ordering by row index keeps each
        # unordered pair once, halving the DRAM-bound candidate/distance
        # volume — components_np symmetrizes internally, so one orientation
        # per pair is enough. Then vectorized component labels — no
        # per-pair Python loop.
        idx = np.arange(n)
        li, ri, _d, _rk = knn.grid_topk(pts, pts, idx, tolerance, k=None, order=(idx, idx))
        roots = components_np(n, li, ri)
        # tile-local label = min pid in component (globally meaningful seed).
        # Coordinates and the border flag ride along so the cross-tile edge
        # join can run DIRECTLY on labeled border rows — the old plan joined
        # the full label table back onto the edge endpoints, two full-table
        # shuffles per run (guide §8: carry the small annotation with the
        # row instead of joining it back later).
        pids64 = pids.astype(np.int64)
        comp_min = np.full(n, np.iinfo(np.int64).max)
        np.minimum.at(comp_min, roots, pids64)
        # label sizes are known here — labels are tile-local (min pid of the
        # tile component), so a label's global count is the sum of its
        # components' sizes. Each size is emitted on exactly ONE
        # representative row per component (first row carrying the min pid)
        # and 0 elsewhere. Two components that share a min pid (repeated
        # input pids) emit two representatives with one label, so the
        # caller sums lab_n per label.
        comp_n = np.bincount(roots, minlength=n)
        cand = np.flatnonzero(pids64 == comp_min[roots])
        rep_idx = np.full(n, n, dtype=np.int64)
        np.minimum.at(rep_idx, roots[cand], cand)
        lab_n = np.zeros(n, dtype=np.int64)
        sel = rep_idx[rep_idx < n]
        lab_n[sel] = comp_n[roots[sel]]
        return pd.DataFrame(
            {
                "pid": pids,
                "label": comp_min[roots],
                "lab_n": lab_n,
                "x": pts[:, 0],
                "y": pts[:, 1],
                "z": pts[:, 2],
                "is_border": pdf["_border"].to_numpy(),
            }
        )

    return kernel


def _driver_label_edges(bpts: np.ndarray, blab: np.ndarray, tol: float) -> np.ndarray:
    """Unique cross-label edges among border rows, as sorted (lower,
    higher) label pairs of shape (E, 2).

    Any within-tolerance pair in the SAME tile is same-label by construction
    (the tile kernel unioned it), so keeping pairs with different labels
    yields exactly the cross-tile label edge set. ``grid_topk``'s label
    order keeps each such point pair once, in its (lower, higher) label
    orientation, by an integer compare before the 3-D distance. Large
    inputs are split into left-slices across threads (numpy releases the
    GIL on the bulk ops); the rule needs no row index, so the slices'
    union is exactly the single-call pair set. Each slice deduplicates its
    pairs before the concatenation, so the driver holds unique label
    pairs, not point pairs."""
    nb = len(bpts)
    rix = np.arange(nb)

    def edge_slice(s: int, e: int) -> np.ndarray:
        bi, bj, _d, _rk = knn.grid_topk(
            bpts[s:e], bpts, rix, tol, k=None, order=(blab[s:e], blab)
        )
        return np.unique(np.stack([blab[bi + s], blab[bj]], axis=1), axis=0)

    nthr = min(8, max(1, nb // 65536))
    if nthr <= 1:
        return edge_slice(0, nb)
    from concurrent.futures import ThreadPoolExecutor

    bounds = np.linspace(0, nb, nthr + 1).astype(np.int64)
    with ThreadPoolExecutor(nthr) as pool:
        parts = list(
            pool.map(lambda i: edge_slice(int(bounds[i]), int(bounds[i + 1])), range(nthr))
        )
    return np.unique(np.concatenate(parts), axis=0)


def _driver_label_map(probe: pd.DataFrame, tol: float, min_points: int) -> pd.DataFrame:
    """(label, cluster_id) for every label, from the probe rows alone."""
    lab = probe["label"].to_numpy(np.int64)
    lab_n = probe["lab_n"].to_numpy(np.int64)
    rep = lab_n > 0
    # sorted unique labels; summing per label folds components that share
    # a min pid into one size
    labs, inv = np.unique(lab[rep], return_inverse=True)
    sizes = np.bincount(inv, weights=lab_n[rep], minlength=len(labs))
    border = probe["is_border"].to_numpy(bool)
    edges = _driver_label_edges(
        probe.loc[border, ["x", "y", "z"]].to_numpy(np.float64), lab[border], tol
    )
    # every border label has a representative row, so searchsorted is exact
    roots = components_np(
        len(labs), np.searchsorted(labs, edges[:, 0]), np.searchsorted(labs, edges[:, 1])
    )
    # labels are sorted, so the min index of a component is its min label
    tot = np.bincount(roots, weights=sizes, minlength=len(labs))
    cluster_id = np.where(tot[roots] >= min_points, labs[roots], np.int64(-1))
    return pd.DataFrame({"label": labs, "cluster_id": cluster_id})


def _cross_tile_label_edges(
    border: DataFrame, extent: Extent, tol: float, level: int
) -> DataFrame:
    """Distinct cross-tile label edges (la, lb), la < lb, among the
    ``border(lab, x, y, z)`` rows — the tile+halo plan of operators/knn.py
    (:func:`knn.tile_right` + :func:`knn._tile_cogroup`) with ``border`` on
    both sides.

    Per tile, the kernel drops the halo rows whose home cell is this tile:
    intra-tile connectivity is already resolved by the union-find kernel,
    and re-emitting intra-tile pairs would make a dense m-point blob cost m²
    edge rows at the shuffle (home cells come from cells.cell_encode_np,
    bit-identical to the Spark-side with_cell). ``grid_topk``'s label order
    keeps only la < lb, before the distance evaluation: same-label pairs
    carry no connectivity, and each cross-tile pair is found in both
    orientations (once per endpoint's home tile), so one orientation halves
    the rows crossing the shuffle; the caller symmetrizes."""

    def kernel(cell: int, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(rpdf):
            home = cells.cell_encode_np(
                rpdf["x"].to_numpy(np.float64), rpdf["y"].to_numpy(np.float64),
                extent, level,
            )
            rpdf = rpdf[home != cell]
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"la": [], "lb": []})
        la = lpdf["lab"].to_numpy()
        lb = rpdf["lab"].to_numpy()
        li, ri, _d, _rk = knn.grid_topk(
            lpdf[["x", "y", "z"]].to_numpy(np.float64),
            rpdf[["x", "y", "z"]].to_numpy(np.float64),
            lb, tol, k=None, order=(la, lb),
        )
        return pd.DataFrame({"la": la[li], "lb": lb[ri]})

    right_tiled = knn.tile_right(border, extent, tol, level, rid="lab")
    return knn._tile_cogroup(
        border, right_tiled, extent, level, ["cell_id", "lab", "x", "y", "z"],
        kernel, "la long, lb long",
    ).distinct()


def _distributed_label_map(
    labeled: DataFrame, extent: Extent, tol: float, level: int, min_points: int
) -> DataFrame:
    """(label, cluster_id) for every label, without a driver collect.

    Each root-map generation is released once the next one is
    materialized, and the edge table after the loop; the last root map
    stays with the caller's cache scope (the returned frame reads it)."""
    border = labeled.filter(F.col("is_border")).select(
        F.col("label").alias("lab"), "x", "y", "z"
    )
    ledges = _cross_tile_label_edges(border, extent, tol, level)
    sym = util.checkpoint(ledges.unionByName(
        ledges.select(F.col("lb").alias("la"), F.col("la").alias("lb"))
    ))
    rm = util.checkpoint(
        sym.groupBy("la").agg(F.min("lb").alias("root"))
        .select("la", F.least("la", "root").alias("root"))
    )
    # Convergence via a monotone scalar: roots only decrease, so the loop
    # terminates, and fixpoint <=> root-sum unchanged. (A join-based
    # old-vs-new compare would hit the shared-lineage attribute collapse —
    # see operators/knn.py — and silently always 'converge'.)
    prev_sum = rm.agg(F.sum("root")).collect()[0][0]
    while True:
        ra = rm.withColumnsRenamed({"la": "a_", "root": "ra"})
        rb = rm.withColumnsRenamed({"la": "lb", "root": "rb"})
        prop = (
            sym.join(ra, sym.la == ra.a_)
            .join(rb, "lb")
            .select(F.col("la"), F.least("ra", "rb").alias("nr"))
            .groupBy("la")
            .agg(F.min("nr").alias("nr"))
        )
        stepped = rm.join(prop, "la", "left").select(
            "la",
            F.col("root").alias("old_root"),
            F.least(F.col("root"), F.coalesce("nr", F.col("root"))).alias("nr"),
        )
        gmap = stepped.groupBy("old_root").agg(F.min("nr").alias("gmin"))
        prev, rm = rm, util.checkpoint(
            stepped.join(gmap, "old_root").select("la", F.least("nr", "gmin").alias("root"))
        )
        util.release(prev)
        new_sum = rm.agg(F.sum("root")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    util.release(sym)
    # summing per label folds components that share a min pid into one size
    lsize = labeled.filter(F.col("lab_n") > 0).groupBy("label").agg(F.sum("lab_n").alias("n"))
    labmap = lsize.join(rm.withColumnsRenamed({"la": "label"}), "label", "left").select(
        "label", F.coalesce("root", "label").alias("root"), "n"
    )
    rsize = labmap.groupBy("root").agg(F.sum("n").alias("tot"))
    return labmap.join(rsize, "root").select(
        "label",
        F.when(F.col("tot") >= min_points, F.col("root")).otherwise(F.lit(-1)).alias("cluster_id"),
    )


def euclidean_cluster(
    points: DataFrame,
    extent: Extent,
    tolerance: float = 2.0,
    min_points: int = 30,
) -> DataFrame:
    """points(pid, x, y, z) -> (pid, cluster_id); cluster_id = min pid of the
    cluster, or -1 for clusters smaller than min_points.

    ``DRIVER_MAX_ROWS`` caps the one driver collect; above it the
    distributed route runs. The returned frame reads the tile kernel's
    checkpoint, which belongs to the caller's cache scope."""
    # The input has exactly ONE data consumer (the tile kernel — border rows
    # and labels all derive from the checkpointed kernel output), so no
    # persist: a cache pass here is a pure extra materialization.
    points = points.select("pid", "x", "y", "z")
    spark = points.sparkSession
    level = knn.level_of(points, extent, tolerance)
    tiled = cells.with_cell(points, "x", "y", extent, level)
    # border-band membership is decided BEFORE the kernel and carried
    # through it, so the labeled frame already knows which rows can
    # participate in cross-tile edges
    labeled = util.checkpoint(
        tiled.withColumn("_border", cells.border_col(extent, level, tolerance))
        .drop("_ix", "_iy")
        .groupBy("cell_id")
        .applyInPandas(
            lambda _k, pdf: _tile_union_find(tolerance)(pdf),
            schema="pid long, label long, lab_n long, "
            "x double, y double, z double, is_border boolean",
        )
    )
    # The single route decision: border rows feed the edges, lab_n > 0 rows
    # the sizes. Within the cap, the probe holds everything the driver
    # route needs.
    cap = DRIVER_MAX_ROWS
    probe = (
        labeled.filter(F.col("is_border") | (F.col("lab_n") > 0))
        .select("label", "lab_n", "x", "y", "z", "is_border")
        .limit(cap + 1)
        .toPandas()
    )
    if len(probe) <= cap:
        final_map = F.broadcast(
            spark.createDataFrame(
                _driver_label_map(probe, tolerance, min_points),
                schema="label long, cluster_id long",
            )
        )
    else:
        final_map = _distributed_label_map(labeled, extent, tolerance, level, min_points)
    return labeled.select("pid", "label").join(final_map, "label").select("pid", "cluster_id")
