"""Point-to-plane ICP with distributed normal equations (A5/A6, J2, J4).

Reference analog: IcpRegistration.register (icp.py:99-220) — per iteration:
kNN correspondences bounded by the coarse RMSE (icp.py:132-140), robust IRLS
weights w = (1+(r/beta)^2)^(alpha/2-1) with alpha decaying 2 -> 0 by 0.2 and
beta = resolution/2 + 0.5 (icp.py:128-130,151,246-285), linearized 6/7-param
solve x = (A^T W A)^-1 A^T W b (icp.py:312-454), mean-centering for
conditioning (icp.py:116-119), convergence on relative dRMSE < 1e-4 or
(dangle < 0.001 deg and ddist < 0.001 m), <= 100 iterations
(icp.py:173-185, main.py:70-73).

Engine design (the north-star op): both clouds are tiled ONCE per run and
cached, hash-partitioned on the same ``cell_id`` — the fixed cloud (with
its normals) with a halo of radius + delta (knn.tile_right), the moving
cloud keyed by the cell of its starting pose but carrying its original
x/y/z. Every pass is then ONE Spark job with no Exchange: a cogroup of the
two caches whose vectorized kernel poses the moving points with the
current 4x4 (geo.transform_xyz, bit-identical to apply_transform_cols),
matches each to its nearest fixed point within the radius
(knn.grid_topk), and collapses the matches to ONE row per tile — the
flattened upper triangle of A^T W A (7x7 -> 28), A^T W b (7), sum w*r^2,
sum r^2, sum w, n, the per-axis squared residual sums, and the largest
horizontal drift of a point from its tiled pose. The driver sums the rows
in cell order, solves the 7x7 system and composes the update — identical
math to the reference, distributed sums. A pass whose drift exceeds delta
(= the radius) could have missed neighbours past the halo, so the moving
side is re-tiled at the current pose and the pass runs again. The final
residual stats are one more pass of the same job. Weights stay a vector;
W is never materialized (reference keeps it a sparse diagonal,
icp.py:285).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.config import EngineConfig, RegistrationParameters
from codem_spark.functions import cells
from codem_spark.functions.geo import (
    apply_transform_cols,
    decompose_similarity,
    similarity_matrix_rad,
    transform_xyz,
)
from codem_spark.operators import knn

Extent = tuple[float, float, float, float]


# ------------------------------------------------------------------ normals
def compute_normals(
    points: DataFrame,
    extent: Extent,
    radius: float,
    k: int = 9,
) -> DataFrame:
    """J4: per-point plane normal from the k-nearest neighborhood's 3x3
    covariance smallest eigenvector (reference delegates to PDAL
    filters.normal knn=9, preprocess.py:317-350). Tile+halo cogroup kernel;
    normals oriented +z (the reference's convention for DSM-derived clouds).
    Output: (pid, x, y, z, nx, ny, nz)."""
    level = knn.level_of(points, extent, radius)

    def kernel(_cell, qpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["pid", "x", "y", "z", "nx", "ny", "nz"]
        if len(qpdf) == 0:
            return pd.DataFrame({c: [] for c in cols})
        qp = qpdf[["x", "y", "z"]].to_numpy(np.float64)
        sp = spdf[["x", "y", "z"]].to_numpy(np.float64)
        n_q = len(qp)
        nx = np.zeros(n_q)
        ny = np.zeros(n_q)
        nz = np.ones(n_q)
        if len(sp) >= 3:
            # radius-bounded kNN via the shared grid-hash core (linear in
            # candidate volume — a full pairwise matrix here measured 235 s
            # on a 900k-point cloud); points with <3 neighbors inside the
            # radius keep the vertical default
            li, ri, _d, _rk = knn.grid_topk(
                qp, sp, np.arange(len(sp)), radius, k=k
            )
            if len(li):
                # per-query neighbor groups are contiguous in li; batched
                # covariance via reduceat + batched eigh — no Python loop
                starts = np.flatnonzero(np.diff(li, prepend=-1))
                counts = np.diff(starts, append=len(li))
                nb = sp[ri]
                s1 = np.add.reduceat(nb, starts, axis=0)  # (G, 3)
                prods = (nb[:, :, None] * nb[:, None, :]).reshape(len(nb), 9)
                s2 = np.add.reduceat(prods, starts, axis=0).reshape(-1, 3, 3)
                mu = s1 / counts[:, None]
                cov = s2 / counts[:, None, None] - mu[:, :, None] * mu[:, None, :]
                enough = counts >= 3
                if enough.any():
                    _w, v = np.linalg.eigh(cov[enough])  # batched (G, 3, 3)
                    nv = v[:, :, 0]
                    nv[nv[:, 2] < 0] *= -1.0
                    qi = li[starts[enough]]
                    nx[qi] = nv[:, 0]
                    ny[qi] = nv[:, 1]
                    nz[qi] = nv[:, 2]
        return pd.DataFrame(
            {
                "pid": qpdf["pid"].to_numpy(),
                "x": qp[:, 0],
                "y": qp[:, 1],
                "z": qp[:, 2],
                "nx": nx,
                "ny": ny,
                "nz": nz,
            }
        )

    pt = {f.name: f.dataType.simpleString() for f in points.schema.fields}["pid"]
    schema = f"pid {pt}, x double, y double, z double, nx double, ny double, nz double"
    samples = knn.tile_right(points, extent, radius, level, rid=None)
    return knn._tile_cogroup(
        points, samples, extent, level, ["pid", "x", "y", "z", "cell_id"], kernel, schema
    )


# ------------------------------------------------------- normal eq partials
_NP7 = 7  # omega, phi, kappa (linearized), tx, ty, tz, scale
_ACC_COLS = (
    [f"m{i}" for i in range(28)] + [f"b{i}" for i in range(_NP7)] + ["wr2", "r2", "sw", "n"]
)
# one row per tile with moving points: the 39 partial sums, the per-axis
# squared residual sums and the largest horizontal drift from the tiled pose
_PASS_COLS = ["cell_id", *_ACC_COLS, "sdx2", "sdy2", "sdz2", "drift"]
_PASS_SCHEMA = ", ".join(
    f"{c} {'long' if c in ('cell_id', 'n') else 'double'}" for c in _PASS_COLS
)
# the drift margin delta = _DRIFT_FACTOR * radius widens the fixed halo, so
# a moving point tiled at one pose keeps every fixed neighbour within radius
# in its tile while its later poses stay within delta (horizontally)
_DRIFT_FACTOR = 1.0


def _partials(
    p: np.ndarray, q: np.ndarray, nrm: np.ndarray,
    solve_scale: bool, alpha: float, beta: float, robust: bool,
) -> np.ndarray:
    """Partial normal equations of the point-to-plane linearization over
    correspondences p (moving) -> q (fixed, unit normal nrm):
      r = (p - q) . n
      a = [ (p x n), n, (p . n) ]  (7 terms; scale term dropped if unscaled)
    Weights (reference _get_weights, icp.py:246-285):
      w = (1 + (r/beta)^2)^(alpha/2 - 1)
    Returns the 39 sums of ``_ACC_COLS``: upper triangle of A^T W A (28),
    A^T W b (7), sum w r^2, sum r^2, sum w, n."""
    r = ((p - q) * nrm).sum(axis=1)
    if robust:
        w = (1.0 + (r / beta) ** 2) ** (alpha / 2.0 - 1.0)
    else:
        w = np.ones_like(r)
    cx = np.cross(p, nrm)  # (n,3)
    a = np.column_stack([cx, nrm, (p * nrm).sum(axis=1)])  # (n,7)
    if not solve_scale:
        a[:, 6] = 0.0
    aw = a * w[:, None]
    ata = a.T @ aw  # (7,7)
    atb = aw.T @ (-r)  # (7,)
    return np.concatenate([
        ata[np.triu_indices(_NP7)], atb,
        [(w * r * r).sum(), (r * r).sum(), w.sum(), len(r)],
    ])


def _pass_kernel_builder(
    pose: np.ndarray, tile_pose: np.ndarray, radius: float,
    solve_scale: bool, alpha: float, beta: float, robust: bool,
):
    """Per-tile cogroup kernel of one ICP pass: pose the tile's moving
    points (original x/y/z) with ``pose``, match each to its nearest fixed
    point within ``radius`` (ties by ascending pid), and reduce to ONE row
    of ``_PASS_COLS``. ``drift`` is the largest horizontal distance of a
    moving point from where ``tile_pose`` put it when it was tiled."""

    def kernel(key, mpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        if len(mpdf) == 0:
            return pd.DataFrame({c: [] for c in _PASS_COLS})
        xyz = [mpdf[c].to_numpy(np.float64) for c in ("x", "y", "z")]
        p = np.column_stack(transform_xyz(pose, *xyz))
        tx, ty, _tz = transform_xyz(tile_pose, *xyz)
        drift = float(np.sqrt((p[:, 0] - tx) ** 2 + (p[:, 1] - ty) ** 2).max())
        fpts = fpdf[["_r_x", "_r_y", "_r_z"]].to_numpy(np.float64)
        li, ri, _d, _rk = knn.grid_topk(p, fpts, fpdf["_r_pid"].to_numpy(), radius, k=1)
        pm, q = p[li], fpts[ri]
        nrm = fpdf[["_r_nx", "_r_ny", "_r_nz"]].to_numpy(np.float64)[ri]
        acc = _partials(pm, q, nrm, solve_scale, alpha, beta, robust)
        d = pm - q
        # typed 1-element columns: a list row goes through pandas' per-value
        # type inference, which cost ~4x the tile's neighbour search
        vals = np.concatenate([acc, (d * d).sum(axis=0), [drift]])
        row = {"cell_id": np.array([key[0]], np.int64)}
        row.update((c, vals[i : i + 1]) for i, c in enumerate(_PASS_COLS[1:]))
        row["n"] = row["n"].astype(np.int64)
        return pd.DataFrame(row)

    return kernel


def _tile_fixed(fixed: DataFrame, extent: Extent, reach: float, level: int) -> DataFrame:
    """The fixed side (with normals) tiled with a ``reach``-wide halo,
    hash-partitioned on ``cell_id`` and cached."""
    return util.persist(
        knn.tile_right(
            fixed, extent, reach, level, rid="pid", r_carry=("x", "y", "z", "nx", "ny", "nz")
        ).repartition(F.col("cell_id"))
    )


def _tile_moving(moving: DataFrame, pose: np.ndarray, extent: Extent, level: int) -> DataFrame:
    """The moving side, keyed by the cell of its ``pose``d x/y but carrying
    its ORIGINAL x/y/z (the pass kernel poses it), hash-partitioned on
    ``cell_id`` like the fixed tiles and cached."""
    px, py, _pz = transform_xyz(pose, F.col("x"), F.col("y"), F.col("z"))
    posed = moving.select("pid", "x", "y", "z", px.alias("_px"), py.alias("_py"))
    return util.persist(
        cells.with_cell(posed, "_px", "_py", extent, level)
        .select("cell_id", "pid", "x", "y", "z")
        .repartition(F.col("cell_id"))
    )


def _pass_frame(moving_tiled: DataFrame, fixed_tiled: DataFrame, kernel) -> DataFrame:
    """One ICP pass: both sides are cached with the same hash partitioning
    on ``cell_id``, so once the first pass has filled the caches the
    cogroup plans no Exchange (tests/test_plans.py)."""
    return (
        moving_tiled.groupBy("cell_id")
        .cogroup(fixed_tiled.groupBy("cell_id"))
        .applyInPandas(kernel, schema=_PASS_SCHEMA)
    )


def _sum_tiles(rows) -> tuple[np.ndarray, float]:
    """Driver-side reduce of one pass: the per-tile rows summed in cell_id
    order (deterministic), and the largest drift."""
    arr = np.array(sorted(tuple(r) for r in rows), dtype=np.float64).reshape(-1, len(_PASS_COLS))
    return arr[:, 1:-1].sum(axis=0), float(arr[:, -1].max(initial=0.0))


def _solve_update(acc: np.ndarray, solve_scale: bool) -> np.ndarray:
    """Driver-side 7x7 solve -> incremental 4x4 (reference icp.py:312-454:
    compose rotation from linearized angles, translation, scale)."""
    ata = np.zeros((7, 7))
    iu = np.triu_indices(7)
    ata[iu] = acc[:28]
    ata = ata + ata.T - np.diag(np.diag(ata))
    atb = acc[28:35]
    if not solve_scale:
        ata = ata[:6, :6]
        atb = atb[:6]
    # Tikhonov epsilon guards rank deficiency on degenerate tiles
    x = np.linalg.solve(ata + 1e-12 * np.eye(len(ata)), atb)
    om, ph, ka = x[0], x[1], x[2]
    t = x[3:6]
    ds = x[6] if solve_scale else 0.0
    # exact rotation from the linearized angles (small per-iteration)
    return similarity_matrix_rad(1.0 + ds, om, ph, ka, t)


def fine_registration(
    fixed: DataFrame,
    moving: DataFrame,
    extent: Extent,
    resolution: float,
    cfg: EngineConfig | None = None,
    initial: np.ndarray | None = None,
    knn_radius: float | None = None,
) -> RegistrationParameters:
    """Distributed point-to-plane ICP. fixed/moving: (pid, x, y, z).

    Returns the *incremental* transform refined from ``initial`` (i.e. the
    returned matrix already includes ``initial`` composed in, matching the
    reference where ICP starts from the coarse transform and outputs the
    total fine matrix, icp.py:116-119,195-202)."""
    cfg = cfg or EngineConfig()
    sc = fixed.sparkSession.sparkContext
    t_total = np.eye(4) if initial is None else np.asarray(initial, np.float64).copy()
    radius = knn_radius if knn_radius is not None else max(2.0 * resolution, 1.0)
    drift_margin = _DRIFT_FACTOR * radius
    beta = resolution / 2.0 + 0.5

    # normals on the fixed cloud (once; reference preprocess.py:317-350)
    sc.setJobDescription("icp: normals")
    # every cache this solve creates is released on the way out, on error
    # paths too (e.g. too few correspondences)
    with util.cache_scope():
        try:
            fixed_n = util.persist(compute_normals(fixed, extent, radius=4.0 * resolution))
            # mean-centering offset for conditioning (reference icp.py:116-119) —
            # computed from the CACHED normals frame (same x/y/z rows as `fixed`),
            # not the raw input, whose unpersisted derivation chain would re-scan
            mu_row = fixed_n.agg(
                F.avg("x").alias("mx"), F.avg("y").alias("my"), F.avg("z").alias("mz")
            ).collect()[0]
            mu = np.array([mu_row["mx"], mu_row["my"], mu_row["mz"]])
            demean = np.eye(4)
            demean[:3, 3] = -mu
            remean = np.eye(4)
            remean[:3, 3] = mu
            # center the *extent* too so tiling stays aligned
            c_extent = (extent[0] - mu[0], extent[1] - mu[1], extent[2] - mu[0], extent[3] - mu[1])
            t_c = demean @ t_total @ remean  # work in centered frame

            level = knn.level_of(
                moving.select("pid", "x", "y", "z"), c_extent, radius + drift_margin
            )
            # Both sides are tiled ONCE, hash-partitioned by cell and cached; the
            # first pass fills both caches, and every later pass is one
            # Exchange-free cogroup job. The fixed halo reaches radius + drift
            # margin; the moving side is tiled at its starting pose and posed
            # inside the kernel.
            fixed_tiled = _tile_fixed(
                apply_transform_cols(fixed_n, demean), c_extent, radius + drift_margin, level
            )
            tile_pose = t_c @ demean
            moving_tiled = _tile_moving(moving, tile_pose, c_extent, level)

            def run_pass(label: str, alpha: float) -> np.ndarray:
                """One pass at the current pose -> the summed tile rows. A pass
                whose points drifted past the margin may have missed neighbours:
                re-tile the moving side at the current pose and run it again."""
                nonlocal moving_tiled, tile_pose
                pose = t_c @ demean
                while True:
                    sc.setJobDescription(label)
                    kern = _pass_kernel_builder(
                        pose, tile_pose, radius, cfg.icp_solve_scale, alpha, beta, cfg.icp_robust
                    )
                    acc, drift = _sum_tiles(_pass_frame(moving_tiled, fixed_tiled, kern).collect())
                    if drift <= drift_margin:
                        return acc
                    util.release(moving_tiled)
                    moving_tiled = _tile_moving(moving, pose, c_extent, level)
                    tile_pose = pose

            alpha = 2.0  # IRLS shape, decays by 0.2/iter (reference icp.py:128-131,151)
            n_iters = 0
            prev_rmse = None
            for it in range(cfg.icp_max_iter):
                n_iters = it + 1
                acc = run_pass(f"icp: pass {n_iters}", alpha)
                if it == 0:
                    # the first pass filled the fixed tiles from the normals cache
                    util.release(fixed_n)
                n_pairs = int(acc[_ACC_COLS.index("n")])
                if n_pairs < 10:
                    raise ValueError(f"ICP found too few correspondences ({n_pairs})")
                cur_rmse = math.sqrt(acc[_ACC_COLS.index("r2")] / n_pairs)
                upd = _solve_update(acc, cfg.icp_solve_scale)
                t_c = upd @ t_c
                # convergence checks (reference icp.py:173-185)
                dec = decompose_similarity(upd)
                angles = (dec["omega"], dec["phi"], dec["kappa"])
                tvec = (dec["trans_x"], dec["trans_y"], dec["trans_z"])
                if prev_rmse is not None:
                    d_rmse = abs(prev_rmse - cur_rmse) / max(prev_rmse, 1e-300)
                    d_angle = max(abs(a) for a in angles)
                    d_dist = max(abs(v) for v in tvec)
                    if d_rmse < cfg.icp_rmse_threshold or (
                        d_angle < cfg.icp_angle_threshold and d_dist < cfg.icp_distance_threshold
                    ):
                        prev_rmse = cur_rmse
                        break
                prev_rmse = cur_rmse
                if cfg.icp_robust and alpha > 0:
                    alpha = max(alpha - 0.2, 0.0)  # reference decay icp.py:151

            # final residual stats per axis: one more pass, at the pose after
            # the last update
            acc = run_pass("icp: residuals", alpha)
        finally:
            sc.setJobDescription(None)

    n_final = int(acc[_ACC_COLS.index("n")])
    rx2, ry2, rz2 = acc[len(_ACC_COLS):] / n_final  # per-axis mean squared residual
    t_final = remean @ t_c @ demean  # back to world frame
    dec = decompose_similarity(t_final)
    return RegistrationParameters(
        matrix=t_final.tolist(),
        omega=dec["omega"], phi=dec["phi"], kappa=dec["kappa"],
        trans_x=dec["trans_x"], trans_y=dec["trans_y"], trans_z=dec["trans_z"],
        scale=dec["scale"],
        n_pairs=n_final,
        iterations=n_iters,
        rmse_x=math.sqrt(rx2), rmse_y=math.sqrt(ry2), rmse_z=math.sqrt(rz2),
        rmse_3d=math.sqrt(rx2 + ry2 + rz2),
    )
