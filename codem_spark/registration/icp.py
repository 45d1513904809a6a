"""Point-to-plane ICP with distributed normal equations (A5/A6, J2, J4).

Reference analog: IcpRegistration.register (icp.py:99-220) — per iteration:
kNN correspondences bounded by the coarse RMSE (icp.py:132-140), robust IRLS
weights w = (1+(r/beta)^2)^(alpha/2-1) with alpha decaying 2 -> 0 by 0.2 and
beta = resolution/2 + 0.5 (icp.py:128-130,151,246-285), linearized 6/7-param
solve x = (A^T W A)^-1 A^T W b (icp.py:312-454), mean-centering for
conditioning (icp.py:116-119), convergence on relative dRMSE < 1e-4 or
(dangle < 0.001 deg and ddist < 0.001 m), <= 100 iterations
(icp.py:173-185, main.py:70-73).

Engine design (the north-star op): the fixed cloud is tiled once per run
(cell + 1-ring halo duplication via knn.tile_right, radius = the kNN bound),
hash-partitioned by cell and *cached*, so each iteration exchanges only the
moving side; each iteration is ONE Spark job with ONE Python stage:
transform moving points (pure column exprs of the current 4x4), cogroup
with the cached fixed tiles, and a FUSED vectorized kernel that both
matches kNN correspondences and collapses them to one constant-size
partial row per tile — the flattened upper triangle of A^T W A (7x7 ->
28), A^T W b (7), sum w*r^2, sum r^2, n. The full correspondence frame
never crosses a stage boundary. Partial rows are tree-reduced JVM-side
(hash agg with map-side partial sums) and one 39-float row is collected;
the driver solves the 7x7 system, composes the update, and re-broadcasts
— identical math to the reference, distributed sums. Weights stay a
column; W is never materialized (reference keeps it a sparse diagonal,
icp.py:285).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark.config import EngineConfig, RegistrationParameters
from codem_spark.functions.geo import apply_transform_cols, decompose_similarity
from codem_spark.operators import knn

Extent = tuple[float, float, float, float]


# ------------------------------------------------------------------ normals
def compute_normals(
    points: DataFrame,
    extent: Extent,
    radius: float,
    k: int = 9,
    pid: str = "pid",
) -> DataFrame:
    """J4: per-point plane normal from the k-nearest neighborhood's 3x3
    covariance smallest eigenvector (reference delegates to PDAL
    filters.normal knn=9, preprocess.py:317-350). Tile+halo cogroup kernel;
    normals oriented +z (the reference's convention for DSM-derived clouds).
    Output: (pid, x, y, z, nx, ny, nz)."""
    from codem_spark.util import approx_row_count

    par = points.sparkSession.sparkContext.defaultParallelism
    level = knn.auto_level(extent, radius, approx_row_count(points), parallelism=par)

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
                "pid": qpdf[pid].to_numpy(),
                "x": qp[:, 0],
                "y": qp[:, 1],
                "z": qp[:, 2],
                "nx": nx,
                "ny": ny,
                "nz": nz,
            }
        )

    pt = {f.name: f.dataType.simpleString() for f in points.schema.fields}[pid]
    schema = f"pid {pt}, x double, y double, z double, nx double, ny double, nz double"
    samples = knn.tile_right(points, extent, radius, level, rid=None)
    return knn._tile_cogroup(
        points, samples, extent, level, [pid, "x", "y", "z", "cell_id"], kernel, schema
    )


# ------------------------------------------------------- normal eq partials
_NP7 = 7  # omega, phi, kappa (linearized), tx, ty, tz, scale


def _partials_kernel_builder(solve_scale: bool, alpha: float, beta: float, robust: bool):
    """Per-tile partial normal equations for the point-to-plane linearization.

    For a correspondence (p moving, q fixed, n unit normal):
      r = (p - q) . n
      a = [ (p x n), n, (p . n) ]  (7 terms; scale term dropped if unscaled)
    Weights (reference _get_weights, icp.py:246-285):
      w = (1 + (r/beta)^2)^(alpha/2 - 1)
    Emits one row per tile: upper triangle of A^T W A (28), A^T W b (7),
    sum w r^2, sum r^2, n."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf[["mx", "my", "mz"]].to_numpy(np.float64)
        q = pdf[["fx", "fy", "fz"]].to_numpy(np.float64)
        nrm = pdf[["nx", "ny", "nz"]].to_numpy(np.float64)
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
        iu = np.triu_indices(_NP7)
        out = {f"m{i}": [ata[iu[0][i], iu[1][i]]] for i in range(len(iu[0]))}
        for i in range(_NP7):
            out[f"b{i}"] = [atb[i]]
        out["wr2"] = [float((w * r * r).sum())]
        out["r2"] = [float((r * r).sum())]
        out["sw"] = [float(w.sum())]
        out["n"] = [len(r)]
        return pd.DataFrame(out)

    return kernel


_PARTIAL_SCHEMA = (
    ", ".join(f"m{i} double" for i in range(28))
    + ", "
    + ", ".join(f"b{i} double" for i in range(7))
    + ", wr2 double, r2 double, sw double, n long"
)


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
    rx = np.array([[1, 0, 0], [0, math.cos(om), -math.sin(om)], [0, math.sin(om), math.cos(om)]])
    ry = np.array([[math.cos(ph), 0, math.sin(ph)], [0, 1, 0], [-math.sin(ph), 0, math.cos(ph)]])
    rz = np.array([[math.cos(ka), -math.sin(ka), 0], [math.sin(ka), math.cos(ka), 0], [0, 0, 1]])
    m = np.eye(4)
    m[:3, :3] = (1.0 + ds) * (rz @ ry @ rx)
    m[:3, 3] = t
    return m


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
    spark = fixed.sparkSession
    t_total = np.eye(4) if initial is None else np.asarray(initial, np.float64).copy()
    radius = knn_radius if knn_radius is not None else max(2.0 * resolution, 1.0)

    # normals on the fixed cloud (once; reference preprocess.py:317-350)
    fixed_n = compute_normals(fixed, extent, radius=4.0 * resolution).persist()
    r_carry = ("x", "y", "z", "nx", "ny", "nz")
    moving_base = fixed_tiled = None
    # every cache this solve creates is released on the way out, on error
    # paths too (e.g. too few correspondences)
    try:
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

        fixed_c = apply_transform_cols(fixed_n, demean)
        # center the *extent* too so tiling stays aligned
        c_extent = (extent[0] - mu[0], extent[1] - mu[1], extent[2] - mu[0], extent[3] - mu[1])

        from codem_spark.util import approx_row_count

        moving_base = moving.select("pid", "x", "y", "z").persist()
        n_moving = approx_row_count(moving_base)  # parallelism knob only
        join_level = knn.auto_level(
            c_extent, radius, n_moving,
            parallelism=spark.sparkContext.defaultParallelism,
        )
        # Tile + halo-explode the fixed side ONCE, hash-partitioned by cell and
        # cached: the fixed cloud and the level never change across iterations,
        # so each iteration's cogroup re-uses the cached partitioning and
        # exchanges ONLY the moving side (asserted in tests/test_plans.py). The
        # per-iteration fixed-side reshuffle this replaces was the dominant loop
        # cost at the 1M-point bench scale.
        fixed_tiled = (
            knn.tile_right(fixed_c, c_extent, radius, join_level, rid="pid", r_carry=r_carry)
            .repartition(F.col("cell_id"))
            .persist()
        )
        # the count doubles as materialization of the tiled cache THROUGH the
        # normals cache, which can then be released before the loop
        fixed_tiled.count()
        fixed_n.unpersist(False)

        alpha = 2.0  # IRLS shape, decays by 0.2/iter (reference icp.py:128-131,151)
        n_iters = 0
        beta = resolution / 2.0 + 0.5
        prev_rmse = None
        n_pairs = 0
        rmse = (0.0, 0.0, 0.0, 0.0)
        t_c = demean @ t_total @ remean  # work in centered frame

        _acc_cols = [f"m{i}" for i in range(28)] + [f"b{i}" for i in range(7)] + [
            "wr2", "r2", "sw", "n",
        ]
        _corr_renames = {
            "l_x": "mx", "l_y": "my", "l_z": "mz",
            "r_x": "fx", "r_y": "fy", "r_z": "fz",
            "r_nx": "nx", "r_ny": "ny", "r_nz": "nz",
        }
        for it in range(cfg.icp_max_iter):
            n_iters = it + 1
            # transform ORIGINAL moving points into the centered current pose
            cur = apply_transform_cols(moving_base, t_c @ demean)
            # FUSED iteration (one Python stage, one job): the kNN cogroup
            # kernel matches correspondences per tile and the fused `post`
            # reducer immediately collapses them to ONE constant-size partial
            # row (upper triangle of A^T W A, A^T W b, residual sums) — the
            # full correspondence frame never crosses a stage boundary. The
            # partial rows are tree-reduced JVM-side (partial_sum map-side
            # combine + final agg: Spark's hash agg IS the treeReduce here).
            kern = _partials_kernel_builder(cfg.icp_solve_scale, alpha, beta, cfg.icp_robust)
            partials = knn.knn_join(
                cur,
                None,
                c_extent,
                radius=radius,
                k=1,
                lid="pid",
                rid="pid",
                l_carry=("x", "y", "z"),
                r_carry=r_carry,
                level=join_level,
                right_tiled=fixed_tiled,
                post=lambda pdf, _k=kern: _k(pdf.rename(columns=_corr_renames)),
                post_schema=_PARTIAL_SCHEMA,
            )
            row = partials.agg(
                *[F.sum(c).alias(c) for c in _acc_cols]
            ).collect()[0]
            acc = np.array([float(row[c] or 0.0) for c in _acc_cols], dtype=np.float64)
            n_pairs = int(acc[-1])
            if n_pairs < 10:
                raise ValueError(f"ICP found too few correspondences ({n_pairs})")
            cur_rmse = math.sqrt(acc[36] / n_pairs)  # sqrt(sum r^2 / n)
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

        # final residual stats per axis: one more correspondence pass
        cur = apply_transform_cols(moving_base, t_c @ demean)
        corr = knn.knn_join(
            cur, None, c_extent, radius=radius, k=1,
            lid="pid", rid="pid", l_carry=("x", "y", "z"), r_carry=("x", "y", "z"),
            level=join_level, right_tiled=fixed_tiled,
        )
        stats = corr.agg(
            F.sqrt(F.avg(F.pow(F.col("l_x") - F.col("r_x"), 2))).alias("rx"),
            F.sqrt(F.avg(F.pow(F.col("l_y") - F.col("r_y"), 2))).alias("ry"),
            F.sqrt(F.avg(F.pow(F.col("l_z") - F.col("r_z"), 2))).alias("rz"),
            F.sqrt(
                F.avg(
                    F.pow(F.col("l_x") - F.col("r_x"), 2)
                    + F.pow(F.col("l_y") - F.col("r_y"), 2)
                    + F.pow(F.col("l_z") - F.col("r_z"), 2)
                )
            ).alias("r3"),
            F.count("*").alias("n"),
        ).collect()[0]
    finally:
        fixed_n.unpersist(False)
        for df in (fixed_tiled, moving_base):
            if df is not None:
                df.unpersist()

    t_final = remean @ t_c @ demean  # back to world frame
    dec = decompose_similarity(t_final)
    return RegistrationParameters(
        matrix=t_final.tolist(),
        omega=dec["omega"], phi=dec["phi"], kappa=dec["kappa"],
        trans_x=dec["trans_x"], trans_y=dec["trans_y"], trans_z=dec["trans_z"],
        scale=dec["scale"],
        n_pairs=int(stats["n"]),
        iterations=n_iters,
        rmse_x=float(stats["rx"]), rmse_y=float(stats["ry"]),
        rmse_z=float(stats["rz"]), rmse_3d=float(stats["r3"]),
    )
