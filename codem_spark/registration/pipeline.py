"""End-to-end registration pipeline — the library API of the engine.

Mirrors the reference's public surface (src/codem/__init__.py:1-9:
preprocess, coarse_registration, fine_registration, apply_registration,
driven by the pytest suite at tests/test_registration.py:79-115) so the
reference flow has a 1:1 counterpart:

    prep   = preprocess(spark, fnd_points, aoi_points, extent, cfg)
    coarse = coarse_registration(prep, cfg)
    fine   = fine_registration_stage(prep, coarse, cfg)
    out    = apply_registration(aoi_points, fine)

Stage boundaries are job boundaries; each stage's result can be persisted
with io/lineage.py for checkpoint-resume.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.config import EngineConfig, RegistrationParameters
from codem_spark.functions.geo import apply_transform_cols
from codem_spark.operators import grid
from codem_spark.operators import knn as knn_mod
from codem_spark.registration import coarse as coarse_mod
from codem_spark.registration import features
from codem_spark.registration import icp as icp_mod

Extent = tuple[float, float, float, float]

# The match-viz DSM planes are collected to the driver block-max-reduced to
# at most this many cells each. Read at call time.
VIZ_MAX_CELLS = 4_000_000


@dataclass
class PreprocessResult:
    fnd_points: DataFrame
    aoi_points: DataFrame
    fnd_dsm: DataFrame  # (gx, gy, z, z_u8)
    aoi_dsm: DataFrame
    extent: Extent
    resolution: float


def _prep_dsm(
    points: DataFrame,
    extent: Extent,
    resolution: float,
    cfg: EngineConfig,
) -> DataFrame:
    """points -> infilled, band-passed, normalized DSM tile table (the
    reference's GeoData.prep: _infill -> _normalize, preprocess.py:360-373):
    grid-max -> void infill -> weak-minus-strong Gaussian band-pass
    (preprocess.py:272-279, sigmas = dsm_weak_filter/dsm_strong_filter
    scaled from meters to pixels) -> percentile clip + uint8 quantize.

    exact percentiles, NOT approxQuantile: GK sketches depend on partition
    layout, so the quantized DSM (hence keypoints, hence n_pairs) would
    differ between cluster sizes — the north rule demands identical
    outputs. The DSM is already resolution-reduced, so exact is cheap.

    The returned DSM, and the raw and band-passed DSMs its lineage reads
    until it is materialized, are cached in the caller's cache scope."""
    # persist the raw DSM: the fused kernel's bbox agg and the kernel pass
    # itself would otherwise each rerun the full grid_max aggregation
    dsm = util.persist(grid.grid_max(points, extent, resolution))
    # persist the band-passed raster: the exact-percentile agg below and
    # the final DSM materialization would otherwise recompute the whole
    # grid_max -> infill -> band_pass chain (measured: 45 s -> ~15 s of the
    # coarse stage). The table is tiny (one row per cell).
    # weak sigma floors at 1 px: below that the "weak" blur is a no-op and
    # the band-pass keeps per-cell sampling noise (grid_max of a random
    # point draw), which destabilizes keypoint detection.
    # infill + band-pass run FUSED in one tile kernel (grid.infill_band_pass
    # — one shuffle and one Python stage instead of two of each; outputs
    # equal the whole-raster chain, asserted in tests).
    bp = util.persist(grid.infill_band_pass(
        dsm,
        weak_sigma_px=max(cfg.dsm_weak_filter / resolution, 1.0),
        strong_sigma_px=cfg.dsm_strong_filter / resolution,
    ))
    # Two quantized planes: det_u8 (band-passed) drives keypoint DETECTION —
    # suppressing long-wavelength relief so keypoints don't collapse onto
    # ridgelines, the reference's stated reason for _normalize
    # (preprocess.py:261-283) — while z_u8 (raw) drives DESCRIPTION: binary
    # patch descriptors sampled on band-passed (high-frequency-only) content
    # flip bits under half-pixel resampling (measured: RANSAC inliers
    # 121 -> 4 on a 2.5 px translation), whereas the full-band surface is
    # stable. The reference's multi-scale float AKAZE descriptor tolerates
    # band-passed input; a single-scale binary descriptor does not.
    # ONE agg for both clip pairs: one array-percentile aggregate (one value
    # buffer) per quantized column
    qs = bp.agg(
        F.expr("percentile(bp, array(0.01, 0.99))").alias("bp_q"),
        F.expr("percentile(z, array(0.01, 0.99))").alias("z_q"),
    ).collect()[0]
    q = grid.quantize_normalize(bp, "bp", bounds=tuple(qs["bp_q"]))
    q = grid.quantize_normalize(q, "z", bounds=tuple(qs["z_q"]))
    # no dedicated materialization job: the first consumer (the keypoint
    # collect in coarse_registration) materializes it through the
    # still-cached band-pass
    return util.persist(q.select("gx", "gy", "z", "z_u8", F.col("bp_u8").alias("det_u8")))


def estimate_pipeline_resolution(
    fnd: DataFrame, aoi: DataFrame, extent: Extent, cfg: EngineConfig
) -> float:
    """Resolution negotiation (reference main.py:595-607): pipeline res =
    max(fnd native res, aoi native res, MIN_RESOLUTION) — 'higher density
    data is resampled to match the lower' (docs/details.md:12)."""
    rf = grid.estimate_resolution(fnd, extent)
    ra = grid.estimate_resolution(aoi, extent)
    return max(rf, ra, cfg.min_resolution)


def preprocess(
    fnd_points: DataFrame,
    aoi_points: DataFrame,
    extent: Extent | None = None,
    cfg: EngineConfig | None = None,
    resolution: float | None = None,
) -> PreprocessResult:
    cfg = cfg or EngineConfig()
    if extent is None:
        bf = grid.bounds(fnd_points)
        ba = grid.bounds(aoi_points)
        if cfg.tight_search:
            joint = grid.bbox_overlap(bf, ba)
            # clip both to the 1.5x overlap window (reference clip_data
            # preprocess.py:858-933 / TIGHT_SEARCH) — partition pruning at
            # scale. Engine default ON (reference defaults OFF,
            # main.py:366-373) — documented divergence, see COVERAGE.md.
            fnd_points = grid.clip_bbox(fnd_points, joint)
            aoi_points = grid.clip_bbox(aoi_points, joint)
            extent = joint
        else:
            # full-extent mode: union bbox, no clip (the reference default)
            extent = grid.bbox_union(bf, ba)
    if resolution is None:
        resolution = estimate_pipeline_resolution(fnd_points, aoi_points, extent, cfg)
    resolution = max(resolution, cfg.min_resolution)
    # The two sides' DSM chains are independent job DAGs — submit them from
    # two driver threads so their stages interleave on the same executors
    # (Spark schedulers are thread-safe; this halves preprocess wall time
    # when neither side alone saturates the cluster). Their caches go to
    # the caller's cache scope: the returned DSMs read them.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fnd = pool.submit(_prep_dsm, fnd_points, extent, resolution, cfg)
        f_aoi = pool.submit(_prep_dsm, aoi_points, extent, resolution, cfg)
        fnd_dsm = f_fnd.result()
        aoi_dsm = f_aoi.result()
    return PreprocessResult(fnd_points, aoi_points, fnd_dsm, aoi_dsm, extent, resolution)


def coarse_registration(
    prep: PreprocessResult, cfg: EngineConfig | None = None,
    capture: dict | None = None,
) -> RegistrationParameters:
    cfg = cfg or EngineConfig()
    # persist keypoints: the LSH route reads both frames again after the
    # matcher's bounded collects, which would otherwise rerun the Harris
    # tile kernels
    with util.cache_scope():
        fnd_kp = util.persist(features.extract_features(prep.fnd_dsm, prep.extent, prep.resolution))
        aoi_kp = util.persist(features.extract_features(prep.aoi_dsm, prep.extent, prep.resolution))
        return coarse_mod.coarse_registration(fnd_kp, aoi_kp, cfg, capture=capture)


def fine_registration_stage(
    prep: PreprocessResult,
    coarse_params: RegistrationParameters,
    cfg: EngineConfig | None = None,
) -> RegistrationParameters:
    cfg = cfg or EngineConfig()
    initial = np.array(coarse_params.matrix, dtype=np.float64)

    def _with_pid(df: DataFrame) -> DataFrame:
        if "pid" in df.columns:
            return df.select("pid", "x", "y", "z")
        # content hash, NOT monotonically_increasing_id: ids must be a pure
        # function of the row so the engine's (dist, id) kNN tie-break stays
        # identical across partitionings / cluster sizes (knn.py docstring)
        return df.select(
            F.xxhash64(
                F.col("x").cast("double"), F.col("y").cast("double"), F.col("z").cast("double")
            ).alias("pid"),
            "x", "y", "z",
        )

    if cfg.icp_full_density:
        fnd = _with_pid(prep.fnd_points)
        aoi = _with_pid(prep.aoi_points)
    else:
        # The reference's early downsample (_dsm2pc, preprocess.py:285-315):
        # fine ICP registers the infilled-DSM-derived clouds — "higher
        # density data is resampled to match the lower" (docs/details.md:12).
        # Row count per iteration is bounded by the CELL count, not the raw
        # point count: the one optimization that keeps the <=100-iteration
        # loop affordable at 100x scale (SURVEY §4 must-recreate).
        fnd = _with_pid(grid.dsm_to_points(prep.fnd_dsm, prep.extent, prep.resolution))
        aoi = _with_pid(grid.dsm_to_points(prep.aoi_dsm, prep.extent, prep.resolution))
    # kNN bound from the coarse RMSE, exactly as the reference bounds the
    # ICP search (icp.py:75,133-135); the DSM-derived clouds sample at cell
    # pitch, so the bound floors at 2 cells there (a 1-cell bound can strand
    # grid points mid-cell after a good coarse solve)
    res_floor = prep.resolution if cfg.icp_full_density else 2.0 * prep.resolution
    bound = max(coarse_params.rmse_3d, res_floor)
    return icp_mod.fine_registration(
        fnd, aoi, prep.extent, prep.resolution, cfg, initial=initial, knn_radius=bound
    )


def apply_registration(
    aoi_points: DataFrame, params: RegistrationParameters
) -> DataFrame:
    """Apply the final transform to the ORIGINAL AOI table (the reference
    re-reads the raw AOI and pipes it through the matrix, apply.py:137-146;
    here it is a pure column-expression job over the full table)."""
    m = np.array(params.matrix, dtype=np.float64)
    return apply_transform_cols(aoi_points, m)


def with_residuals(
    registered_aoi: DataFrame,
    fnd_points: DataFrame,
    extent: Extent,
    radius: float,
) -> DataFrame:
    """Append per-point registration residual columns (the reference writes
    ResidualX/Y/Z/Horiz/3D extra dims on the output cloud,
    apply.py:375-391): residual = registered point - nearest foundation
    point. Points with no foundation neighbor inside ``radius`` get NULLs."""
    nn = knn_mod.knn_join(
        registered_aoi.select("pid", "x", "y", "z"),
        fnd_points.select("pid", "x", "y", "z"),
        extent,
        radius=radius,
        k=1,
        l_carry=("x", "y", "z"),
        r_carry=("x", "y", "z"),
    ).select(
        "pid",
        (F.col("l_x") - F.col("r_x")).alias("residual_x"),
        (F.col("l_y") - F.col("r_y")).alias("residual_y"),
        (F.col("l_z") - F.col("r_z")).alias("residual_z"),
    )
    out = registered_aoi.join(nn, "pid", "left")
    horiz = F.sqrt(F.col("residual_x") ** 2 + F.col("residual_y") ** 2)
    r3d = F.sqrt(F.col("residual_x") ** 2 + F.col("residual_y") ** 2 + F.col("residual_z") ** 2)
    return out.withColumn("residual_horiz", horiz).withColumn("residual_3d", r3d)


def _capped_u8_plane(dsm: DataFrame):
    """Collect a (gx, gy, z_u8) plane for the match visualization, bounded
    to ``VIZ_MAX_CELLS`` driver-side rows: planes larger than the cap are
    block-max-reduced by the smallest integer factor that fits (the viz is
    cosmetic — a coarser overview is the right artifact at scale, and the
    collect no longer grows with scene extent). Factor 1 (any demo-scale
    scene) returns the exact plane."""
    import math as _math

    n = dsm.count()  # the DSMs are persisted by preprocess — cheap
    f = max(1, int(_math.ceil(_math.sqrt(n / VIZ_MAX_CELLS)))) if n else 1
    if f == 1:
        return dsm.select("gx", "gy", "z_u8").toPandas()
    return (
        dsm.select(
            F.floor(F.col("gx") / f).alias("gx"),
            F.floor(F.col("gy") / f).alias("gy"),
            "z_u8",
        )
        .groupBy("gx", "gy")
        .agg(F.max("z_u8").alias("z_u8"))
        .toPandas()
    )


def register(
    fnd_points: DataFrame,
    aoi_points: DataFrame,
    extent: Extent | None = None,
    cfg: EngineConfig | None = None,
    resolution: float | None = None,
    fnd_units: str | float = 1.0,
    aoi_units: str | float = 1.0,
    capture: dict | None = None,
) -> tuple[RegistrationParameters, RegistrationParameters, DataFrame]:
    """Full pipeline: returns (coarse, fine, registered AOI DataFrame).

    F3 unit handling (reference preprocess.py:486-512, apply.py:116-123):
    ``fnd_units``/``aoi_units`` are linear-unit names ("m", "ft", "us-ft")
    or numeric meters-per-unit factors. Inputs are scaled to meters before
    registration (the solve is only valid in meters); the returned fine
    parameters carry ``matrix_native`` mapping AOI native units straight to
    foundation native units, and the registered AOI DataFrame is expressed
    in FOUNDATION native units. ``extent``, if given, is in meters.
    """
    from codem_spark.functions import crs

    cfg = cfg or EngineConfig()
    ff = crs.units_factor(fnd_units) if isinstance(fnd_units, str) else float(fnd_units)
    af = crs.units_factor(aoi_units) if isinstance(aoi_units, str) else float(aoi_units)
    fnd_m = crs.scale_to_meters(fnd_points, ff) if ff != 1.0 else fnd_points
    aoi_m = crs.scale_to_meters(aoi_points, af) if af != 1.0 else aoi_points
    # preprocess caches the DSMs in this scope: released on the way out,
    # on error paths too
    with util.cache_scope():
        prep = preprocess(fnd_m, aoi_m, extent, cfg, resolution)
        c = coarse_registration(prep, cfg, capture=capture)
        f = fine_registration_stage(prep, c, cfg)
        native = crs.registration_to_native(np.array(f.matrix, np.float64), ff, af)
        f.matrix_native = native.tolist()
        out = apply_transform_cols(aoi_points, native)
        if capture is not None:
            # the u8 planes the match viz renders — pulled before the DSMs
            # are released. BOUNDED collect: cell count grows with scene
            # extent, so the raw planes are a driver OOM at 100x for a
            # cosmetic PNG. Above ``VIZ_MAX_CELLS`` the planes are
            # block-max-reduced to fit the cap (factor 1 = the exact plane).
            capture["fnd_dsm_u8"] = _capped_u8_plane(prep.fnd_dsm)
            capture["aoi_dsm_u8"] = _capped_u8_plane(prep.aoi_dsm)
            capture["extent"] = prep.extent
            capture["resolution"] = prep.resolution
        return c, f, out
