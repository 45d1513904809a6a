"""End-to-end registration recovery — the engine's port of the reference
test matrix (reference tests/test_registration.py:39-115: AOIs derived from
the foundation by clipping + known rigid perturbations; the pipeline must
recover the inverse within the demonstrated RMSE envelope,
docs/details.md:88-123: coarse 3D RMSE ~1.9 m, fine ~0.6 m at demo scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.config import EngineConfig
from codem_spark.functions.geo import decompose_similarity, similarity_matrix
from codem_spark.registration import pipeline as P
from tests.conftest import persisted_rdd_ids

EXT = (0.0, 0.0, 1000.0, 1000.0)
RES = 4.0


def _surface(x, y):
    """Terrain + building grid (pitch 80 m, size 30 m) — distinctive local
    geometry for the feature detector (analog of the reference demo scene,
    docs/details.md:30-46)."""
    z = 10 * np.sin(x * 2 * np.pi / 700 + 0.3) * np.cos(y * 2 * np.pi / 900 - 1.7)
    z += 5 * np.sin(x * 2 * np.pi / 260) * np.cos(y * 2 * np.pi / 330)
    gx = np.floor(x / 80).astype(np.int64)
    gy = np.floor(y / 80).astype(np.int64)
    fx = x - gx * 80
    fy = y - gy * 80
    inside = (fx > 25) & (fx < 55) & (fy > 25) & (fy < 55)
    h = ((gx * 73856093 + gy * 19349663) % 97) / 97.0 * 18 + 4
    return z + np.where(inside, h, 0.0) + 50.0


def _about_center(m3: np.ndarray, c=(500.0, 500.0, 0.0)) -> np.ndarray:
    t = np.eye(4)
    t[:3, 3] = c
    ti = np.eye(4)
    ti[:3, 3] = -np.asarray(c)
    return t @ m3 @ ti


# The reference's five perturbation cases (test_registration.py:41-61),
# expressed about the AOI center so points stay in-extent.
CASES = {
    "identity": np.eye(4),
    "rot360": _about_center(similarity_matrix(1.0, 0, 0, 360.0)),
    "translate_x10": similarity_matrix(1.0, 0, 0, 0.0, (10.0, 0.0, 0.0)),
    "rot180": _about_center(similarity_matrix(1.0, 0, 0, 180.0)),
    "rot90_translate": (
        lambda m: (lambda s: s @ m)(np.array([[1, 0, 0, 40.0], [0, 1, 0, 25.0], [0, 0, 1, 2.0], [0, 0, 0, 1]], dtype=float))
    )(_about_center(similarity_matrix(1.0, 0, 0, 90.0))),
}


@pytest.fixture(scope="module")
def clouds():
    rng = np.random.default_rng(11)
    n = 100_000
    fx = rng.uniform(0, 1000, n)
    fy = rng.uniform(0, 1000, n)
    fz = _surface(fx, fy) + rng.normal(0, 0.05, n)
    fnd = pd.DataFrame({"pid": np.arange(n), "x": fx, "y": fy, "z": fz})
    m = (fx > 200) & (fx < 800) & (fy > 200) & (fy < 800)
    return fnd, fnd[m].reset_index(drop=True)


def _perturb(aoi: pd.DataFrame, M: np.ndarray) -> pd.DataFrame:
    A = np.column_stack([aoi.x, aoi.y, aoi.z, np.ones(len(aoi))]) @ M.T
    return pd.DataFrame({"pid": aoi.pid.values, "x": A[:, 0], "y": A[:, 1], "z": A[:, 2]})


# ---------------------------------------------------------------------------
# The reference's FULL registration matrix (tests/test_registration.py:66-115)
# is 3 foundation input types x (5 point-cloud perturbations + 1 raster AOI)
# = 18 cases. The engine twins: foundation as a raw point table, as a DSM
# tile table (gx, gy, z -> dsm_to_points, the DEM-foundation analog), and as
# a declarative pipeline JSON spec (the Pipeline-foundation analog,
# tests/point_cloud.py:85-103); AOI as the 5 perturbed clouds or as a
# rasterized tile table (the dem_aoi analog).


@pytest.fixture(scope="module")
def foundation_sources(spark, clouds, tmp_path_factory):
    from codem_spark.operators import grid
    from codem_spark.plans import pipeline_json as PJ

    fnd, _aoi0 = clouds
    pq = str(tmp_path_factory.mktemp("regmat") / "fnd.parquet")
    spark.createDataFrame(fnd).write.mode("overwrite").parquet(pq)

    def points():
        return spark.read.parquet(pq)

    def raster():
        dsm = grid.grid_max(spark.read.parquet(pq), EXT, RES)
        return grid.dsm_to_points(dsm, EXT, RES, area_or_point="Area")

    def pipeline():
        spec = [
            pq,
            {"type": "filters.range", "limits": "Z[0:]"},
            {"type": "filters.assign", "assignment": "Classification[:]=2"},
            {"type": "writers.gdal", "resolution": RES, "filename": "out.tif"},
        ]
        df, writers = PJ.pipeline_from_json(spark, spec)
        assert len(writers) == 1  # stripped like reference preprocess.py:628
        return df.select("pid", "x", "y", "z")

    return {"points": points, "raster": raster, "pipeline": pipeline}


@pytest.mark.parametrize("foundation_kind", ["points", "raster", "pipeline"])
@pytest.mark.parametrize(
    "case",
    ["identity", "rot360", "translate_x10", "rot180", "rot90_translate", "raster_aoi"],
)
def test_coarse_recovers_inverse(spark, clouds, foundation_sources, foundation_kind, case):
    fnd, aoi0 = clouds
    if case == "raster_aoi":
        # dem_aoi analog: the AOI itself is a rasterized tile table
        from codem_spark.operators import grid

        M = np.eye(4)
        aoi_df = grid.dsm_to_points(
            grid.grid_max(spark.createDataFrame(aoi0), EXT, RES), EXT, RES
        )
    else:
        M = CASES[case]
        aoi_df = spark.createDataFrame(_perturb(aoi0, M))
    cfg = EngineConfig(min_resolution=RES)
    with util.cache_scope():
        prep = P.preprocess(
            foundation_sources[foundation_kind](), aoi_df, extent=EXT, cfg=cfg, resolution=RES
        )
        c = P.coarse_registration(prep, cfg)
    got = np.array(c.matrix)
    resid = got @ M  # ~ identity if recovered
    d = decompose_similarity(resid)
    assert c.n_pairs >= 5
    assert c.rmse_3d < 2.5  # reference coarse envelope ~1.9 m at demo scale
    assert abs(d["scale"] - 1.0) < 0.01
    for a in ("omega", "phi", "kappa"):
        assert abs(d[a]) < 1.0, f"{a}={d[a]}"
    for t in ("trans_x", "trans_y", "trans_z"):
        assert abs(d[t]) < 2.0 * RES, f"{t}={d[t]}"


@pytest.mark.parametrize("case", ["identity", "rot90_translate", "rot180"])
def test_coarse_lsh_route_recovers_inverse(spark, clouds, case, monkeypatch):
    """The banded-LSH match route, forced by a brute-force capacity of 0,
    registers within the tolerances of test_coarse_recovers_inverse."""
    from codem_spark.registration import coarse

    fnd, aoi0 = clouds
    M = CASES[case]
    cfg = EngineConfig(min_resolution=RES)
    monkeypatch.setattr(coarse, "BF_MATCH_CAPACITY", 0)
    with util.cache_scope():
        prep = P.preprocess(
            spark.createDataFrame(fnd), spark.createDataFrame(_perturb(aoi0, M)),
            extent=EXT, cfg=cfg, resolution=RES,
        )
        c = P.coarse_registration(prep, cfg)
    d = decompose_similarity(np.array(c.matrix) @ M)
    assert c.n_pairs >= 5
    assert c.rmse_3d < 2.5
    assert abs(d["scale"] - 1.0) < 0.01
    for a in ("omega", "phi", "kappa"):
        assert abs(d[a]) < 1.0, f"{a}={d[a]}"
    for t in ("trans_x", "trans_y", "trans_z"):
        assert abs(d[t]) < 2.0 * RES, f"{t}={d[t]}"


@pytest.mark.parametrize("route", ["brute_force", "lsh"])
def test_coarse_match_does_not_depend_on_keypoint_partitioning(spark, clouds, monkeypatch, route):
    """The same keypoints in 1, 3 or 17 partitions give bit-identical
    putative pairs (values and order) and coarse matrices, on both match
    routes: the driver sorts each collected side, and the LSH route its
    pairs, by value."""
    from codem_spark.registration import coarse, features

    if route == "lsh":
        monkeypatch.setattr(coarse, "BF_MATCH_CAPACITY", 0)
    fnd, aoi0 = clouds
    cfg = EngineConfig(min_resolution=RES)
    runs = []
    with util.cache_scope():
        prep = P.preprocess(
            spark.createDataFrame(fnd),
            spark.createDataFrame(_perturb(aoi0, CASES["rot90_translate"])),
            extent=EXT, cfg=cfg, resolution=RES,
        )
        kps = [
            util.persist(features.extract_features(dsm, prep.extent, prep.resolution))
            for dsm in (prep.fnd_dsm, prep.aoi_dsm)
        ]
        for n in (1, 3, 17):
            capture: dict = {}
            c = coarse.coarse_registration(
                kps[0].repartition(n), kps[1].repartition(n), cfg, capture=capture
            )
            runs.append((capture["pairs"], c.matrix))
    pairs0, matrix0 = runs[0]
    assert len(pairs0) >= 5
    for pairs, matrix in runs[1:]:
        pd.testing.assert_frame_equal(pairs, pairs0, check_exact=True)
        assert matrix == matrix0


def test_fine_refines_to_subresolution(spark, clouds):
    # full-density mode: AOI points are EXACT foundation subsets, so ICP can
    # snap near-exactly — the engine-extra exactness pin. The default
    # DSM-derived path (the reference's _dsm2pc early downsample) is pinned
    # separately in test_fine_dsm_path_recovers_transform.
    fnd, aoi0 = clouds
    M = CASES["rot90_translate"]
    aoi = _perturb(aoi0, M)
    cfg = EngineConfig(min_resolution=RES, icp_max_iter=15, icp_full_density=True)
    with util.cache_scope():
        prep = P.preprocess(
            spark.createDataFrame(fnd), spark.createDataFrame(aoi), extent=EXT, cfg=cfg,
            resolution=RES,
        )
        c = P.coarse_registration(prep, cfg)
        f = P.fine_registration_stage(prep, c, cfg)
    # AOI points are exact foundation subsets: ICP must snap near-exactly
    assert f.rmse_3d < 0.1
    resid = np.array(f.matrix) @ M
    d = decompose_similarity(resid)
    assert abs(d["scale"] - 1.0) < 1e-3
    for a in ("omega", "phi", "kappa"):
        assert abs(d[a]) < 0.05
    for t in ("trans_x", "trans_y", "trans_z"):
        assert abs(d[t]) < 0.5
    # parity fields present (reference registration.txt, dsm.py:434-466)
    assert f.n_pairs > 1000


def test_fine_dsm_path_recovers_transform(spark, clouds):
    """DEFAULT fine path (the reference's _dsm2pc early downsample,
    preprocess.py:285-315): ICP runs on the pipeline-resolution DSM-derived
    clouds, so per-iteration row count is bounded by CELL count. Recovery
    envelope mirrors the reference's demo numbers (fine 3D RMSE ~0.6 m at
    1 m res, docs/details.md:119-123) scaled to this scene's resolution."""
    fnd, aoi0 = clouds
    M = CASES["rot90_translate"]
    aoi = _perturb(aoi0, M)
    cfg = EngineConfig(min_resolution=RES, icp_max_iter=15)
    assert not cfg.icp_full_density  # DSM path IS the default
    with util.cache_scope():
        prep = P.preprocess(
            spark.createDataFrame(fnd), spark.createDataFrame(aoi), extent=EXT, cfg=cfg,
            resolution=RES,
        )
        c = P.coarse_registration(prep, cfg)
        f = P.fine_registration_stage(prep, c, cfg)
    resid = np.array(f.matrix) @ M
    d = decompose_similarity(resid)
    assert abs(d["scale"] - 1.0) < 0.01
    for a in ("omega", "phi", "kappa"):
        assert abs(d[a]) < 0.5, f"{a}={d[a]}"
    # sub-cell translation recovery on grid-sampled clouds
    for t in ("trans_x", "trans_y", "trans_z"):
        assert abs(d[t]) < 0.5 * RES, f"{t}={d[t]}"
    # residual RMSE is DSM-sampling-bounded, not exact-subset-bounded
    assert f.rmse_3d < RES
    # DSM pair count ~ cell count, far below the 360k raw AOI rows — the
    # early-downsample contract this test exists to pin
    assert 1000 < f.n_pairs < 60_000


def test_apply_registration_roundtrip(spark, clouds):
    fnd, aoi0 = clouds
    M = CASES["translate_x10"]
    aoi = _perturb(aoi0, M)
    from codem_spark.config import RegistrationParameters

    params = RegistrationParameters(matrix=np.linalg.inv(M).tolist())
    out = P.apply_registration(spark.createDataFrame(aoi), params).toPandas()
    merged = out.merge(aoi0, on="pid", suffixes=("_r", "_o"))
    assert np.allclose(merged[["x_r", "y_r", "z_r"]].values, merged[["x_o", "y_o", "z_o"]].values, atol=1e-9)


def test_register_feet_aoi_recovers_in_native_units(spark, clouds):
    """F3 (reference preprocess.py:486-512 + apply.py:116-123): an AOI
    delivered in feet registers against a meters foundation; the returned
    matrix_native maps feet -> foundation meters directly."""
    fnd, aoi0 = clouds
    M = CASES["translate_x10"]
    aoi_m = _perturb(aoi0, M)
    ft = 0.3048
    aoi_ft = aoi_m.copy()
    for c in ("x", "y", "z"):
        aoi_ft[c] = aoi_ft[c] / ft
    cfg = EngineConfig(min_resolution=RES, icp_max_iter=10)
    c, f, out = P.register(
        spark.createDataFrame(fnd),
        spark.createDataFrame(aoi_ft),
        extent=EXT,
        cfg=cfg,
        resolution=RES,
        fnd_units="m",
        aoi_units="ft",
    )
    assert f.matrix_native is not None
    # native matrix applied to the feet AOI must land on the meters truth
    native = np.array(f.matrix_native)
    A = np.column_stack([aoi_ft.x, aoi_ft.y, aoi_ft.z, np.ones(len(aoi_ft))]) @ native.T
    err = np.sqrt(((A[:, :3] - aoi0[["x", "y", "z"]].values) ** 2).sum(1))
    # sub-resolution in meters (0.2*RES = 0.8 m): this test pins the F3 unit
    # plumbing, not ICP precision — the default DSM-path fine lands ~0.13*RES
    assert np.median(err) < 0.2 * RES
    # and the returned DataFrame is already in foundation units
    got = out.toPandas().sort_values("pid").reset_index(drop=True)
    exp = aoi0.sort_values("pid").reset_index(drop=True)
    assert np.median(np.abs(got.x.values - exp.x.values)) < 0.2 * RES


def test_area_point_transforms_differ_by_half_pixel(spark, clouds):
    """A4 end-to-end (reference tests/test_registration.py:233-257): the
    SAME AOI raster interpreted Area vs Point yields coarse+fine transforms
    whose translations differ by exactly the half-pixel shift dsm_to_points
    applies (+0.5 px in x and y — preprocess.py:304-306)."""
    from codem_spark.operators import grid

    fnd, aoi0 = clouds
    shift = np.eye(4)
    shift[:3, 3] = (12.0, -8.0, 1.0)
    aoi = _perturb(aoi0, shift)
    results = {}
    with util.cache_scope():
        raster = util.persist(grid.grid_max(spark.createDataFrame(aoi), EXT, RES))
        for tag in ("Area", "Point"):
            pts = grid.dsm_to_points(raster, EXT, RES, tag).withColumn(
                "pid", F.xxhash64("x", "y", "z")
            )
            # full density: the half-pixel tagging distinction lives in the raw
            # point coordinates; the DSM-path fine stage re-rasterizes (both
            # taggings bin to the identical DSM) and would erase it by design
            cfg = EngineConfig(min_resolution=RES, icp_max_iter=10, icp_full_density=True)
            prep = P.preprocess(
                spark.createDataFrame(fnd), pts, extent=EXT, cfg=cfg, resolution=RES
            )
            c = P.coarse_registration(prep, cfg)
            f = P.fine_registration_stage(prep, c, cfg)
            results[tag] = (np.array(c.matrix), np.array(f.matrix))
    half = 0.5 * RES
    # Engine-adapted contract: both taggings rasterize to the IDENTICAL DSM
    # (grid_max re-bins the points onto the same cells), so the coarse
    # matrices are bit-identical; the half-pixel difference surfaces in the
    # FINE stage, which sees the actual point coordinates — Area points =
    # Point points + (half, half), so the fine translations differ by
    # exactly that vector (the reference's one-pixel assertion, expressed
    # for a point-cloud-input pipeline).
    d_coarse = results["Point"][0][:2, 3] - results["Area"][0][:2, 3]
    assert np.allclose(d_coarse, [0.0, 0.0], atol=1e-9), d_coarse
    d_fine = results["Point"][1][:2, 3] - results["Area"][1][:2, 3]
    assert np.allclose(d_fine, [half, half], atol=0.25), d_fine


def test_bandpass_keeps_keypoints_under_big_relief(spark):
    """The reason _normalize exists (reference preprocess.py:261-283): on a
    scene with large low-frequency relief, quantizing raw z squashes local
    structure into a handful of codes and keypoints collapse onto
    ridgelines. With the band-pass detection plane, keypoint counts on a
    200 m-relief scene stay comparable to the flat scene."""
    from codem_spark.registration import features

    rng = np.random.default_rng(13)
    n = 80_000
    x = rng.uniform(0, 1000, n)
    y = rng.uniform(0, 1000, n)
    flat = _surface(x, y)
    relief = flat + 200.0 * np.sin(x * 2 * np.pi / 1500.0) * np.cos(y * 2 * np.pi / 1800.0)
    cfg = EngineConfig(min_resolution=RES)
    counts = {}
    for name, z in (("flat", flat), ("relief", relief)):
        pts = spark.createDataFrame(pd.DataFrame({"pid": np.arange(n), "x": x, "y": y, "z": z}))
        with util.cache_scope():
            dsm = P._prep_dsm(pts, EXT, RES, cfg)
            counts[name] = features.extract_features(dsm, EXT, RES).count()
    assert counts["relief"] >= 0.5 * counts["flat"], counts
    assert counts["relief"] > 200, counts


def test_extract_features_pinned_on_multi_tile_dsm(spark):
    """Keypoints on a seeded 300x280-cell DSM (four 256-px tiles, 3% voids,
    a separate det_u8 plane) pinned to the output of the hand-written tile
    plan that grid.tile_apply replaced."""
    from codem_spark.registration import features

    from tests.conftest import frame_digest

    rng = np.random.default_rng(11)
    gx, gy = np.meshgrid(np.arange(300), np.arange(280), indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    trend = 20 * np.sin(gx / 37.0) * np.cos(gy / 29.0)
    bump = np.zeros(gx.size)
    for bx, by in rng.integers(5, 270, (60, 2)):
        bump[(gx >= bx) & (gx < bx + 9) & (gy >= by) & (gy < by + 6)] += 12.0
    z = trend + bump + rng.normal(0, 0.3, gx.size)
    keep = rng.random(gx.size) > 0.03

    def u8(v):
        lo, hi = np.percentile(v, [1, 99])
        return (np.round((np.clip(v, lo, hi) - lo) / (hi - lo) * 254) + 1).astype(np.int32)

    pdf = pd.DataFrame(
        {"gx": gx, "gy": gy, "z": z, "z_u8": u8(z), "det_u8": u8(bump + z - trend)}
    )
    dsm = spark.createDataFrame(pdf[keep].reset_index(drop=True))
    kp = features.extract_features(dsm, (0, 0, 600, 560), 2.0).toPandas()
    assert len(kp) == 248
    assert frame_digest(kp, list(kp.columns), ["gx", "gy"]) == "2ab8483808aa8745"


def test_failed_fine_stage_releases_dsm_caches(spark, clouds, monkeypatch):
    """register releases every DSM cache preprocess made (the raw,
    band-passed and final DSMs of both sides) when a stage after coarse
    registration raises: no new persisted RDD is left behind."""
    fnd, aoi = clouds

    def failing_fine(*_a, **_k):
        raise RuntimeError("fine stage failed")

    monkeypatch.setattr(P, "fine_registration_stage", failing_fine)
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="fine stage failed"):
        P.register(
            spark.createDataFrame(fnd),
            spark.createDataFrame(aoi),
            extent=EXT,
            cfg=EngineConfig(min_resolution=RES),
            resolution=RES,
        )
    assert not persisted_rdd_ids(spark) - before


def _icp_scene(n: int = 5_000, seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    x = rng.uniform(0, 200, n)
    y = rng.uniform(0, 200, n)
    return pd.DataFrame({"pid": np.arange(n), "x": x, "y": y, "z": _surface(x, y)})


@pytest.fixture(scope="module")
def icp_runs(spark):
    """fine_registration of a shifted copy of a scene, once as shipped and
    once with the drift margin forced to 0 (every pass whose pose moved
    re-tiles the moving side); records the moving-side tilings and the
    persisted RDDs before and after each run (compared, not required empty:
    earlier tests in the session may hold caches of their own)."""
    from codem_spark.registration import icp

    pdf = _icp_scene()
    fixed = spark.createDataFrame(pdf)
    noise = np.random.default_rng(8).normal(0.0, 0.1, len(pdf))
    moving = spark.createDataFrame(
        pdf.assign(pid=pdf.pid + 10**6, x=pdf.x + 1.5, y=pdf.y - 1.0, z=pdf.z + 0.5 + noise)
    )
    runs = {}
    for name, factor in (("default", icp._DRIFT_FACTOR), ("retile", 0.0)):
        tilings = []
        before = persisted_rdd_ids(spark)

        def counting(*a, _tile=icp._tile_moving, _log=tilings):
            _log.append(1)
            return _tile(*a)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(icp, "_DRIFT_FACTOR", factor)
            mp.setattr(icp, "_tile_moving", counting)
            res = icp.fine_registration(fixed, moving, (0.0, 0.0, 200.0, 200.0), RES)
        runs[name] = (res, len(tilings), (before, persisted_rdd_ids(spark)))
    return runs


def test_failed_icp_releases_its_caches(spark, icp_runs):
    """fine_registration releases every cache it created (fixed normals,
    fixed and moving tiles, each replaced moving tiling) when it raises for
    lack of correspondences, on success, and after forced re-tiles."""
    from codem_spark.registration import icp

    pdf = _icp_scene()
    fixed = spark.createDataFrame(pdf)
    # 50 m above the fixed cloud: no moving point has a fixed point within
    # the default kNN radius (2 * resolution)
    moving = spark.createDataFrame(pdf.assign(z=pdf.z + 50.0))
    before = persisted_rdd_ids(spark)
    with pytest.raises(ValueError, match="too few correspondences"):
        icp.fine_registration(fixed, moving, (0.0, 0.0, 200.0, 200.0), RES)
    assert persisted_rdd_ids(spark) == before
    for path in ("default", "retile"):
        before, after = icp_runs[path][2]
        assert after == before, path


def test_forced_retile_matches_default(icp_runs):
    """A drift margin of 0 re-tiles the moving side on every pass whose pose
    moved; the solve must not notice: same iterations and pairs, the same
    matrix to 1e-9."""
    res, n_tilings, _ = icp_runs["default"]
    forced, n_forced, _ = icp_runs["retile"]
    assert n_tilings == 1  # 1.5 m of drift stays inside the default margin
    assert n_forced > 1 + forced.iterations // 2  # re-tiled on most passes
    assert forced.iterations == res.iterations
    assert forced.n_pairs == res.n_pairs == 5_000
    np.testing.assert_allclose(forced.matrix, res.matrix, rtol=0, atol=1e-9)
    np.testing.assert_allclose(
        [forced.rmse_x, forced.rmse_y, forced.rmse_z, forced.rmse_3d],
        [res.rmse_x, res.rmse_y, res.rmse_z, res.rmse_3d], rtol=1e-9,
    )
    np.testing.assert_allclose(
        (res.trans_x, res.trans_y, res.trans_z), (-1.5, 1.0, -0.5), atol=0.05
    )


def test_icp_pass_matches_brute_force(spark):
    """One pass (tile, pose inside the kernel, nearest fixed point within
    the radius, per-tile partials summed on the driver) against a numpy
    brute force: nearest fixed point within the radius, ties by ascending
    pid. The moving side is tiled at one pose and posed at another (drift
    inside the margin); duplicated fixed points with lower pids and other
    normals make the tie-break matter."""
    from codem_spark.functions.geo import similarity_matrix
    from codem_spark.registration import icp

    rng = np.random.default_rng(29)
    nf, nm, radius = 900, 700, 3.0
    fx = rng.uniform(0, 100, nf)
    fy = rng.uniform(0, 100, nf)
    nrm = np.column_stack([rng.normal(0, 0.3, nf), rng.normal(0, 0.3, nf), np.ones(nf)])
    nrm /= np.linalg.norm(nrm, axis=1)[:, None]
    fixed = pd.DataFrame({
        "pid": np.arange(100, 100 + nf), "x": fx, "y": fy, "z": rng.uniform(0, 4, nf),
        "nx": nrm[:, 0], "ny": nrm[:, 1], "nz": nrm[:, 2],
    })
    dup = fixed.iloc[:40].assign(pid=np.arange(40), nx=0.0, ny=0.0, nz=1.0)
    fixed = pd.concat([fixed, dup], ignore_index=True)
    mxyz = np.column_stack([
        rng.uniform(10, 90, nm), rng.uniform(10, 90, nm), rng.uniform(0, 4, nm)
    ])
    # some moving points sit exactly on a duplicated fixed point once posed
    pose = similarity_matrix(1.0, 0.3, -0.2, 1.5, (0.8, -0.6, 0.2))
    tile_pose = similarity_matrix(1.0, 0.0, 0.0, 0.0, (0.3, 0.1, 0.0))
    inv = np.linalg.inv(pose)
    on_dup = dup[["x", "y", "z"]].to_numpy()[:20]
    mxyz[:20] = on_dup @ inv[:3, :3].T + inv[:3, 3]
    moving = pd.DataFrame({"pid": np.arange(nm), "x": mxyz[:, 0], "y": mxyz[:, 1], "z": mxyz[:, 2]})

    # brute-force reference
    p = mxyz @ pose[:3, :3].T + pose[:3, 3]
    fpts = fixed[["x", "y", "z"]].to_numpy()
    fpid = fixed["pid"].to_numpy()
    d2 = ((p[:, None, :] - fpts[None, :, :]) ** 2).sum(axis=2)
    li, ri = [], []
    for i in range(nm):
        cand = np.flatnonzero(d2[i] <= radius * radius)
        if len(cand):
            li.append(i)
            ri.append(cand[np.lexsort((fpid[cand], d2[i, cand]))[0]])
    li, ri = np.array(li), np.array(ri)
    assert fpid[ri[:20]].max() < 40  # the ties went to the lower pids
    fn = fixed[["nx", "ny", "nz"]].to_numpy()
    ref = icp._partials(p[li], fpts[ri], fn[ri], True, 1.2, 2.5, True)
    ref = np.concatenate([ref, ((p[li] - fpts[ri]) ** 2).sum(axis=0)])
    ref_drift = np.hypot(*(p[:, :2] - (mxyz @ tile_pose[:3, :3].T + tile_pose[:3, 3])[:, :2]).T).max()

    ext, level = (0.0, 0.0, 100.0, 100.0), 3
    with util.cache_scope():
        fixed_tiled = icp._tile_fixed(spark.createDataFrame(fixed), ext, 2 * radius, level)
        moving_tiled = icp._tile_moving(spark.createDataFrame(moving), tile_pose, ext, level)
        kern = icp._pass_kernel_builder(pose, tile_pose, radius, True, 1.2, 2.5, True)
        got, drift = icp._sum_tiles(icp._pass_frame(moving_tiled, fixed_tiled, kern).collect())
    assert ref_drift < radius  # inside the margin the halo was widened by
    n_at = icp._ACC_COLS.index("n")
    assert int(got[n_at]) == len(li)
    np.testing.assert_allclose(got, ref, rtol=1e-9, atol=0)
    np.testing.assert_allclose(drift, ref_drift, rtol=1e-9)


def test_icp_pass_kernel_row_matches_list_construction():
    """The pass kernel's one output row, built from typed 1-element
    columns, has the columns, dtypes and bits of the list row it replaced:
    ``DataFrame([row], columns=_PASS_COLS).astype(cell_id/n int64)``."""
    from codem_spark.functions.geo import transform_xyz
    from codem_spark.operators import knn
    from codem_spark.registration import icp

    rng = np.random.default_rng(31)
    nf, nm, radius = 300, 200, 3.0
    nrm = np.column_stack([rng.normal(0, 0.3, nf), rng.normal(0, 0.3, nf), np.ones(nf)])
    nrm /= np.linalg.norm(nrm, axis=1)[:, None]
    fpdf = pd.DataFrame({
        "_r_pid": np.arange(nf), "_r_x": rng.uniform(0, 40, nf),
        "_r_y": rng.uniform(0, 40, nf), "_r_z": rng.uniform(0, 4, nf),
        "_r_nx": nrm[:, 0], "_r_ny": nrm[:, 1], "_r_nz": nrm[:, 2],
    })
    mpdf = pd.DataFrame({
        "pid": np.arange(nm), "x": rng.uniform(5, 35, nm),
        "y": rng.uniform(5, 35, nm), "z": rng.uniform(0, 4, nm),
    })
    pose = similarity_matrix(1.0, 0.3, -0.2, 1.5, (0.8, -0.6, 0.2))
    tile_pose = similarity_matrix(1.0, 0.0, 0.0, 0.0, (0.3, 0.1, 0.0))
    key = (np.int64((1 << 53) + 7),)  # not exact as a float64
    got = icp._pass_kernel_builder(pose, tile_pose, radius, True, 1.2, 2.5, True)(
        key, mpdf, fpdf
    )

    xyz = [mpdf[c].to_numpy() for c in ("x", "y", "z")]
    p = np.column_stack(transform_xyz(pose, *xyz))
    tx, ty, _tz = transform_xyz(tile_pose, *xyz)
    drift = float(np.sqrt((p[:, 0] - tx) ** 2 + (p[:, 1] - ty) ** 2).max())
    fpts = fpdf[["_r_x", "_r_y", "_r_z"]].to_numpy()
    li, ri, _d, _rk = knn.grid_topk(p, fpts, fpdf["_r_pid"].to_numpy(), radius, k=1)
    acc = icp._partials(p[li], fpts[ri], nrm[ri], True, 1.2, 2.5, True)
    d = p[li] - fpts[ri]
    row = [key[0], *acc, *(d * d).sum(axis=0), drift]
    ref = pd.DataFrame([row], columns=icp._PASS_COLS).astype({"cell_id": "int64", "n": "int64"})

    assert len(li) > 0
    assert list(got.columns) == list(ref.columns)
    assert got.dtypes.to_dict() == ref.dtypes.to_dict()
    for c in ref.columns:
        assert got[c].to_numpy().tobytes() == ref[c].to_numpy().tobytes(), c


def test_capture_plane_collect_is_capped(spark, monkeypatch):
    """The match-viz DSM capture must not collect unboundedly many cells to
    the driver (VERDICT r5 'weak'): above the cap the plane is block-max
    reduced to fit; below it the exact plane comes back unchanged."""
    import pandas as pd

    from codem_spark.registration import pipeline as P

    small = spark.createDataFrame(
        pd.DataFrame({"gx": [1, 2, 3], "gy": [4, 5, 6], "z_u8": [10, 20, 30]})
    )
    exact = P._capped_u8_plane(small)
    assert sorted(exact.z_u8.tolist()) == [10, 20, 30]

    gx, gy = np.meshgrid(np.arange(100), np.arange(100))
    big = spark.createDataFrame(
        pd.DataFrame(
            {"gx": gx.ravel(), "gy": gy.ravel(),
             "z_u8": (gx.ravel() + gy.ravel()) % 255}
        )
    )
    monkeypatch.setattr(P, "VIZ_MAX_CELLS", 2500)
    capped = P._capped_u8_plane(big)
    # factor = ceil(sqrt(10000/2500)) = 2 -> 50x50 blocks
    assert len(capped) <= 2500
    assert capped.gx.max() == 49 and capped.gy.max() == 49


def test_render_match_image_geometry_and_lines():
    """Pure-numpy unit test of the match visualization (reference
    _save_match_img, dsm.py:276-333): canvas layout, green inlier lines
    between the planted pair coordinates, red transformed-bbox outline on
    the foundation half, and gray DSM pixels in both halves."""
    import pandas as pd

    from codem_spark.registration import viz

    ext = (0.0, 0.0, 100.0, 100.0)
    res = 10.0  # 10 x 10 px per half
    cells = pd.DataFrame(
        {"gx": [1, 2, 3], "gy": [1, 2, 3], "z_u8": [100, 150, 200]}
    )
    pairs = pd.DataFrame(
        {"ax": [15.0, 25.0], "ay": [15.0, 25.0], "az": [0.0, 0.0],
         "fx": [35.0, 45.0], "fy": [15.0, 25.0], "fz": [0.0, 0.0]}
    )
    inl = np.array([True, False])
    canvas = viz.render_match_image(
        cells, cells, pairs, inl, np.eye(4), ext, res
    )
    assert canvas.shape == (10, 24, 3)  # 10 + 4 gap + 10 wide
    # gray DSM pixels present in both halves (gy row, gx col; (2,2) is
    # interior — neither the row-1 match line nor the bbox outline hits it)
    assert canvas[2, 2, 0] == 150 and canvas[2, 14 + 2, 0] == 150
    # inlier line endpoints green: aoi (15,15) -> px (1,1) rounds to (1,1);
    # fnd (35,15) -> px 3 -> col 14+3
    assert (canvas[1, 1] == (0, 255, 0)).all()
    assert (canvas[1, 14 + 3] == (0, 255, 0)).all()
    # the outlier pair's fnd endpoint (45,25) -> px (4,2) col 14+4: NOT green
    assert not (canvas[2, 14 + 4] == (0, 255, 0)).all()
    # red outline exists on the foundation half only
    red = (canvas[:, :, 0] == 255) & (canvas[:, :, 1] == 0) & (canvas[:, :, 2] == 0)
    assert red[:, 14:].sum() > 0 and red[:, :10].sum() == 0
