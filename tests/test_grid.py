"""Grid aggregation family vs DuckDB / pandas oracles."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from codem_spark import synth
from codem_spark.operators import grid
from tests.conftest import EXTENT


def test_grid_max_vs_duckdb(spark, duck):
    pc = synth.point_cloud(spark, 5000)
    got = (
        grid.grid_max(pc, EXTENT, 1000.0)
        .toPandas()
        .sort_values(["gx", "gy"])
        .reset_index(drop=True)
    )
    pdf = pc.select("x", "y", "z").toPandas()
    duck.register("pts_gm", pdf)
    exp = duck.sql(grid.grid_max_sql("SELECT * FROM pts_gm", EXTENT, 1000.0) + " ORDER BY gx, gy").df()
    assert len(got) == len(exp)
    assert (got.gx.values == exp.gx.values).all()
    assert np.allclose(got.z.values, exp.z.values, atol=1e-12)


def test_grid_idw_vs_duckdb(spark, duck):
    pc = synth.point_cloud(spark, 2000)
    got = (
        grid.grid_idw(pc, EXTENT, 2000.0)
        .toPandas()
        .sort_values(["gx", "gy"])
        .reset_index(drop=True)
    )
    pdf = pc.select("x", "y", "z").toPandas()
    duck.register("pts_idw", pdf)
    exp = (
        duck.sql(grid.grid_idw_sql("SELECT * FROM pts_idw", EXTENT, 2000.0) + " ORDER BY gx, gy")
        .df()
    )
    assert len(got) == len(exp)
    assert np.allclose(got.z.values, exp.z.values, rtol=1e-9)


def test_density_and_resolution(spark):
    pc = synth.point_cloud(spark, 10000)
    res = grid.estimate_resolution(pc, EXTENT, level=6)
    # 10k points over 100km x 100km -> ~1km spacing
    assert 500 < res < 2000


def test_bounds_and_bbox(spark):
    pc = synth.point_cloud(spark, 1000)
    b = grid.bounds(pc)
    assert b[0] >= 0 and b[2] <= 100_000
    ov = grid.bbox_overlap((0, 0, 10, 10), (5, 5, 20, 20))
    assert ov[0] < ov[2] and ov[1] < ov[3]
    with pytest.raises(ValueError):
        grid.bbox_overlap((0, 0, 1, 1), (100, 100, 101, 101))


def test_clip_bbox_pushdown(spark):
    pc = synth.point_cloud(spark, 2000)
    clipped = grid.clip_bbox(pc, (10_000, 10_000, 50_000, 50_000))
    pdf = clipped.select("x", "y").toPandas()
    assert ((pdf.x >= 10_000) & (pdf.x < 50_000)).all()
    # filter must appear in the physical plan (pushed toward the scan)
    plan = clipped._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan or "filter" in plan


def test_quantize_normalize(spark):
    pc = synth.point_cloud(spark, 3000)
    q = grid.quantize_normalize(pc, "z").select("z_u8").toPandas()
    assert q.z_u8.between(1, 255).all()
    assert q.z_u8.nunique() > 100  # spread across the range


def test_cluster_sizes_window(spark):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "pid long, cluster_id int"
    )
    got = grid.cluster_sizes(df).toPandas()
    assert (got.cluster_size == 10).all()


def test_infill_fills_all_interior_voids(spark):
    # 10x10 grid with a 2x2 hole: the infill step must fill it with neighbor IDW
    rows = [(gx, gy, float(gx + gy)) for gx in range(10) for gy in range(10)
            if not (4 <= gx <= 5 and 4 <= gy <= 5)]
    dsm = spark.createDataFrame(rows, "gx long, gy long, z double")
    filled = grid.infill_band_pass(dsm, weak_sigma_px=1.0, strong_sigma_px=2.5)
    pdf = filled.toPandas()
    assert len(pdf) == 100
    hole = pdf[(pdf.gx.between(4, 5)) & (pdf.gy.between(4, 5))]
    exp = hole.gx + hole.gy
    assert np.allclose(hole.z.values, exp.values, atol=1.0)


def test_infill_band_pass_fused_equals_sequential(spark, monkeypatch):
    """The fused infill+band-pass kernel on 32-px tiles equals the sequential
    whole-raster numpy chain _fill_voids(..., _INFILL_ROUNDS) ->
    _band_pass_np: voids (one on a tile border), raster edges and tile
    borders included, and every interior void is filled."""
    rng = np.random.default_rng(7)
    rows = [
        (gx, gy, float(np.sin(gx * 0.3) * 5 + gy * 0.1 + rng.normal(0, 0.2)))
        for gx in range(70) for gy in range(60)
        # punch a few holes, including one on a tile border (32-px tiles)
        if not ((10 <= gx <= 12 and 20 <= gy <= 22) or (31 <= gx <= 33 and 5 <= gy <= 6))
    ]
    dsm = spark.createDataFrame(rows, "gx long, gy long, z double")
    monkeypatch.setattr(grid, "TILE_PX", 32)
    got = grid.infill_band_pass(
        dsm, weak_sigma_px=1.0, strong_sigma_px=2.5,
    ).toPandas().sort_values(["gx", "gy"]).reset_index(drop=True)

    # _fill_voids takes square windows; columns gy >= 60 lie outside the
    # raster bbox and stay empty
    arr = np.zeros((70, 70))
    have = np.zeros((70, 70), dtype=bool)
    for gx, gy, z in rows:
        arr[gx, gy], have[gx, gy] = z, True
    orig = arr.copy()
    grid._fill_voids(arr, have, 0, 0, (0, 69, 0, 59), grid._INFILL_ROUNDS)
    bp = grid._band_pass_np(arr, have, grid._gauss_kernel1d(1.0), grid._gauss_kernel1d(2.5))
    assert have[:, :60].all() and not have[:, 60:].any()
    ex, ey = np.nonzero(have)
    assert (got.gx.values == ex).all() and (got.gy.values == ey).all()
    assert np.array_equal(got.z.values, arr[ex, ey])
    assert np.allclose(got.bp.values, bp[ex, ey], rtol=0, atol=1e-12)
    # each fill is a weighted mean of filled neighbors, so the 3x3 hole's
    # values stay within the range of the original ring around it
    ring = np.ones((5, 5), dtype=bool)
    ring[1:4, 1:4] = False
    ring = orig[9:14, 19:24][ring]
    hole = arr[10:13, 20:23]
    assert ring.min() <= hole.min() and hole.max() <= ring.max()


def test_tile_apply_plan_builds_without_warnings(spark):
    """A partly annotated grouped-map function makes PySpark warn that it
    cannot infer the eval type from the type hints, once per plan."""
    dsm = spark.createDataFrame([(0, 0, 1.0)], "gx long, gy long, z double")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        grid.tile_apply(dsm, 2, ["z"], lambda *a: None, "gx long")


def test_exact_percentiles_matches_builtin(spark, monkeypatch):
    """exact_percentiles (histogram refinement) must reproduce the builtin
    percentile() aggregate bit-for-bit, interpolated and exact-index probs,
    duplicates included."""
    rng = np.random.default_rng(3)
    vals = np.concatenate([rng.normal(50, 20, 40_000), np.full(5_000, 42.0)])
    df = spark.createDataFrame([(float(v),) for v in vals], "z double")
    probs = [0.0, 0.01, 0.05, 0.5, 0.99, 1.0]
    ref = df.agg(
        *[F.expr(f"percentile(z, {p})").alias(f"p{i}") for i, p in enumerate(probs)]
    ).collect()[0]
    # a small collect cap forces at least one histogram refinement round
    monkeypatch.setattr(grid, "PCT_COLLECT_CAP", 2_000)
    got = grid.exact_percentiles(df, "z", probs)
    for i in range(len(probs)):
        assert got[i] == ref[f"p{i}"], (probs[i], got[i], ref[f"p{i}"])


def test_dsm_to_points_area_point_shift(spark):
    dsm = spark.createDataFrame([(2, 3, 7.0)], "gx long, gy long, z double")
    a = grid.dsm_to_points(dsm, (0, 0, 10, 10), 1.0, "Area").collect()[0]
    p = grid.dsm_to_points(dsm, (0, 0, 10, 10), 1.0, "Point").collect()[0]
    # reference semantics (preprocess.py:304-306): Area shifts +0.5 px
    assert a["x"] - p["x"] == pytest.approx(0.5)
    assert a["y"] - p["y"] == pytest.approx(0.5)


def test_cell_pyramid_matches_per_level_aggs_one_exchange(spark, duck):
    """cell_pyramid: values equal independent per-level aggs AND the whole
    pyramid plans with exactly ONE Exchange (the coarse-ancestor
    repartition) — the single-shuffle property the 100 TB design rests on."""
    from codem_spark.functions import cells

    pc = synth.point_cloud(spark, 8000)
    pyr = grid.cell_pyramid(pc, EXTENT, level=10, coarsest=7, num_partitions=8)
    # single-shuffle property: every level is one branch of a union, and
    # each branch's whole agg chain plans exactly ONE Exchange (the
    # ancestor repartition); the union's identical exchanges dedupe at
    # runtime via AQE stage reuse. Assert on the deepest chain (finest agg
    # + all three rollups, no union in the way).
    pre = cells.with_cell(pc, "x", "y", EXTENT, 10, out="cell").select(
        F.shiftright("cell", 6).alias("_ck"), "cell", "z"
    ).repartition(8, "_ck")
    chain = pre.groupBy("_ck", "cell").agg(F.max("z").alias("z_max"), F.count("*").alias("n"))
    for _ in range(3):
        chain = chain.groupBy("_ck", F.shiftright("cell", 2).alias("cell")).agg(
            F.max("z_max").alias("z_max"), F.sum("n").alias("n")
        )
    plan = chain._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    got = pyr.toPandas().sort_values(["level", "cell"]).reset_index(drop=True)
    # oracle 1: independent per-level direct aggregations
    for lv in (10, 9, 8, 7):
        exp = (
            cells.with_cell(pc, "x", "y", EXTENT, lv, out="cell")
            .groupBy("cell")
            .agg(F.max("z").alias("z_max"), F.count("*").alias("n"))
            .toPandas()
            .sort_values("cell")
            .reset_index(drop=True)
        )
        g = got[got.level == lv].reset_index(drop=True)
        assert len(g) == len(exp), lv
        assert (g.cell.values == exp.cell.values).all()
        assert np.allclose(g.z_max.values, exp.z_max.values)
        assert (g.n.values == exp.n.values).all()
    # oracle 2: the DuckDB SQL twin used by the correctness contract
    pdf = pc.select("x", "y", "z").toPandas()
    duck.register("pts_pyr", pdf)
    exp = duck.sql(
        grid.cell_pyramid_sql("SELECT * FROM pts_pyr", EXTENT, 10, 7)
        + " ORDER BY level, cell"
    ).df().sort_values(["level", "cell"]).reset_index(drop=True)
    assert len(exp) == len(got)
    assert (got.cell.values == exp.cell.values).all()
    assert np.allclose(got.z_max.values, exp.z_max.values)
    assert (got.n.values == exp.n.values).all()


def test_cell_pyramid_validates_levels(spark):
    pc = synth.point_cloud(spark, 10)
    with pytest.raises(ValueError, match="coarsest"):
        grid.cell_pyramid(pc, EXTENT, level=5, coarsest=6)
