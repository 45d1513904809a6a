"""SMRF-style ground segmentation: planted buildings on smooth terrain."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from codem_spark.operators import grid, ground
from tests.conftest import frame_digest

EXT = (0, 0, 1000, 1000)


@pytest.fixture(scope="module")
def scene():
    rng = np.random.default_rng(31)
    n = 60_000
    x = rng.uniform(0, 1000, n)
    y = rng.uniform(0, 1000, n)
    terrain = 5 * np.sin(x / 150) * np.cos(y / 180) + 50
    z = terrain + rng.normal(0, 0.05, n)
    bmask = np.zeros(n, dtype=bool)
    for bx, by in [(200, 300), (600, 700), (800, 200)]:
        m = (x > bx) & (x < bx + 50) & (y > by) & (y < by + 50)
        z[m] += 12.0  # flat roofs 12 m above terrain
        bmask |= m
    return pd.DataFrame({"pid": np.arange(n), "x": x, "y": y, "z": z}), bmask


@pytest.fixture(scope="module")
def smrf_out(spark, scene):
    df = spark.createDataFrame(scene[0])
    return ground.smrf_ground(df, EXT, resolution=4.0, max_window=60.0).toPandas()


def test_smrf_flags_buildings(smrf_out, scene):
    got = smrf_out.set_index("pid")
    m = pd.Series(scene[1], index=np.arange(len(scene[1])))
    merged = got.join(m.rename("is_roof"))
    # nearly all roof points non-ground; nearly all terrain points ground
    assert (~merged[merged.is_roof].is_ground).mean() > 0.9
    assert (merged[~merged.is_roof].is_ground).mean() > 0.9
    # height above ground ~12 m on roofs
    assert abs(merged[merged.is_roof].hag.median() - 12.0) < 2.0


def test_smrf_output_pinned(smrf_out):
    """Flags and heights pinned to the output of the hand-written tile plan
    that ``grid.tile_apply`` replaced."""
    got = frame_digest(smrf_out, ["pid", "is_ground", "hag", "ground_z"], ["pid"])
    assert got == "1c952ea0cb582dc8"


def test_smrf_rejects_window_below_one_cell(spark, scene):
    df = spark.createDataFrame(scene[0].head(100))
    with pytest.raises(ValueError, match="max_window"):
        ground.smrf_ground(df, EXT, resolution=4.0, max_window=2.0).collect()


def test_smrf_halo_wider_than_tile_sees_whole_halo(spark, monkeypatch):
    """With a halo wider than ``grid.TILE_PX``, tile_apply widens the tile
    to the halo and every tile still sees its whole halo: on a 60-cell
    raster whose 41-cell halo covers it from any tile, a 16-px TILE_PX
    (41-px tiles) gives exactly the single-tile result."""
    rng = np.random.default_rng(4)
    gx, gy = np.meshgrid(np.arange(60), np.arange(60), indexing="ij")
    x = gx.ravel() + rng.uniform(0.1, 0.9, gx.size)
    y = gy.ravel() + rng.uniform(0.1, 0.9, gy.size)
    z = 0.05 * x + rng.normal(0, 0.02, x.size)
    for bx, by, w in [(5, 8, 6), (22, 30, 12), (40, 10, 18), (44, 44, 9)]:
        z[(x > bx) & (x < bx + w) & (y > by) & (y < by + w)] += 6.0
    df = spark.createDataFrame(pd.DataFrame({"pid": np.arange(x.size), "x": x, "y": y, "z": z}))

    def run():
        out = ground.smrf_ground(df, (0, 0, 60, 60), resolution=1.0, max_window=40.0)
        return out.toPandas().sort_values("pid").reset_index(drop=True)

    whole = run()
    monkeypatch.setattr(grid, "TILE_PX", 16)
    tiled = run()
    assert (~whole.is_ground).sum() > 0
    assert (tiled.is_ground.values == whole.is_ground.values).all()
    assert np.array_equal(tiled.hag.values, whole.hag.values)
