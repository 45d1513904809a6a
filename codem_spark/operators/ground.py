"""Ground segmentation (F9 — SURVEY.md §2.2, flagged advanced/optional).

Reference analog: PDAL filters.smrf in the VCD preprocessing chain
(vcd/preprocessing/preprocess.py:171) — a progressive morphological filter
(Pingel 2013): compute the minimum-elevation surface, morphologically open
it with growing windows, and flag cells that stay far above the opened
surface as non-ground.

Engine design: grid-min rasterization (stock hash agg) -> per-tile
morphological opening in a ``grid.tile_apply`` kernel, the engine's one
raster tile+halo plan (vectorized sliding minima/maxima over the dense tile
+ halo, so window effects cross tile borders) -> points join back to their
cell's ground flag + the interpolated ground elevation
(height-above-ground, the J7 byproduct).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark.operators import grid

Extent = tuple[float, float, float, float]


def _sliding(a: np.ndarray, w: int, reduce) -> np.ndarray:
    """Square sliding-window ``reduce`` (np.minimum: erosion, np.maximum:
    dilation) over (2w+1)^2 cells, separable, edge-replicated."""
    for axis in (0, 1):
        p = np.pad(a, [(w, w) if ax == axis else (0, 0) for ax in (0, 1)], mode="edge")
        out = a.copy()
        for d in range(-w, w + 1):
            sl = [slice(None)] * 2
            sl[axis] = slice(w + d, p.shape[axis] - w + d)
            out = reduce(out, p[tuple(sl)])
        a = out
    return a


def _open(a: np.ndarray, w: int) -> np.ndarray:
    """Morphological opening: erosion then dilation, window radius w."""
    return _sliding(_sliding(a, w, np.minimum), w, np.maximum)


def smrf_ground(
    points: DataFrame,
    extent: Extent,
    resolution: float = 2.0,
    max_window: float = 20.0,
    slope: float = 0.15,
    initial_threshold: float = 0.5,
) -> DataFrame:
    """Returns points + (is_ground boolean, hag double).

    Progressive morphological filtering on the min-z raster: windows grow
    1, 2, 4, ... cells up to max_window meters; at each step cells whose
    min-z exceeds the opened surface by threshold(w) = initial + slope*w*res
    are marked non-ground. hag = z - opened ground surface at the cell.

    The raster runs through ``grid.tile_apply`` with a halo of
    ceil(max_window / resolution) + 1 cells (a halo wider than
    ``grid.TILE_PX`` widens the tile, so every tile sees its whole halo).
    """
    if max_window < resolution:
        raise ValueError(
            f"max_window ({max_window}) is smaller than one cell ({resolution}): "
            "no SMRF window fits"
        )
    zmin = (
        points.select(
            F.floor((F.col("x") - extent[0]) / resolution).cast("long").alias("gx"),
            F.floor((F.col("y") - extent[1]) / resolution).cast("long").alias("gy"),
            "z",
        )
        .groupBy("gx", "gy")
        .agg(F.min("z").alias("z"))
    )
    halo = int(np.ceil(max_window / resolution)) + 1

    windows = []
    w = 1
    while w * resolution <= max_window:
        windows.append(w)
        w *= 2

    def kernel(x0, y0, planes, have, core):
        img = np.where(have, planes["z"], np.nan)
        # voids become +inf so they never drive the opening's minimum
        filled = np.where(np.isnan(img), np.inf, img)
        ground = np.ones(img.shape, dtype=bool)
        surface = filled.copy()
        for w_ in windows:
            opened = _open(surface, w_)
            thresh = initial_threshold + slope * w_ * resolution
            ground &= ~(surface - opened > thresh)
            surface = np.minimum(surface, opened + thresh)
        est = _open(filled, windows[-1])  # ground estimate
        ex, ey = np.nonzero(have & core)
        return pd.DataFrame(
            {
                "gx": ex + x0,
                "gy": ey + y0,
                "cell_ground": ground[ex, ey],
                "ground_z": np.where(
                    np.isfinite(est[ex, ey]), est[ex, ey], img[ex, ey]
                ),
            }
        )

    flags = grid.tile_apply(
        zmin, halo, ["z"], kernel, "gx long, gy long, cell_ground boolean, ground_z double"
    )
    pts = points.withColumn(
        "gx", F.floor((F.col("x") - extent[0]) / resolution).cast("long")
    ).withColumn("gy", F.floor((F.col("y") - extent[1]) / resolution).cast("long"))
    out = pts.join(flags, ["gx", "gy"], "left")
    hag = F.col("z") - F.coalesce(F.col("ground_z"), F.col("z"))
    return (
        out.withColumn("hag", hag)
        .withColumn(
            "is_ground",
            F.coalesce(F.col("cell_ground"), F.lit(True)) & (F.col("hag") < initial_threshold * 2),
        )
        .drop("cell_ground")
    )
