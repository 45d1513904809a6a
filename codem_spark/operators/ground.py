"""Ground segmentation (F9 — SURVEY.md §2.2, flagged advanced/optional).

Reference analog: PDAL filters.smrf in the VCD preprocessing chain
(vcd/preprocessing/preprocess.py:171) — a progressive morphological filter
(Pingel 2013): compute the minimum-elevation surface, morphologically open
it with growing windows, and flag cells that stay far above the opened
surface as non-ground.

Engine design: grid-min rasterization (stock hash agg) -> per-tile
morphological opening in an ``applyInPandas`` kernel (vectorized sliding
minima/maxima over the dense tile + halo, so window effects cross tile
borders correctly) -> points join back to their cell's ground flag + the
interpolated ground elevation (height-above-ground, the J7 byproduct).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Extent = tuple[float, float, float, float]

TILE = 256


def _erode(a: np.ndarray, w: int) -> np.ndarray:
    """Square sliding-window minimum (separable), edge-replicated."""
    for axis in (0, 1):
        p = np.pad(a, [(w, w) if ax == axis else (0, 0) for ax in (0, 1)], mode="edge")
        out = a.copy()
        for d in range(-w, w + 1):
            sl = [slice(None)] * 2
            sl[axis] = slice(w + d, p.shape[axis] - w + d)
            out = np.minimum(out, p[tuple(sl)])
        a = out
    return a


def _dilate(a: np.ndarray, w: int) -> np.ndarray:
    for axis in (0, 1):
        p = np.pad(a, [(w, w) if ax == axis else (0, 0) for ax in (0, 1)], mode="edge")
        out = a.copy()
        for d in range(-w, w + 1):
            sl = [slice(None)] * 2
            sl[axis] = slice(w + d, p.shape[axis] - w + d)
            out = np.maximum(out, p[tuple(sl)])
        a = out
    return a


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
    """
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
    tx = F.floor(F.col("gx") / TILE)
    ty = F.floor(F.col("gy") / TILE)
    base = zmin.withColumn("tx", tx).withColumn("ty", ty)
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off = F.explode(
        F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy")) for a, b in offs])
    )
    e = base.withColumn("_o", off)
    ntx = F.col("tx") + F.col("_o.dx")
    nty = F.col("ty") + F.col("_o.dy")
    in_win = (
        (F.col("gx") >= ntx * TILE - halo)
        & (F.col("gx") < (ntx + 1) * TILE + halo)
        & (F.col("gy") >= nty * TILE - halo)
        & (F.col("gy") < (nty + 1) * TILE + halo)
    )
    tiled = e.filter(in_win).select(ntx.alias("tx"), nty.alias("ty"), "gx", "gy", "z")

    windows = []
    w = 1
    while w * resolution <= max_window:
        windows.append(w)
        w *= 2

    def kernel(key, pdf):
        tx_, ty_ = int(key[0]), int(key[1])
        x0p, y0p = tx_ * TILE - halo, ty_ * TILE - halo
        side = TILE + 2 * halo
        img = np.full((side, side), np.nan)
        rr = pdf["gy"].to_numpy() - y0p
        cc = pdf["gx"].to_numpy() - x0p
        img[rr, cc] = pdf["z"].to_numpy(np.float64)
        # fill voids with a large value so they never drive the opening...
        # (morphological min would bleed; use nan-aware: replace with +inf
        # for erosion and patch after)
        filled = np.where(np.isnan(img), np.inf, img)
        ground = np.ones((side, side), dtype=bool)
        surface = filled.copy()
        for w_ in windows:
            opened = _dilate(_erode(surface, w_), w_)
            thresh = initial_threshold + slope * w_ * resolution
            ground &= ~(surface - opened > thresh)
            surface = np.minimum(surface, opened + thresh)
        est = _dilate(_erode(filled, windows[-1]), windows[-1])  # ground est
        core = (rr >= halo) & (rr < halo + TILE) & (cc >= halo) & (cc < halo + TILE)
        return pd.DataFrame(
            {
                "gx": pdf["gx"].to_numpy()[core],
                "gy": pdf["gy"].to_numpy()[core],
                "cell_ground": ground[rr[core], cc[core]],
                "ground_z": np.where(
                    np.isfinite(est[rr[core], cc[core]]),
                    est[rr[core], cc[core]],
                    img[rr[core], cc[core]],
                ),
            }
        )

    flags = tiled.groupBy("tx", "ty").applyInPandas(
        kernel, schema="gx long, gy long, cell_ground boolean, ground_z double"
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
