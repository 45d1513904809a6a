"""DSM feature-match visualization (reference `_save_match_img`,
src/codem/registration/dsm.py:276-333): side-by-side normalized AOI |
foundation DSM images, green lines joining the RANSAC-inlier matches, and
the transformed AOI occupied-bbox outline drawn red on the foundation half.

The reference composes this with cv2.drawMatches/polylines; here it is
pure numpy rasterization + the engine's from-scratch PNG encoder
(functions/imagecodec.py) — no cv2 in the container. Driver-side by
design: the canvas is the DSM raster itself, the same bounded in-memory
object the reference holds (cells, not points)."""

from __future__ import annotations

import numpy as np
import pandas as pd

Extent = tuple[float, float, float, float]

_GAP = 4  # px between the two half-images
_GREEN = np.array([0, 255, 0], np.uint8)
_RED = np.array([255, 0, 0], np.uint8)


def _plane(pdf: pd.DataFrame, nx: int, ny: int) -> np.ndarray:
    """(gx, gy, z_u8) rows -> dense (ny, nx) uint8, voids = 0."""
    img = np.zeros((ny, nx), np.uint8)
    gx = pdf["gx"].to_numpy(np.int64)
    gy = pdf["gy"].to_numpy(np.int64)
    keep = (gx >= 0) & (gx < nx) & (gy >= 0) & (gy < ny)
    img[gy[keep], gx[keep]] = pdf["z_u8"].to_numpy(np.int64)[keep].astype(np.uint8)
    return img


def _draw_line(canvas: np.ndarray, x0: float, y0: float, x1: float, y1: float,
               color: np.ndarray) -> None:
    """Dense-sampled line segment (visualization-grade Bresenham stand-in)."""
    n = int(max(abs(x1 - x0), abs(y1 - y0))) + 1
    xs = np.round(np.linspace(x0, x1, n)).astype(np.int64)
    ys = np.round(np.linspace(y0, y1, n)).astype(np.int64)
    keep = (xs >= 0) & (xs < canvas.shape[1]) & (ys >= 0) & (ys < canvas.shape[0])
    canvas[ys[keep], xs[keep]] = color


def render_match_image(
    fnd_u8: pd.DataFrame,
    aoi_u8: pd.DataFrame,
    pairs: pd.DataFrame,
    inliers: np.ndarray,
    matrix: np.ndarray,
    extent: Extent,
    resolution: float,
) -> np.ndarray:
    """-> (H, W, 3) uint8 canvas: AOI half left, foundation half right.

    ``pairs``: the matcher's frame with world coords (ax, ay, az, fx, fy,
    fz); ``inliers``: boolean mask over its rows; ``matrix``: the coarse
    4x4 (AOI -> foundation, meters)."""
    x0, y0, x1, y1 = extent
    nx = int(np.ceil((x1 - x0) / resolution))
    ny = int(np.ceil((y1 - y0) / resolution))
    left = _plane(aoi_u8, nx, ny)
    right = _plane(fnd_u8, nx, ny)
    canvas = np.zeros((ny, 2 * nx + _GAP, 3), np.uint8)
    canvas[:, :nx] = left[:, :, None]
    canvas[:, nx + _GAP :] = right[:, :, None]
    xoff = nx + _GAP

    def to_px(wx: np.ndarray, wy: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # Area convention: cell center at origin + (g + 0.5) * res
        return (wx - x0) / resolution - 0.5, (wy - y0) / resolution - 0.5

    # transformed AOI occupied-bbox outline, red, on the foundation half
    if len(aoi_u8):
        agx = aoi_u8["gx"].to_numpy(np.int64)
        agy = aoi_u8["gy"].to_numpy(np.int64)
        cx = x0 + (np.array([agx.min(), agx.min(), agx.max(), agx.max()]) + 0.5) * resolution
        cy = y0 + (np.array([agy.min(), agy.max(), agy.max(), agy.min()]) + 0.5) * resolution
        corners = np.column_stack([cx, cy, np.zeros(4), np.ones(4)])
        m = np.asarray(matrix, np.float64)
        tc = corners @ m.T
        px, py = to_px(tc[:, 0], tc[:, 1])
        for i in range(4):
            j = (i + 1) % 4
            _draw_line(canvas, px[i] + xoff, py[i], px[j] + xoff, py[j], _RED)

    # green inlier match lines: AOI half -> foundation half
    if len(pairs) and inliers is not None and inliers.any():
        sel = pairs.loc[np.asarray(inliers, bool)]
        apx, apy = to_px(sel["ax"].to_numpy(np.float64), sel["ay"].to_numpy(np.float64))
        fpx, fpy = to_px(sel["fx"].to_numpy(np.float64), sel["fy"].to_numpy(np.float64))
        for i in range(len(sel)):
            _draw_line(canvas, apx[i], apy[i], fpx[i] + xoff, fpy[i], _GREEN)
    return canvas

