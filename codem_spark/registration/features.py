"""DSM feature detection + description — tile kernels (A1 of SURVEY.md §2.5).

Reference analog: AKAZE detect/describe on the normalized uint8 DSM
(DsmRegistration._get_kp, reference dsm.py:140-163). OpenCV is not available
(and a port is not the goal): the engine uses a deterministic Harris corner
detector + an orientation-normalized binary patch descriptor, implemented in
vectorized numpy inside an ``applyInPandas`` tile kernel over the gridded
DSM. Parity is judged on *pipeline outputs* (recovered transform / RMSE),
not detector bit-equality — the reference's own tests assert exactly that
(tests/test_registration.py:113-115 asserts converged registration, not
keypoint equality).

Tiling: the DSM long-format table (gx, gy, z, z_u8[, det_u8]) runs through
``grid.tile_apply``, the engine's one raster tile+halo plan: square tiles
of ``grid.TILE_PX`` pixels with a HALO-pixel overlap ring (keypoints are
only *kept* in the tile core, so every descriptor sees its full support
window and no keypoint is emitted twice). Rotation invariance comes from
sampling the descriptor patch along the keypoint's dominant gradient
orientation — needed because the reference test matrix perturbs AOIs by
90/180/360-degree rotations (test_registration.py:39-62).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from codem_spark.operators import grid

Extent = tuple[float, float, float, float]

HALO = 24  # overlap ring, pixels (descriptor support 16px * sqrt2 / 2 + smoothing)
DESC_BITS = 256  # packed into 4 int64
PATCH = 16  # descriptor sampling grid (PATCH x PATCH = DESC_BITS)
PATCH_RADIUS = 7.5  # sampling radius in pixels
MAX_KP_PER_TILE = 400  # strongest keypoints kept per tile
HARRIS_K = 0.05  # det - k * trace^2
HARRIS_REL_THRESHOLD = 0.001  # min response, relative to the tile's max


def _smooth(a: np.ndarray, passes: int = 2) -> np.ndarray:
    """Separable 3x3 binomial smoothing (repeated), edge-replicated."""
    k = np.array([0.25, 0.5, 0.25])
    for _ in range(passes):
        ap = np.pad(a, 1, mode="edge")
        a = (
            k[0] * ap[:-2, 1:-1] + k[1] * ap[1:-1, 1:-1] + k[2] * ap[2:, 1:-1]
        )
        ap = np.pad(a, 1, mode="edge")
        a = (
            k[0] * ap[1:-1, :-2] + k[1] * ap[1:-1, 1:-1] + k[2] * ap[1:-1, 2:]
        )
    return a


def harris_keypoints(img: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Harris corner response + 3x3 non-max suppression.

    Returns (n, 3) array of (row, col, response), at most MAX_KP_PER_TILE
    rows, strongest first, ties broken by (row, col) for determinism.
    """
    a = img.astype(np.float64)
    a = _smooth(a, passes=1)
    iy, ix = np.gradient(a)
    sxx = _smooth(ix * ix)
    syy = _smooth(iy * iy)
    sxy = _smooth(ix * iy)
    det = sxx * syy - sxy * sxy
    tr = sxx + syy
    r = det - HARRIS_K * tr * tr
    # suppress responses near invalid (void) pixels
    ok = _smooth(valid.astype(np.float64), passes=2) > 0.999
    r = np.where(ok, r, -np.inf)
    # 3x3 NMS
    rp = np.pad(r, 1, mode="constant", constant_values=-np.inf)
    nms = np.ones_like(r, dtype=bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            nms &= r >= rp[1 + dr : r.shape[0] + 1 + dr, 1 + dc : r.shape[1] + 1 + dc]
    thresh = HARRIS_REL_THRESHOLD * max(r.max(initial=-np.inf), 1e-12)
    rows, cols = np.nonzero(nms & (r > thresh) & np.isfinite(r))
    resp = r[rows, cols]
    order = np.lexsort((cols, rows, -resp))[:MAX_KP_PER_TILE]
    return np.column_stack([rows[order], cols[order], resp[order]]).astype(np.float64)


def _bilinear(img: np.ndarray, rr: np.ndarray, cc: np.ndarray) -> np.ndarray:
    h, w = img.shape
    rr = np.clip(rr, 0, h - 1.001)
    cc = np.clip(cc, 0, w - 1.001)
    r0 = np.floor(rr).astype(np.int64)
    c0 = np.floor(cc).astype(np.int64)
    fr = rr - r0
    fc = cc - c0
    return (
        img[r0, c0] * (1 - fr) * (1 - fc)
        + img[r0 + 1, c0] * fr * (1 - fc)
        + img[r0, c0 + 1] * (1 - fr) * fc
        + img[r0 + 1, c0 + 1] * fr * fc
    )


def describe(img: np.ndarray, kps: np.ndarray) -> np.ndarray:
    """Orientation-normalized binary patch descriptors, packed to 4 int64.

    For each keypoint: dominant orientation = atan2 of the smoothed gradient
    averaged over a 9x9 window; sample a PATCH x PATCH grid rotated by that
    orientation (bilinear); bit = sample > patch mean. All keypoints are
    processed in one vectorized batch.
    """
    if len(kps) == 0:
        return np.zeros((0, DESC_BITS // 64), dtype=np.int64)
    a = _smooth(img.astype(np.float64), passes=1)
    iy, ix = np.gradient(a)
    sx = _smooth(ix, passes=2)
    sy = _smooth(iy, passes=2)
    r = kps[:, 0].astype(np.int64)
    c = kps[:, 1].astype(np.int64)
    theta = np.arctan2(sy[r, c], sx[r, c])
    # rotated sampling grid
    lin = np.linspace(-PATCH_RADIUS, PATCH_RADIUS, PATCH)
    gy, gx = np.meshgrid(lin, lin, indexing="ij")
    gx = gx.ravel()[None, :]  # (1, P*P)
    gy = gy.ravel()[None, :]
    ct = np.cos(theta)[:, None]
    st = np.sin(theta)[:, None]
    rr = kps[:, 0:1] + gx * st + gy * ct
    cc = kps[:, 1:2] + gx * ct - gy * st
    samples = _bilinear(a, rr, cc)  # (n, P*P)
    bits = samples > samples.mean(axis=1, keepdims=True)
    packed = np.zeros((len(kps), DESC_BITS // 64), dtype=np.uint64)
    for w in range(DESC_BITS // 64):
        chunk = bits[:, w * 64 : (w + 1) * 64]
        weights = (1 << np.arange(64, dtype=np.uint64))
        packed[:, w] = (chunk.astype(np.uint64) * weights[None, :]).sum(axis=1, dtype=np.uint64)
    return packed.view(np.int64)


def extract_features(
    dsm: DataFrame,
    extent: Extent,
    resolution: float,
) -> DataFrame:
    """DSM table (gx, gy, z, z_u8[, det_u8]) -> keypoint table
    (gx, gy, x, y, z, response, d0, d1, d2, d3).

    Keypoints are DETECTED on the optional det_u8 plane (the band-passed
    DSM, pipeline._prep_dsm) and DESCRIBED on z_u8 (full-band); without
    det_u8 both use z_u8. Geo-coordinates use the Area pixel convention
    (+0.5 px — reference dsm.py:374-375, preprocess.py:304-306); z is the
    infilled DSM elevation at the keypoint cell (the reference samples the
    same DSM, dsm.py:335-384).
    """
    det_col = "det_u8" if "det_u8" in dsm.columns else "z_u8"
    cols = list(dict.fromkeys(["z", "z_u8", det_col]))
    out_cols = ["gx", "gy", "x", "y", "z", "response", "d0", "d1", "d2", "d3"]

    def kernel(x0, y0, planes, have, core):
        # the detector and descriptor index images as [row, col] = [gy, gx]:
        # the planes go in as transposed views, so no value or arithmetic
        # changes
        kps = harris_keypoints(planes[det_col].T, have.T)
        rr = kps[:, 0].astype(np.int64)
        cc = kps[:, 1].astype(np.int64)
        # keep only keypoints whose center lies in the tile core
        keep = core.T[rr, cc]
        kps, rr, cc = kps[keep], rr[keep], cc[keep]
        if len(kps) == 0:
            return pd.DataFrame({c: [] for c in out_cols})
        desc = describe(planes["z_u8"].T, kps)
        gxk = cc + x0
        gyk = rr + y0
        return pd.DataFrame(
            {
                "gx": gxk,
                "gy": gyk,
                "x": extent[0] + (gxk + 0.5) * resolution,
                "y": extent[1] + (gyk + 0.5) * resolution,
                "z": planes["z"][cc, rr],
                "response": kps[:, 2],
                "d0": desc[:, 0],
                "d1": desc[:, 1],
                "d2": desc[:, 2],
                "d3": desc[:, 3],
            }
        )

    schema = (
        "gx long, gy long, x double, y double, z double, response double, "
        "d0 long, d1 long, d2 long, d3 long"
    )
    return grid.tile_apply(dsm, HALO, cols, kernel, schema)
