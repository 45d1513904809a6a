"""Raster <-> vector resampling (A10 + S2 — SURVEY.md §2.5).

Reference analog: apply.py:415-477 Delaunay-triangulates residual origins
(matplotlib.tri) and linearly interpolates each residual component at
arbitrary (x, y), NaN -> -9999; the DSM resample path (preprocess.py:409-441)
cubic-resamples a raster to pipeline resolution.

Engine design: the query points and the sample points are co-partitioned by
cell — the tile+halo plan of operators/knn.py (``knn.tile_right`` halo's
the sample side so every query sees all samples within the interpolation
radius) — then a vectorized kernel interpolates per tile:

* ``idw`` — inverse-distance-weighted (w = 1/d^2) interpolation over the
  ``_IDW_K`` nearest samples within the radius (``knn.grid_topk``; the
  robust default — the reference itself rasterizes with IDW, S8/G3);
* ``tin`` — true Delaunay TIN linear interpolation (operators/tin.py: one
  Bowyer-Watson triangulation per tile over its halo'd samples), exact on
  planar fields; NaN outside the hull -> NODATA, matching the reference.

Queries with no sample within ``radius`` get NODATA.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from codem_spark.operators import knn

Extent = tuple[float, float, float, float]

NODATA = -9999.0
# idw: neighbours per query, and the weight exponent
_IDW_K = 8
_IDW_POWER = 2.0


def resample_to_points(
    samples: DataFrame,
    queries: DataFrame,
    extent: Extent,
    radius: float,
    method: str = "idw",
) -> DataFrame:
    """Interpolate ``z`` of ``samples(x, y, z)`` at ``queries(pid, x, y)``
    locations. Returns (pid, x, y, z), NODATA where no sample lies within
    ``radius``."""
    # Tile level sized from the LARGER side: the per-tile kernel cost is
    # driven by whichever side dominates (Delaunay is superlinear in the
    # tile's sample count; IDW pair volume is queries x samples). Sizing
    # from the query side alone put an 18.7k-sample TIN into 4 tiles of
    # ~15k-point serial triangulations (8.3 s); the parallelism floor +
    # sample-count bound gives 64 tiles of ~1k-point triangulations. Any
    # level <= the radius rule is correct (auto_level enforces it).
    # Row counts come from plan STATISTICS, not count() jobs: the two
    # exact counts ran the full scan+shuffle chain twice per call just to
    # pick a parallelism knob (~0.7 s of the sf0.1 tin_resample query);
    # a size-based overestimate only pushes toward more tiles, and the
    # radius rule still caps the level (correctness unaffected).
    from codem_spark.util import approx_row_count

    par = queries.sparkSession.sparkContext.defaultParallelism
    level = knn.auto_level(
        extent, radius, max(approx_row_count(queries), approx_row_count(samples)),
        parallelism=par,
    )
    if method not in ("idw", "tin"):
        raise ValueError(f"unknown method {method!r}")

    def kernel(_cell, qpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        nq = len(qpdf)
        cols = {
            "pid": qpdf["pid"].to_numpy(),
            "x": qpdf["x"].to_numpy(),
            "y": qpdf["y"].to_numpy(),
            "z": np.full(nq, NODATA),
        }
        if nq == 0 or len(spdf) == 0:
            return pd.DataFrame(cols)
        qp = qpdf[["x", "y"]].to_numpy(np.float64)
        sp = spdf[["x", "y"]].to_numpy(np.float64)
        vals = spdf["z"].to_numpy(np.float64)
        if method == "tin":
            # true Delaunay TIN linear interpolation (reference hag_delaunay
            # / matplotlib.tri path) — one triangulation per tile over the
            # halo'd samples; NaN outside the hull -> NODATA (apply.py:469)
            from codem_spark.operators import tin as tin_mod

            uniq, uidx = np.unique(sp, axis=0, return_index=True)
            tris = tin_mod.delaunay_np(uniq) if len(uniq) >= 3 else None
            if tris is None or len(tris) == 0:
                return pd.DataFrame(cols)
            zi = tin_mod.tin_interpolate_np(uniq, vals[uidx], qp, tris)
            cols["z"] = np.where(np.isnan(zi), NODATA, zi)
            return pd.DataFrame(cols)
        # IDW over the k nearest samples within the radius; neighbours of
        # one query are contiguous in li, so the weighted sums are segment
        # sums
        li, ri, dist, _rank = knn.grid_topk(qp, sp, np.arange(len(sp)), radius, k=_IDW_K)
        if len(li) == 0:
            return pd.DataFrame(cols)
        starts = np.flatnonzero(np.diff(li, prepend=-1))
        w = 1.0 / (dist + 1e-9) ** _IDW_POWER
        wsum = np.add.reduceat(w, starts)
        cols["z"][li[starts]] = np.add.reduceat(w * vals[ri], starts) / wsum
        return pd.DataFrame(cols)

    qt = {f.name: f.dataType.simpleString() for f in queries.schema.fields}["pid"]
    schema = f"pid {qt}, x double, y double, z double"
    tiled = knn.tile_right(samples, extent, radius, level, ("x", "y"), None, ("z",))
    return knn._tile_cogroup(
        queries, tiled, extent, level, ["pid", "x", "y", "cell_id"], kernel, schema
    )
