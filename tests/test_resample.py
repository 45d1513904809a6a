"""Raster<->vector resampling: IDW close on planar fields, NODATA outside radius
(TIN exactness on planar fields: tests/test_tin.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from codem_spark.operators import resample
from tests.conftest import SMALL_EXTENT


def _plane_samples(n=5000, seed=3):
    rng = np.random.default_rng(seed)
    sp = pd.DataFrame({"x": rng.uniform(0, 1000, n), "y": rng.uniform(0, 1000, n)})
    sp["z"] = 2.0 * sp.x + 1.0 * sp.y
    return sp


def _idw_reference(sp: pd.DataFrame, qp: pd.DataFrame, radius: float, k=8, power=2.0):
    """Per-query loop over a dense distance matrix: IDW of the k nearest
    samples within ``radius``, NODATA when there is none."""
    d = np.hypot(qp.x.values[:, None] - sp.x.values[None, :], qp.y.values[:, None] - sp.y.values[None, :])
    out = np.full(len(qp), resample.NODATA)
    for i in range(len(qp)):
        nb = np.argsort(d[i], kind="stable")[:k]
        nb = nb[d[i, nb] <= radius]
        if len(nb):
            w = 1.0 / (d[i, nb] + 1e-9) ** power
            out[i] = (w * sp.z.values[nb]).sum() / w.sum()
    return out


def test_idw_interpolation_close(spark):
    sp = _plane_samples()
    rng = np.random.default_rng(5)
    qp = pd.DataFrame({"pid": np.arange(100), "x": rng.uniform(100, 900, 100), "y": rng.uniform(100, 900, 100)})
    got = resample.resample_to_points(
        spark.createDataFrame(sp), spark.createDataFrame(qp), SMALL_EXTENT, radius=50.0, method="idw"
    ).toPandas().sort_values("pid")
    assert np.abs(got.z - (2.0 * got.x + 1.0 * got.y)).max() < 50.0
    # the grid-hash top-k kernel sums in its own order: equal up to rounding
    exp = _idw_reference(sp, qp, radius=50.0)
    assert np.allclose(got.z.values, exp, rtol=1e-12, atol=0.0)


def test_nodata_outside_radius(spark):
    sp = pd.DataFrame({"x": [100.0], "y": [100.0], "z": [5.0]})
    qp = pd.DataFrame({"pid": [0, 1], "x": [101.0, 900.0], "y": [100.0, 900.0]})
    got = (
        resample.resample_to_points(
            spark.createDataFrame(sp), spark.createDataFrame(qp), SMALL_EXTENT, radius=10.0
        )
        .toPandas()
        .set_index("pid")
    )
    assert got.loc[0, "z"] != resample.NODATA
    assert got.loc[1, "z"] == resample.NODATA
