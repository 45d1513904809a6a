"""F3 unit scaling + S7 UTM projection (reference
preprocess.py:486-512,564-594, apply.py:116-123)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from codem_spark.functions import crs


def test_units_factor_table():
    assert crs.units_factor("m") == 1.0
    assert crs.units_factor("ft") == pytest.approx(0.3048)
    assert crs.units_factor("US Survey Foot") == pytest.approx(1200.0 / 3937.0)
    with pytest.raises(ValueError):
        crs.units_factor("cubit")


def test_registration_to_native_composition():
    # meters-frame transform: translate by (3, 4, 5) m
    m = np.eye(4)
    m[:3, 3] = (3.0, 4.0, 5.0)
    ff, af = 0.3048, 1.0  # foundation in feet, AOI in meters
    native = crs.registration_to_native(m, ff, af)
    # a point at AOI (0,0,0) m must land at (3,4,5) m = (3,4,5)/0.3048 ft
    out = native @ np.array([0.0, 0.0, 0.0, 1.0])
    assert np.allclose(out[:3], np.array([3.0, 4.0, 5.0]) / 0.3048)


def test_utm_central_meridian_and_known_point():
    e, n = crs.utm_project_np(np.array([-105.0]), np.array([40.0]), 13)
    assert e[0] == pytest.approx(500000.0, abs=1e-6)
    assert n[0] == pytest.approx(4427757.22, abs=0.05)
    # published UTM (epsg.io, zone 13N): lon -104, lat 40
    e, n = crs.utm_project_np(np.array([-104.0]), np.array([40.0]), 13)
    assert e[0] == pytest.approx(585360.46, abs=0.5)
    assert n[0] == pytest.approx(4428236.06, abs=0.5)


def test_utm_backends_agree(spark, duck):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"lon": rng.uniform(-110, -104, 2000), "lat": rng.uniform(33, 47, 2000)}
    )
    en, nn = crs.utm_project_np(pdf.lon.values, pdf.lat.values, 13)
    e_col, n_col = crs.utm_project_cols(F.col("lon"), F.col("lat"), 13)
    got = (
        spark.createDataFrame(pdf)
        .select(e_col.alias("e"), n_col.alias("n"))
        .toPandas()
    )
    assert np.allclose(got.e.values, en, atol=1e-6)
    assert np.allclose(got.n.values, nn, atol=1e-6)
    esql, nsql = crs.utm_project_sql("lon", "lat", 13)
    duck.register("utm_t", pdf)
    d = duck.sql(f"SELECT {esql} AS e, {nsql} AS n FROM utm_t").df()
    assert np.allclose(d.e.values, en, atol=1e-6)
    assert np.allclose(d.n.values, nn, atol=1e-6)
