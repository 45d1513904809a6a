"""CRS handling: linear-unit scaling (F3) and UTM projection (S7).

Reference analogs:
* F3 — every dataset is converted to meters before registration
  (preprocess.py:486-512: ``self.dsm[mask] *= self.units_factor`` and the
  transform pre-multiplied by ``scale(units_factor, units_factor)``), and
  the final output transform composes the unit matrices back
  (apply.py:116-123 ``meters_to_fnd @ registration_transform @
  aoi_to_meters``).
* S7 — lon/lat inputs are projected to a UTM zone (preprocess.py:564-585
  via pyproj/rasterio; here: the Snyder series transverse-Mercator
  forward projection, USGS Professional Paper 1395 pp. 60-64 —
  public-domain formulas, no external geodesy dependency). The caller
  names the zone; zones are northern-hemisphere (no false northing).

The projection formula is written ONCE and evaluated by three backends
(the cells.py pattern): Spark Columns (pure JVM, whole-stage codegen —
reprojection stays scan-side at 100 TB), numpy (inside kernels/tests), and
an ANSI-SQL string (the DuckDB oracle in __spark_entry__.py).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# WGS84 ellipsoid
_A = 6378137.0
_F = 1.0 / 298.257223563
_E2 = _F * (2.0 - _F)
_EP2 = _E2 / (1.0 - _E2)
_K0 = 0.9996

# meters per native linear unit (reference reads crs.linear_units_factor;
# engine tables carry the unit name as metadata)
UNITS_FACTOR = {
    "m": 1.0,
    "metre": 1.0,
    "meter": 1.0,
    "ft": 0.3048,
    "foot": 0.3048,
    "us-ft": 1200.0 / 3937.0,
    "us survey foot": 1200.0 / 3937.0,
}


def units_factor(unit: str) -> float:
    """F3: meters per one ``unit`` (raises on unknown units, mirroring the
    reference's TypeError on an unusable factor, preprocess.py:500-504)."""
    key = unit.strip().lower()
    if key not in UNITS_FACTOR:
        raise ValueError(f"unknown linear unit {unit!r}")
    return UNITS_FACTOR[key]


def scale_to_meters(df: DataFrame, factor: float) -> DataFrame:
    """Scale the x/y/z columns into meters — a pure column expression
    (the distributed twin of preprocess.py:486-512)."""
    out = df
    for c in ("x", "y", "z"):
        out = out.withColumn(c, F.col(c) * F.lit(float(factor)))
    return out


def registration_to_native(
    matrix_meters: np.ndarray, fnd_factor: float, aoi_factor: float
) -> np.ndarray:
    """Compose the meters-frame registration matrix with the unit matrices
    so it maps AOI native units -> foundation native units (the reference's
    get_registration_transformation, apply.py:116-123)."""
    aoi_to_m = np.eye(4) * aoi_factor
    aoi_to_m[3, 3] = 1.0
    m_to_fnd = np.eye(4) * (1.0 / fnd_factor)
    m_to_fnd[3, 3] = 1.0
    return m_to_fnd @ np.asarray(matrix_meters, np.float64) @ aoi_to_m


# ------------------------------------- transverse Mercator forward (Snyder)
class _Sql:
    """Tiny SQL expression wrapper so the projection formula below can be
    evaluated symbolically into the DuckDB oracle string."""

    def __init__(self, s: str):
        self.s = s

    def _w(self, other) -> str:
        return other.s if isinstance(other, _Sql) else repr(float(other))

    def __add__(self, o):
        return _Sql(f"({self.s} + {self._w(o)})")

    def __radd__(self, o):
        return _Sql(f"({self._w(o)} + {self.s})")

    def __sub__(self, o):
        return _Sql(f"({self.s} - {self._w(o)})")

    def __rsub__(self, o):
        return _Sql(f"({self._w(o)} - {self.s})")

    def __mul__(self, o):
        return _Sql(f"({self.s} * {self._w(o)})")

    def __rmul__(self, o):
        return _Sql(f"({self._w(o)} * {self.s})")

    def __truediv__(self, o):
        return _Sql(f"({self.s} / {self._w(o)})")

    def __rtruediv__(self, o):
        return _Sql(f"({self._w(o)} / {self.s})")


_NS = {
    "np": {"sin": np.sin, "cos": np.cos, "tan": np.tan, "sqrt": np.sqrt},
    "col": {"sin": F.sin, "cos": F.cos, "tan": F.tan, "sqrt": F.sqrt},
    "sql": {
        "sin": lambda e: _Sql(f"sin({e.s})"),
        "cos": lambda e: _Sql(f"cos({e.s})"),
        "tan": lambda e: _Sql(f"tan({e.s})"),
        "sqrt": lambda e: _Sql(f"sqrt({e.s})"),
    },
}


def _utm_formula(lon, lat, zone: int, ns: dict):
    """Snyder series forward transverse Mercator (PP 1395 eq. 8-9..8-15),
    northern-hemisphere zones (no false northing). ``lon``/``lat`` in
    degrees as backend objects; returns (easting, northing). Accuracy:
    sub-mm within a zone."""
    sin, cos, tan, sqrt = ns["sin"], ns["cos"], ns["tan"], ns["sqrt"]
    d2r = math.pi / 180.0
    lon0 = (zone - 1) * 6.0 - 180.0 + 3.0
    phi = lat * d2r
    e2, ep2, a, k0 = _E2, _EP2, _A, _K0
    n_ = a / sqrt(1.0 - e2 * sin(phi) * sin(phi))
    t_ = tan(phi) * tan(phi)
    c_ = ep2 * cos(phi) * cos(phi)
    a_ = (lon - lon0) * d2r * cos(phi)
    m_ = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * sin(4 * phi)
        - (35 * e2**3 / 3072) * sin(6 * phi)
    )
    a2 = a_ * a_
    easting = (
        k0
        * n_
        * (a_ + (1 - t_ + c_) * a_ * a2 / 6
           + (5 - 18 * t_ + t_ * t_ + 72 * c_ - 58 * ep2) * a_ * a2 * a2 / 120)
        + 500000.0
    )
    northing = k0 * (
        m_
        + n_
        * tan(phi)
        * (a2 / 2 + (5 - t_ + 9 * c_ + 4 * c_ * c_) * a2 * a2 / 24
           + (61 - 58 * t_ + t_ * t_ + 600 * c_ - 330 * ep2) * a2 * a2 * a2 / 720)
    )
    return easting, northing


def utm_project_cols(lon: Column, lat: Column, zone: int):
    """(easting, northing) Columns — pure JVM expressions."""
    # multiply degree Columns by 1.0 first so python-float ops broadcast
    return _utm_formula(lon * F.lit(1.0), lat * F.lit(1.0), zone, _NS["col"])


def utm_project_np(lon: np.ndarray, lat: np.ndarray, zone: int):
    return _utm_formula(np.asarray(lon, np.float64), np.asarray(lat, np.float64), zone, _NS["np"])


def utm_project_sql(lon_expr: str, lat_expr: str, zone: int):
    """(easting_sql, northing_sql) strings — the DuckDB oracle twin."""
    e, n = _utm_formula(_Sql(f"({lon_expr})"), _Sql(f"({lat_expr})"), zone, _NS["sql"])
    return e.s, n.s
