"""Deterministic pseudo-coordinates + synthetic elevation surface.

Synthetic point clouds get coordinates from integer id lanes
(``id_lane_col`` / ``id_lane_sql``), which Spark and DuckDB evaluate
identically, so oracles reproduce them exactly — after that they behave
like the reference's point clouds (GeoData.point_cloud,
preprocess.py:138,285-315). The synthetic elevation surface gives the
"terrain + buildings" signal the registration pipeline needs (analog of
the demo data described in reference docs/details.md:30-46): a smooth
low-frequency ground plus rectangular building bumps anchored on a
deterministic grid, so DSM feature detection has corners to find.

All production-path functions are Spark Column expressions (JVM-side).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Extent = tuple[float, float, float, float]


# Deterministic integer mix (splitmix64 finalizer) — spreads 31-bit shingle
# hashes to a full 64-bit avalanche for simhash.
def splitmix64_np(v: np.ndarray) -> np.ndarray:
    z = v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))).astype(np.int64)


# Oracle-friendly per-id uniform lanes: simple multiplicative hashing that
# is exactly representable in BIGINT in Spark and DuckDB without
# overflow. lane(id, k) in [0, 1).
_LANE_P = 2_147_483_629  # large prime < 2^31
_LANE_A = (1_103_515_245, 1_229_782_938, 1_653_271_865, 1_973_272_811)
_LANE_B = (12_345, 987_654_321, 55_555_333, 777_767_777)


def id_lane_col(idc: Column, k: int) -> Column:
    a, b = _LANE_A[k % 4], _LANE_B[k % 4]
    return (((idc % F.lit(_LANE_P)) * F.lit(a) + F.lit(b)) % F.lit(_LANE_P)).cast(
        "double"
    ) / F.lit(float(_LANE_P))


def id_lane_sql(id_expr: str, k: int) -> str:
    a, b = _LANE_A[k % 4], _LANE_B[k % 4]
    return (
        f"cast(((({id_expr}) % {_LANE_P}) * {a} + {b}) % {_LANE_P} as double) / {float(_LANE_P)!r}"
    )


# ------------------------------------------------------- synthetic elevation
# Ground: sum of 3 smooth sinusoids. Buildings: deterministic grid of
# rectangular prisms (sharp corners => Harris features). Constants chosen so
# z ranges ~[0, 120] m over a 100 km extent — terrain-like.
_G = (
    (40.0, 1.0 / 9000.0, 1.0 / 13000.0, 0.3),
    (18.0, 1.0 / 3100.0, 1.0 / 4700.0, 1.7),
    (7.0, 1.0 / 1300.0, 1.0 / 800.0, 4.1),
)
_B_SPACING = 480.0  # building grid pitch (m)
_B_SIZE = 200.0  # building footprint edge (m)
_B_HMAX = 35.0


def surface_z_col(x: Column, y: Column) -> Column:
    z = F.lit(0.0)
    for amp, fx, fy, ph in _G:
        z = z + F.lit(amp) * F.sin(x * F.lit(2 * math.pi * fx) + F.lit(ph)) * F.cos(
            y * F.lit(2 * math.pi * fy) - F.lit(ph)
        )
    # Building bump: inside the central _B_SIZE of each grid tile, add a
    # per-tile deterministic height.
    gx = F.floor(x / F.lit(_B_SPACING)).cast("long")
    gy = F.floor(y / F.lit(_B_SPACING)).cast("long")
    fx_ = x - gx.cast("double") * F.lit(_B_SPACING)
    fy_ = y - gy.cast("double") * F.lit(_B_SPACING)
    inside = (
        (fx_ > F.lit((_B_SPACING - _B_SIZE) / 2))
        & (fx_ < F.lit((_B_SPACING + _B_SIZE) / 2))
        & (fy_ > F.lit((_B_SPACING - _B_SIZE) / 2))
        & (fy_ < F.lit((_B_SPACING + _B_SIZE) / 2))
    )
    key = gx * F.lit(73_856_093) + gy * F.lit(19_349_663)
    h = id_lane_col(key, 2) * F.lit(_B_HMAX)
    return z + F.when(inside, h).otherwise(F.lit(0.0)) + F.lit(60.0)


# --------------------------------------------------- rigid/similarity apply
def transform_xyz(matrix: np.ndarray, x, y, z) -> tuple:
    """The affine part of a 4x4 applied to (x, y, z) — Spark Columns or
    numpy arrays alike, in ONE evaluation order (x*m0 + y*m1 + z*m2 + t,
    left to right), so a numpy kernel reproduces the JVM's posed
    coordinates bit for bit."""
    m = np.asarray(matrix, dtype=np.float64)
    return tuple(
        x * float(m[i, 0]) + y * float(m[i, 1]) + z * float(m[i, 2]) + float(m[i, 3])
        for i in range(3)
    )


def apply_transform_cols(df: DataFrame, matrix: np.ndarray) -> DataFrame:
    """Apply a 4x4 homogeneous similarity transform to point columns as pure
    column expressions (the reference pipes points through a PDAL
    transformation filter, apply.py:314-335; here Catalyst codegens the
    same affine math over the whole table, no Python in the loop)."""
    nx, ny, nz = transform_xyz(matrix, F.col("x"), F.col("y"), F.col("z"))
    keep = [c for c in df.columns if c not in ("x", "y", "z")]
    return df.select(*keep, nx.alias("x"), ny.alias("y"), nz.alias("z"))


def similarity_matrix(
    scale: float = 1.0,
    omega_deg: float = 0.0,
    phi_deg: float = 0.0,
    kappa_deg: float = 0.0,
    t: tuple[float, float, float] = (0.0, 0.0, 0.0),
) -> np.ndarray:
    """4x4 from scale, Euler angles (omega=x, phi=y, kappa=z, degrees) and
    translation — the reference's parameterization (dsm.py:408-416)."""
    o, p, k = (math.radians(a) for a in (omega_deg, phi_deg, kappa_deg))
    return similarity_matrix_rad(scale, o, p, k, t)


def similarity_matrix_rad(
    scale: float, o: float, p: float, k: float, t: tuple[float, float, float]
) -> np.ndarray:
    """:func:`similarity_matrix` with the Euler angles in radians:
    ``scale * Rz(k) @ Ry(p) @ Rx(o)`` plus translation ``t``."""
    rx = np.array([[1, 0, 0], [0, math.cos(o), -math.sin(o)], [0, math.sin(o), math.cos(o)]])
    ry = np.array([[math.cos(p), 0, math.sin(p)], [0, 1, 0], [-math.sin(p), 0, math.cos(p)]])
    rz = np.array([[math.cos(k), -math.sin(k), 0], [math.sin(k), math.cos(k), 0], [0, 0, 1]])
    m = np.eye(4)
    m[:3, :3] = scale * (rz @ ry @ rx)
    m[:3, 3] = t
    return m


def decompose_similarity(m: np.ndarray) -> dict[str, float]:
    """scale + Euler angles (deg) + translation from a 4x4 similarity —
    parity with the reference's registration.txt fields (dsm.py:404-416:
    c = norm of first column; R = M[:3,:3]/c; omega/phi/kappa via atan2)."""
    m = np.asarray(m, dtype=np.float64)
    c = float(np.linalg.norm(m[:3, 0]))
    r = m[:3, :3] / c
    omega = math.degrees(math.atan2(-r[1, 2], r[2, 2]))
    phi = math.degrees(math.asin(max(-1.0, min(1.0, r[0, 2]))))
    kappa = math.degrees(math.atan2(-r[0, 1], r[0, 0]))
    return {
        "scale": c,
        "omega": omega,
        "phi": phi,
        "kappa": kappa,
        "trans_x": float(m[0, 3]),
        "trans_y": float(m[1, 3]),
        "trans_z": float(m[2, 3]),
    }
