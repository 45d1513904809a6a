"""S2-style Z-order (Morton) cell index over a projected extent.

This is the engine's tile partitioner — the analog of the reference's
windowed raster reads and in-RAM arrays (clip windows: preprocess.py:153,
187-191, 858-933). A cell id at ``level`` L is the bit-interleave of the
L-bit quantized (x, y) within the dataset extent, so:

* lexicographic cell order ≈ spatial locality (Z-order curve) → Parquet
  min/max file skipping and partition pruning work on cell ranges;
* parent/child is a shift by 2 bits (hierarchical coarsening = DSM
  resolution pyramid);
* neighbor cells are (ix±1, iy±1) re-interleaved — the tile+halo pattern
  (operators/knn.tile_right) duplicates rows into their 3x3 neighbor ring.

Everything here is implemented three ways, bit-for-bit identical:
``*_col``   — Spark Column expressions (JVM whole-stage codegen, no Python);
``*_np``    — vectorized numpy (inside pandas-UDF kernels);
``*_sql``   — ANSI SQL string (DuckDB oracle in __spark_entry__.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Magic-number bit spread: 32-bit int -> even bits of a 64-bit int.
_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]

Extent = tuple[float, float, float, float]


def cell_size(extent: Extent, level: int) -> float:
    """Edge length (meters) of one cell at ``level`` (square cells over the
    larger extent dimension — like S2, cells are fixed-size per level)."""
    x0, y0, x1, y1 = extent
    return max(x1 - x0, y1 - y0) / float(1 << level)


# ---------------------------------------------------------------- Spark side
def _spread_col(v: Column) -> Column:
    for shift, mask in _SPREAD:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def quantize_col(x: Column, origin: float, size: float, level: int) -> Column:
    """x -> integer cell coordinate at level, clamped into [0, 2^level)."""
    n = (1 << level) - 1
    ix = F.floor((x - F.lit(origin)) / F.lit(size)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n), ix))


def interleave_col(ix: Column, iy: Column) -> Column:
    return _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))


def cell_encode_col(x: Column, y: Column, extent: Extent, level: int) -> Column:
    """Morton cell id for (x, y) at level — pure JVM expressions."""
    size = cell_size(extent, level)
    ix = quantize_col(x, extent[0], size, level)
    iy = quantize_col(y, extent[1], size, level)
    return interleave_col(ix, iy)


def with_cell(df, x: str, y: str, extent: Extent, level: int, out: str = "cell_id"):
    """Attach cell_id + integer cell coords (kept for cheap neighbor math)."""
    size = cell_size(extent, level)
    ix = quantize_col(F.col(x), extent[0], size, level)
    iy = quantize_col(F.col(y), extent[1], size, level)
    return (
        df.withColumn("_ix", ix)
        .withColumn("_iy", iy)
        .withColumn(out, interleave_col(F.col("_ix"), F.col("_iy")))
    )


def _cell_offsets(extent: Extent, level: int):
    """(cell edge, x offset, y offset) of each row inside its cell (requires
    the x/y columns and the _ix/_iy columns from with_cell)."""
    size = cell_size(extent, level)
    fx = F.col("x") - (F.col("_ix").cast("double") * F.lit(size) + F.lit(extent[0]))
    fy = F.col("y") - (F.col("_iy").cast("double") * F.lit(size) + F.lit(extent[1]))
    return size, fx, fy


def explode_halo(df, level: int, extent: Extent, radius: float):
    """Duplicate every row into the 1-ring neighbor cells within ``radius``
    of it (the halo-exchange side of the tile+halo pattern; the radius
    bounds the shuffle volume exactly as the reference bounds kNN by
    rmse_3d, icp.py:133-135). Requires the x/y columns and the _ix/_iy
    columns from with_cell; adds ``halo_cell``; out-of-extent duplicates
    are dropped.

    A row is duplicated into a neighbor cell ONLY if it lies within
    ``radius`` of the border facing that neighbor (diagonals: both borders)
    — a left point in cell C within radius of a right point r implies r is
    within radius of C's border toward r's cell, so with cell edge >= radius
    the 1-ring covers every neighbor, and the duplication factor is
    ~(1 + 2*radius/cell_edge)^2 instead of 9.
    """
    n = 1 << level
    size, fx, fy = _cell_offsets(extent, level)
    r = F.lit(float(radius))

    def near(dv: int, f) -> Column:
        if dv == 0:
            return F.lit(True)
        return f <= r if dv < 0 else (F.lit(size) - f) <= r

    structs = [
        F.when(
            near(dx, fx) & near(dy, fy),
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")),
        )
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ]
    off = F.explode(F.filter(F.array(*structs), lambda s: s.isNotNull()))
    out_df = df.withColumn("_off", off)
    jx = F.col("_ix") + F.col("_off.dx")
    jy = F.col("_iy") + F.col("_off.dy")
    out_df = out_df.filter((jx >= 0) & (jx < n) & (jy >= 0) & (jy < n))
    return out_df.withColumn("halo_cell", interleave_col(jx, jy)).drop("_off")


def border_col(extent: Extent, level: int, radius: float) -> Column:
    """True for rows within ``radius`` of their cell's border (requires the
    x/y columns and the _ix/_iy columns from with_cell). A point deeper
    than ``radius`` inside its tile cannot participate in any cross-tile
    pair within ``radius`` — the predicate that keeps cross-tile edge
    generation O(boundary), not O(points²), for the connected-components
    pass."""
    size, fx, fy = _cell_offsets(extent, level)
    r = F.lit(float(radius))
    return (fx <= r) | ((F.lit(size) - fx) <= r) | (fy <= r) | ((F.lit(size) - fy) <= r)


# ---------------------------------------------------------------- numpy side
def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    for shift, mask in _SPREAD:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def cell_encode_np(
    x: np.ndarray, y: np.ndarray, extent: Extent, level: int
) -> np.ndarray:
    size = cell_size(extent, level)
    n = (1 << level) - 1
    ix = np.clip(np.floor((x - extent[0]) / size).astype(np.int64), 0, n).astype(np.uint64)
    iy = np.clip(np.floor((y - extent[1]) / size).astype(np.int64), 0, n).astype(np.uint64)
    return (_spread_np(ix) | (_spread_np(iy) << np.uint64(1))).astype(np.int64)


def cell_decode_np(cell: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse morton: cell -> (ix, iy)."""
    c = cell.astype(np.uint64)

    def compact(v: np.ndarray) -> np.ndarray:
        v = v & np.uint64(0x5555555555555555)
        for shift, mask in reversed(_SPREAD[1:]):
            v = (v | (v >> np.uint64(shift))) & np.uint64(_prev_mask(mask))
        v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
        return v.astype(np.int64)

    return compact(c), compact(c >> np.uint64(1))


def _prev_mask(mask: int) -> int:
    order = [m for _, m in _SPREAD]
    return order[order.index(mask) - 1]


# ----------------------------------------------------------------- SQL side
def cell_encode_sql(x_expr: str, y_expr: str, extent: Extent, level: int) -> str:
    """ANSI-SQL (DuckDB-compatible) rendering of the identical morton encode,
    used as the oracle for the Spark expression."""
    size = cell_size(extent, level)
    n = (1 << level) - 1

    def q(e: str, origin: float) -> str:
        return (
            f"greatest(0, least({n}, cast(floor(({e} - {origin!r}) / {size!r}) as bigint)))"
        )

    def spread(e: str) -> str:
        for shift, mask in _SPREAD:
            e = f"(({e} | ({e} << {shift})) & {mask})"
        return e

    ix = q(x_expr, extent[0])
    iy = q(y_expr, extent[1])
    return f"({spread(ix)} | ({spread(iy)} << 1))"
