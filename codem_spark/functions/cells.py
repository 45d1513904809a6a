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

The encoder is written twice, bit-for-bit identical:
``*_sql``   — SQL strings: parsed by Spark (``with_cell``, ``explode_halo``,
              ``border_col`` — JVM whole-stage codegen, no Python) and by
              DuckDB (``cell_encode_sql``, the oracle in __spark_entry__.py);
``*_np``    — vectorized numpy (inside pandas-UDF kernels, and the reference
              the tests check both SQL renderings against).
"""

from __future__ import annotations

from collections.abc import Callable

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
def _dbl(v: float) -> str:
    """``v`` as an exact Spark SQL DOUBLE literal (repr round-trips; the D
    suffix keeps Spark from reading it as a DECIMAL)."""
    return f"{float(v)!r}D"


def _quantize_sql(e: str, origin: float, size: float, level: int) -> str:
    """SQL: ``e`` -> integer cell coordinate at level, clamped into
    [0, 2^level)."""
    n = (1 << level) - 1
    ix = f"CAST(floor(({e} - {_dbl(origin)}) / {_dbl(size)}) AS BIGINT)"
    return f"greatest(0, least({n}, {ix}))"


def _spread_sql(e: str) -> str:
    for shift, mask in _SPREAD:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def _interleave_sql(ix: str, iy: str) -> str:
    """Morton interleave of two integer SQL expressions — valid in both
    Spark SQL and DuckDB. The Spark-side helpers build their expressions as
    ONE SQL string: a Column tree costs a py4j round trip per node (~1 ms
    each, hundreds per cell id), the string one parse."""
    return f"({_spread_sql(ix)} | ({_spread_sql(iy)} << 1))"


def with_cell(df, x: str, y: str, extent: Extent, level: int, out: str = "cell_id"):
    """Attach the Morton cell id (column ``out``) + integer cell coords
    ``_ix``/``_iy`` (kept for cheap neighbor math). The coords are projected
    first because ``_spread_sql`` names its input twice per step: inlined,
    the quantize expression would be repeated 32 times per axis."""
    size = cell_size(extent, level)
    return df.withColumns(
        {
            "_ix": F.expr(_quantize_sql(f"`{x}`", extent[0], size, level)),
            "_iy": F.expr(_quantize_sql(f"`{y}`", extent[1], size, level)),
        }
    ).withColumn(out, F.expr(_interleave_sql("`_ix`", "`_iy`")))


def _cell_offsets_sql(extent: Extent, level: int) -> tuple[str, str, str]:
    """(cell edge, x offset, y offset) of each row inside its cell, as SQL
    (requires the x/y columns and the _ix/_iy columns from with_cell)."""
    size = _dbl(cell_size(extent, level))
    fx = f"(`x` - (CAST(`_ix` AS DOUBLE) * {size} + {_dbl(extent[0])}))"
    fy = f"(`y` - (CAST(`_iy` AS DOUBLE) * {size} + {_dbl(extent[1])}))"
    return size, fx, fy


def ring_sql(
    fx: str, fy: str, near_lo: Callable[[str], str], near_hi: Callable[[str], str]
) -> str:
    """SQL array of the 3x3 ring offsets ``struct(dx, dy)`` (dx outer, dy
    inner) that a row is copied into: its own cell always, a neighbor only
    when the row is near the border facing it (diagonals: both borders).
    ``fx``/``fy`` are the row's in-cell offsets; ``near_lo(f)`` and
    ``near_hi(f)`` render the predicates "offset ``f`` is near the low /
    high border". Expand with ``explode``."""

    def near(dv: int, f: str) -> str:
        if dv == 0:
            return "true"
        return near_lo(f) if dv < 0 else near_hi(f)

    structs = ", ".join(
        f"CASE WHEN {near(dx, fx)} AND {near(dy, fy)} "
        f"THEN named_struct('dx', {dx}, 'dy', {dy}) END"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    return f"filter(array({structs}), s -> s IS NOT NULL)"


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
    size, fx, fy = _cell_offsets_sql(extent, level)
    r = _dbl(radius)
    ring = ring_sql(fx, fy, lambda f: f"{f} <= {r}", lambda f: f"({size} - {f}) <= {r}")
    jx, jy = "(`_ix` + `_off`.`dx`)", "(`_iy` + `_off`.`dy`)"
    return (
        df.withColumn("_off", F.expr(f"explode({ring})"))
        .filter(F.expr(f"{jx} >= 0 AND {jx} < {n} AND {jy} >= 0 AND {jy} < {n}"))
        .withColumn("halo_cell", F.expr(_interleave_sql(jx, jy)))
        .drop("_off")
    )


def border_col(extent: Extent, level: int, radius: float) -> Column:
    """True for rows within ``radius`` of their cell's border (requires the
    x/y columns and the _ix/_iy columns from with_cell). A point deeper
    than ``radius`` inside its tile cannot participate in any cross-tile
    pair within ``radius`` — the predicate that keeps cross-tile edge
    generation O(boundary), not O(points²), for the connected-components
    pass."""
    size, fx, fy = _cell_offsets_sql(extent, level)
    r = _dbl(radius)
    return F.expr(
        f"{fx} <= {r} OR ({size} - {fx}) <= {r} OR {fy} <= {r} OR ({size} - {fy}) <= {r}"
    )


# ---------------------------------------------------------------- numpy side
def spread_np(v: np.ndarray) -> np.ndarray:
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
    return (spread_np(ix) | (spread_np(iy) << np.uint64(1))).astype(np.int64)


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

    return _interleave_sql(q(x_expr, extent[0]), q(y_expr, extent[1]))
