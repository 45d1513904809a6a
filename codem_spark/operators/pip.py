"""Point-in-polygon join (J5 — SURVEY.md §2.4).

Reference analog: PDAL filters.overlay marks points inside a polygon and a
range filter keeps them (tests/point_cloud.py:94-99); the raster path uses a
GDAL cutline (tests/raster.py:50-57). Required query per the north rule.

Plan shape at 100 TB: (1) the polygon bbox becomes a pushed-down predicate
(partition/file pruning on a cell-partitioned table); (2) the exact test is
a pure column expression — an unrolled even-odd ray cast over the polygon's
edges (the polygon is a tiny driver-side constant, so each edge contributes
one vectorized branch; 10-100 edges => 10-100 codegen'd terms, no Python
worker, no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Ring = list[tuple[float, float]]


def point_in_polygon_col(x: Column, y: Column, ring: Ring) -> Column:
    """Even-odd rule ray cast (half-open edges — matches the classic
    crossing-number algorithm, boundary-exclusive on top/right edges).
    Unrolled over the polygon edges into one boolean column expression."""
    n = len(ring)
    inside = F.lit(False)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses a horizontal ray test
        crosses = ((F.lit(y1) > y) != (F.lit(y2) > y)) & (
            x
            < (F.lit(x2 - x1)) * (y - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        )
        inside = inside != crosses  # boolean XOR accumulates crossing parity
    return inside


def point_in_polygon_sql(x_expr: str, y_expr: str, ring: Ring) -> str:
    """DuckDB oracle twin — identical arithmetic, term for term."""
    n = len(ring)
    terms = []
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"case when (({y1!r} > {y_expr}) != ({y2!r} > {y_expr})) and "
            f"({x_expr} < {x2 - x1!r} * ({y_expr} - {y1!r}) / {y2 - y1!r} + {x1!r}) "
            f"then 1 else 0 end"
        )
    return f"(({' + '.join(terms)}) % 2 = 1)"


def ring_bbox(ring: Ring) -> tuple[float, float, float, float]:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return (min(xs), min(ys), max(xs), max(ys))


def clip_to_polygon(df: DataFrame, ring: Ring) -> DataFrame:
    """Filter rows to those inside the ring. The bbox pre-filter is
    redundant logically but gives Catalyst a simple range predicate to push
    into the scan (file skipping) before the edge-unrolled exact test runs."""
    bx0, by0, bx1, by1 = ring_bbox(ring)
    x, y = F.col("x"), F.col("y")
    inside = point_in_polygon_col(x, y, ring)
    bbox = (x >= bx0) & (x <= bx1) & (y >= by0) & (y <= by1)
    return df.filter(bbox & inside)
