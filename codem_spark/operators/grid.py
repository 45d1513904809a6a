"""Grid aggregation family — the engine's "GROUP BY" operators (SURVEY.md §2.3).

Every operator here is a stock-Catalyst DataFrame plan: hash aggregation with
map-side partial combine, pushed-down scans, no Python in the loop. At 100 TB
these are single-shuffle jobs keyed by cell id; the DSM build is the
row-reducing first stage the reference also leans on ("higher density data is
resampled to match the lower", reference docs/details.md:12, early
downsample main.py:595-612).

Reference analogs:
  G1 rasterize-max   — PDAL writers.gdal output_type=max, preprocess.py:667-675
  G2 hexbin density  — filters.hexbin, preprocess.py:681-727
  G3 rasterize-IDW   — apply.py:185-204, vcd/preprocessing/preprocess.py:313-320
  G4 void infill     — GeoData._infill, preprocess.py:236-259
  G5 quantize        — percentile clip + uint8, preprocess.py:278-283
  G6 cluster sizes   — groupby.transform('count'), vcd/preprocessing/preprocess.py:253-256
  G9 bounds          — bbox aggregation, preprocess.py:858-933
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from codem_spark.functions import cells

Extent = tuple[float, float, float, float]

# G3 IDW weight exponent: w = 1/d^_IDW_POWER
_IDW_POWER = 2.0
# G3 neighbourhood: each point reaches the (2r+1)x(2r+1) cells around its own
_IDW_RADIUS_CELLS = 1
# J6 clip window: each bbox grown by this factor about its center
# (reference compute_clipped_bounds, preprocess.py:936-968)
_CLIP_GROW = 1.5
# G5 clip percentiles (reference preprocess.py:278-283: 1st/99th)
_CLIP_Q = (0.01, 0.99)
# exact_percentiles: histogram buckets per refinement round, and the round
# cap after which the remaining ranges are collected regardless of size
_PCT_BINS = 8192
_PCT_MAX_ROUNDS = 8
# exact_percentiles collects a range's values once it holds at most this
# many rows. Read at call time.
PCT_COLLECT_CAP = 262_144
# tile_apply's core tile edge in pixels (widened to the halo). Read at call
# time.
TILE_PX = 256
# G4 fill rounds (voids wider than 2 * _INFILL_ROUNDS pixels stay void);
# also the infill halo in pixels
_INFILL_ROUNDS = 8


def grid_max(df: DataFrame, extent: Extent, resolution: float) -> DataFrame:
    """G1: points -> DSM grid of max elevation at ``resolution`` (meters).

    Output: (gx, gy, z) long-format raster — gx/gy are global pixel indices.
    One shuffle (hash agg on ~rows/density keys), map-side combine makes the
    shuffle payload one row per touched cell per input partition.
    """
    gx = F.floor((F.col("x") - F.lit(extent[0])) / F.lit(resolution)).cast("long")
    gy = F.floor((F.col("y") - F.lit(extent[1])) / F.lit(resolution)).cast("long")
    return (
        df.select(gx.alias("gx"), gy.alias("gy"), "z")
        .groupBy("gx", "gy")
        .agg(F.max("z").alias("z"))
    )


def grid_max_sql(points_sql: str, extent: Extent, resolution: float) -> str:
    """DuckDB oracle twin of grid_max."""
    return f"""
    SELECT cast(floor((x - {extent[0]!r}) / {resolution!r}) as bigint) AS gx,
           cast(floor((y - {extent[1]!r}) / {resolution!r}) as bigint) AS gy,
           max(z) AS z
    FROM ({points_sql})
    GROUP BY 1, 2
    """


def grid_idw(points: DataFrame, extent: Extent, resolution: float) -> DataFrame:
    """G3: inverse-distance-weighted rasterization.

    Each point contributes to every cell whose *center* lies within the
    (2r+1)x(2r+1) neighborhood of the point's own cell — the halo-exchange
    pattern: explode points into neighbor cells (bounded shuffle fan-out =
    (2r+1)^2), then one hash agg of sum(w*z)/sum(w), w = 1/d^2 with the
    reference's convention that a point inside the cell at d<eps contributes
    with weight capped at 1/eps^2.
    """
    eps = 1e-9
    px = F.col("x")
    py = F.col("y")
    gx0 = F.floor((px - F.lit(extent[0])) / F.lit(resolution)).cast("long")
    gy0 = F.floor((py - F.lit(extent[1])) / F.lit(resolution)).cast("long")
    base = points.select(
        px.alias("px"), py.alias("py"), F.col("z").alias("pz"), gx0.alias("gx0"), gy0.alias("gy0")
    )
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _idw_offsets()])
    )
    e = base.withColumn("_o", off)
    gx = (F.col("gx0") + F.col("_o.dx")).alias("gx")
    gy = (F.col("gy0") + F.col("_o.dy")).alias("gy")
    cxc = (F.col("gx0") + F.col("_o.dx") + F.lit(0.5)) * F.lit(resolution) + F.lit(extent[0])
    cyc = (F.col("gy0") + F.col("_o.dy") + F.lit(0.5)) * F.lit(resolution) + F.lit(extent[1])
    d2 = (F.col("px") - cxc) * (F.col("px") - cxc) + (F.col("py") - cyc) * (F.col("py") - cyc)
    w = F.lit(1.0) / F.pow(F.sqrt(d2) + F.lit(eps), F.lit(_IDW_POWER))
    return (
        e.select(gx, gy, (w * F.col("pz")).alias("wz"), w.alias("w"))
        .groupBy("gx", "gy")
        .agg((F.sum("wz") / F.sum("w")).alias("z"))
    )


def _idw_offsets() -> list[tuple[int, int]]:
    r = _IDW_RADIUS_CELLS
    return [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)]


def grid_idw_sql(points_sql: str, extent: Extent, resolution: float) -> str:
    """DuckDB oracle twin of grid_idw."""
    vals = ", ".join(f"({dx}, {dy})" for dx, dy in _idw_offsets())
    return f"""
    WITH pts AS ({points_sql}),
    base AS (
      SELECT x AS px, y AS py, z AS pz,
             cast(floor((x - {extent[0]!r}) / {resolution!r}) as bigint) AS gx0,
             cast(floor((y - {extent[1]!r}) / {resolution!r}) as bigint) AS gy0
      FROM pts
    ),
    ex AS (
      SELECT base.*, o.dx, o.dy FROM base, (VALUES {vals}) AS o(dx, dy)
    ),
    wgt AS (
      SELECT gx0 + dx AS gx, gy0 + dy AS gy, pz,
             1.0 / pow(sqrt(pow(px - ((gx0 + dx + 0.5) * {resolution!r} + {extent[0]!r}), 2)
                          + pow(py - ((gy0 + dy + 0.5) * {resolution!r} + {extent[1]!r}), 2)) + 1e-9,
                       {_IDW_POWER!r}) AS w
      FROM ex
    )
    SELECT gx, gy, sum(w * pz) / sum(w) AS z FROM wgt GROUP BY gx, gy
    """


def cell_pyramid(
    df: DataFrame,
    extent: Extent,
    level: int,
    coarsest: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-resolution cell aggregation — the DSM pyramid (G1 at every
    level of the cell hierarchy, reference 'resampled to match the lower'
    docs/details.md:12 generalized to raster overviews).

    ONE shuffle for the whole pyramid: rows are hash-partitioned by their
    COARSEST-level ancestor cell (``_ck``), and because Morton parent = 2-bit
    shift, every level from ``level`` down to ``coarsest`` nests inside that
    ancestor — HashPartitioning(_ck) satisfies ClusteredDistribution([_ck,
    cell]), so Catalyst plans the finest aggregation AND every rollup with
    zero further Exchanges (asserted in tests). This is the Iceberg
    cell-bucketed table layout reused across the pyramid: at 100 TB the
    repartition is the table's native clustering, i.e. free.

    The returned frame unions one branch per level, each reading the same
    shuffled input; AQE exchange-reuse dedupes the shuffle at runtime.

    Returns (level, cell, z_max, n) long-format pyramid.
    """
    if not (0 <= coarsest <= level):
        raise ValueError(f"need 0 <= coarsest ({coarsest}) <= level ({level})")
    shift = 2 * (level - coarsest)
    pre = cells.with_cell(df, "x", "y", extent, level, out="cell").select(
        F.shiftright("cell", shift).alias("_ck"), "cell", "z"
    )
    pre = (
        pre.repartition(num_partitions, "_ck") if num_partitions else pre.repartition("_ck")
    )
    cur = pre.groupBy("_ck", "cell").agg(
        F.max("z").alias("z_max"), F.count("*").alias("n")
    )
    out = cur.withColumn("level", F.lit(level))
    for lv in range(level - 1, coarsest - 1, -1):
        cur = cur.groupBy("_ck", F.shiftright("cell", 2).alias("cell")).agg(
            F.max("z_max").alias("z_max"), F.sum("n").alias("n")
        )
        out = out.unionByName(cur.withColumn("level", F.lit(lv)))
    return out.select("level", "cell", "z_max", "n")


def cell_pyramid_sql(points_sql: str, extent: Extent, level: int, coarsest: int) -> str:
    """DuckDB oracle twin of cell_pyramid (recursive rollup unrolled)."""
    cell = cells.cell_encode_sql("x", "y", extent, level)
    parts = [
        f"l{level} AS (SELECT {cell} AS cell, max(z) AS z_max, count(*) AS n "
        f"FROM pts GROUP BY 1)"
    ]
    for lv in range(level - 1, coarsest - 1, -1):
        parts.append(
            f"l{lv} AS (SELECT cell >> 2 AS cell, max(z_max) AS z_max, "
            f"sum(n) AS n FROM l{lv + 1} GROUP BY 1)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {lv} AS level, cell, z_max, CAST(n AS BIGINT) AS n FROM l{lv}"
        for lv in range(level, coarsest - 1, -1)
    )
    return f"WITH pts AS ({points_sql}), {', '.join(parts)} {selects}"


def density(df: DataFrame, extent: Extent, level: int) -> DataFrame:
    """G2: per-cell point count — input to the average-spacing estimate."""
    return cells.with_cell(df, "x", "y", extent, level).groupBy("cell_id").agg(
        F.count("*").alias("n_points")
    )


def estimate_resolution(df: DataFrame, extent: Extent, level: int = 10) -> float:
    """S6: average point spacing ~ sqrt(cell_area / avg points per occupied
    cell) — the reference estimates this with 25 m hexbins
    (preprocess.py:681-727); one agg job here."""
    size = cells.cell_size(extent, level)
    row = (
        density(df, extent, level)
        .agg(F.avg("n_points").alias("avg_n"))
        .collect()[0]
    )
    avg_n = row["avg_n"] or 1.0
    return math.sqrt(size * size / avg_n)


def bounds(df: DataFrame, x: str = "x", y: str = "y") -> tuple[float, float, float, float]:
    """G9: dataset bbox (one agg job; drives clip windows / partition
    pruning like reference clip_data preprocess.py:858-933)."""
    r = df.agg(
        F.min(x).alias("x0"), F.min(y).alias("y0"), F.max(x).alias("x1"), F.max(y).alias("y1")
    ).collect()[0]
    return (r["x0"], r["y0"], r["x1"], r["y1"])


def bbox_union(
    a: tuple[float, float, float, float], b: tuple[float, float, float, float]
) -> tuple[float, float, float, float]:
    """Smallest bbox holding both (x0, y0, x1, y1) bboxes."""
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))


def bbox_overlap(
    a: tuple[float, float, float, float], b: tuple[float, float, float, float]
) -> tuple[float, float, float, float]:
    """J6: overlap of two bboxes grown by ``_CLIP_GROW`` about their centers
    (reference computes a 1.5x-oversized clip window,
    compute_clipped_bounds preprocess.py:936-968); raises if disjoint
    (preprocess.py:915-916 errors on non-overlapping data)."""

    def grow(bb):
        cx, cy = (bb[0] + bb[2]) / 2, (bb[1] + bb[3]) / 2
        hw, hh = (bb[2] - bb[0]) / 2 * _CLIP_GROW, (bb[3] - bb[1]) / 2 * _CLIP_GROW
        return (cx - hw, cy - hh, cx + hw, cy + hh)

    ga, gb = grow(a), grow(b)
    x0, y0 = max(ga[0], gb[0]), max(ga[1], gb[1])
    x1, y1 = min(ga[2], gb[2]), min(ga[3], gb[3])
    if x0 >= x1 or y0 >= y1:
        raise ValueError("Foundation and AOI bounding boxes do not overlap.")
    return (x0, y0, x1, y1)


def clip_bbox(df: DataFrame, bbox: tuple[float, float, float, float]) -> DataFrame:
    """Clip to bbox — a pushed-down predicate; on a cell-partitioned table
    this prunes partitions before the scan."""
    x, y = F.col("x"), F.col("y")
    return df.filter((x >= bbox[0]) & (x < bbox[2]) & (y >= bbox[1]) & (y < bbox[3]))


def exact_percentiles(
    df: DataFrame,
    col: str,
    probs: "list[float]",
) -> "list[float]":
    """Exact percentiles (Spark ``percentile()`` / DuckDB ``quantile_cont``
    semantics, bit-for-bit) via distributed histogram refinement.

    Spark's built-in exact ``percentile`` aggregate buffers EVERY distinct
    value in a per-partition OpenHashMap and sorts the merged multiset on
    one reducer — measured 1.8-4.5 s alone on a 600k-row column at sf0.1
    (the whole quantize query's dominant cost), and at 10^12 rows the
    single-reducer sort is a scale wall. This routine keeps exactness with
    map-side-combinable work only (guide §2.3 "aggregate before you
    shuffle"):

    1. one agg: count / min / max;
    2. per round: an integer histogram over the active range (groupBy of a
       bounded bucket id — tiny shuffle), locating the bucket holding each
       needed order statistic;
    3. when the values containing the needed order stats number
       <= ``PCT_COLLECT_CAP``, collect just those and take the order stats
       exactly; otherwise narrow the range and repeat (value-skewed data
       terminates via the degenerate-range shortcut).

    Interpolation mirrors Percentile.scala exactly
    (``position = p*(n-1)``; ``lowerValue*(higher-position) +
    higherValue*(position-lower)``) so results are interchangeable with the
    built-in aggregate — asserted in tests/test_grid.py.

    Every round reads ``df`` again (2-3 passes). A caller whose ``df`` is
    expensive to recompute caches it (``util.persist``); the ``quantize``
    contract query does not, as its scan reruns no slower than a cache.
    """
    vals = df.select(F.col(col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    r = vals.agg(
        F.count("_v").alias("n"), F.min("_v").alias("lo"), F.max("_v").alias("hi")
    ).collect()[0]
    n = int(r["n"])
    if n == 0:
        return [float("nan")] * len(probs)
    glo, ghi = float(r["lo"]), float(r["hi"])
    positions = [p * (n - 1) for p in probs]
    needed = sorted(
        {int(math.floor(pos)) for pos in positions}
        | {int(math.ceil(pos)) for pos in positions}
    )
    stats: dict[int, float] = {}

    def _collect_ranges(terminal) -> None:
        # ONE collect job for every terminal range of this round
        pred = None
        for lo, hi, _base, _cnt, _idxs in terminal:
            p_ = (F.col("_v") >= lo) & (F.col("_v") <= hi)
            pred = p_ if pred is None else (pred | p_)
        arr = np.sort(
            np.array(
                [row["_v"] for row in vals.filter(pred).collect()],
                dtype=np.float64,
            )
        )
        for lo, hi, base, _cnt, idxs in terminal:
            seg = arr[(arr >= lo) & (arr <= hi)]
            for i in idxs:
                stats[i] = float(seg[i - base])

    # active ranges: (value_lo, value_hi, rank_of_first_value_in_range,
    # count_in_range, indices needing resolution inside)
    ranges = [(glo, ghi, 0, n, needed)]
    for round_no in range(_PCT_MAX_ROUNDS + 1):
        if not ranges:
            break
        terminal, refine = [], []
        for rng_ in ranges:
            lo, hi, base, cnt, idxs = rng_
            if lo == hi:
                for i in idxs:
                    stats[i] = lo
            elif cnt <= PCT_COLLECT_CAP or round_no == _PCT_MAX_ROUNDS:
                terminal.append(rng_)
            else:
                refine.append(rng_)
        if terminal:
            _collect_ranges(terminal)
        nxt = []
        for lo, hi, base, cnt, idxs in refine:
            width = hi - lo
            b = F.least(
                F.lit(_PCT_BINS - 1),
                F.floor(
                    (F.col("_v") - F.lit(lo)) / F.lit(width) * F.lit(_PCT_BINS)
                ).cast("int"),
            )
            hist = (
                vals.filter((F.col("_v") >= lo) & (F.col("_v") <= hi))
                .groupBy(b.alias("_b"))
                .agg(
                    F.count("*").alias("_c"),
                    F.min("_v").alias("_lo"),
                    F.max("_v").alias("_hi"),
                )
                .collect()
            )
            hist.sort(key=lambda row: row["_b"])
            cum = base
            bucket_meta = {}
            for row in hist:
                bucket_meta[row["_b"]] = (
                    cum, int(row["_c"]), float(row["_lo"]), float(row["_hi"]),
                )
                cum += int(row["_c"])
            by_bucket: dict[int, list[int]] = {}
            for i in idxs:
                for bid, (first, c, _blo, _bhi) in bucket_meta.items():
                    if first <= i < first + c:
                        by_bucket.setdefault(bid, []).append(i)
                        break
            for bid, bidx in by_bucket.items():
                first, c, blo, bhi = bucket_meta[bid]
                nxt.append((blo, bhi, first, c, bidx))
        ranges = nxt
    out = []
    for pos in positions:
        lower, higher = int(math.floor(pos)), int(math.ceil(pos))
        if lower == higher:
            out.append(stats[lower])
        else:
            out.append(
                stats[lower] * (higher - pos) + stats[higher] * (pos - lower)
            )
    return out


def quantize_normalize(
    df: DataFrame, col: str = "z",
    bounds: "tuple[float, float] | None" = None,
) -> DataFrame:
    """G5: percentile clip -> uint8 [1, 255] (0 reserved for nodata), the
    reference's DSM normalization (preprocess.py:278-283: clip to 1st/99th
    percentile then scale). The clip bounds are exact percentiles
    (``exact_percentiles``: the built-in percentile() values, asserted in
    tests). ``bounds`` short-circuits the percentile job with
    caller-supplied (lo, hi) — callers quantizing several columns of one
    frame batch all percentiles into ONE agg (registration _prep_dsm)
    instead of one job per column."""
    if bounds is not None:
        lo, hi = float(bounds[0]), float(bounds[1])
    else:
        lo, hi = exact_percentiles(df, col, list(_CLIP_Q))
    rng = max(hi - lo, 1e-12)
    clipped = F.least(F.lit(hi), F.greatest(F.lit(lo), F.col(col)))
    q = (F.round((clipped - F.lit(lo)) / F.lit(rng) * F.lit(254.0)) + F.lit(1.0)).cast("int")
    return df.withColumn(f"{col}_u8", q)


def cluster_sizes(df: DataFrame) -> DataFrame:
    """G6: append per-cluster count as a column — window agg, the exact
    semantics of pandas groupby.transform('count')
    (vcd/preprocessing/preprocess.py:253-256)."""
    w = Window.partitionBy("cluster_id")
    return df.withColumn("cluster_size", F.count("*").over(w))


def _tile_explode(df: DataFrame, tile_px: int, halo: int, carry) -> DataFrame:
    """Duplicate each raster cell (gx, gy) into every ``tile_px``-pixel tile
    whose ``halo``-widened window contains it: home tile always; a neighbor
    tile only when within ``halo`` pixels of the border facing it (the
    raster-space twin of functions/cells.explode_halo, sharing its
    ``cells.ring_sql``). Output columns: (htx, hty, gx, gy, *carry)."""
    # in-tile pixel offsets [0, tile_px)
    ring = cells.ring_sql(
        f"(`gx` - `_tx` * {tile_px})",
        f"(`gy` - `_ty` * {tile_px})",
        lambda f: f"{f} < {halo}",
        lambda f: f"{f} >= {tile_px - halo}",
    )
    return (
        df.withColumns(
            {
                "_tx": F.expr(f"CAST(floor(`gx` / {tile_px}) AS BIGINT)"),
                "_ty": F.expr(f"CAST(floor(`gy` / {tile_px}) AS BIGINT)"),
            }
        )
        .withColumn("_o", F.expr(f"explode({ring})"))
        .select(
            F.expr("`_tx` + `_o`.`dx`").alias("htx"),
            F.expr("`_ty` + `_o`.`dy`").alias("hty"),
            "gx", "gy", *carry,
        )
    )


def tile_apply(
    raster: DataFrame,
    halo: int,
    cols: Sequence[str],
    kernel: Callable[..., pd.DataFrame],
    schema: str,
) -> DataFrame:
    """The one raster tile+halo plan: run ``kernel`` once per tile of the
    long-format raster (gx, gy, *cols), with every cell within ``halo``
    pixels of the tile in view. Infill/band-pass, keypoint extraction and
    SMRF ground all run through here.

    The tile edge is ``tile_px = max(TILE_PX, halo)``: the explode reaches
    only the eight neighbor tiles, so a halo wider than ``TILE_PX`` widens
    the tile to match and every tile still sees its whole halo.

    Plan: each cell goes to its home tile and to the neighbor tiles whose
    halo reaches it (``_tile_explode``), then ONE
    ``groupBy(htx, hty).applyInPandas`` — a single hash exchange on the
    tile keys. The kernel is called as ``kernel(x0, y0, planes, have,
    core)`` with w = tile_px + 2*halo:

    * (x0, y0): the global (gx, gy) of the window's first cell;
    * ``planes[c]``: dense float64 (w, w) array of column c, indexed
      [gx - x0, gy - y0], 0 where no cell;
    * ``have``: (w, w) bool, the cells present;
    * ``core``: (w, w) bool, the tile's own cells — emit from these only,
      so no cell is output twice.

    It returns a pandas frame matching ``schema``."""
    tile_px = max(TILE_PX, halo)
    w = tile_px + 2 * halo
    cols = list(cols)

    def run(key, pdf):
        x0 = int(key[0]) * tile_px - halo
        y0 = int(key[1]) * tile_px - halo
        ix = (pdf["gx"].to_numpy() - x0).astype(np.int64)
        iy = (pdf["gy"].to_numpy() - y0).astype(np.int64)
        have = np.zeros((w, w), dtype=bool)
        have[ix, iy] = True
        planes = {}
        for c in cols:
            planes[c] = np.zeros((w, w))
            planes[c][ix, iy] = pdf[c].to_numpy(np.float64)
        core = np.zeros((w, w), dtype=bool)
        core[halo : halo + tile_px, halo : halo + tile_px] = True
        return kernel(x0, y0, planes, have, core)

    exploded = _tile_explode(raster, tile_px, halo, cols)
    return exploded.groupBy("htx", "hty").applyInPandas(run, schema=schema)


def _fill_voids(
    arr: np.ndarray, have: np.ndarray, x0: int, y0: int,
    bb: tuple[int, int, int, int], rounds: int,
) -> None:
    """In place: up to ``rounds`` rounds of the G4 fill — every empty cell
    inside the raster bbox ``bb`` with >= 1 filled 8-neighbor takes the
    inverse-squared-distance weighted mean of its filled neighbors."""
    w = arr.shape[0]
    # cells outside the global raster bbox must never fill
    gxs = x0 + np.arange(w)
    gys = y0 + np.arange(w)
    in_bb = (
        ((gxs >= bb[0]) & (gxs <= bb[1]))[:, None]
        & ((gys >= bb[2]) & (gys <= bb[3]))[None, :]
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    for _ in range(rounds):
        num = np.zeros((w, w))
        den = np.zeros((w, w))
        for dx, dy in offs:
            wgt = 1.0 / float(dx * dx + dy * dy)
            src_x = slice(max(dx, 0), w + min(dx, 0))
            src_y = slice(max(dy, 0), w + min(dy, 0))
            dst_x = slice(max(-dx, 0), w + min(-dx, 0))
            dst_y = slice(max(-dy, 0), w + min(-dy, 0))
            hv = have[src_x, src_y]
            num[dst_x, dst_y] += np.where(hv, arr[src_x, src_y], 0.0) * wgt
            den[dst_x, dst_y] += hv * wgt
        newly = (~have) & (den > 0) & in_bb
        if not newly.any():
            break
        arr[newly] = num[newly] / den[newly]
        have |= newly


def _gauss_kernel1d(sigma: float) -> np.ndarray:
    r = max(1, int(math.ceil(4.0 * sigma)))
    x = np.arange(-r, r + 1, dtype=np.float64)
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def _sep_conv(a: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Separable 2D convolution with zero padding (mask-normalized by the
    caller, so the padding convention washes out)."""
    r = (len(k) - 1) // 2
    ap = np.pad(a, ((r, r), (0, 0)))
    out = np.zeros_like(a)
    for i, w in enumerate(k):
        out += w * ap[i : i + a.shape[0], :]
    ap = np.pad(out, ((0, 0), (r, r)))
    out2 = np.zeros_like(a)
    for i, w in enumerate(k):
        out2 += w * ap[:, i : i + a.shape[1]]
    return out2


def _band_pass_np(
    arr: np.ndarray, have: np.ndarray, kw: np.ndarray, ks: np.ndarray
) -> np.ndarray:
    """Weak-minus-strong Gaussian blur of ``arr`` over its filled cells
    ``have``; each blur is mask-normalized, so raster edges and voids
    renormalize over valid pixels instead of bleeding zeros."""
    m = have.astype(np.float64)
    blurred = []
    for k in (kw, ks):
        num = _sep_conv(arr * m, k)
        den = _sep_conv(m, k)
        blurred.append(np.where(den > 1e-12, num / np.maximum(den, 1e-12), 0.0))
    return blurred[0] - blurred[1]


def infill_band_pass(
    dsm: DataFrame,
    weak_sigma_px: float,
    strong_sigma_px: float,
) -> DataFrame:
    """G4 void infill followed by the Gaussian band-pass, in ONE tile kernel
    (``tile_apply``) — one shuffle and one Python stage per DSM side.

    Infill: the reference loops rasterio.fillnodata until no nodata pixels
    remain (preprocess.py:236-259); here each of ``_INFILL_ROUNDS`` rounds
    fills the empty cells inside the raster bbox that have >= 1 filled
    8-neighbor with the IDW of those neighbors (``_fill_voids``). Voids
    wider than 2*_INFILL_ROUNDS pixels stay void. Voids are simply absent
    rows (sparse raster — nulls are never stored).

    Band-pass: weak-blur minus strong-blur, the reference's _normalize
    pre-step (preprocess.py:272-279: ``bandpassed = weak_filtered -
    strong_filtered``, sigmas = filter size / pixel size). It suppresses
    long-wavelength topography so keypoints don't all collapse onto
    ridgelines. Blurs are mask-normalized (``_band_pass_np``).

    Exactness: with halo = H_bp + H_inf, every infill result within
    (tile + H_bp) of the core equals the whole-raster infill (a round-k
    fill depends only on cells within Chebyshev k <= H_inf), and the
    band-pass at any core cell only reads infilled cells within H_bp (a
    Gaussian truncated at 4 sigma). So core outputs equal the whole-raster
    ``_fill_voids`` -> ``_band_pass_np`` chain (asserted in
    tests/test_grid.py). Output: (gx, gy, z, bp) over all filled core
    cells."""
    filled = dsm.select("gx", "gy", "z")
    gx0, gy0, gx1, gy1 = bounds(filled, "gx", "gy")
    if gx0 is None:  # empty raster
        return filled.withColumn("bp", F.lit(0.0))
    bb = (gx0, gx1, gy0, gy1)
    h_inf = _INFILL_ROUNDS
    h_bp = max(1, int(math.ceil(4.0 * strong_sigma_px)) + 1)
    halo = h_inf + h_bp
    kw = _gauss_kernel1d(weak_sigma_px)
    ks = _gauss_kernel1d(strong_sigma_px)

    def kernel(x0, y0, planes, have, core):
        arr = planes["z"]
        _fill_voids(arr, have, x0, y0, bb, h_inf)
        bp = _band_pass_np(arr, have, kw, ks)
        ex, ey = np.nonzero(have & core)
        return pd.DataFrame(
            {"gx": ex + x0, "gy": ey + y0, "z": arr[ex, ey], "bp": bp[ex, ey]}
        )

    return tile_apply(filled, halo, ["z"], kernel, "gx long, gy long, z double, bp double")


def colormap_encode(
    df: DataFrame, col: str = "dz", vmin: float = -5.0, vcenter: float = 0.0, vmax: float = 5.0
) -> DataFrame:
    """A11: diverging two-slope colormap -> uint16 RGB columns (reference
    vcd/preprocessing/preprocess.py:330-355 uses matplotlib TwoSlopeNorm +
    RdBu; here the piecewise-linear norm and a blue-white-red ramp are plain
    column expressions). Cosmetic output parity: channels in [0, 65535]."""
    v = F.col(col)
    lo = F.when(v < vcenter, (v - F.lit(vmin)) / F.lit(max(vcenter - vmin, 1e-12)) * 0.5)
    norm = lo.otherwise(F.lit(0.5) + (v - F.lit(vcenter)) / F.lit(max(vmax - vcenter, 1e-12)) * 0.5)
    norm = F.least(F.lit(1.0), F.greatest(F.lit(0.0), norm))
    # blue (0) -> white (0.5) -> red (1)
    red = F.when(norm <= 0.5, norm * 2.0).otherwise(F.lit(1.0))
    blue = F.when(norm >= 0.5, (F.lit(1.0) - norm) * 2.0).otherwise(F.lit(1.0))
    green = F.when(norm <= 0.5, norm * 2.0).otherwise((F.lit(1.0) - norm) * 2.0)
    to16 = lambda c: F.round(c * 65535.0).cast("int")  # noqa: E731
    return (
        df.withColumn("red", to16(red))
        .withColumn("green", to16(green))
        .withColumn("blue", to16(blue))
    )


def dsm_to_points(
    dsm: DataFrame, extent: Extent, resolution: float, area_or_point: str = "Area"
) -> DataFrame:
    """Raster -> point cloud at cell centers (the reference's _dsm2pc,
    preprocess.py:285-315, incl. the half-pixel AREA_OR_POINT shift
    preprocess.py:304-306: Area-tagged rasters shift +0.5 px so the sample
    point is the cell center; Point-tagged are already centered)."""
    shift = 0.5 if area_or_point.lower() == "area" else 0.0
    x = (F.col("gx").cast("double") + F.lit(shift)) * F.lit(resolution) + F.lit(extent[0])
    y = (F.col("gy").cast("double") + F.lit(shift)) * F.lit(resolution) + F.lit(extent[1])
    return dsm.select(x.alias("x"), y.alias("y"), F.col("z"))
