"""Cell index: Spark / numpy / DuckDB must agree bit-for-bit."""

from __future__ import annotations

import numpy as np

from codem_spark import synth
from codem_spark.functions import cells
from tests.conftest import EXTENT


def test_cell_encode_spark_numpy_duckdb_parity(spark, duck):
    pc = synth.point_cloud(spark, 2000)
    df = cells.with_cell(pc, "x", "y", EXTENT, 12)
    pdf = df.select("pid", "x", "y", "cell_id", "_ix", "_iy").toPandas().sort_values("pid")
    np_cells = cells.cell_encode_np(pdf.x.values, pdf.y.values, EXTENT, 12)
    assert (np_cells == pdf.cell_id.values).all()
    duck.register("pts_cells", pdf[["pid", "x", "y"]])
    sql = (
        "SELECT pid, "
        + cells.cell_encode_sql("x", "y", EXTENT, 12)
        + " AS cell_id FROM pts_cells ORDER BY pid"
    )
    dd = duck.sql(sql).df()
    assert (dd.cell_id.values == pdf.cell_id.values).all()


def test_cell_decode_roundtrip(spark):
    pc = synth.point_cloud(spark, 500)
    pdf = cells.with_cell(pc, "x", "y", EXTENT, 14).select("cell_id", "_ix", "_iy").toPandas()
    ix, iy = cells.cell_decode_np(pdf.cell_id.values.astype(np.int64), 14)
    assert (ix == pdf._ix.values).all()
    assert (iy == pdf._iy.values).all()


def test_halo_counts_interior(spark):
    # interior points produce exactly 9 halo rows; edge points fewer
    pc = synth.point_cloud(spark, 1000)
    d = cells.with_cell(pc, "x", "y", EXTENT, 8)
    # a radius of one cell edge reaches every 1-ring neighbour
    h = cells.explode_halo(d, 8, extent=EXTENT, radius=cells.cell_size(EXTENT, 8))
    counts = h.groupBy("pid").count().toPandas()
    assert counts["count"].max() == 9
    assert counts["count"].min() >= 4


def test_halo_matches_numpy_reference(spark):
    """explode_halo duplicates a row into neighbour (ix+dx, iy+dy) exactly
    when it lies within the radius of the border facing that neighbour
    (both borders for a diagonal) and the neighbour is inside the grid;
    border_col flags rows within the radius of any border. Points on cell
    borders included."""
    import pandas as pd

    ext, level = (-12.5, 3.0, 987.25, 1003.0), 5
    size = cells.cell_size(ext, level)
    radius = 0.3 * size
    rng = np.random.default_rng(4)
    x = rng.uniform(ext[0] - 20, ext[2] + 20, 3000)
    y = rng.uniform(ext[1] - 20, ext[3] + 20, 3000)
    x[:300] = ext[0] + size * rng.integers(0, 32, 300)
    y[:300] = ext[1] + size * rng.integers(0, 32, 300)
    pdf = pd.DataFrame({"pid": np.arange(3000), "x": x, "y": y})
    d = cells.with_cell(spark.createDataFrame(pdf), "x", "y", ext, level)
    got = (
        cells.explode_halo(d.withColumn("b", cells.border_col(ext, level, radius)), level, ext, radius)
        .select("pid", "halo_cell", "b").toPandas()
    )
    n = 1 << level
    ix = np.clip(np.floor((x - ext[0]) / size).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((y - ext[1]) / size).astype(np.int64), 0, n - 1)
    fx = x - (ix * size + ext[0])
    fy = y - (iy * size + ext[1])
    near = {-1: (fx <= radius, fy <= radius), 0: (True, True), 1: (size - fx <= radius, size - fy <= radius)}
    want = set()
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            jx, jy = ix + dx, iy + dy
            keep = near[dx][0] & near[dy][1] & (jx >= 0) & (jx < n) & (jy >= 0) & (jy < n)
            keep = np.broadcast_to(keep, x.shape)
            hc = cells.cell_encode_np(
                ext[0] + (jx[keep] + 0.5) * size, ext[1] + (jy[keep] + 0.5) * size, ext, level
            )
            want |= set(zip(np.flatnonzero(keep).tolist(), hc.tolist()))
    assert set(zip(got.pid.tolist(), got.halo_cell.tolist())) == want
    assert len(got) == len(want)
    border = (fx <= radius) | (size - fx <= radius) | (fy <= radius) | (size - fy <= radius)
    b = got.groupby("pid").b.first()
    assert (b.values == border[b.index.values]).all()


def test_cell_locality_zorder(spark):
    # nearby points at the same level share a cell prefix more often than
    # far points — sanity check of the space-filling property
    pc = synth.point_cloud(spark, 200).toPandas()
    c1 = cells.cell_encode_np(pc.x.values, pc.y.values, EXTENT, 12)
    c2 = cells.cell_encode_np(pc.x.values + 1.0, pc.y.values + 1.0, EXTENT, 12)
    same = (c1 >> 8 == c2 >> 8).mean()
    assert same > 0.9
