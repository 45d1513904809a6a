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


def test_cell_locality_zorder(spark):
    # nearby points at the same level share a cell prefix more often than
    # far points — sanity check of the space-filling property
    pc = synth.point_cloud(spark, 200).toPandas()
    c1 = cells.cell_encode_np(pc.x.values, pc.y.values, EXTENT, 12)
    c2 = cells.cell_encode_np(pc.x.values + 1.0, pc.y.values + 1.0, EXTENT, 12)
    same = (c1 >> 8 == c2 >> 8).mean()
    assert same > 0.9
