"""Point-in-polygon vs DuckDB ray-cast oracle."""

from __future__ import annotations

from codem_spark import synth
from codem_spark.operators import pip

RING = [(20000.0, 20000.0), (80000.0, 25000.0), (70000.0, 75000.0), (30000.0, 70000.0)]


def test_pip_matches_duckdb(spark, duck):
    pc = synth.point_cloud(spark, 3000)
    got = pip.clip_to_polygon(pc, RING).select("pid").toPandas().pid.sort_values().values
    pdf = pc.select("pid", "x", "y").toPandas()
    duck.register("pts_pip", pdf)
    exp = duck.sql(
        "SELECT pid FROM pts_pip WHERE "
        + pip.point_in_polygon_sql("x", "y", RING)
        + " ORDER BY pid"
    ).df().pid.values
    assert (got == exp).all()


def test_pip_concave_polygon(spark, duck):
    ring = [(0.0, 0.0), (100.0, 0.0), (100.0, 100.0), (50.0, 40.0), (0.0, 100.0)]
    pc = synth.point_cloud(spark, 2000, extent=(0.0, 0.0, 100.0, 100.0))
    got = pip.clip_to_polygon(pc, ring).select("pid").toPandas().pid.sort_values().values
    pdf = pc.select("pid", "x", "y").toPandas()
    duck.register("pts_pip2", pdf)
    exp = duck.sql(
        "SELECT pid FROM pts_pip2 WHERE "
        + pip.point_in_polygon_sql("x", "y", ring)
        + " ORDER BY pid"
    ).df().pid.values
    assert (got == exp).all()
