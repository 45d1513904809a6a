"""Outlier marking, residual columns."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from codem_spark import synth
from tests.conftest import EXTENT, SMALL_EXTENT


def test_statistical_outliers_flags_isolated(spark):
    from codem_spark.operators import outliers

    rng = np.random.default_rng(9)
    dense = pd.DataFrame(
        {"pid": np.arange(500), "x": 500 + rng.uniform(-20, 20, 500),
         "y": 500 + rng.uniform(-20, 20, 500), "z": np.zeros(500)}
    )
    lone = pd.DataFrame({"pid": [9000], "x": [50.0], "y": [950.0], "z": [0.0]})
    df = spark.createDataFrame(pd.concat([dense, lone], ignore_index=True))
    out = outliers.statistical_outliers(df, SMALL_EXTENT, radius=30.0, k=5).toPandas()
    got = out.set_index("pid").is_outlier
    assert bool(got.loc[9000])
    assert got.loc[np.arange(500)].mean() < 0.1


def test_local_minimum_outliers(spark):
    rng = np.random.default_rng(10)
    from codem_spark.operators import outliers

    ground = pd.DataFrame(
        {"pid": np.arange(400), "x": rng.uniform(0, 100, 400),
         "y": rng.uniform(0, 100, 400), "z": rng.uniform(99, 101, 400)}
    )
    noise = pd.DataFrame({"pid": [5000], "x": [50.0], "y": [50.0], "z": [40.0]})
    df = spark.createDataFrame(pd.concat([ground, noise], ignore_index=True))
    out = outliers.local_minimum_outliers(df, (0, 0, 100, 100), cell_level=2, threshold=5.0)
    got = out.toPandas().set_index("pid").is_low_noise
    assert bool(got.loc[5000])
    assert not got.loc[np.arange(400)].any()


def test_with_residuals(spark):
    from codem_spark.registration import pipeline as P

    pc = synth.point_cloud(spark, 2000).select("pid", "x", "y", "z")
    shifted = pc.select("pid", (F.col("x") + 1.0).alias("x"), "y", (F.col("z") + 2.0).alias("z"))
    out = P.with_residuals(shifted, pc, EXTENT, radius=5000.0).toPandas()
    matched = out.dropna(subset=["residual_x"])
    assert len(matched) == 2000
    assert np.allclose(matched.residual_x, 1.0, atol=1e-9)
    assert np.allclose(matched.residual_z, 2.0, atol=1e-9)
    assert np.allclose(matched.residual_3d, np.sqrt(5.0), atol=1e-9)