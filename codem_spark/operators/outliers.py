"""Outlier removal (F8 — SURVEY.md §2.2).

Reference analog: PDAL extended-local-minimum (ELM) noise marking +
statistical outlier removal in the VCD preprocessing chain
(vcd/preprocessing/preprocess.py:167-169).

* ``statistical_outliers`` — classic SOR: a point is an outlier when its
  mean distance to its k nearest neighbors exceeds the global
  mean + multiplier * stddev of that statistic. Two jobs: the tile+halo kNN
  (k small), then one agg for the global threshold, then a filter.
* ``local_minimum_outliers`` — ELM-style: flags points far BELOW the local
  (cell) ground level: z < cell 5th-percentile - threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark.functions import cells
from codem_spark.operators import knn

Extent = tuple[float, float, float, float]


def statistical_outliers(
    points: DataFrame,
    extent: Extent,
    radius: float,
    k: int = 8,
    multiplier: float = 2.0,
) -> DataFrame:
    """Returns the input with an ``is_outlier`` column. Points with fewer
    than k neighbors inside ``radius`` count as outliers (isolated)."""
    nn = knn.knn_join(points, points, extent, radius=radius, k=k + 1).filter(
        F.col("pid") != F.col("n_pid")
    )
    mean_d = nn.groupBy("pid").agg(
        F.avg("nn_dist").alias("knn_mean_dist"), F.count("*").alias("n_nbrs")
    )
    stats = mean_d.agg(
        F.avg("knn_mean_dist").alias("mu"), F.stddev_pop("knn_mean_dist").alias("sd")
    ).collect()[0]
    thresh = float(stats["mu"]) + multiplier * float(stats["sd"] or 0.0)
    return (
        points.join(mean_d, "pid", "left")
        .withColumn(
            "is_outlier",
            F.coalesce(F.col("knn_mean_dist") > thresh, F.lit(True))
            | (F.coalesce(F.col("n_nbrs"), F.lit(0)) < k),
        )
        .drop("knn_mean_dist", "n_nbrs")
    )


def local_minimum_outliers(
    points: DataFrame,
    extent: Extent,
    cell_level: int = 10,
    threshold: float = 5.0,
) -> DataFrame:
    """ELM-style low-noise flag: z below the cell's 5th percentile by more
    than ``threshold`` meters."""
    d = cells.with_cell(points, "x", "y", extent, cell_level, out="_cell").drop("_ix", "_iy")
    floor = d.groupBy("_cell").agg(
        F.expr("percentile(z, 0.05)").alias("_zfloor")
    )
    return (
        d.join(floor, "_cell")
        .withColumn("is_low_noise", F.col("z") < F.col("_zfloor") - F.lit(threshold))
        .drop("_cell", "_zfloor")
    )
