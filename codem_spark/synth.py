"""Deterministic synthetic inputs (M0 of SURVEY.md §7).

Three families:

* ``pages(spark, n)`` — the input_hint table ``(url, warc_ts, html, text,
  lang)``; html is the invertible wrap of text (functions/text.py), so the
  byte-identical-extraction invariant is testable end-to-end.
* ``point_cloud(spark, n)`` / ``points_from_lineitem(df)`` — point
  clouds: pseudo (x, y) from deterministic id lanes (an arithmetic oracle
  can reproduce them), z from the synthetic surface; ``point_cloud`` adds
  the LAS-style attribute columns the reference filters on
  (classification / return_number / intensity — FIXTURES.md §2,
  reference src/vcd/preprocessing/preprocess.py:163-166).
* ``registration_scene(n, side, seed)`` — the seeded numpy scene with a
  planted transform that the registration demos register.

Apart from that scene, everything is seedless-deterministic (pure
functions of row id / url) so any executor count produces identical
tables — required for run-to-run parity and for resume-from-checkpoint
correctness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codem_spark.functions import geo, text

Extent = tuple[float, float, float, float]

DEFAULT_EXTENT: Extent = (0.0, 0.0, 100_000.0, 100_000.0)

_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "data tile point cloud raster vector join index cell query spark shuffle "
    "partition broadcast salt skew morton surface building corner feature "
    "match transform solve residual iterate converge register the and of to"
).split()


_N_HOSTS = 97


def pages(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic Common-Crawl-style pages table.

    text = a deterministic word sequence keyed by row id (varying length);
    html = '<html>...<article>{escaped text}</article>...' so the extractor
    inverse holds byte-for-byte.
    """
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    rid = F.col("id")
    host = rid % F.lit(_N_HOSTS)
    # Deterministic text: 5..40 words chosen by id lanes.
    n_words = (F.pmod(rid * F.lit(2654435761), F.lit(36)) + F.lit(5)).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.element_at(
            F.array(*[F.lit(w) for w in _WORDS]),
            (F.pmod(rid + i * F.lit(40503), F.lit(len(_WORDS)))).cast("int") + 1,
        ),
    )
    body = F.concat_ws(" ", words)
    # Sprinkle chars needing entity escaping so the extractor is non-trivial.
    body = F.when(rid % 7 == 0, F.concat(body, F.lit(" a<b & c>d"))).otherwise(body)
    lang = F.element_at(
        F.array(*[F.lit(lg) for lg in _LANGS]), (F.pmod(rid, F.lit(len(_LANGS)))).cast("int") + 1
    )
    url = F.concat(
        F.lit("https://host"), host.cast("string"), F.lit(".example/p/"), rid.cast("string")
    )
    html_str = F.concat(
        F.lit("<html><head><title>page "),
        rid.cast("string"),
        F.lit("</title></head><body><article>"),
        text.escape_html_col(body),
        F.lit("</article><footer>host "),
        host.cast("string"),
        F.lit("</footer></body></html>"),
    )
    ts = F.timestamp_seconds(F.lit(1_700_000_000) + rid * F.lit(13) % F.lit(31_536_000))
    return df.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        body.alias("text"),
        lang.alias("lang"),
    )


def point_cloud(
    spark: SparkSession,
    n: int,
    extent: Extent = DEFAULT_EXTENT,
    jitter: float = 0.0,
) -> DataFrame:
    """Bare synthetic point cloud keyed by integer pid — the arithmetic
    (id-lane) path that DuckDB oracles can reproduce exactly. Includes the
    LAS-ish attribute columns of FIXTURES.md §2."""
    x0, y0, x1, y1 = extent
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism).withColumnRenamed("id", "pid")
    pid = F.col("pid")
    x = F.lit(x0) + geo.id_lane_col(pid, 0) * F.lit(x1 - x0)
    y = F.lit(y0) + geo.id_lane_col(pid, 1) * F.lit(y1 - y0)
    df = df.withColumn("x", x).withColumn("y", y)
    z = geo.surface_z_col(F.col("x"), F.col("y"))
    if jitter > 0:
        z = z + (geo.id_lane_col(pid, 2) - F.lit(0.5)) * F.lit(2.0 * jitter)
    df = df.withColumn("z", z)
    cls = (
        F.when(F.pmod(pid, F.lit(100)) < 55, F.lit(2))  # ground
        .when(F.pmod(pid, F.lit(100)) < 80, F.lit(6))  # building
        .when(F.pmod(pid, F.lit(100)) < 90, F.lit(1))  # unclassified
        .when(F.pmod(pid, F.lit(100)) < 95, F.lit(7))  # noise
        .when(F.pmod(pid, F.lit(100)) < 98, F.lit(9))  # water
        .otherwise(F.lit(18))  # high noise
    )
    rn = F.when(F.pmod(pid, F.lit(10)) < 8, F.lit(1)).otherwise(F.lit(2))
    nr = F.when(F.pmod(pid, F.lit(10)) < 8, F.lit(1)).otherwise(F.lit(2))
    inten = geo.id_lane_col(pid, 3) * F.lit(400.0)
    return (
        df.withColumn("classification", cls)
        .withColumn("return_number", rn)
        .withColumn("number_of_returns", nr)
        .withColumn("intensity", inten)
    )


def points_from_lineitem(df: DataFrame) -> DataFrame:
    """Derive a deterministic point cloud over ``DEFAULT_EXTENT`` from the
    driver's lineitem table (bench/entry input per TESTDATA.md — don't
    synthesize our own when the driver provides rows). pid is unique;
    coords from id lanes."""
    x0, y0, x1, y1 = DEFAULT_EXTENT
    pid = (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("pid")
    out = df.select(pid)
    out = out.withColumn("x", F.lit(x0) + geo.id_lane_col(F.col("pid"), 0) * F.lit(x1 - x0))
    out = out.withColumn("y", F.lit(y0) + geo.id_lane_col(F.col("pid"), 1) * F.lit(y1 - y0))
    return out.withColumn("z", geo.surface_z_col(F.col("x"), F.col("y")))


def registration_scene(
    n: int, side: float, seed: int
) -> tuple[pd.DataFrame, pd.DataFrame, np.ndarray]:
    """A registration scene with a planted transform: ``n`` foundation
    points on a ``side`` x ``side`` square (terrain with wavelengths
    0.7·side and 0.9·side plus an 80 m grid of buildings), the inner 60% as
    the AOI, moved by a 90° turn about the centre and a (40, 25, 2) m shift.
    Returns the foundation and AOI point tables (pid, x, y, z) and the
    planted 4x4 matrix ``M`` (AOI = M @ foundation)."""
    rng = np.random.default_rng(seed)
    fx = rng.uniform(0, side, n)
    fy = rng.uniform(0, side, n)
    gx = np.floor(fx / 80).astype(np.int64)
    gy = np.floor(fy / 80).astype(np.int64)
    inside = ((fx - gx * 80) > 25) & ((fx - gx * 80) < 55) & (
        (fy - gy * 80) > 25
    ) & ((fy - gy * 80) < 55)
    h = ((gx * 73856093 + gy * 19349663) % 97) / 97.0 * 18 + 4
    fz = (
        10 * np.sin(fx * 2 * np.pi / (0.7 * side) + 0.3)
        * np.cos(fy * 2 * np.pi / (0.9 * side) - 1.7)
        + np.where(inside, h, 0.0)
        + 50.0
    )
    m = (fx > 0.2 * side) & (fx < 0.8 * side) & (fy > 0.2 * side) & (fy < 0.8 * side)
    c = side / 2
    t = np.eye(4)
    t[:3, 3] = (c, c, 0.0)
    ti = np.eye(4)
    ti[:3, 3] = (-c, -c, 0.0)
    shift = np.eye(4)
    shift[:3, 3] = (40.0, 25.0, 2.0)
    M = shift @ t @ geo.similarity_matrix(1.0, 0, 0, 90.0) @ ti
    A = np.column_stack([fx[m], fy[m], fz[m], np.ones(m.sum())]) @ M.T
    fnd = pd.DataFrame({"pid": np.arange(n), "x": fx, "y": fy, "z": fz})
    aoi = pd.DataFrame(
        {"pid": np.arange(int(m.sum())), "x": A[:, 0], "y": A[:, 1], "z": A[:, 2]}
    )
    return fnd, aoi, M
