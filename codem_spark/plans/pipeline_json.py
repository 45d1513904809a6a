"""Declarative PDAL-style pipeline JSON -> DataFrame plan (SURVEY §2.6).

Reference analog: users hand CODEM a PDAL pipeline JSON
(preprocess.py:601-635 PipelineReader; tests/data/pipeline.json) — a stage
list of readers, filters and writers; the reference strips the writers and
runs the rest. This module gives a non-Spark user the same surface: each
PDAL stage is translated to the engine's DataFrame operators, and because
the translation is pure column expressions for the predicate stages,
Catalyst still pushes the filters into the parquet scan (the JSON spec does
not cost the plan anything).

Supported stages (the reference's own test-pipeline vocabulary, F4-F10):

==================  =====================================================
stage               translation
==================  =====================================================
bare string /       parquet table, quantized point table, or .ply/.obj
``readers.*``       mesh vertices (io/mesh.py)
filters.expression  PDAL expression -> SQL predicate (``Intensity < 250``)
filters.range       PDAL limits grammar ``Dim[lo:hi]``, ``Dim![lo:hi]``
                    (OR within a dimension, AND across — PDAL semantics)
filters.assign      ``Dim[lo:hi]=value`` conditional constant assignment
filters.crop        ``bounds: ([x0,x1],[y0,y1])`` -> bbox clip
filters.decimation  every ``step``-th point (pid-stable modulus)
filters.outlier     SOR -> Classification 7 on flagged points (PDAL
                    convention), via operators/outliers.py
filters.smrf        ground segmentation -> Classification 2 + HAG column,
                    via operators/ground.py
filters.returns     only/first/last/intermediate groups (PDAL semantics;
                    vcd preprocess.py:166,174)
filters.elm         extended-local-minimum low noise -> Classification 7
                    (vcd preprocess.py:167), via operators/outliers.py
filters.cluster     Euclidean clustering -> cluster_id column (vcd
                    preprocess.py:234-249), via operators/cluster.py
filters.hag_delaunay TIN height-above-ground from class-2 ground points
                    (vcd preprocess.py:201-219), via operators/tin.py
filters.hag_nn      nearest-ground height-above-ground, via operators/knn.py
filters.normal      PCA plane normals -> nx/ny/nz (preprocess.py:317-350),
                    via registration/icp.compute_normals
filters.colorization diverging colormap -> red/green/blue (VCD product
                    coloring, preprocess.py:330-355)
writers.*           STRIPPED and returned (the reference does the same,
                    preprocess.py:628-633)
==================  =====================================================
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codem_spark.io import tables

# PDAL dimension names -> engine columns
_DIMS = {
    "X": "x",
    "Y": "y",
    "Z": "z",
    "Intensity": "intensity",
    "Classification": "classification",
    "ReturnNumber": "return_number",
    "NumberOfReturns": "number_of_returns",
    "HeightAboveGround": "hag",
    "ClusterID": "cluster_id",
    "dZ3d": "dz",
    "NormalX": "nx",
    "NormalY": "ny",
    "NormalZ": "nz",
    "Red": "red",
    "Green": "green",
    "Blue": "blue",
}


def _dim(name: str) -> str:
    if name in _DIMS:
        return _DIMS[name]
    # CamelCase -> snake_case fallback for unknown dimensions
    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()


def translate_expression(expr: str) -> str:
    """PDAL C-style expression -> Spark SQL predicate string."""
    out = expr
    out = re.sub(r"&&", " AND ", out)
    out = re.sub(r"\|\|", " OR ", out)
    out = re.sub(r"!\s*\(", " NOT (", out)
    out = re.sub(r"(?<![=!<>])==(?!=)", "=", out)
    # map dimension identifiers (words not preceded/followed by digits-only)
    def repl(m: re.Match) -> str:
        w = m.group(0)
        if w.upper() in ("AND", "OR", "NOT", "TRUE", "FALSE"):
            return w
        return _dim(w)

    return re.sub(r"[A-Za-z_][A-Za-z0-9_]*", repl, out)


_RANGE_RE = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*(!?)\[([^:\]]*):([^:\]]*)\]\s*")


def translate_range(limits: str) -> str:
    """PDAL filters.range ``limits`` grammar -> SQL predicate. PDAL
    semantics: conditions on the SAME dimension OR together, different
    dimensions AND together."""
    by_dim: dict[str, list[str]] = {}
    for part in limits.split(","):
        m = _RANGE_RE.fullmatch(part)
        if not m:
            raise ValueError(f"unparseable range limit {part!r}")
        name, neg, lo, hi = m.groups()
        col = _dim(name)
        conds = []
        if lo.strip():
            conds.append(f"{col} >= {float(lo.strip())!r}")
        if hi.strip():
            conds.append(f"{col} <= {float(hi.strip())!r}")
        cond = " AND ".join(conds) if conds else "TRUE"
        if neg:
            cond = f"NOT ({cond})"
        by_dim.setdefault(col, []).append(f"({cond})")
    return " AND ".join(
        "(" + " OR ".join(conds) + ")" for conds in by_dim.values()
    )


_ASSIGN_RE = re.compile(
    r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*\[([^:\]]*):([^:\]]*)\]\s*=\s*([-\d.eE]+)\s*"
)


def _apply_assign(df: DataFrame, assignment: str) -> DataFrame:
    """PDAL filters.assign ``Dim[lo:hi]=value`` (``[:]`` = unconditional)."""
    m = _ASSIGN_RE.fullmatch(assignment)
    if not m:
        raise ValueError(f"unparseable assignment {assignment!r}")
    name, lo, hi, value = m.groups()
    col = _dim(name)
    val = float(value) if "." in value or "e" in value.lower() else int(value)
    cond = F.lit(True)
    if lo.strip():
        cond = cond & (F.col(col) >= float(lo.strip()))
    if hi.strip():
        cond = cond & (F.col(col) <= float(hi.strip()))
    if col in df.columns:
        return df.withColumn(col, F.when(cond, F.lit(val)).otherwise(F.col(col)))
    return df.withColumn(col, F.lit(val))


_CROP_RE = re.compile(
    r"\(\s*\[\s*([-\d.eE]+)\s*,\s*([-\d.eE]+)\s*\]\s*,\s*\[\s*([-\d.eE]+)\s*,\s*([-\d.eE]+)\s*\]\s*\)"
)


def _stage_filter(df: DataFrame, stage: dict[str, Any], extent) -> DataFrame:
    kind = stage["type"].split(".", 1)[1]
    if kind == "expression":
        return df.filter(F.expr(translate_expression(stage["expression"])))
    if kind == "range":
        return df.filter(F.expr(translate_range(stage["limits"])))
    if kind == "assign":
        assignments = stage.get("assignment") or stage.get("value")
        if isinstance(assignments, str):
            assignments = [assignments]
        out = df
        for a in assignments:
            out = _apply_assign(out, a)
        return out
    if kind == "crop":
        m = _CROP_RE.search(stage["bounds"])
        if not m:
            raise ValueError(f"unparseable crop bounds {stage['bounds']!r}")
        x0, x1, y0, y1 = (float(g) for g in m.groups())
        from codem_spark.operators.grid import clip_bbox

        return clip_bbox(df, (x0, y0, x1, y1))
    if kind == "decimation":
        # PDAL keeps every step-th point by order; a distributed analog must
        # be order-free but still UNIFORM: hash the pid before the modulus
        # (structured pids like orderkey*8+linenumber are never 0 mod 8, so
        # a bare `pid % step` can select 0 or 2x/step of the data), and
        # synthesize a pid when the source has none (ADVICE r3).
        step = int(stage.get("step", 2))
        src = F.col("pid") if "pid" in df.columns else F.monotonically_increasing_id()
        return df.filter(F.pmod(F.xxhash64(src), F.lit(step)) == 0)
    if kind == "outlier":
        from codem_spark.operators import grid, outliers

        ext = extent or grid.bounds(df)
        out = outliers.statistical_outliers(
            df,
            ext,
            radius=float(stage.get("radius", 8.0)),
            k=int(stage.get("mean_k", 8)),
            multiplier=float(stage.get("multiplier", 2.0)),
        )
        # PDAL convention: flagged points get Classification 7 (low noise)
        cls = (
            F.when(F.col("is_outlier"), F.lit(7)).otherwise(F.col("classification"))
            if "classification" in df.columns
            else F.when(F.col("is_outlier"), F.lit(7)).otherwise(F.lit(0))
        )
        return out.withColumn("classification", cls).drop("is_outlier")
    if kind == "smrf":
        from codem_spark.operators import grid, ground

        ext = extent or grid.bounds(df)
        out = ground.smrf_ground(
            df,
            ext,
            resolution=float(stage.get("cell", 2.0)),
            max_window=float(stage.get("window", 20.0)),
            slope=float(stage.get("slope", 0.15)),
            initial_threshold=float(stage.get("threshold", 0.5)),
        )
        cls = (
            F.when(F.col("is_ground"), F.lit(2)).otherwise(F.col("classification"))
            if "classification" in df.columns
            else F.when(F.col("is_ground"), F.lit(2)).otherwise(F.lit(1))
        )
        return out.withColumn("classification", cls).drop("is_ground")
    if kind == "returns":
        # PDAL filters.returns groups=only|first|last|intermediate
        groups = [g.strip() for g in str(stage.get("groups", "only")).split(",")]
        if "return_number" not in df.columns:
            return df
        conds = []
        rn, nr = F.col("return_number"), F.col("number_of_returns")
        for g in groups:
            if g == "only":
                conds.append(nr == 1)
            elif g == "first":
                conds.append((rn == 1) & (nr > 1))
            elif g == "last":
                conds.append((rn == nr) & (nr > 1))
            elif g == "intermediate":
                conds.append((rn > 1) & (rn < nr))
            else:
                raise ValueError(f"unknown returns group {g!r}")
        pred = conds[0]
        for c in conds[1:]:
            pred = pred | c
        return df.filter(pred)
    if kind == "elm":
        import math as _math

        from codem_spark.operators import grid, outliers

        ext = extent or grid.bounds(df)
        cell_m = float(stage.get("cell", 10.0))
        span = max(ext[2] - ext[0], ext[3] - ext[1], cell_m)
        level = max(0, _math.ceil(_math.log2(span / cell_m)))
        out = outliers.local_minimum_outliers(
            df, ext, cell_level=level,
            threshold=float(stage.get("threshold", 1.0)),
        )
        cls = (
            F.when(F.col("is_low_noise"), F.lit(7)).otherwise(F.col("classification"))
            if "classification" in df.columns
            else F.when(F.col("is_low_noise"), F.lit(7)).otherwise(F.lit(0))
        )
        return out.withColumn("classification", cls).drop("is_low_noise")
    if kind == "cluster":
        # PDAL filters.cluster -> ClusterID column (J8). Cluster labels are
        # the engine's min-pid convention; below-min_points clusters get -1
        # (PDAL tags them 0 — callers cull either way).
        from codem_spark.operators import cluster as cluster_mod
        from codem_spark.operators import grid

        ext = extent or grid.bounds(df)
        labels = cluster_mod.euclidean_cluster(
            df,
            ext,
            tolerance=float(stage.get("tolerance", 1.0)),
            min_points=int(stage.get("min_points", 1)),
        )
        return df.join(labels, "pid")
    if kind in ("hag_delaunay", "hag_nn"):
        # PDAL: height above ground from class-2 ground points — TIN-
        # interpolated (hag_delaunay, vcd preprocess.py:201-219) or
        # nearest-ground (hag_nn). Ground points get hag = 0.
        from codem_spark.operators import grid, knn, resample

        ext = extent or grid.bounds(df)
        ground = df.filter(F.col("classification") == 2)
        nong = df.filter(F.col("classification") != 2)
        radius = float(stage.get("radius", 50.0))
        if kind == "hag_delaunay":
            interp = resample.resample_to_points(
                ground, nong, ext, radius=radius, method="tin"
            ).select("pid", F.col("z").alias("ground_z"))
        else:
            # nearest single ground point (knn_join_complete pins k=1 —
            # PDAL hag_nn's default count)
            j = knn.knn_join_complete(
                nong.select("pid", "x", "y", "z"),
                ground.select("pid", "x", "y", "z"),
                ext, radius=radius, r_carry=("z",),
            )
            interp = j.groupBy("pid").agg(F.avg("r_z").alias("ground_z"))
        hag = nong.join(interp, "pid", "left").withColumn(
            "hag", F.col("z") - F.coalesce("ground_z", F.col("z"))
        ).drop("ground_z")
        return hag.unionByName(ground.withColumn("hag", F.lit(0.0)))
    if kind == "normal":
        # PDAL filters.normal knn=8 -> NormalX/Y/Z (reference
        # preprocess.py:317-350); J4 tile+halo PCA kernel.
        from codem_spark.operators import grid
        from codem_spark.registration import icp

        ext = extent or grid.bounds(df)
        nrm = icp.compute_normals(
            df, ext, radius=float(stage.get("radius", 25.0)),
            k=int(stage.get("knn", 9)),
        ).select("pid", "nx", "ny", "nz")
        return df.join(nrm, "pid")
    if kind == "colorization":
        # VCD product colorization (reference preprocess.py:330-355
        # TwoSlopeNorm colormap) -> red/green/blue columns.
        from codem_spark.operators import grid

        return grid.colormap_encode(
            df,
            col=_dim(stage.get("dimension", "dZ3d")),
            vmin=float(stage.get("vmin", -5.0)),
            vcenter=float(stage.get("vcenter", 0.0)),
            vmax=float(stage.get("vmax", 5.0)),
        )
    raise ValueError(f"unsupported filter stage {stage['type']!r}")


def pipeline_from_json(
    spark: SparkSession,
    spec: str | dict | list,
    extent: tuple[float, float, float, float] | None = None,
    reader: DataFrame | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Run a PDAL-style pipeline spec; returns (DataFrame, stripped_writers).

    ``spec``: a JSON string, a path to a .json file, a dict with a
    ``pipeline`` key, or a bare stage list. ``reader`` overrides the
    pipeline's reader stage (the reference swaps its own reader in the same
    way when the pipeline names a file it manages)."""
    if isinstance(spec, str):
        if os.path.exists(spec):
            with open(spec) as f:
                spec = json.load(f)
        else:
            spec = json.loads(spec)
    stages = spec["pipeline"] if isinstance(spec, dict) else spec
    df = reader
    writers: list[dict] = []
    for stage in stages:
        if isinstance(stage, str):
            stage = {"type": "readers.auto", "filename": stage}
        kind = stage.get("type", "readers.auto")
        family = kind.split(".", 1)[0]
        if family == "readers" or ("filename" in stage and family not in ("filters", "writers")):
            if reader is None:
                if stage.get("filename") is None:
                    raise ValueError(f"reader stage without filename: {stage}")
                df = tables.read_points(spark, stage["filename"])
            continue
        if family == "writers":
            writers.append(stage)  # stripped, reference preprocess.py:628-633
            continue
        if family == "filters":
            if df is None:
                raise ValueError("filter stage before any reader stage")
            df = _stage_filter(df, stage, extent)
            continue
        raise ValueError(f"unsupported stage type {kind!r}")
    if df is None:
        raise ValueError("pipeline has no reader stage and no reader override")
    return df, writers
