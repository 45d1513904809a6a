"""Table I/O — Parquet with an Iceberg-style manifest.

The north rule targets Iceberg tables; this container has no
iceberg-spark-runtime jar, so all I/O goes through this one module
(SURVEY.md §7 M0 decision): Parquet plus a ``_table_manifest.json``
carrying what Iceberg table properties would carry — schema, snapshot row
counts, and the geospatial properties the data model requires
(crs, resolution_m, units_factor, area_or_point — reference preprocess.py:
140-148,195-203). Swapping in real Iceberg later = reimplementing these
four functions against ``spark.read.format("iceberg")``; callers don't
change.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_table_manifest.json"


def parquet_file_metrics(path: str) -> list[dict[str, Any]]:
    """Per-file row counts read from the written Parquet FOOTERS — a
    driver-side metadata walk, zero Spark jobs. This is exactly what an
    Iceberg snapshot manifest carries per data file; at cluster scale the
    walk is replaced by the table-format manifest listing, not by a scan."""
    import pyarrow.parquet as pq

    out: list[dict[str, Any]] = []
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                out.append(
                    {
                        "file": os.path.relpath(p, path),
                        "rows": pq.ParquetFile(p).metadata.num_rows,
                        "bytes": os.path.getsize(p),
                    }
                )
    return out


def write_table(
    df: DataFrame,
    path: str,
    properties: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Write a Parquet table + manifest; returns the manifest.

    ONE Spark job: the write itself. Row counts and per-file metrics come
    from the written parquet footers (no read-back count job — at 100 TB a
    post-write count() doubles every stage's scan cost)."""
    df.write.mode("overwrite").parquet(path)
    fm = parquet_file_metrics(path)
    manifest = {
        "format": "parquet",
        "path": path,
        "schema": df.schema.jsonValue(),
        "row_count": sum(f["rows"] for f in fm),
        "file_metrics": fm,
        "properties": properties or {},
        "written_at": time.time(),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by write_table. When the manifest carries the
    schema (always, for tables this module wrote), pass it to the reader so
    NO schema-inference job runs — at cluster scale that job samples footers
    across the object store on every stage resume."""
    m = table_manifest(path)
    if m is not None and m.get("schema"):
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(m["schema"])).parquet(path)
    return spark.read.parquet(path)


def table_manifest(path: str) -> dict[str, Any] | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def table_exists(path: str) -> bool:
    return table_manifest(path) is not None


def quantized_point_write(
    df: DataFrame,
    path: str,
    offsets: tuple[float | str, float | str, float | str] = ("auto", "auto", "auto"),
    scales: tuple[float | str, float | str, float | str] = ("auto", "auto", "auto"),
) -> dict[str, Any]:
    """S9: LAS-style scale/offset point quantization (reference
    apply.py:343-353 writer kwargs OFFSET_*/SCALE_*, config main.py:150-163).
    Coordinates are stored as int32 ``round((v - offset) / scale)``;
    'auto' resolves offset to floor(min(v)) and scale to 0.01 (centimeter,
    the LAS convention). Scale/offset land in the table manifest — the
    Iceberg-table-properties stand-in — so readers reconstruct without side
    channels."""
    stats = df.agg(
        *[F.floor(F.min(a)).alias(f"min_{a}") for a in ("x", "y", "z")],
        *[F.max(a).alias(f"max_{a}") for a in ("x", "y", "z")],
        *[F.min(a).alias(f"rmin_{a}") for a in ("x", "y", "z")],
    ).collect()[0].asDict()
    if stats["rmin_x"] is None:  # empty input: nothing to place or range-check
        stats = dict.fromkeys(stats, 0.0)
    axes = ("x", "y", "z")
    off = {a: float(stats[f"min_{a}"]) if o == "auto" else float(o) for a, o in zip(axes, offsets)}
    scl = {a: 0.01 if s == "auto" else float(s) for a, s in zip(axes, scales)}
    # caller-supplied offset/scale combinations can push (v-offset)/scale
    # outside int32; a plain non-ANSI cast would wrap SILENTLY and corrupt
    # coordinates on read-back — validate against the min/max agg instead
    i32 = (1 << 31) - 1
    for a in axes:
        for bound in (float(stats[f"rmin_{a}"]), float(stats[f"max_{a}"])):
            q = round((bound - off[a]) / scl[a])
            if not (-i32 - 1 <= q <= i32):
                raise ValueError(
                    f"quantized {a} value {q} (raw {bound}, offset {off[a]}, "
                    f"scale {scl[a]}) exceeds int32 — widen the scale or fix the offset"
                )
    out = df
    for a in axes:
        q = F.round((F.col(a) - F.lit(off[a])) / F.lit(scl[a])).cast("int")
        out = out.withColumn(a, q)
    props = {"point_quantization": {"offsets": off, "scales": scl}}
    return write_table(out, path, properties=props)


def quantized_point_read(spark: SparkSession, path: str) -> DataFrame:
    """Inverse of quantized_point_write: int32 -> double via the manifest's
    scale/offset properties."""
    m = table_manifest(path)
    if m is None or "point_quantization" not in m.get("properties", {}):
        raise ValueError(f"{path} is not a quantized point table")
    q = m["properties"]["point_quantization"]
    df = spark.read.parquet(path)
    for a in ("x", "y", "z"):
        df = df.withColumn(
            a, F.col(a).cast("double") * F.lit(q["scales"][a]) + F.lit(q["offsets"][a])
        )
    return df


def read_points(spark: SparkSession, path: str) -> DataFrame:
    """Point-input dispatch shared by the CLI and the pipeline-JSON reader
    stages: .ply/.obj are mesh vertices; a table with a manifest is read
    through it (a quantized point table comes back as its original
    coordinates); anything else is a plain parquet table."""
    if os.path.splitext(path)[1].lower() in (".ply", ".obj"):
        from codem_spark.io import mesh

        return mesh.read_mesh_vertices(spark, path)
    m = table_manifest(path)
    if m is None:
        return spark.read.parquet(path)
    if "point_quantization" in m.get("properties", {}):
        return quantized_point_read(spark, path)
    return read_table(spark, path)
