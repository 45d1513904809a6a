"""Mesh ingestion (S5).

Reference analog: ``Mesh._create_dsm`` (codem preprocessing/preprocess.py:
740-792) loads a PLY/OBJ mesh via trimesh, takes the VERTICES as a point
cloud, unit-scales them and rasterizes a max-DSM — from there the mesh is
just another point source. (The per-cluster summary sink, the reference's
``Mesh.write``, is ``io/shapefile.write_cluster_multipatch``.)

Parsers here are from scratch (trimesh is not in the environment):

* OBJ — vertices are ``v x y z`` lines, so the parse is a fully
  distributed ``spark.read.text`` + column split (a 100 GB OBJ scans in
  parallel; no driver-side bottleneck).
* PLY — ASCII and binary_little_endian. The vertex block is positional
  (line k of the data section, no row tag), so the file is read once on
  the driver — meshes are AOI definitions, bounded in practice (the
  reference demo mesh is a few MB) and trimesh in the reference is
  equally single-node. A ``PLY_MAX_BYTES`` guard refuses files where the
  driver-side read would be the wrong tool.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PLY_DTYPES = {
    "float": "<f4",
    "float32": "<f4",
    "double": "<f8",
    "float64": "<f8",
    "char": "<i1",
    "int8": "<i1",
    "uchar": "<u1",
    "uint8": "<u1",
    "short": "<i2",
    "int16": "<i2",
    "ushort": "<u2",
    "uint16": "<u2",
    "int": "<i4",
    "int32": "<i4",
    "uint": "<u4",
    "uint32": "<u4",
}

PLY_MAX_BYTES = 512 << 20  # driver-side parse guard (see module docstring)


def read_obj_vertices(spark: SparkSession, path: str) -> DataFrame:
    """OBJ ``v x y z [w]`` lines -> (pid, x, y, z) DataFrame — fully
    distributed (text scan + filter + split; Catalyst pushes the rlike
    into the scan stage)."""
    lines = spark.read.text(path)
    v = lines.filter(F.col("value").rlike(r"^v\s"))
    parts = F.split(F.regexp_replace(F.trim(F.col("value")), r"\s+", " "), " ")
    out = v.select(
        parts.getItem(1).cast("double").alias("x"),
        parts.getItem(2).cast("double").alias("y"),
        parts.getItem(3).cast("double").alias("z"),
    )
    return out.withColumn("pid", F.monotonically_increasing_id()).select("pid", "x", "y", "z")


def _parse_ply_header(blob: bytes) -> tuple[str, int, list[tuple[str, str]], int]:
    """-> (format, n_vertices, [(prop_name, ply_type)...], header_len)."""
    end = blob.find(b"end_header\n")
    if not blob.startswith(b"ply") or end < 0:
        raise ValueError("not a PLY file (missing 'ply'/'end_header')")
    header = blob[: end + len(b"end_header\n")]
    fmt = None
    n_vertices = 0
    props: list[tuple[str, str]] = []
    in_vertex = False
    for raw in header.decode("ascii", "replace").splitlines():
        tok = raw.strip().split()
        if not tok:
            continue
        if tok[0] == "format":
            fmt = tok[1]
        elif tok[0] == "element":
            in_vertex = tok[1] == "vertex"
            if in_vertex:
                n_vertices = int(tok[2])
        elif tok[0] == "property" and in_vertex:
            if tok[1] == "list":
                raise ValueError("list property on vertex element is unsupported")
            props.append((tok[-1], tok[1]))
    if fmt is None:
        raise ValueError("PLY header missing 'format'")
    if fmt == "binary_big_endian":
        raise ValueError("binary_big_endian PLY is unsupported (little-endian only)")
    if fmt not in ("ascii", "binary_little_endian"):
        raise ValueError(f"unsupported PLY format {fmt!r}")
    return fmt, n_vertices, props, len(header)


def read_ply_vertices(spark: SparkSession, path: str) -> DataFrame:
    """PLY vertex element -> (pid, x, y, z) DataFrame. ASCII and
    binary_little_endian. Extra vertex properties (nx, red, ...) are parsed
    and dropped; faces are ignored (vertices-as-points, the reference's own
    mesh semantics — preprocess.py:752-758)."""
    size = os.path.getsize(path)
    if size > PLY_MAX_BYTES:
        raise ValueError(
            f"PLY file is {size} bytes > PLY_MAX_BYTES={PLY_MAX_BYTES}: the vertex "
            "block is positional, so parsing is driver-side — convert to "
            "parquet/OBJ for a distributed scan"
        )
    with open(path, "rb") as f:
        blob = f.read()
    fmt, n, props, hlen = _parse_ply_header(blob)
    names = [p[0] for p in props]
    for ax in ("x", "y", "z"):
        if ax not in names:
            raise ValueError(f"PLY vertex element has no '{ax}' property")
    if fmt == "ascii":
        text = blob[hlen:].decode("ascii")
        rows = []
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            rows.append(line.split())
            if len(rows) == n:
                break
        if len(rows) < n:
            raise ValueError(f"PLY declares {n} vertices, found {len(rows)}")
        arr = np.array(rows, dtype=object)
        data = {nm: arr[:, i].astype(np.float64) for i, nm in enumerate(names)}
    else:
        dtype = np.dtype([(nm, _PLY_DTYPES[tp]) for nm, tp in props])
        need = hlen + n * dtype.itemsize
        if len(blob) < need:
            raise ValueError(f"PLY truncated: need {need} bytes, have {len(blob)}")
        rec = np.frombuffer(blob, dtype=dtype, count=n, offset=hlen)
        data = {nm: rec[nm].astype(np.float64) for nm in names}
    pdf = pd.DataFrame(
        {"pid": np.arange(n, dtype=np.int64), "x": data["x"], "y": data["y"], "z": data["z"]}
    )
    return spark.createDataFrame(pdf)


def read_mesh_vertices(spark: SparkSession, path: str) -> DataFrame:
    """Dispatch on extension: .ply / .obj -> (pid, x, y, z)."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".ply":
        return read_ply_vertices(spark, path)
    if ext == ".obj":
        return read_obj_vertices(spark, path)
    raise ValueError(f"unsupported mesh format {ext!r} (expected .ply/.obj)")


def write_ply_ascii(points: pd.DataFrame, path: str) -> None:
    """Tiny ASCII PLY writer (tests / interchange): (x, y, z) rows."""
    with open(path, "w") as f:
        f.write(
            "ply\nformat ascii 1.0\ncomment codem_spark\n"
            f"element vertex {len(points)}\n"
            "property double x\nproperty double y\nproperty double z\n"
            "end_header\n"
        )
        np.savetxt(f, points[["x", "y", "z"]].to_numpy(np.float64), fmt="%.10g")
