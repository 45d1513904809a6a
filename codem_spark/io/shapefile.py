"""From-scratch ESRI shapefile MultiPatch sink/source (no pyshp, no GDAL).

Reference parity: ``vcd/meshing/mesh.py:74-105`` writes each cluster's convex
hull as a MultiPatch record — one TRIANGLE_STRIP part of 3 points per hull
triangle — with a DBF attribute table (volume N.2, area N.2, clusterid N,
ground L, status C) and a ``.prj`` WKT sidecar. That writer delegates to the
``pyshp`` package; this module implements the same three binary formats
directly from the public ESRI Shapefile Technical Description (July 1998
whitepaper) + dBASE III header layout:

* ``.shp``  — 100-byte header (big-endian lengths, little-endian shape data),
  MultiPatch shape type 31 records;
* ``.shx``  — same header + (offset, content-length) index pairs;
* ``.dbf``  — dBASE III: version byte 0x03, field descriptors, fixed-width
  ASCII records;
* ``.prj``  — plain WKT text.

The writer runs on the DRIVER over the per-cluster summary frame — the same
shape as the reference (one record per cluster; cluster counts are bounded
by the change-detection semantics, not by input rows). It is the final
interchange export. A reader is included for round-trip verification and for
mesh ingestion from third-party multipatch files.
"""

from __future__ import annotations

import os
import struct
from typing import Any

import numpy as np

SHAPE_MULTIPATCH = 31
TRIANGLE_STRIP = 0

# (name, type, length, decimals) — the reference's field list, mesh.py:85-89
CLUSTER_FIELDS = [
    ("volume", "N", 18, 2),
    ("area", "N", 18, 2),
    ("clusterid", "N", 18, 0),
    ("ground", "L", 1, 0),
    ("status", "C", 50, 0),
]


# ------------------------------------------------------------------ .shp/.shx
def _multipatch_record(triangles: np.ndarray) -> bytes:
    """Record CONTENT for one multipatch shape: each triangle is its own
    3-point TRIANGLE_STRIP part (exactly the reference's
    ``partTypes=[TRIANGLE_STRIP] * len(triangles)``, mesh.py:96-99). The
    optional M block is omitted (the spec allows it; the reference writes
    no measures)."""
    tris = np.asarray(triangles, dtype="<f8").reshape(-1, 3, 3)
    n_parts = len(tris)
    pts = tris.reshape(-1, 3)  # (3*n_parts, 3)
    n_pts = len(pts)
    xmin, ymin, zmin = pts.min(axis=0)
    xmax, ymax, zmax = pts.max(axis=0)
    buf = bytearray()
    buf += struct.pack("<i", SHAPE_MULTIPATCH)
    buf += struct.pack("<4d", xmin, ymin, xmax, ymax)
    buf += struct.pack("<2i", n_parts, n_pts)
    buf += np.arange(0, 3 * n_parts, 3, dtype="<i4").tobytes()  # part starts
    buf += np.full(n_parts, TRIANGLE_STRIP, dtype="<i4").tobytes()  # part types
    buf += np.ascontiguousarray(pts[:, :2], dtype="<f8").tobytes()  # xy pairs
    buf += struct.pack("<2d", zmin, zmax)
    buf += np.ascontiguousarray(pts[:, 2], dtype="<f8").tobytes()
    return bytes(buf)


def _main_header(file_bytes: int, bbox: tuple[float, ...]) -> bytes:
    xmin, ymin, xmax, ymax, zmin, zmax = bbox
    return (
        struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
        + struct.pack(">i", file_bytes // 2)  # length in 16-bit words
        + struct.pack("<2i", 1000, SHAPE_MULTIPATCH)
        + struct.pack("<4d", xmin, ymin, xmax, ymax)
        + struct.pack("<4d", zmin, zmax, 0.0, 0.0)  # M range unused
    )


# ---------------------------------------------------------------------- .dbf
def _dbf_format(value: Any, ftype: str, length: int, dec: int) -> bytes:
    if ftype == "N":
        s = f"{float(value):.{dec}f}" if dec else str(int(value))
        s = s[:length].rjust(length)
    elif ftype == "L":
        s = "T" if value else "F"
    else:  # C
        s = str(value)[:length].ljust(length)
    return s.encode("ascii", "replace")


def _write_dbf(path: str, fields: list[tuple[str, str, int, int]], records: list[dict]) -> None:
    rec_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + 32 * len(fields) + 1
    with open(path, "wb") as f:
        # dBASE III header; date pinned (determinism — the reference's dbf
        # date byte varies per run, which is exactly what a resumable
        # pipeline must not do)
        f.write(struct.pack("<B3BIHH20x", 0x03, 126, 1, 1, len(records), header_size, rec_size))
        for name, ftype, length, dec in fields:
            f.write(struct.pack("<11sc4xBB14x", name.encode()[:10], ftype.encode(), length, dec))
        f.write(b"\x0d")
        for rec in records:
            f.write(b" ")  # not-deleted flag
            for name, ftype, length, dec in fields:
                f.write(_dbf_format(rec[name], ftype, length, dec))
        f.write(b"\x1a")


def _read_dbf(path: str) -> list[dict]:
    with open(path, "rb") as f:
        raw = f.read()
    n_rec, header_size, rec_size = struct.unpack_from("<IHH", raw, 4)
    fields = []
    off = 32
    while raw[off] != 0x0D:
        name, ftype, length, dec = struct.unpack_from("<11sc4xBB14x", raw, off)
        fields.append((name.split(b"\x00")[0].decode(), ftype.decode(), length, dec))
        off += 32
    out = []
    pos = header_size
    for _ in range(n_rec):
        rec: dict[str, Any] = {}
        p = pos + 1  # skip deletion flag
        for name, ftype, length, dec in fields:
            sval = raw[p : p + length].decode("ascii").strip()
            if ftype == "N":
                rec[name] = float(sval) if dec else int(sval or 0)
            elif ftype == "L":
                rec[name] = sval == "T"
            else:
                rec[name] = sval
            p += length
        out.append(rec)
        pos += rec_size
    return out


# ----------------------------------------------------------------- public API
def write_multipatch(
    base_path: str,
    shapes: list[np.ndarray],
    records: list[dict],
    crs_wkt: str | None = None,
) -> dict[str, Any]:
    """Write ``base_path``.shp/.shx/.dbf (+ .prj when crs_wkt) — one
    MultiPatch shape per entry of ``shapes`` (an (n_tri, 3, 3) triangle
    array) with the matching ``CLUSTER_FIELDS`` attribute record."""
    if len(shapes) != len(records):
        raise ValueError(f"{len(shapes)} shapes vs {len(records)} records")
    os.makedirs(os.path.dirname(base_path) or ".", exist_ok=True)
    contents = [_multipatch_record(s) for s in shapes]
    all_pts = (
        np.concatenate([np.asarray(s, dtype=np.float64).reshape(-1, 3) for s in shapes])
        if shapes
        else np.zeros((0, 3))
    )
    bbox = (
        tuple(all_pts.min(axis=0)) + tuple(all_pts.max(axis=0))
        if len(all_pts)
        else (0.0,) * 6
    )
    bbox = (bbox[0], bbox[1], bbox[3], bbox[4], bbox[2], bbox[5])  # x0 y0 x1 y1 z0 z1
    shp_len = 100 + sum(8 + len(c) for c in contents)
    with open(base_path + ".shp", "wb") as f:
        f.write(_main_header(shp_len, bbox))
        for i, c in enumerate(contents):
            f.write(struct.pack(">2i", i + 1, len(c) // 2))
            f.write(c)
    with open(base_path + ".shx", "wb") as f:
        f.write(_main_header(100 + 8 * len(contents), bbox))
        off = 100
        for c in contents:
            f.write(struct.pack(">2i", off // 2, len(c) // 2))
            off += 8 + len(c)
    _write_dbf(base_path + ".dbf", CLUSTER_FIELDS, records)
    if crs_wkt is not None:
        with open(base_path + ".prj", "w") as f:
            f.write(crs_wkt)
    return {"n_shapes": len(shapes), "shp_bytes": shp_len, "base_path": base_path}


def read_multipatch(base_path: str) -> list[dict]:
    """Round-trip reader: [{'triangles': (n,3,3) array, **attributes}, ...].
    TRIANGLE_STRIP parts are unrolled to triangles (strip point i,i+1,i+2);
    TRIANGLE_FAN (type 1) unrolls as (0, i+1, i+2)."""
    with open(base_path + ".shp", "rb") as f:
        raw = f.read()
    if struct.unpack_from(">i", raw, 0)[0] != 9994:
        raise ValueError("not a shapefile (bad magic)")
    shapes = []
    pos = 100
    while pos < len(raw):
        _recno, clen = struct.unpack_from(">2i", raw, pos)
        pos += 8
        stype = struct.unpack_from("<i", raw, pos)[0]
        if stype != SHAPE_MULTIPATCH:
            raise ValueError(f"unsupported shape type {stype}")
        n_parts, n_pts = struct.unpack_from("<2i", raw, pos + 36)
        o = pos + 44
        parts = np.frombuffer(raw, "<i4", n_parts, o)
        o += 4 * n_parts
        ptypes = np.frombuffer(raw, "<i4", n_parts, o)
        o += 4 * n_parts
        xy = np.frombuffer(raw, "<f8", 2 * n_pts, o).reshape(-1, 2)
        o += 16 * n_pts + 16  # points + z range
        z = np.frombuffer(raw, "<f8", n_pts, o)
        pts = np.column_stack([xy, z])
        tris = []
        bounds = np.append(parts, n_pts)
        for p in range(n_parts):
            s, e = bounds[p], bounds[p + 1]
            for i in range(s, e - 2):
                if ptypes[p] == 1:  # fan
                    tris.append(pts[[s, i + 1, i + 2]])
                else:  # strip
                    tris.append(pts[[i, i + 1, i + 2]])
        shapes.append(np.array(tris).reshape(-1, 3, 3))
        pos += 2 * clen
    records = _read_dbf(base_path + ".dbf")
    out = []
    for tri, rec in zip(shapes, records):
        out.append({"triangles": tri, **rec})
    return out


def write_cluster_multipatch(
    summaries, path: str, crs_wkt: str | None = None
) -> dict[str, Any]:
    """S10 full-fidelity sink: the reference's multipatch shapefile from a
    ``hull.cluster_hulls`` frame (cluster_id, volume, area, ground, status,
    tri_x/tri_y/tri_z). Collects on the driver — one row per cluster, the
    reference's own granularity (mesh.py:96-105). CULL_CLUSTER_IDS
    (mesh.py:66-69) is applied upstream, by ``vcd.run_vcd``."""
    rows = sorted(summaries.collect(), key=lambda r: r["cluster_id"])
    shapes = []
    records = []
    for r in rows:
        tri = np.column_stack(
            [np.asarray(r["tri_x"]), np.asarray(r["tri_y"]), np.asarray(r["tri_z"])]
        ).reshape(-1, 3, 3)
        if not len(tri):
            continue
        shapes.append(tri)
        records.append(
            {
                "volume": r["volume"],
                "area": r["area"],
                "clusterid": r["cluster_id"],
                "ground": bool(r["ground"]) if "ground" in r.__fields__ else False,
                "status": r["status"],
            }
        )
    return write_multipatch(path, shapes, records, crs_wkt=crs_wkt)
