"""Per-cluster summaries: convex hull, area, volume, change status (G7/A7).

Reference analog: vcd/meshing/mesh.py:18-105 — group points by ClusterID,
build the trimesh 3D CONVEX HULL per cluster and record its volume and
surface area, plus ground flag and "Fled"/"New" status = sign of the
cluster's mean dZ3d; written as a per-cluster summary table (the
shapefile's attribute rows, mesh.py:85-89).

trimesh/scipy are unavailable, so both hulls are from scratch:

* 2D: Andrew's monotone chain (vectorized numpy) — the footprint ring the
  shapefile-equivalent sink records.
* 3D: incremental convex hull (insert point -> visible faces by signed
  plane distance -> horizon edges -> re-cone), with every per-insertion
  predicate a vectorized numpy op over the current face set. ``volume`` is
  the divergence-theorem sum det(a,b,c)/6 over outward-oriented hull faces
  and ``area`` the triangle-area sum — the same quantities trimesh reports
  (mesh.py:60-62 hull.volume / hull.area), replacing round 2's
  |mean dz| * footprint prism which diverges on any non-prismatic cluster.

One ``applyInPandas`` kernel (``cluster_hulls``) per cluster group serves
both the summary table and the multipatch sink; cluster counts are small
relative to points, so the only shuffle is the groupBy(cluster_id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def convex_hull_2d(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain. pts: (n, 2). Returns hull vertices CCW."""
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    p = pts[order]

    def half(points):
        out: list[np.ndarray] = []
        for q in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], q - out[-2]) <= 0:
                out.pop()
            out.append(q)
        return out

    lower = half(p)
    upper = half(p[::-1])
    return np.array(lower[:-1] + upper[:-1])


def polygon_area(hull: np.ndarray) -> float:
    """Shoelace area of a CCW ring."""
    if len(hull) < 3:
        return 0.0
    x, y = hull[:, 0], hull[:, 1]
    return float(0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def convex_hull_3d(pts: np.ndarray) -> np.ndarray | None:
    """Incremental 3D convex hull. pts: (n, 3). Returns outward-oriented
    faces (m, 3) of vertex indices into ``pts``, or None when the points are
    affinely degenerate (rank < 3: coplanar/collinear — no 3D hull)."""
    p = np.asarray(pts, dtype=np.float64)
    n = len(p)
    if n < 4:
        return None
    c = p.mean(axis=0)
    q = p - c  # centered for conditioning
    scale = float(np.abs(q).max())
    if scale == 0.0:
        return None
    eps = 1e-9 * scale

    # --- seed tetrahedron: 4 affinely independent points
    i0 = int(np.argmin(q[:, 0]))
    d0 = ((q - q[i0]) ** 2).sum(1)
    i1 = int(np.argmax(d0))
    if d0[i1] <= eps * eps:
        return None
    e1 = q[i1] - q[i0]
    cr = np.cross(np.broadcast_to(e1, q.shape), q - q[i0])
    a2 = (cr * cr).sum(1)
    i2 = int(np.argmax(a2))
    if np.sqrt(a2[i2]) <= eps * np.sqrt(d0[i1]):
        return None  # collinear
    nrm = np.cross(e1, q[i2] - q[i0])
    nn = float(np.linalg.norm(nrm))
    h = np.abs((q - q[i0]) @ nrm) / nn
    i3 = int(np.argmax(h))
    if h[i3] <= eps:
        return None  # coplanar

    def oriented(a: int, b: int, cc: int, opp: int) -> tuple[int, int, int]:
        fn = np.cross(q[b] - q[a], q[cc] - q[a])
        return (a, cc, b) if float(fn @ (q[opp] - q[a])) > 0 else (a, b, cc)

    faces = np.array(
        [
            oriented(i0, i1, i2, i3),
            oriented(i0, i1, i3, i2),
            oriented(i0, i2, i3, i1),
            oriented(i1, i2, i3, i0),
        ],
        dtype=np.int64,
    )

    def face_normals(farr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        a = q[farr[:, 0]]
        fn = np.cross(q[farr[:, 1]] - a, q[farr[:, 2]] - a)
        return a, fn

    ref, normals = face_normals(faces)
    norm_len = np.linalg.norm(normals, axis=1)

    seed = {i0, i1, i2, i3}
    for i in range(n):
        if i in seed:
            continue
        # visible faces: signed distance above the face plane
        dist = ((q[i] - ref) * normals).sum(1)
        visible = dist > eps * norm_len
        if not visible.any():
            continue
        bt = faces[visible]
        # horizon = directed edges of visible faces whose undirected key
        # appears exactly once (the twin face survives)
        e = np.concatenate([bt[:, [0, 1]], bt[:, [1, 2]], bt[:, [2, 0]]])
        es = np.sort(e, axis=1)
        key = es[:, 0] * np.int64(n) + es[:, 1]
        order = np.argsort(key, kind="stable")
        ks = key[order]
        first = np.ones(len(ks), dtype=bool)
        first[1:] = ks[1:] != ks[:-1]
        idx_first = np.flatnonzero(first)
        counts = np.diff(np.append(idx_first, len(ks)))
        singles = idx_first[counts == 1]
        horizon = e[order[singles]]  # keeps the visible face's direction
        new_faces = np.column_stack(
            [horizon[:, 0], horizon[:, 1], np.full(len(horizon), i, dtype=np.int64)]
        )
        keep = ~visible
        faces = np.vstack([faces[keep], new_faces])
        nref, nnorm = face_normals(new_faces)
        ref = np.vstack([ref[keep], nref])
        normals = np.vstack([normals[keep], nnorm])
        norm_len = np.concatenate([norm_len[keep], np.linalg.norm(nnorm, axis=1)])
    return faces


def hull_volume_area(pts: np.ndarray, faces: np.ndarray | None = None) -> tuple[float, float]:
    """(volume, surface area) of the 3D convex hull of ``pts`` — the
    divergence-theorem volume sum det(a,b,c)/6 over outward faces and the
    triangle-area sum, matching trimesh's hull.volume/hull.area
    (reference mesh.py:60-62). Degenerate (rank<3) input: volume 0, area =
    both sides of the flat footprint (2 * 2D hull area)."""
    p = np.asarray(pts, dtype=np.float64)
    if faces is None:
        faces = convex_hull_3d(p)
    if faces is None or len(faces) == 0:
        flat = polygon_area(convex_hull_2d(p[:, :2])) if len(p) else 0.0
        return 0.0, 2.0 * flat
    c = p.mean(axis=0)
    a = p[faces[:, 0]] - c
    b = p[faces[:, 1]] - c
    d = p[faces[:, 2]] - c
    cross = np.cross(b - a, d - a)
    area = float(0.5 * np.linalg.norm(cross, axis=1).sum())
    vol = float(abs((a * np.cross(b, d)).sum() / 6.0))
    return vol, area


def cluster_hulls(points: DataFrame) -> DataFrame:
    """(pid, x, y, z, dz, cluster_id) -> one row per cluster from ONE hull
    kernel: the summary columns (see :func:`cluster_summaries`) plus the
    multipatch-sink face of G7/A7 — ``ground`` (always False: change
    clusters carry no classification; the reference flags
    classification==2), ``n_tri`` and the 3D hull
    TRIANGLES tri_x/tri_y/tri_z (3 entries per face, outward oriented; feed
    to ``io.shapefile.write_cluster_multipatch``, mesh.py:96-105). The
    faces are computed once for volume, area and triangles. Without a
    ``z`` column the change magnitude ``dz`` is the height. Degenerate
    clusters (rank < 3 — no 3D hull) emit empty triangle arrays with
    volume 0. Clusters labelled -1 (culled) are excluded, like the
    reference's ClusterID filter (vcd/preprocessing/preprocess.py:228-231).
    Each group is ordered by ``pid`` first, so the float sums behind area,
    volume and mean_dz do not depend on row arrival order."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid", kind="stable")
        xy = pdf[["x", "y"]].to_numpy(np.float64)
        ring = convex_hull_2d(xy)
        if "z" in pdf.columns:
            xyz = pdf[["x", "y", "z"]].to_numpy(np.float64)
        else:  # dz-only callers: treat the change magnitude as the height
            xyz = np.column_stack([xy, pdf["dz"].to_numpy(np.float64)])
        faces = convex_hull_3d(xyz)
        volume, area = hull_volume_area(xyz, faces)
        if faces is None or len(faces) == 0:
            tri = np.zeros((0, 3, 3))
        else:
            # orient each face outward (positive det about the centroid) so
            # the written mesh is consistently wound like trimesh's export
            c = xyz.mean(axis=0)
            a = xyz[faces[:, 0]] - c
            b = xyz[faces[:, 1]] - c
            d = xyz[faces[:, 2]] - c
            flip = (a * np.cross(b, d)).sum(axis=1) < 0
            faces = faces.copy()
            faces[flip] = faces[flip][:, [0, 2, 1]]
            tri = xyz[faces]  # (n_tri, 3, 3)
        mean_dz = float(pdf["dz"].mean())
        return pd.DataFrame(
            {
                "cluster_id": [int(pdf["cluster_id"].iloc[0])],
                "n_points": [len(pdf)],
                "area": [area],
                "footprint_area": [polygon_area(ring)],
                "volume": [volume],
                "mean_dz": [mean_dz],
                "status": ["New" if mean_dz > 0 else "Fled"],
                "hull_x": [ring[:, 0].tolist() if len(ring) else []],
                "hull_y": [ring[:, 1].tolist() if len(ring) else []],
                "ground": [False],
                "n_tri": [len(tri)],
                "tri_x": [tri[:, :, 0].ravel().tolist()],
                "tri_y": [tri[:, :, 1].ravel().tolist()],
                "tri_z": [tri[:, :, 2].ravel().tolist()],
            }
        )

    schema = (
        "cluster_id long, n_points long, area double, footprint_area double, "
        "volume double, mean_dz double, status string, "
        "hull_x array<double>, hull_y array<double>, ground boolean, n_tri long, "
        "tri_x array<double>, tri_y array<double>, tri_z array<double>"
    )
    return (
        points.filter(F.col("cluster_id") >= 0)
        .groupBy("cluster_id")
        .applyInPandas(lambda _k, pdf: kernel(pdf), schema=schema)
    )


def cluster_summaries(points: DataFrame) -> DataFrame:
    """(pid, x, y, z, dz, cluster_id) -> one summary row per cluster:
    n_points, volume + area from the cluster's 3D convex hull (reference
    mesh.py:58-62), footprint_area (2D hull shoelace) with the hull ring as
    arrays (the shapefile attribute-table analog, mesh.py:85-89), mean_dz,
    status 'New' if mean dz > 0 else 'Fled' (mesh.py:99-103) — the summary
    columns of :func:`cluster_hulls`."""
    return cluster_hulls(points).select(
        "cluster_id", "n_points", "area", "footprint_area", "volume", "mean_dz",
        "status", "hull_x", "hull_y",
    )
