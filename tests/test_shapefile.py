"""From-scratch ESRI multipatch shapefile sink (io/shapefile.py) — the
reference's vcd/meshing/mesh.py:74-105 writer, re-implemented from the public
ESRI whitepaper without pyshp. Round-trip + binary-layout + Spark-pipeline
tests; the hull-mesh volumes must agree with hull_volume_area exactly."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from codem_spark.io import shapefile as shp
from codem_spark.operators import hull


def _box_triangles(x0=0.0, y0=0.0, z0=0.0, e=2.0):
    """12 outward triangles of an axis-aligned cube with edge e."""
    pts = np.array(
        [[x0 + dx * e, y0 + dy * e, z0 + dz * e] for dx in (0, 1) for dy in (0, 1) for dz in (0, 1)]
    )
    faces = hull.convex_hull_3d(pts)
    c = pts.mean(axis=0)
    a = pts[faces[:, 0]] - c
    b = pts[faces[:, 1]] - c
    d = pts[faces[:, 2]] - c
    flip = (a * np.cross(b, d)).sum(axis=1) < 0
    faces = faces.copy()
    faces[flip] = faces[flip][:, [0, 2, 1]]
    return pts[faces]


def test_multipatch_roundtrip(tmp_path):
    tris1 = _box_triangles(0, 0, 0, 2.0)
    tris2 = _box_triangles(10, 5, 1, 3.0)
    recs = [
        {"volume": 8.0, "area": 24.0, "clusterid": 0, "ground": False, "status": "New"},
        {"volume": 27.0, "area": 54.0, "clusterid": 1, "ground": True, "status": "Fled"},
    ]
    base = str(tmp_path / "clusters")
    man = shp.write_multipatch(base, [tris1, tris2], recs, crs_wkt='PROJCS["demo"]')
    assert man["n_shapes"] == 2
    back = shp.read_multipatch(base)
    assert len(back) == 2
    # triangle geometry survives byte-exactly (doubles, no quantization)
    np.testing.assert_array_equal(back[0]["triangles"], tris1)
    np.testing.assert_array_equal(back[1]["triangles"], tris2)
    # attributes: N fields round to 2 decimals like the reference's writer
    assert back[0]["volume"] == pytest.approx(8.0)
    assert back[1]["clusterid"] == 1
    assert back[1]["ground"] is True
    assert back[0]["status"] == "New" and back[1]["status"] == "Fled"
    assert (tmp_path / "clusters.prj").read_text() == 'PROJCS["demo"]'


def test_shp_binary_layout(tmp_path):
    """Spec-level assertions: magic, version, shape type 31, record framing,
    and the shx index actually pointing at each record."""
    tris = _box_triangles()
    base = str(tmp_path / "one")
    shp.write_multipatch(
        base, [tris], [{"volume": 8, "area": 24, "clusterid": 7, "ground": False, "status": "New"}]
    )
    raw = (tmp_path / "one.shp").read_bytes()
    assert struct.unpack_from(">i", raw, 0)[0] == 9994
    assert struct.unpack_from("<2i", raw, 28) == (1000, 31)
    # big-endian file length in 16-bit words == actual byte length / 2
    assert struct.unpack_from(">i", raw, 24)[0] * 2 == len(raw)
    # first record: number 1, content starts with shape type 31, 12 strip parts
    recno, clen = struct.unpack_from(">2i", raw, 100)
    assert recno == 1 and 108 + clen * 2 == len(raw)
    assert struct.unpack_from("<i", raw, 108)[0] == 31
    n_parts, n_pts = struct.unpack_from("<2i", raw, 108 + 36)
    assert n_parts == 12 and n_pts == 36
    idx = (tmp_path / "one.shx").read_bytes()
    off_words, len_words = struct.unpack_from(">2i", idx, 100)
    assert off_words * 2 == 100 and len_words == clen
    # part types are all TRIANGLE_STRIP (0), matching the reference writer
    ptypes = np.frombuffer(raw, "<i4", n_parts, 108 + 44 + 4 * n_parts)
    assert (ptypes == shp.TRIANGLE_STRIP).all()


def test_cluster_hull_meshes_to_multipatch(spark, tmp_path):
    """End-to-end S10: clustered points -> per-cluster hull meshes ->
    multipatch file; volumes in the .dbf match hull_volume_area to the
    2-decimal rounding, and the mesh read back is a closed hull (divergence
    volume of the written triangles == recorded volume)."""
    rng = np.random.default_rng(3)
    pts = pd.DataFrame(
        {
            "pid": np.arange(600),
            "x": np.concatenate([rng.uniform(0, 10, 300), rng.uniform(50, 58, 300)]),
            "y": np.concatenate([rng.uniform(0, 10, 300), rng.uniform(20, 26, 300)]),
            "z": np.concatenate([rng.uniform(0, 4, 300), rng.uniform(0, 6, 300)]),
            "dz": np.concatenate([np.full(300, 1.5), np.full(300, -0.5)]),
            "cluster_id": np.repeat([0, 1], 300),
        }
    )
    meshes = hull.cluster_hulls(spark.createDataFrame(pts))
    base = str(tmp_path / "vcd_clusters")
    man = shp.write_cluster_multipatch(meshes, base, crs_wkt='PROJCS["utm"]')
    assert man["n_shapes"] == 2
    back = shp.read_multipatch(base)
    assert [r["clusterid"] for r in back] == [0, 1]
    assert [r["status"] for r in back] == ["New", "Fled"]
    for r, cid in zip(back, [0, 1]):
        sub = pts[pts.cluster_id == cid][["x", "y", "z"]].to_numpy()
        vol, _area = hull.hull_volume_area(sub)
        assert r["volume"] == pytest.approx(vol, abs=0.01)  # N-field 2-dec rounding
        # written triangles form the same closed surface: divergence volume
        tri = r["triangles"]
        c = tri.reshape(-1, 3).mean(axis=0)
        v = np.abs(((tri[:, 0] - c) * np.cross(tri[:, 1] - c, tri[:, 2] - c)).sum() / 6.0)
        assert v == pytest.approx(vol, rel=1e-9)


def test_vcd_export_multipatch_api(spark, tmp_path):
    """vcd.export_multipatch — the pipeline-level wrapper (reference
    vcd/main.py mesh stage) — writes a readable multipatch set."""
    from codem_spark import vcd

    rng = np.random.default_rng(9)
    clustered = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": np.arange(200),
                "x": rng.uniform(0, 30, 200),
                "y": rng.uniform(0, 30, 200),
                "z": rng.uniform(0, 10, 200),
                "dz": np.full(200, 2.0),
                "cluster_id": np.zeros(200, dtype=np.int64),
            }
        )
    )
    man = vcd.export_multipatch(clustered, str(tmp_path / "vcd_out"), crs_wkt="PROJCS[\"p\"]")
    assert man["n_shapes"] == 1
    back = shp.read_multipatch(str(tmp_path / "vcd_out"))
    assert back[0]["status"] == "New" and back[0]["volume"] > 0
