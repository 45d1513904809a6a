"""S5/S10: PLY/OBJ vertex ingestion + shapefile-equivalent attribute sink.

Reference: Mesh._create_dsm loads mesh vertices as a point cloud
(preprocess.py:740-792); the 18-case matrix registers mesh AOIs like any
other geometry type. Here a generated PLY AOI goes through the FULL
register() pipeline and recovers a planted transform.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from codem_spark.io import mesh

EXT = (0.0, 0.0, 500.0, 500.0)


def test_ascii_ply_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(4)
    pdf = pd.DataFrame(
        {
            "x": rng.uniform(0, 100, 257),
            "y": rng.uniform(0, 100, 257),
            "z": rng.uniform(0, 10, 257),
        }
    )
    p = str(tmp_path / "pts.ply")
    mesh.write_ply_ascii(pdf, p)
    back = mesh.read_ply_vertices(spark, p).toPandas().sort_values("pid")
    assert len(back) == 257
    np.testing.assert_allclose(back[["x", "y", "z"]].to_numpy(), pdf.to_numpy(), rtol=1e-9)


def test_binary_ply_with_extra_properties(spark, tmp_path):
    n = 100
    rng = np.random.default_rng(5)
    rec = np.zeros(
        n, dtype=[("x", "<f4"), ("y", "<f4"), ("z", "<f4"), ("nx", "<f4"), ("red", "<u1")]
    )
    rec["x"] = rng.uniform(0, 50, n).astype(np.float32)
    rec["y"] = rng.uniform(0, 50, n).astype(np.float32)
    rec["z"] = rng.uniform(0, 5, n).astype(np.float32)
    header = (
        "ply\nformat binary_little_endian 1.0\n"
        f"element vertex {n}\n"
        "property float x\nproperty float y\nproperty float z\n"
        "property float nx\nproperty uchar red\n"
        "element face 0\nproperty list uchar int vertex_indices\n"
        "end_header\n"
    )
    p = str(tmp_path / "bin.ply")
    with open(p, "wb") as f:
        f.write(header.encode("ascii"))
        f.write(rec.tobytes())
    back = mesh.read_ply_vertices(spark, p).toPandas().sort_values("pid")
    np.testing.assert_allclose(back["x"].to_numpy(), rec["x"].astype(np.float64), rtol=1e-6)
    np.testing.assert_allclose(back["z"].to_numpy(), rec["z"].astype(np.float64), rtol=1e-6)


def test_obj_vertices_distributed(spark, tmp_path):
    p = str(tmp_path / "m.obj")
    with open(p, "w") as f:
        f.write("# comment\no thing\n")
        for i in range(500):
            f.write(f"v {i * 0.5} {i * 0.25} {i * 0.125}\n")
        f.write("vn 0 0 1\nf 1 2 3\n")  # normals/faces must be ignored
    df = mesh.read_obj_vertices(spark, p)
    pdf = df.toPandas().sort_values("x").reset_index(drop=True)
    assert len(pdf) == 500
    assert pdf.x.iloc[499] == pytest.approx(499 * 0.5)
    assert pdf.z.iloc[10] == pytest.approx(10 * 0.125)
    # the scan is distributed: no driver-side parse in the plan
    assert "Scan text" in df._jdf.queryExecution().executedPlan().toString()


def test_mesh_bad_inputs(spark, tmp_path):
    p = str(tmp_path / "bad.ply")
    with open(p, "wb") as f:
        f.write(b"not a ply at all")
    with pytest.raises(ValueError, match="PLY"):
        mesh.read_ply_vertices(spark, p)
    with pytest.raises(ValueError, match="unsupported mesh format"):
        mesh.read_mesh_vertices(spark, str(tmp_path / "x.stl"))


def test_ply_size_guard_names_the_size(spark, tmp_path, monkeypatch):
    """PLY parsing is driver-side, so files over PLY_MAX_BYTES are refused
    before the read; the guard reads the limit at call time."""
    import os

    p = str(tmp_path / "big.ply")
    mesh.write_ply_ascii(pd.DataFrame({"x": [0.0, 1.0], "y": [0.0, 1.0], "z": [0.0, 1.0]}), p)
    size = os.path.getsize(p)
    monkeypatch.setattr(mesh, "PLY_MAX_BYTES", size - 1)
    with pytest.raises(ValueError, match=f"PLY file is {size} bytes"):
        mesh.read_mesh_vertices(spark, p)


def test_ply_aoi_registers_end_to_end(spark, tmp_path):
    """Generated PLY AOI (planted rigid shift) -> read_mesh_vertices ->
    full register() pipeline recovers the inverse (reference matrix rows
    with type='mesh', tests/test_registration.py:66-115)."""
    import sys

    sys.path.insert(0, "/root/repo/tests")
    from test_registration import _surface

    from codem_spark.config import EngineConfig
    from codem_spark.registration import pipeline as P

    rng = np.random.default_rng(31)
    n = 20_000
    fx = rng.uniform(0, 500, n)
    fy = rng.uniform(0, 500, n)
    fz = _surface(fx, fy)
    fnd = pd.DataFrame({"pid": np.arange(n), "x": fx, "y": fy, "z": fz})
    m = (fx > 100) & (fx < 400) & (fy > 100) & (fy < 400)
    aoi = pd.DataFrame(
        {"x": fx[m] + 12.0, "y": fy[m] - 7.0, "z": fz[m] + 2.0}
    )
    ply = str(tmp_path / "aoi.ply")
    mesh.write_ply_ascii(aoi, ply)

    aoi_df = mesh.read_mesh_vertices(spark, ply)
    cfg = EngineConfig(min_resolution=4.0, icp_max_iter=10)
    c, f, out = P.register(
        spark.createDataFrame(fnd), aoi_df, extent=EXT, cfg=cfg, resolution=4.0
    )
    # Resolution-scaled envelope (0.25 * 4 m cells): the default fine path
    # registers the DSM-derived clouds (the reference's _dsm2pc early
    # downsample), so recovery is resolution-bounded — the reference's own
    # demo lands fine 3D RMSE ~0.6 m at 1 m res (docs/details.md:119-123).
    # This test pins the MESH INGEST plumbing end-to-end; exact-subset ICP
    # precision is pinned in test_registration (icp_full_density=True).
    assert abs(f.trans_x + 12.0) < 1.0
    assert abs(f.trans_y - 7.0) < 1.0
    assert abs(f.trans_z + 2.0) < 1.0
    assert f.rmse_3d < 4.0  # < 1 cell on grid-resampled clouds
