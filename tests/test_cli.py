"""CLI entry point (reference ``codem fnd aoi`` / ``vcd before after``,
src/codem/main.py:182-396, src/vcd/main.py:351-360): artifacts + resume."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pytest

from codem_spark import main as cli
from tests.test_registration import _surface


@pytest.fixture(scope="module")
def scene(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    rng = np.random.default_rng(17)
    n = 40_000
    x = rng.uniform(0, 1000, n)
    y = rng.uniform(0, 1000, n)
    z = _surface(x, y) + rng.normal(0, 0.05, n)
    fnd = pd.DataFrame({"pid": np.arange(n), "x": x, "y": y, "z": z})
    m = (x > 200) & (x < 800) & (y > 200) & (y < 800)
    aoi = fnd[m].copy()
    aoi["x"] += 10.0
    aoi["z"] += 1.5
    fnd_p = str(root / "fnd.parquet")
    aoi_p = str(root / "aoi.parquet")
    spark.createDataFrame(fnd).write.parquet(fnd_p)
    spark.createDataFrame(aoi).write.parquet(aoi_p)
    return root, fnd_p, aoi_p


def test_cli_register_writes_artifacts_and_resumes(spark, scene):
    root, fnd_p, aoi_p = scene
    out_dir = str(root / "run1")
    rc = cli.main(
        ["register", fnd_p, aoi_p, "--output-dir", out_dir,
         "--min-resolution", "4.0", "--resolution", "4.0", "--icp-max-iter", "10"],
        spark=spark,
    )
    assert rc == 0
    assert os.path.exists(os.path.join(out_dir, "config.json"))
    with open(os.path.join(out_dir, "registration.json")) as fh:
        rec = json.load(fh)
    # the planted shift is (+10, 0, +1.5): the fine transform must undo it
    assert rec["fine"]["trans_x"] == pytest.approx(-10.0, abs=1.0)
    assert rec["fine"]["trans_z"] == pytest.approx(-1.5, abs=0.5)
    assert os.path.isdir(os.path.join(out_dir, "registered_aoi"))
    # match-visualization PNG (reference _save_match_img): decodable with
    # the engine's own codec, side-by-side canvas, green inlier lines
    from codem_spark.functions import imagecodec

    with open(os.path.join(out_dir, "dsm_feature_matches.png"), "rb") as fh:
        img = imagecodec.decode_png(fh.read())
    assert img.ndim == 3 and img.shape[2] == 3
    assert img.shape[1] > img.shape[0]  # two half-images + gap: wide canvas
    is_green = (img[:, :, 1] == 255) & (img[:, :, 0] == 0) & (img[:, :, 2] == 0)
    assert is_green.sum() > 50  # match lines drawn
    # resume: a second invocation must skip the solve (fast, same record)
    t0 = time.time()
    rc = cli.main(
        ["register", fnd_p, aoi_p, "--output-dir", out_dir,
         "--min-resolution", "4.0", "--resolution", "4.0", "--icp-max-iter", "10"],
        spark=spark,
    )
    assert rc == 0
    assert time.time() - t0 < 10.0


def test_cli_vcd_writes_products(spark, scene):
    root, fnd_p, aoi_p = scene
    out_dir = str(root / "vcd1")
    rc = cli.main(
        ["vcd", fnd_p, aoi_p, "--output-dir", out_dir,
         "--ground-height", "1.0", "--tolerance", "25.0",
         "--min-points", "5", "--resolution", "20.0", "--knn-radius", "30.0"],
        spark=spark,
    )
    assert rc == 0
    for stage in ("clustered", "summaries", "product_raised", "product_lowered", "product_all"):
        assert os.path.isdir(os.path.join(out_dir, stage)), stage
    manifests = [f for f in os.listdir(out_dir) if f.startswith("stage_")]
    assert len(manifests) == 5


def test_cli_register_residuals_and_quantized_output(spark, scene):
    """--icp-save-residuals (reference main.py:318-323 / apply.py:375-391)
    and --offset-*/--scale-* (main.py:150-163) driven end-to-end."""
    root, fnd_p, aoi_p = scene
    out_dir = str(root / "run_resid")
    rc = cli.main(
        ["register", fnd_p, aoi_p, "--output-dir", out_dir,
         "--min-resolution", "4.0", "--resolution", "4.0", "--icp-max-iter", "10",
         "--icp-save-residuals",
         "--offset-x", "0", "--offset-y", "0", "--offset-z", "0",
         "--scale-x", "0.01", "--scale-y", "0.01", "--scale-z", "0.01"],
        spark=spark,
    )
    assert rc == 0
    reg = spark.read.parquet(os.path.join(out_dir, "registered_aoi"))
    for c in ("residual_x", "residual_y", "residual_z", "residual_horiz", "residual_3d"):
        assert c in reg.columns, reg.columns
    # residuals vs the foundation must be small (the scene is registered)
    med = reg.approxQuantile("residual_3d", [0.5], 0.01)[0]
    assert med is not None and med < 4.0
    # quantized copy: int32 coords + manifest scale/offset roundtrip
    from codem_spark.io import tables

    qpath = os.path.join(out_dir, "registered_aoi_quantized")
    qdf = spark.read.parquet(qpath)
    assert dict(qdf.dtypes)["x"] == "int"
    back = tables.quantized_point_read(spark, qpath)
    a = back.select("pid", "x").toPandas().sort_values("pid")
    b = reg.select("pid", "x").toPandas().sort_values("pid")
    assert (abs(a.x.values - b.x.values) <= 0.005 + 1e-9).all()


def test_cli_register_tight_search_off(spark, scene):
    """--tight-search false (the reference's default): no overlap clip; the
    pipeline still recovers the planted shift over the union extent."""
    root, fnd_p, aoi_p = scene
    out_dir = str(root / "run_notight")
    rc = cli.main(
        ["register", fnd_p, aoi_p, "--output-dir", out_dir,
         "--min-resolution", "4.0", "--icp-max-iter", "10",
         "--tight-search", "false"],
        spark=spark,
    )
    assert rc == 0
    with open(os.path.join(out_dir, "registration.json")) as fh:
        rec = json.load(fh)
    assert rec["fine"]["trans_x"] == pytest.approx(-10.0, abs=1.0)


def test_cli_vcd_flags_and_colored_points(spark, scene):
    """vcd --cull-cluster-ids/--trust-labels/--colormap/--spacing-override +
    the colored quantized cluster cloud (reference save(),
    vcd/preprocessing/preprocess.py:332-369)."""
    root, fnd_p, aoi_p = scene
    out_dir = str(root / "vcd_flags")
    rc = cli.main(
        ["vcd", fnd_p, aoi_p, "--output-dir", out_dir,
         "--ground-height", "1.0", "--cluster-tolerance", "25.0",
         "--min-points", "5", "--resolution", "20.0", "--knn-radius", "30.0",
         "--cull-cluster-ids", "-1", "--trust-labels",
         "--colormap", "bwr", "--spacing-override", "0.5"],
        spark=spark,
    )
    assert rc == 0
    with open(os.path.join(out_dir, "config.json")) as fh:
        cfgrec = json.load(fh)
    assert cfgrec["trust_labels"] is True
    assert cfgrec["colormap"] == "bwr"
    assert cfgrec["spacing_override"] == 0.5
    from codem_spark.io import tables

    pts = tables.quantized_point_read(spark, os.path.join(out_dir, "points", "clusters"))
    for c in ("red", "green", "blue", "cluster_id", "dz"):
        assert c in pts.columns, pts.columns
    pdf = pts.select("red", "green", "blue", "cluster_id").toPandas()
    assert len(pdf) > 0
    for c in ("red", "green", "blue"):
        assert pdf[c].between(0, 65535).all()
    # cull applied: no -1 (small-cluster) ids in the product
    assert (pdf.cluster_id != -1).all()
