"""spark-submit-able CLI — the engine twin of the reference's two entry
points (``codem <foundation> <aoi> [opts]``, src/codem/main.py:182-396, and
``vcd <before> <after>``, src/vcd/main.py:351-360).

    spark-submit --py-files codem_spark.zip -m codem_spark.main \
        register fnd.parquet aoi.parquet --output-dir runs/r1 [opts]
    ... vcd before.parquet after.parquet --output-dir runs/v1 [opts]

Inputs are point tables (parquet with x, y, z [, pid]) — the cluster-scale
equivalent of the reference's GeoTIFF/LAS readers. Every run writes the
reference's artifact set (config.json = config.yml, registration.json =
registration.txt fields dsm.py:434-466, registered AOI table) through
io/lineage.run_stage, so a rerun after failure resumes at the last
completed stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from codem_spark import util


def _bool_arg(s: str) -> bool:
    return s.lower() != "false"


def _csv_ints(s: str) -> tuple[int, ...]:
    return tuple(int(v) for v in s.split(",") if v.strip() != "")


def _add_register_args(p: argparse.ArgumentParser) -> None:
    """The reference `codem` argparse contract (src/codem/main.py:182-396),
    minus presentation-only options (--log-type, --websocket-url, progress
    UI selection)."""
    p.add_argument("foundation_file")
    p.add_argument("aoi_file")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--min-resolution", type=float, default=1.0)
    p.add_argument("--resolution", type=float, default=None,
                   help="pipeline resolution override (meters); default: estimated")
    p.add_argument("--fnd-units", default="m")
    p.add_argument("--aoi-units", default="m")
    p.add_argument("--dsm-akaze-threshold", type=float, default=0.0001,
                   help="accepted and recorded in config.json for reference CLI parity; "
                        "unused (the Harris detector has its own fixed threshold)")
    p.add_argument("--dsm-lowes-ratio", type=float, default=0.9)
    p.add_argument("--dsm-ransac-max-iter", type=int, default=10000)
    p.add_argument("--dsm-ransac-threshold", type=float, default=10.0)
    p.add_argument("--dsm-strong-filter", type=float, default=10.0)
    p.add_argument("--dsm-weak-filter", type=float, default=1.0)
    p.add_argument("--dsm-solve-scale", type=_bool_arg, default=True)
    p.add_argument("--icp-angle-threshold", type=float, default=0.001)
    p.add_argument("--icp-distance-threshold", type=float, default=0.001)
    p.add_argument("--icp-max-iter", type=int, default=100)
    p.add_argument("--icp-rmse-threshold", type=float, default=0.0001)
    p.add_argument("--icp-robust", type=_bool_arg, default=True)
    p.add_argument("--icp-solve-scale", type=_bool_arg, default=True)
    p.add_argument("--icp-save-residuals", action="store_true",
                   help="append per-point residual columns to the registered table "
                        "(reference --ICP_SAVE_RESIDUALS, main.py:318-323)")
    # LAS-style output quantization (reference --OFFSET_*/--SCALE_*,
    # main.py:150-163): any non-auto value adds a quantized int32 copy of
    # the registered table (io/tables.quantized_point_write)
    for ax in ("x", "y", "z"):
        p.add_argument(f"--offset-{ax}", default="auto",
                       type=lambda s: s if s == "auto" else int(s))
        p.add_argument(f"--scale-{ax}", default="auto",
                       type=lambda s: s if s == "auto" else float(s))
    # reference --TIGHT_SEARCH defaults OFF (main.py:366-373); the engine
    # defaults ON (partition pruning at scale — documented divergence)
    p.add_argument("--tight-search", type=_bool_arg, default=True)
    # engine extra: opt out of the reference's _dsm2pc early downsample and
    # run fine ICP on the raw full-density clouds
    p.add_argument("--icp-full-density", action="store_true")


def _add_vcd_args(p: argparse.ArgumentParser) -> None:
    """The reference `vcd` argparse contract (src/vcd/main.py:75-160), minus
    presentation-only options."""
    p.add_argument("before_file")
    p.add_argument("after_file")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--ground-height", type=float, default=1.0)
    p.add_argument("--tolerance", "--cluster-tolerance", dest="tolerance",
                   type=float, default=2.0)
    p.add_argument("--min-points", type=int, default=30)
    p.add_argument("--resolution", type=float, default=1.0)
    p.add_argument("--knn-radius", type=float, default=50.0)
    p.add_argument("--cull-cluster-ids", type=_csv_ints, default=(-1,),
                   help="comma-separated cluster ids dropped from products/meshes "
                        "(reference default '-1,0'; engine labels reserve only -1)")
    p.add_argument("--class-labels", type=_csv_ints, default=(2, 6),
                   help="classification labels kept before clustering "
                        "(applies only when the input has a classification column)")
    p.add_argument("--trust-labels", action="store_true",
                   help="trust existing classifications: skip the noise/water drops")
    p.add_argument("--compute-hag", action="store_true",
                   help="dZ = TIN height-above-ground (before=ground) instead of "
                        "nearest-3D-point dZ")
    p.add_argument("--colormap", default="bwr",
                   help="recorded in config; the engine ships its built-in "
                        "diverging blue-white-red ramp")
    p.add_argument("--spacing-override", type=float, default=None)


def _read_points(spark: SparkSession, path: str):
    """Point input dispatch, mirroring the reference's PipelineReader
    (preprocess.py:601-635): a .json input is a PDAL-style pipeline spec
    (reader + filter stages; writers stripped); anything else goes through
    io/tables.read_points (mesh vertices, manifest tables incl. quantized
    ones, plain parquet)."""
    if os.path.splitext(path)[1].lower() == ".json":
        from codem_spark.plans.pipeline_json import pipeline_from_json

        df, _writers = pipeline_from_json(spark, path)
    else:
        from codem_spark.io import tables

        df = tables.read_points(spark, path)
    if "pid" not in df.columns:
        df = df.withColumn("pid", F.xxhash64("x", "y", "z"))
    return df.select("pid", "x", "y", "z")


def cmd_register(spark: SparkSession, args: argparse.Namespace) -> dict:
    from codem_spark.config import EngineConfig
    from codem_spark.io import lineage
    from codem_spark.registration import pipeline as P

    cfg = EngineConfig(
        min_resolution=args.min_resolution,
        dsm_akaze_threshold=args.dsm_akaze_threshold,
        dsm_lowes_ratio=args.dsm_lowes_ratio,
        dsm_ransac_max_iter=args.dsm_ransac_max_iter,
        dsm_ransac_threshold=args.dsm_ransac_threshold,
        dsm_strong_filter=args.dsm_strong_filter,
        dsm_weak_filter=args.dsm_weak_filter,
        dsm_solve_scale=args.dsm_solve_scale,
        icp_angle_threshold=args.icp_angle_threshold,
        icp_distance_threshold=args.icp_distance_threshold,
        icp_max_iter=args.icp_max_iter,
        icp_rmse_threshold=args.icp_rmse_threshold,
        icp_robust=args.icp_robust,
        icp_solve_scale=args.icp_solve_scale,
        icp_save_residuals=args.icp_save_residuals,
        icp_full_density=args.icp_full_density,
        tight_search=args.tight_search,
        offset_x=args.offset_x, offset_y=args.offset_y, offset_z=args.offset_z,
        scale_x=args.scale_x, scale_y=args.scale_y, scale_z=args.scale_z,
    )
    os.makedirs(args.output_dir, exist_ok=True)
    cfg.dump(os.path.join(args.output_dir, "config.json"))
    # resume: a completed run (record + registered table with matching
    # fingerprint) is returned without recomputation
    reg_path = os.path.join(args.output_dir, "registration.json")
    fp = f"{args.foundation_file}|{args.aoi_file}"
    if os.path.exists(reg_path) and lineage.stage_complete(
        args.output_dir, "registered_aoi", fp
    ):
        with open(reg_path) as fh:
            return json.load(fh)
    fnd = _read_points(spark, args.foundation_file)
    aoi = _read_points(spark, args.aoi_file)
    capture: dict = {}
    c, f, out = P.register(
        fnd, aoi, cfg=cfg, resolution=args.resolution,
        fnd_units=args.fnd_units, aoi_units=args.aoi_units,
        capture=capture,
    )
    # feature-match visualization PNG, written on every register run like
    # the reference (_save_match_img, dsm.py:276-333); from-scratch
    # numpy raster + PNG encode — no cv2 in the container
    from codem_spark.registration import viz as viz_mod

    viz_mod.save_match_visualization(
        capture, os.path.join(args.output_dir, "dsm_feature_matches.png")
    )
    if cfg.icp_save_residuals:
        # reference --ICP_SAVE_RESIDUALS (apply.py:375-391): append
        # ResidualX/Y/Z/Horiz/3D columns = registered point minus nearest
        # foundation point, in foundation native units
        from codem_spark.functions import crs
        from codem_spark.operators import grid

        bf = grid.bounds(fnd)
        bo = grid.bounds(out)
        ext = grid.bbox_union(bf, bo)
        ff = crs.units_factor(args.fnd_units)
        radius = max(
            2.0 * (args.resolution or args.min_resolution), 4.0 * f.rmse_3d
        ) / ff  # rmse/resolution are meters; the output table is fnd-native
        out = P.with_residuals(out, fnd, ext, radius)
    # registration.json: the reference's registration.txt field set
    # (dsm.py:434-466) for both stages
    rec = {"coarse": c.to_dict(), "fine": f.to_dict(),
           "fnd_units": args.fnd_units, "aoi_units": args.aoi_units}
    with open(os.path.join(args.output_dir, "registration.json"), "w") as fh:
        json.dump(rec, fh, indent=2)
    lineage.run_stage(
        spark, args.output_dir, "registered_aoi", lambda: out,
        input_fingerprint=fp,
        metrics={"rmse_3d": f.rmse_3d, "n_pairs": f.n_pairs},
    )
    offsets = (cfg.offset_x, cfg.offset_y, cfg.offset_z)
    scales = (cfg.scale_x, cfg.scale_y, cfg.scale_z)
    if any(v != "auto" for v in offsets + scales):
        # reference OFFSET_*/SCALE_* writer kwargs (apply.py:343-353): a
        # LAS-style int32-quantized copy with the scale/offset recorded in
        # the table manifest
        from codem_spark.io import tables

        tables.quantized_point_write(
            out, os.path.join(args.output_dir, "registered_aoi_quantized"),
            offsets=offsets, scales=scales,
        )
    return rec


def cmd_vcd(spark: SparkSession, args: argparse.Namespace) -> dict:
    from codem_spark import vcd
    from codem_spark.io import lineage
    from codem_spark.operators import grid

    cfg = vcd.VcdConfig(
        ground_height=args.ground_height, tolerance=args.tolerance,
        min_points=args.min_points, resolution=args.resolution,
        knn_radius=args.knn_radius,
        trust_labels=args.trust_labels, compute_hag=args.compute_hag,
        class_labels=tuple(args.class_labels),
        cull_cluster_ids=tuple(args.cull_cluster_ids),
        colormap=args.colormap, spacing_override=args.spacing_override,
    )
    os.makedirs(args.output_dir, exist_ok=True)
    with open(os.path.join(args.output_dir, "config.json"), "w") as fh:
        json.dump({**cfg.__dict__, "before": args.before_file, "after": args.after_file},
                  fh, indent=2)
    before = _read_points(spark, args.before_file)
    after = _read_points(spark, args.after_file)
    bb = grid.bounds(before)
    ba = grid.bounds(after)
    extent = grid.bbox_union(bb, ba)
    clustered, summaries, prods = vcd.run_vcd(before, after, extent, cfg)
    fp = f"{args.before_file}|{args.after_file}"
    clus = lineage.run_stage(
        spark, args.output_dir, "clustered", lambda: clustered, input_fingerprint=fp
    )
    lineage.run_stage(spark, args.output_dir, "summaries", lambda: summaries, input_fingerprint=fp)
    for name, df in prods.items():
        lineage.run_stage(spark, args.output_dir, f"product_{name}",
                          lambda df=df: df, input_fingerprint=fp)
    # colored cluster point cloud (reference save(), vcd/preprocessing/
    # preprocess.py:332-369): diverging-colormap uint16 RGB + LAS-style
    # int32 scale/offset quantization, under points/ like the reference
    from codem_spark.io import tables

    tables.quantized_point_write(
        clus, os.path.join(args.output_dir, "points", "clusters")
    )
    # final interchange export, like the reference's meshes/ dir
    # (vcd/main.py Mesh.write): per-cluster hull multipatch shapefile
    vcd.export_multipatch(clus, os.path.join(args.output_dir, "meshes", "clusters"))
    return {"extent": list(extent)}


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    ap = argparse.ArgumentParser(prog="codem-spark")
    sub = ap.add_subparsers(dest="command", required=True)
    _add_register_args(sub.add_parser("register", help="coarse+fine co-registration"))
    _add_vcd_args(sub.add_parser("vcd", help="vertical change detection"))
    args = ap.parse_args(argv)
    own_session = spark is None
    if spark is None:
        from codem_spark.session import get_spark

        spark = get_spark(app_name=f"codem_spark_{args.command}")
    try:
        # the frames run_vcd returns read its caches until the command has
        # written its outputs
        with util.cache_scope():
            if args.command == "register":
                cmd_register(spark, args)
            else:
                cmd_vcd(spark, args)
    finally:
        if own_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
