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
import dataclasses
import json
import os
import sys
import typing

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.config import EngineConfig


def _bool_arg(s: str) -> bool:
    v = s.lower()
    if v not in ("true", "false"):
        raise argparse.ArgumentTypeError(f"expected true or false, got {s!r}")
    return v == "true"


def _csv_ints(s: str) -> tuple[int, ...]:
    return tuple(int(v) for v in s.split(",") if v.strip() != "")


def _auto_or(num: type):
    return lambda s: s if s == "auto" else num(s)


def _add_config_args(p: argparse.ArgumentParser, cls: type) -> None:
    """One flag per field of the config dataclass ``cls``: ``--`` plus the
    field name with ``-`` for ``_``, the field's default, and a parser that
    follows from that default."""
    hints = typing.get_type_hints(cls)
    for f in dataclasses.fields(cls):
        d = f.default
        if isinstance(d, bool):
            kw = {"type": _bool_arg} if d else {"action": "store_true"}
        elif isinstance(d, tuple):
            kw = {"type": _csv_ints}
        elif d == "auto":
            kw = {"type": _auto_or(next(t for t in typing.get_args(hints[f.name])
                                        if t is not str))}
        elif d is None:
            kw = {"type": float}
        else:
            kw = {"type": type(d)}
        p.add_argument("--" + f.name.replace("_", "-"), *f.metadata.get("aliases", ()),
                       dest=f.name, default=d, help=f.metadata.get("help"), **kw)


def _config_from_args(cls: type, args: argparse.Namespace):
    return cls(**{f.name: getattr(args, f.name) for f in dataclasses.fields(cls)})


def _add_register_args(p: argparse.ArgumentParser) -> None:
    """The reference `codem` argparse contract (src/codem/main.py:182-396),
    minus presentation-only options (--log-type, --websocket-url, progress
    UI selection)."""
    p.add_argument("foundation_file")
    p.add_argument("aoi_file")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--resolution", type=float, default=None,
                   help="pipeline resolution override (meters); default: estimated")
    p.add_argument("--fnd-units", default="m")
    p.add_argument("--aoi-units", default="m")
    _add_config_args(p, EngineConfig)


def _add_vcd_args(p: argparse.ArgumentParser) -> None:
    """The reference `vcd` argparse contract (src/vcd/main.py:75-160), minus
    presentation-only options."""
    from codem_spark.vcd import VcdConfig

    p.add_argument("before_file")
    p.add_argument("after_file")
    p.add_argument("--output-dir", required=True)
    _add_config_args(p, VcdConfig)


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
    from codem_spark.io import lineage
    from codem_spark.registration import pipeline as P

    cfg = _config_from_args(EngineConfig, args)
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
    # feature-match visualization PNG, written on every register run like
    # the reference (_save_match_img, dsm.py:276-333)
    c, f, out = P.register(
        fnd, aoi, cfg=cfg, resolution=args.resolution,
        fnd_units=args.fnd_units, aoi_units=args.aoi_units,
        match_image=os.path.join(args.output_dir, "dsm_feature_matches.png"),
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

    cfg = _config_from_args(vcd.VcdConfig, args)
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
