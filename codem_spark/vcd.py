"""Vertical change detection (VCD) pipeline — the reference's second CLI
(§3.2 of SURVEY.md; reference src/vcd/main.py:216-349 stage sequence).

    before/after point tables
      -> preprocessing filter chain (F4-F8: class/returns/range predicates)
      -> J3 nearest-before dZ join (vcd/preprocessing/preprocess.py:196-199)
      -> threshold + class filters (":226-231")
      -> J8 Euclidean clustering (":234-249")
      -> G6 cluster-size window count (":253-256")
      -> G7/A7 per-cluster hull summaries (vcd/meshing/mesh.py:18-105)
      -> S8/G3 IDW product rasters (":283-325")

Every stage is a DataFrame -> DataFrame function (composable, resumable via
io/lineage.run_stage); the filter chain is pure Catalyst, the joins are the
tile+halo kernels.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.operators import cluster as cluster_mod
from codem_spark.operators import grid, hull, knn

Extent = tuple[float, float, float, float]


@dataclass
class VcdConfig:
    """Each field is also a flag of ``codem-spark vcd`` (main.py), built the
    way :class:`~codem_spark.config.EngineConfig` documents."""

    ground_height: float = 1.0  # dZ threshold (reference ground_height, vcd/main.py:33)
    tolerance: float = field(  # cluster tolerance (":35")
        default=2.0, metadata={"aliases": ("--cluster-tolerance",)})
    min_points: int = 30  # cluster cull (":34")
    resolution: float = 1.0  # product raster resolution (":32")
    knn_radius: float = 50.0  # dZ join search bound
    # reference VcdRunConfig extras (vcd/main.py:20-37):
    # TRUST_LABELS (":162-174")
    trust_labels: bool = field(default=False, metadata={
        "help": "trust existing classifications: skip the noise/water drops"})
    # COMPUTE_HAG (":194-221")
    compute_hag: bool = field(default=False, metadata={"help": (
        "dZ = TIN height-above-ground (before=ground) instead of "
        "nearest-3D-point dZ")})
    # CLASS_LABELS (":234-239"). Reference default (2, 6) = ground +
    # building after its SMRF re-label; the engine keeps input labels as-is.
    class_labels: tuple[int, ...] = field(default=(2, 6), metadata={"help": (
        "classification labels kept before clustering "
        "(applies only when the input has a classification column)")})
    # CULL_CLUSTER_IDS (":245-249"). PDAL reserves 0 for 'unclustered';
    # engine labels are min-pids with -1 = below-min_points, so 0 can be a
    # REAL cluster here.
    cull_cluster_ids: tuple[int, ...] = field(default=(-1,), metadata={"help": (
        "comma-separated cluster ids dropped from products/meshes "
        "(reference default '-1,0'; engine labels reserve only -1)")})
    # COLORMAP (":140-147"): the ramp is grid.colormap_encode
    colormap: str = field(default="bwr", metadata={"help": (
        "recorded in config; the engine ships its built-in "
        "diverging blue-white-red ramp")})
    # SPACING override (vcd/main.py:95-99): accepted for CLI contract
    # parity; the reference parses it into VcdRunConfig but its pipeline
    # never consumes it (grep: only main.py references SPACING).
    spacing_override: float | None = None

    def __post_init__(self) -> None:
        if self.ground_height <= 0:
            raise ValueError("ground_height must be greater than 0.")
        if self.tolerance <= 0:
            raise ValueError("cluster tolerance must be greater than 0.")
        if self.min_points < 1:
            raise ValueError("min_points must be a positive integer.")
        if self.resolution <= 0:
            raise ValueError("resolution must be greater than 0.")
        if self.spacing_override is not None and self.spacing_override <= 0:
            raise ValueError("spacing_override must be greater than 0.")


def preprocess_filters(points: DataFrame, cfg: VcdConfig | None = None) -> DataFrame:
    """The reference's PDAL filter chain re-expressed as SQL predicates
    (vcd/preprocessing/preprocess.py:162-174):
      Classification![7:7], ![18:), ![9:9]  (noise/water dropped)
      returns: keep only-returns (return_number == number_of_returns == 1
      semantics for 'only' group).
    With ``trust_labels`` (reference ":172-174") existing classifications
    are trusted: only the returns filter runs."""
    cfg = cfg or VcdConfig()
    if cfg.trust_labels:
        out = points
    else:
        out = points.filter(
            ~F.col("classification").isin([7, 9]) & (F.col("classification") < 18)
        )
    if "return_number" in points.columns:
        out = out.filter((F.col("return_number") == 1) & (F.col("number_of_returns") == 1))
    return out


def compute_dz(
    before: DataFrame, after: DataFrame, extent: Extent, cfg: VcdConfig
) -> DataFrame:
    """J3: each after-point -> nearest before-point (3D), dz = z_a - z_b
    (reference VCD.compute_indexes, vcd/preprocessing/preprocess.py:196-199).
    Output: (pid, x, y, z, dz)."""
    j = knn.knn_join_complete(
        after.select("pid", "x", "y", "z"),
        before.select("pid", "x", "y", "z"),
        extent,
        radius=cfg.knn_radius,
        l_carry=("x", "y", "z"),
        r_carry=("z",),
    )
    return j.select(
        "pid",
        F.col("l_x").alias("x"),
        F.col("l_y").alias("y"),
        F.col("l_z").alias("z"),
        (F.col("l_z") - F.col("r_z")).alias("dz"),
    )


def compute_hag_dz(
    before: DataFrame, after: DataFrame, extent: Extent, cfg: VcdConfig
) -> DataFrame:
    """COMPUTE_HAG workflow (reference vcd/preprocessing/preprocess.py:199-221):
    before = ground, after = non-ground; dz = z_after - TIN(before)(x, y) —
    the hag_delaunay analog, using the engine's distributed Bowyer-Watson
    TIN resample (J7). After-points outside the TIN / search radius have no
    ground height and are dropped (the reference's NaN HAG)."""
    from codem_spark.operators import resample

    g = resample.resample_to_points(
        before.select("x", "y", "z"),
        after.select("pid", "x", "y"),
        extent,
        radius=cfg.knn_radius,
        method="tin",
    ).select("pid", F.col("z").alias("_ground_z"))
    return (
        after.select("pid", "x", "y", "z")
        .join(g, "pid")
        .withColumn("dz", F.col("z") - F.col("_ground_z"))
        .filter(F.col("dz").isNotNull() & ~F.isnan("dz"))
        .select("pid", "x", "y", "z", "dz")
    )


def significant_changes(dz: DataFrame, cfg: VcdConfig) -> DataFrame:
    """Range predicate dZ3d![-gh:gh] — keep |dz| > ground_height
    (reference ':226')."""
    return dz.filter(F.abs(F.col("dz")) > cfg.ground_height)


def cluster_changes(changes: DataFrame, extent: Extent, cfg: VcdConfig) -> DataFrame:
    """J8 + G6: Euclidean-cluster the significant points; append cluster
    sizes; cull clusters below min_points (reference ':234-256')."""
    labelled = cluster_mod.euclidean_cluster(
        changes.select("pid", "x", "y", "z"),
        extent,
        tolerance=cfg.tolerance,
        min_points=cfg.min_points,
    )
    out = changes.join(labelled, "pid")
    return grid.cluster_sizes(out)


def products(changes: DataFrame, extent: Extent, cfg: VcdConfig) -> dict[str, DataFrame]:
    """The reference's Product set (vcd/preprocessing/preprocess.py:266-271):
    raised / lowered / combined change rasters, IDW-gridded (S8/G3)."""
    raised = changes.filter(F.col("dz") > 0)
    lowered = changes.filter(F.col("dz") < 0)
    out = {}
    for name, df in [("raised", raised), ("lowered", lowered), ("all", changes)]:
        out[name] = grid.grid_idw(
            df.select("x", "y", F.col("dz").alias("z")), extent, cfg.resolution
        )
    return out


def export_multipatch(
    clustered: DataFrame,
    path: str,
    crs_wkt: str | None = None,
) -> dict:
    """The reference's final mesh export (vcd/main.py Mesh.write,
    vcd/meshing/mesh.py:74-105): per-cluster 3D hull triangles as an ESRI
    MultiPatch shapefile with the volume/area/clusterid/ground/status
    attribute table and .prj WKT sidecar — written from scratch
    (io/shapefile.py), one record per cluster."""
    from codem_spark.io import shapefile as shapefile_io

    meshes = hull.cluster_hulls(clustered)
    return shapefile_io.write_cluster_multipatch(meshes, path, crs_wkt=crs_wkt)


def colored_clusters(clustered: DataFrame) -> DataFrame:
    """The reference's colored cluster point-cloud product (save(),
    vcd/preprocessing/preprocess.py:332-369): TwoSlopeNorm over the data's
    own dZ range (vmin = min dZ, vcenter = 0, vmax = max dZ) -> diverging
    colormap -> uint16 RGB channels per the LAS spec, appended to the
    cluster cloud. Engine: the same piecewise norm + built-in
    blue-white-red ramp as pure column expressions (grid.colormap_encode)."""
    stats = clustered.agg(F.min("dz").alias("lo"), F.max("dz").alias("hi")).collect()[0]
    lo = float(stats["lo"] if stats["lo"] is not None else -1.0)
    hi = float(stats["hi"] if stats["hi"] is not None else 1.0)
    # TwoSlopeNorm requires vmin < vcenter < vmax; degenerate all-raised or
    # all-lowered scenes clamp the empty side to a unit span
    lo = min(lo, -1e-9)
    hi = max(hi, 1e-9)
    return grid.colormap_encode(clustered, "dz", vmin=lo, vcenter=0.0, vmax=hi)


def run_vcd(
    before: DataFrame,
    after: DataFrame,
    extent: Extent,
    cfg: VcdConfig | None = None,
) -> tuple[DataFrame, DataFrame, dict[str, DataFrame]]:
    """Full VCD run -> (clustered change points, cluster summaries,
    product rasters). The clustered frame carries uint16 RGB columns (the
    reference's colored LAS product), has cull_cluster_ids applied and is
    persisted. All three read caches of the caller's cache scope
    (``util.cache_scope``), which releases them."""
    cfg = cfg or VcdConfig()
    b = preprocess_filters(before, cfg) if "classification" in before.columns else before
    a = preprocess_filters(after, cfg) if "classification" in after.columns else after
    dz = (
        compute_hag_dz(b, a, extent, cfg)
        if cfg.compute_hag
        else compute_dz(b, a, extent, cfg)
    )
    sig = significant_changes(dz, cfg)
    # CLASS_LABELS keep-filter before clustering (reference ":234-239");
    # only meaningful when the input carries a classification column
    if "classification" in after.columns and cfg.class_labels:
        keep = after.select("pid", "classification")
        sig = (
            sig.join(keep, "pid")
            .filter(F.col("classification").isin(list(cfg.class_labels)))
            .drop("classification")
        )
    clustered = cluster_changes(sig, extent, cfg)
    # CULL_CLUSTER_IDS (reference ":245-249") before products/meshes
    if cfg.cull_cluster_ids:
        clustered = clustered.filter(
            ~F.col("cluster_id").isin(list(cfg.cull_cluster_ids))
        )
    # the color-range agg materializes the cluster cache, and the colored
    # frame is cached from it
    clustered = util.persist(clustered)
    colored = util.persist(colored_clusters(clustered))
    colored.count()
    util.release(clustered)
    summaries = hull.cluster_summaries(colored)
    prods = products(sig, extent, cfg)
    return colored, summaries, prods
