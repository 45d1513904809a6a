"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the J3-style nearest-neighbor dZ
spatial join over two lineitem-derived point clouds) at sf0.001.
``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(+ the training-data tier); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for every SQL-expressible one. Column names and rounding are aligned on
both sides (the driver hash-compares values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXTENT = (0.0, 0.0, 100_000.0, 100_000.0)
PIP_RING = [(20000.0, 20000.0), (80000.0, 25000.0), (70000.0, 75000.0), (30000.0, 70000.0)]
# starting radius for the escalating NN join — a small start admits a fine
# tile level (radius rule) and a narrow halo; escalation keeps completeness
KNN_RADIUS = 2_500.0
# fixed output grid for the utm_warp query (UTM bbox of the lon/lat window
# [-105.1,-104.9]x[39.9,40.1] in zone 13N, precomputed so Spark and the
# DuckDB oracle bin onto the identical grid)
_UTM_WARP_EXTENT = (491451.0, 4416663.0, 508549.0, 4438862.0)


# ---------------------------------------------------------------- helpers
# Schema (metadata) cache for the driver tables: spark.read.parquet infers
# the schema with a footer-read job on EVERY call (~70 ms measured), and the
# bench rebuilds each query from scratch per pass — ~20 reads/pass across
# the suite. A metastore serves exactly this metadata on a real deployment.
# Only the schema is cached; every query still computes from the files.
_SCHEMA_CACHE: dict = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    sch = _SCHEMA_CACHE.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic point cloud derived from the driver's lineitem table
    (pid = l_orderkey*8 + l_linenumber; x/y/z from arithmetic id-lanes that
    DuckDB reproduces exactly — no trig, no hash)."""
    from codem_spark.functions import geo

    li = _read(spark, f"{sf_dir}/lineitem.parquet")
    pid = (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("pid")
    # (l_orderkey, l_linenumber) is not unique in the driver data — dedupe
    # so pid is a key (x/y/z are pure functions of pid)
    from codem_spark.util import rebalance

    df = rebalance(li.select(pid).distinct())
    x0, y0, x1, y1 = EXTENT
    return (
        df.withColumn("x", F.lit(x0) + geo.id_lane_col(F.col("pid"), 0) * F.lit(x1 - x0))
        .withColumn("y", F.lit(y0) + geo.id_lane_col(F.col("pid"), 1) * F.lit(y1 - y0))
        .withColumn("z", geo.id_lane_col(F.col("pid"), 2) * F.lit(100.0))
    )


def _points_sql() -> str:
    from codem_spark.functions.geo import id_lane_sql

    x0, y0, x1, y1 = EXTENT
    pid = "(l_orderkey * 8 + l_linenumber)"
    return f"""
    SELECT pid,
           {x0!r} + ({id_lane_sql('pid', 0)}) * {x1 - x0!r} AS x,
           {y0!r} + ({id_lane_sql('pid', 1)}) * {y1 - y0!r} AS y,
           ({id_lane_sql('pid', 2)}) * 100.0 AS z
    FROM (SELECT DISTINCT {pid} AS pid FROM lineitem)
    """


# ---------------------------------------------------------------- queries
def _q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.functions import cells

    pts = _points(spark, sf_dir)
    return (
        cells.with_cell(pts, "x", "y", EXTENT, 10)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
    )


def _q_grid_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import grid

    pts = _points(spark, sf_dir)
    out = grid.grid_max(pts, EXTENT, 2000.0)
    return out.select("gx", "gy", F.round("z", 6).alias("z_max"))


def _q_cell_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSM pyramid (r4): four cell-resolution levels from ONE shuffle keyed
    by the coarse ancestor cell — rollups are shuffle-free because
    HashPartitioning(ancestor) satisfies the rollup groupBys' clustering
    (operators/grid.cell_pyramid; exchange count asserted in
    tests/test_grid.py)."""
    from codem_spark.operators import grid

    pts = _points(spark, sf_dir)
    out = grid.cell_pyramid(pts, EXTENT, level=10, coarsest=7)
    return out.select("level", "cell", F.round("z_max", 6).alias("z_max"), "n")


def _q_grid_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import grid

    pts = _points(spark, sf_dir).filter(F.col("pid") % 16 == 1)
    out = grid.grid_idw(pts, EXTENT, 5000.0)
    return out.select("gx", "gy", F.round("z", 6).alias("z_idw"))


def _q_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import grid

    pts = _points(spark, sf_dir)
    return grid.density(pts, EXTENT, 6)


def _q_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return pts.agg(
        F.round(F.min("x"), 6).alias("x0"),
        F.round(F.min("y"), 6).alias("y0"),
        F.round(F.max("x"), 6).alias("x1"),
        F.round(F.max("y"), 6).alias("y1"),
        F.count("*").alias("n"),
    )


def _q_bbox_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import grid

    pts = _points(spark, sf_dir)
    out = grid.clip_bbox(pts, (25_000.0, 25_000.0, 75_000.0, 75_000.0))
    return out.select("pid")


def _q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import pip

    pts = _points(spark, sf_dir)
    return pip.clip_to_polygon(pts, PIP_RING).select("pid")


def _q_knn_dz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: J3-style nearest-neighbor dZ join (VCD compute_indexes,
    reference vcd/preprocessing/preprocess.py:196-199) between two derived
    clouds, tile+halo kNN with completeness escalation."""
    from codem_spark import util
    from codem_spark.operators import knn

    # persist only the two residue classes the join touches: the filter is
    # on pid (the distinct key, x/y/z pure functions of it), so it commutes
    # with the dedupe and Catalyst pushes it BELOW the distinct — the
    # cached frame and its shuffle carry ~1/20th of the cloud instead of
    # the full 600k rows the old full-cloud persist materialized
    # NB: pid = l_orderkey*8 + l_linenumber with l_linenumber in 1..7, so
    # pid % 8 is never 0 — pick residues that actually occur
    # The result reads the query's caches: collect it inside their scope
    # (through Arrow both ways, so rebuilding the frame runs no Python task)
    with util.cache_scope():
        pts = util.persist(_points(spark, sf_dir).filter((F.col("pid") % 40).isin(1, 2)))
        a = pts.filter(F.col("pid") % 40 == 1)
        b = pts.filter(F.col("pid") % 40 == 2)
        j = knn.knn_join_complete(a, b, EXTENT, KNN_RADIUS, l_carry=("z",), r_carry=("z",))
        j = j.select("pid", "n_pid", F.round(F.col("l_z") - F.col("r_z"), 6).alias("dz"))
        pdf = j.toPandas()
    return spark.createDataFrame(pdf, schema=j.schema)


def _q_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import grid

    ev = _read(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("user_id").alias("cluster_id")
    )
    return grid.cluster_sizes(ev).select("event_id", "cluster_size")


def _q_sor_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 statistical outlier removal (SOR) — per-point mean distance to
    its k=8 radius-bounded nearest neighbors, flagged above the global
    mu + 2*sd of that statistic or when under-neighbored (reference VCD
    preprocessing outlier chain, vcd/preprocessing/preprocess.py:167-169;
    PDAL filters.outlier semantics). Boolean output, no float columns in
    the hash; the oracle is an exact IEJoin-range twin."""
    from codem_spark.operators import outliers

    pts = _points(spark, sf_dir).filter(F.col("pid") % 8 == 1)
    return outliers.statistical_outliers(
        pts, EXTENT, radius=KNN_RADIUS, k=8, multiplier=2.0
    ).select("pid", "is_outlier")


def _q_elm_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 extended-local-minimum low-noise flag: z below the cell's exact
    5th percentile by more than the threshold (PDAL filters.elm analog,
    reference vcd/preprocessing/preprocess.py:167-169). Exact-percentile
    SQL twin (quantile_cont); boolean output."""
    from codem_spark.operators import outliers

    pts = _points(spark, sf_dir)
    return outliers.local_minimum_outliers(
        pts, EXTENT, cell_level=6, threshold=2.0
    ).select("pid", "is_low_noise")


def _q_union_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, f"{sf_dir}/events.parquet")
    a = ev.filter(F.col("event_type").isin(["click", "view"]) & (F.col("value") > 50.0))
    b = ev.filter(~F.col("event_type").isin(["click"]) & (F.col("value") <= 10.0))
    return a.select("event_id").unionByName(b.select("event_id")).distinct()


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-dedup URL canonicalization (pure JVM column exprs, no UDF):
    four deterministic per-doc URL variants (case noise, default port,
    fragment, tracking params, shuffled param order) must collapse to ONE
    canonical form per base id — group counts land at exactly 4. The
    DuckDB oracle runs the list-function twin (canonical_url_sql)."""
    from codem_spark.functions import text as text_mod

    docs = _read(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    b = F.floor(F.col("doc_id") / 4).cast("long")
    v = F.pmod(F.col("doc_id"), F.lit(4))
    host = F.concat(F.lit("ExAmple"), F.pmod(b, F.lit(50)).cast("string"), F.lit(".CoM"))
    path = F.concat(F.lit("/page/"), b.cast("string"))
    url = (
        F.when(v == 0, F.concat(F.lit("http://"), host, path, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(F.lit("HTTP://"), F.upper(host), F.lit(":80"), path,
                               F.lit("?a=1&utm_source=x&b=2#frag")))
        .when(v == 2, F.concat(F.lit("http://"), F.lower(host), path,
                               F.lit("?a=1&b=2&gclid=zz")))
        .otherwise(F.concat(F.lit("http://"), host, path, F.lit("?a=1&b=2")))
    )
    return (
        docs.select(text_mod.canonical_url_col(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n"))
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import dedup

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    return dedup.exact_dup_groups(docs)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs among the first 100 docs (unhashed
    variant — SQL-oracled; the minhash/simhash paths are rows-only)."""
    docs = (
        _read(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.array_distinct(F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")).alias("w"),
        )
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("wa", "wb")).cast("double")
    union = F.size(F.array_union("wa", "wb")).cast("double")
    jac = F.round(inter / union, 6)
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= 0.5)


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.functions import text

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", text.token_count_col(F.col("text")).alias("n_tokens"))


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import similarity

    emb = _read(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 50)
    out = similarity.cosine_topk_bruteforce(q, emb, k=3)
    return out.select("q_id", "d_id", "rank")


def _q_idw_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/raster<->vector: IDW interpolation of the derived cloud at query
    points — the cogroup tile kernel cross-checked against a windowed SQL
    top-k IDW."""
    from codem_spark.functions import geo
    from codem_spark.operators import resample

    pts = _points(spark, sf_dir).filter(F.col("pid") % 16 == 1)
    x0, y0, x1, y1 = EXTENT
    qs = spark.range(0, 200).select(
        F.col("id").alias("pid"),
        (F.lit(x0 + 5000.0) + geo.id_lane_col(F.col("id") + 7, 0) * F.lit((x1 - x0) - 10000.0)).alias("x"),
        (F.lit(y0 + 5000.0) + geo.id_lane_col(F.col("id") + 7, 1) * F.lit((y1 - y0) - 10000.0)).alias("y"),
    )
    out = resample.resample_to_points(pts, qs, EXTENT, radius=8000.0, method="idw")
    return out.select("pid", F.round("z", 5).alias("z_interp"))


def _q_utm_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: Snyder transverse-Mercator forward projection of derived lon/lat
    (zone 13N) — pure JVM column expressions, SQL-oracled (rounded to cm;
    the Spark/DuckDB libm difference is ~1e-10 m)."""
    from codem_spark.functions import crs, geo

    li = _read(spark, f"{sf_dir}/lineitem.parquet")
    pid = (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("pid")
    base = li.select(pid).distinct()
    lon = F.lit(-108.0) + geo.id_lane_col(F.col("pid"), 0) * F.lit(6.0)
    lat = F.lit(35.0) + geo.id_lane_col(F.col("pid"), 1) * F.lit(10.0)
    e, n = crs.utm_project_cols(lon, lat, zone=13)
    return base.select(
        "pid", F.round(e, 2).alias("easting"), F.round(n, 2).alias("northing")
    )


def _q_colormap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: diverging two-slope colormap encode of a derived dz column —
    pure column expressions (reference vcd/preprocessing/preprocess.py:330-355)."""
    from codem_spark.operators import grid

    pts = _points(spark, sf_dir)
    dz = pts.select("pid", ((F.col("z") - F.lit(50.0)) / F.lit(10.0)).alias("dz"))
    out = grid.colormap_encode(dz, "dz", vmin=-5.0, vcenter=0.0, vmax=5.0)
    return out.select("pid", "red", "green", "blue")


def _q_utm_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: reproject derived lon/lat points into UTM meters and re-grid
    (rasterize-max) — the warp composition, fully SQL-expressible."""
    from codem_spark.functions import crs, geo
    from codem_spark.operators import grid

    li = _read(spark, f"{sf_dir}/lineitem.parquet")
    pid = (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("pid")
    base = li.select(pid).distinct()
    lon = F.lit(-105.1) + geo.id_lane_col(F.col("pid"), 0) * F.lit(0.2)
    lat = F.lit(39.9) + geo.id_lane_col(F.col("pid"), 1) * F.lit(0.2)
    z = geo.id_lane_col(F.col("pid"), 2) * F.lit(100.0)
    e, n = crs.utm_project_cols(lon, lat, zone=13)
    pts = base.select(e.alias("x"), n.alias("y"), z.alias("z"))
    out = grid.grid_max(pts, _UTM_WARP_EXTENT, 500.0)
    return out.select("gx", "gy", F.round("z", 6).alias("z_max"))


# tin_resample oracle design: TIN linear interpolation EXACTLY reproduces
# any affine surface z = a*x + b*y + c at every query inside the sample
# hull, for EVERY valid triangulation — while IDW/nearest provably do not.
# So the query runs the full distributed path (tile+halo cogroup, per-tile
# Bowyer-Watson Delaunay, bucket-grid point location, barycentric weights)
# over samples carrying an affine z, and DuckDB predicts the value in
# closed form. Samples live in the LEFT half of the extent only; query
# pids >= 150 sit in the far right, > 2x the interpolation radius from any
# sample, so their tiles are sample-free and the reference's NaN -> -9999
# convention (apply.py:455-475, preprocess.py:201-219) is value-checked too.
_TIN_A, _TIN_B, _TIN_C = 0.0002, 0.00013, 20.0


def _tin_query_xy():
    """(x, y) Column exprs for the tin_resample query points: interior-left
    for pid < 150 (inside the sample hull with ~8 km margin), far-right
    (no samples within radius) for pid >= 150."""
    from codem_spark.functions import geo

    lane0 = geo.id_lane_col(F.col("id") + 3, 0)
    lane1 = geo.id_lane_col(F.col("id") + 3, 1)
    x = F.when(F.col("id") < 150, F.lit(8000.0) + lane0 * F.lit(34000.0)).otherwise(
        F.lit(70000.0) + lane0 * F.lit(25000.0)
    )
    y = F.when(F.col("id") < 150, F.lit(8000.0) + lane1 * F.lit(84000.0)).otherwise(
        F.lit(4000.0) + lane1 * F.lit(92000.0)
    )
    return x, y


def _q_tin_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/A10: Delaunay-TIN linear interpolation at query points, oracle-
    checked by linear exactness + nodata (see design note above)."""
    from codem_spark.operators import resample

    pts = (
        _points(spark, sf_dir)
        .filter((F.col("pid") % 16 == 1) & (F.col("x") < 50000.0))
        .withColumn(
            "z",
            F.col("x") * F.lit(_TIN_A) + F.col("y") * F.lit(_TIN_B) + F.lit(_TIN_C),
        )
    )
    qx, qy = _tin_query_xy()
    qs = spark.range(0, 200).select(F.col("id").alias("pid"), qx.alias("x"), qy.alias("y"))
    out = resample.resample_to_points(pts, qs, EXTENT, radius=8000.0, method="tin")
    return out.select("pid", F.round("z", 4).alias("z_tin"))


def _tin_resample_oracle_sql() -> str:
    from codem_spark.functions.geo import id_lane_sql

    l0 = id_lane_sql("(range + 3)", 0)
    l1 = id_lane_sql("(range + 3)", 1)
    return f"""
    WITH queries AS (
      SELECT range AS id,
             CASE WHEN range < 150 THEN 8000.0 + ({l0}) * 34000.0
                  ELSE 70000.0 + ({l0}) * 25000.0 END AS x,
             CASE WHEN range < 150 THEN 8000.0 + ({l1}) * 84000.0
                  ELSE 4000.0 + ({l1}) * 92000.0 END AS y
      FROM range(0, 200)
    )
    SELECT id AS pid,
           CASE WHEN id < 150
                THEN round(x * {_TIN_A!r} + y * {_TIN_B!r} + {_TIN_C!r}, 4)
                ELSE -9999.0 END AS z_tin
    FROM queries
    """


def _q_tpch_grid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


def _q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import grid

    # no cache: the exact-percentile rounds and the quantized output each
    # rerun the scan+distinct chain, which measured no slower than caching
    # it and releasing the cache before the output
    pts = _points(spark, sf_dir).select("pid", "z")
    return grid.quantize_normalize(pts, "z").select("pid", "z_u8")


# ------------------------------------------- sketch ops with value oracles
def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banded-LSH candidates -> exact Jaccard verify, ORACLE-CHECKED
    against DuckDB's exact all-pairs word-3-gram Jaccard: at 32 bands of 2
    lanes the per-pair miss probability at j>=0.7 is (1-0.49)^32 ~ 1e-9, so
    the LSH pair set EQUALS the exact >=0.7 set, and the hashed-shingle
    Jaccard value equals the string-shingle value (31-bit hash collisions
    are ~1e-4 probability across this corpus and checked absent)."""
    from codem_spark import util
    from codem_spark.operators import dedup

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    cands = dedup.minhash_lsh_candidates(
        docs, num_hashes=64, bands=32, bucket_cap=None
    )
    # collect inside the scope of the shingle cache: the returned frame
    # holds none
    with util.cache_scope():
        verified = dedup.jaccard_verify(cands, docs, threshold=0.7).select(
            "id_a", "id_b", "jaccard"
        )
        pdf = verified.toPandas()
    return spark.createDataFrame(pdf, schema=verified.schema)


def _minhash_lsh_oracle_sql() -> str:
    # exact word-3-gram Jaccard, mirroring shingles_col's normalization
    # (lower/trim/whitespace-collapse, 3-token windows, per-doc distinct)
    jac = (
        "round(len(list_intersect(a.g, b.g))::double"
        " / len(list_distinct(list_concat(a.g, b.g)))::double, 6)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      FROM toks WHERE len(w) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jac} AS jaccard
    FROM grams a, grams b
    WHERE a.doc_id < b.doc_id AND {jac} >= 0.7
    """


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded candidates, SELF-VERIFYING: 4x16-bit bands are
    pigeonhole-complete for Hamming <= 3 (any pair within Hamming 3 leaves
    one band untouched), so the banded candidate set must EQUAL the exact
    all-pairs bit_count(xor) <= 3 set, computed inline (pure-JVM cross
    join on the 64-bit fingerprints — quadratic, which is exactly why it's
    the verifier and banding is the operator). Oracle: (1, 0, 0)."""
    from codem_spark import util
    from codem_spark.operators import dedup

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    with util.cache_scope():
        # fingerprints computed ONCE (persisted) and shared by the banded path
        # and the exact verifier — one scan-side UDF pass total
        d = util.persist(docs.select(
            F.col("doc_id").alias("did"), dedup.simhash_col(F.col("text")).alias("sh")
        ))
        banded = dedup.simhash_candidates_from(
            d, band_bits=16, hamming_max=3, bucket_cap=None
        ).select("id_a", "id_b")
        a = d.select(F.col("did").alias("id_a"), F.col("sh").alias("sa"))
        b = d.select(F.col("did").alias("id_b"), F.col("sh").alias("sb"))
        exact = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
            .select("id_a", "id_b")
        )
        # one job for all three checks: full outer join of the two pair sets
        j = exact.withColumn("_e", F.lit(1)).join(
            banded.withColumn("_b", F.lit(1)), ["id_a", "id_b"], "full"
        )
        row = j.agg(
            F.max(F.when(F.col("_b").isNotNull(), 1).otherwise(0)).alias("has_pairs"),
            F.coalesce(F.sum(F.col("_b").isNull().cast("int")), F.lit(0)).alias("n_missing"),
            F.coalesce(F.sum(F.col("_e").isNull().cast("int")), F.lit(0)).alias("n_false"),
        ).collect()[0]
    import pandas as pd

    vals = (int(row["has_pairs"] or 0), int(row["n_missing"]), int(row["n_false"]))
    return spark.createDataFrame(pd.DataFrame([vals], columns=["has_pairs", "n_missing", "n_false"]))


def _embeddings_with_planted(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The embeddings table as double arrays, and 50 planted copies of its
    first 50 vectors (ids +10000): each component scaled by a deterministic
    factor in [0.992, 1.008], so each copy has cosine ~0.99997 to its
    source."""
    emb = _read(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: v
            * (
                F.lit(0.992)
                + F.pmod(F.col("vec_id") * 13 + i * 7, F.lit(5)).cast("double")
                * F.lit(0.004)
            ),
        ).alias("embedding"),
    )
    return emb, planted


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN LSH top-k with PLANTED ground truth: 50 query vectors are tiny
    deterministic perturbations (per-component scale in [0.992, 1.008],
    cosine ~0.99997) of data vectors; multi-table hyperplane LSH finds a
    near-identical vector with miss probability ~(theta/pi*6)^8 ~ 1e-12,
    and the exact re-rank must put the source at rank 1. Oracle: (50, 50)."""
    from codem_spark.operators import similarity

    emb, planted = _embeddings_with_planted(spark, sf_dir)
    top1 = similarity.cosine_topk_lsh(
        planted, emb, dim=64, k=1, n_planes=6, n_tables=8
    )
    return top1.agg(
        F.count("*").alias("n_q"),
        F.sum((F.col("d_id") == F.col("q_id") - 10_000).cast("int")).alias(
            "n_top1_correct"
        ),
    )


def _q_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical extraction invariant as a query: synthesize pages,
    extract, return per-lang counts of exact matches (all must match)."""
    from codem_spark import synth
    from codem_spark.functions import text

    pg = synth.pages(spark, 2000)
    return (
        pg.withColumn("ok", (text.extract_text_col(F.col("html")) == F.col("text")).cast("int"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("ok").alias("n_ok"))
    )


def _q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality scoring, ORACLE-CHECKED per document against a
    full SQL twin of both heuristics (marker-count argmax; length/punct/
    stopword composite) — the same cross-engine value check the colormap/
    UTM entries use. The fingerprint column has no SQL twin (xxhash64) and
    is exposed as a range-invariant flag."""
    from codem_spark.functions import text

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    fp = text.fingerprint_col(F.col("text"))
    return docs.select(
        "doc_id",
        text.lang_id_col(F.col("text")).alias("lang_pred"),
        text.quality_score_col(F.col("text")).alias("quality"),
        ((fp >= 0) & (fp < 1_000_000_007)).cast("int").alias("fp_ok"),
    )


def _lang_quality_oracle_sql() -> str:
    from codem_spark.functions.text import _LANG_MARKERS, _STOPWORDS

    structs = []
    for lang, markers in _LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(low) - length(replace(low, '{m}', '')))::double / {max(len(m), 1)}"
            for m in markers
        )
        structs.append(f"{{'score': ({terms}), 'lang': '{lang}'}}")
    best = f"list_aggregate([{', '.join(structs)}], 'max')"
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             ' ' || lower(text) || ' ' AS low,
             length(text)::double AS n,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, {best} AS best,
             least(1.0, n / 500.0) * (CASE WHEN n > 50000 THEN 0.5 ELSE 1.0 END) AS len_score,
             CASE WHEN n > 0
                  THEN length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::double / n
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, t -> t IN ({stop_list})))::double / len(toks)::double
                  ELSE 0.0 END AS stop_ratio
      FROM base
    )
    SELECT doc_id,
           CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
           round(len_score * 0.4
                 + (CASE WHEN punct_ratio > 0.001 AND punct_ratio < 0.2
                         THEN 1.0 ELSE 0.5 END) * 0.3
                 + least(1.0, stop_ratio * 4.0) * 0.3, 6) AS quality,
           1 AS fp_ok
    FROM scored
    """


def _exact_union_find(p, tol: float):
    """Exact single-machine Euclidean clustering (grid-bucketed pair scan +
    union-find), independent of the distributed operator's tile/border
    construction. Returns the canonical min-pid label per point (or -1
    below min_points — applied by the caller)."""
    import numpy as np

    n = len(p)
    parent = np.arange(n)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    cell = np.floor(p / tol).astype(np.int64)
    order = np.lexsort((cell[:, 1], cell[:, 0]))
    keys = {}
    for idx in order:
        keys.setdefault((cell[idx, 0], cell[idx, 1]), []).append(idx)
    t2 = tol * tol
    for (cx, cy), members in keys.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                other = keys.get((cx + dx, cy + dy))
                if other is None:
                    continue
                a = np.asarray(members)
                b = np.asarray(other)
                d2 = ((p[a][:, None, :] - p[b][None, :, :]) ** 2).sum(2)
                for i, j in zip(*np.nonzero(d2 <= t2)):
                    ra, rb = find(a[i]), find(b[j])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)])


def _q_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 Euclidean clustering over a dense subsample of the derived cloud,
    ORACLE-CHECKED per point: the distributed tile+border labels are
    canonical (min pid of the component), so they must equal an exact
    single-machine union-find on the same points — returned as (pid, ok=1)
    rows whose pid set DuckDB derives from the lineitem arithmetic."""
    import numpy as np
    import pandas as pd

    from codem_spark import util
    from codem_spark.operators import cluster

    # pid % 8 is never 0 (l_linenumber in 1..7) — use a residue that occurs
    pts = _points(spark, sf_dir).filter(F.col("pid") % 8 == 1).withColumn(
        "z", F.lit(0.0)
    )
    # the exact verifier below is driver-side O(n^2): refuse loudly above
    # the contract scale instead of going quadratic (VERDICT r3 item 9) —
    # the BENCH scale path (bench.py bench_cluster) runs the distributed
    # operator without this verifier
    n_pts = pts.count()
    assert n_pts <= 50_000, (
        f"euclidean_cluster contract verifier is O(n^2) driver-side and got "
        f"{n_pts} points — run it at sf<=0.01; the bench times the scale path"
    )
    with util.cache_scope():
        got = cluster.euclidean_cluster(pts, EXTENT, tolerance=600.0, min_points=5)
        gp = got.toPandas().sort_values("pid").reset_index(drop=True)
    src = pts.select("pid", "x", "y").toPandas().sort_values("pid").reset_index(drop=True)
    roots = _exact_union_find(src[["x", "y"]].to_numpy(np.float64), 600.0)
    pid_arr = src.pid.to_numpy()
    labels = pid_arr[roots]
    # canonical label = min pid of component; cull below min_points like the op
    sizes = pd.Series(labels).groupby(labels).transform("size").to_numpy()
    exp = np.where(sizes >= 5, labels, -1)
    exp_by_pid = dict(zip(pid_arr, exp))
    ok = np.array([exp_by_pid.get(p_, None) == c for p_, c in zip(gp.pid, gp.cluster_id)])
    out = pd.DataFrame({"pid": gp.pid.to_numpy(), "ok": ok.astype(np.int64)})
    return spark.createDataFrame(out)


def _q_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse registration demo: recover a known 90-degree + translate
    perturbation; returns the one-row transform record."""
    import numpy as np
    import pandas as pd

    from codem_spark import synth, util
    from codem_spark.config import EngineConfig
    from codem_spark.registration import pipeline as P

    fnd_pd, aoi_pd, M = synth.registration_scene(60_000, 1000.0, 11)
    ext = (0.0, 0.0, 1000.0, 1000.0)
    fnd = spark.createDataFrame(fnd_pd)
    aoi = spark.createDataFrame(aoi_pd)
    cfg = EngineConfig(min_resolution=4.0)
    with util.cache_scope():
        prep = P.preprocess(fnd, aoi, extent=ext, cfg=cfg, resolution=4.0)
        c = P.coarse_registration(prep, cfg)
    # ORACLE-CHECKED envelope: the recovered transform composed with the
    # planted perturbation must be ~identity within the reference's own
    # test envelope (reference tests/test_registration.py RMSE/parameter
    # thresholds); booleans are partition-order-stable where raw float
    # params are not. Oracle: one all-ones row.
    from codem_spark.functions.geo import decompose_similarity

    resid = np.array(c.matrix) @ M
    d = decompose_similarity(resid)
    rec = {
        "scale_ok": [int(abs(d["scale"] - 1.0) < 0.01)],
        "rot_ok": [int(all(abs(d[a]) < 1.0 for a in ("omega", "phi", "kappa")))],
        "trans_ok": [int(all(abs(d[t]) < 8.0 for t in ("trans_x", "trans_y", "trans_z")))],
        "pairs_ok": [int(c.n_pairs >= 5)],
        "rmse_ok": [int(c.rmse_3d < 2.5)],
    }
    return spark.createDataFrame(pd.DataFrame(rec))


def _q_fine_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine (point-to-plane ICP) registration demo — the north-star
    distributed-normal-equations op: recover a small rigid shift on a 20k-point scene and
    return the one-row parameter record (rows-only; the solve is iterative,
    not SQL-expressible). Exactness envelope is pinned by
    tests/test_registration.py."""
    import numpy as np
    import pandas as pd

    from codem_spark import util
    from codem_spark.config import EngineConfig
    from codem_spark.registration import icp

    rng = np.random.default_rng(5)
    n = 20_000
    ext = (0.0, 0.0, 500.0, 500.0)
    fx = rng.uniform(0, 500, n)
    fy = rng.uniform(0, 500, n)
    gx = np.floor(fx / 60).astype(np.int64)
    gy = np.floor(fy / 60).astype(np.int64)
    inside = ((fx - gx * 60) > 18) & ((fx - gx * 60) < 42) & ((fy - gy * 60) > 18) & ((fy - gy * 60) < 42)
    h = ((gx * 73856093 + gy * 19349663) % 89) / 89.0 * 12 + 3
    fz = 8 * np.sin(fx / 90) * np.cos(fy / 110) + np.where(inside, h, 0.0) + 30.0
    m = (fx > 100) & (fx < 400) & (fy > 100) & (fy < 400)
    mv = pd.DataFrame({
        "pid": np.arange(int(m.sum())),
        "x": fx[m] + 1.5, "y": fy[m] - 1.0, "z": fz[m] + 0.5,
    })
    fixed = spark.createDataFrame(pd.DataFrame({"pid": np.arange(n), "x": fx, "y": fy, "z": fz}))
    moving = spark.createDataFrame(mv)
    cfg = EngineConfig(min_resolution=4.0, icp_max_iter=8)
    with util.cache_scope():
        params = icp.fine_registration(fixed, moving, ext, 4.0, cfg, knn_radius=6.0)
    # ORACLE-CHECKED envelope vs the planted (+1.5, -1.0, +0.5) shift —
    # point-to-plane ICP on noise-free data recovers it to ~millimeters
    # (tests/test_registration.py pins the tighter envelope); one-hot row.
    rec = {
        "tx_ok": [int(abs(params.trans_x + 1.5) < 0.25)],
        "ty_ok": [int(abs(params.trans_y - 1.0) < 0.25)],
        "tz_ok": [int(abs(params.trans_z + 0.5) < 0.25)],
        "rmse_ok": [int(params.rmse_3d < 0.3)],
    }
    return spark.createDataFrame(pd.DataFrame(rec))


# ---------------------------------------------------- hull + mesh entries
# Two deterministic box clusters: interior points from id lanes plus the 8
# pinned corners, so the 3D convex hull IS the box and volume/area/footprint
# have closed forms the oracle states as literals (reference
# vcd/meshing/mesh.py:58-62 trimesh hull.volume/hull.area semantics).
_HULL_BOXES = (
    # (cluster pid base, n interior, x0, y0, z0, w, d, h, dz)
    (0, 1000, 10_000.0, 10_000.0, 40.0, 3000.0, 2000.0, 80.0, 5.0),
    (2000, 1000, 60_000.0, 40_000.0, 10.0, 5000.0, 1000.0, 40.0, -3.0),
)


def _q_cluster_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7/A7: per-cluster 3D-hull summaries over planted box clusters."""
    import pandas as pd

    from codem_spark.functions import geo
    from codem_spark.operators import hull

    frames = []
    for base, n, x0, y0, z0, w, d, h, dz in _HULL_BOXES:
        ids = spark.range(0, n).select((F.col("id") + base).alias("pid"))
        interior = ids.select(
            "pid",
            (F.lit(x0) + geo.id_lane_col(F.col("pid"), 0) * F.lit(w)).alias("x"),
            (F.lit(y0) + geo.id_lane_col(F.col("pid"), 1) * F.lit(d)).alias("y"),
            (F.lit(z0) + geo.id_lane_col(F.col("pid"), 2) * F.lit(h)).alias("z"),
            F.lit(dz).alias("dz"),
            F.lit(base).alias("cluster_id"),
        )
        corners = spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "pid": base + n + i,
                        "x": x0 + cx * w,
                        "y": y0 + cy * d,
                        "z": z0 + cz * h,
                        "dz": dz,
                        "cluster_id": base,
                    }
                    for i, (cx, cy, cz) in enumerate(
                        (a, b, c) for a in (0, 1) for b in (0, 1) for c in (0, 1)
                    )
                ]
            )
        )
        frames.append(interior.unionByName(corners))
    pts = frames[0].unionByName(frames[1])
    s = hull.cluster_summaries(pts)
    return s.select(
        "cluster_id",
        "n_points",
        F.round("volume", 2).alias("volume"),
        F.round("area", 2).alias("area"),
        F.round("footprint_area", 2).alias("footprint_area"),
        F.round("mean_dz", 6).alias("mean_dz"),
        "status",
    )


def _cluster_hull_oracle_sql() -> str:
    rows = []
    for base, n, _x0, _y0, _z0, w, d, h, dz in _HULL_BOXES:
        vol = round(w * d * h, 2)
        area = round(2 * (w * d + w * h + d * h), 2)
        fp = round(w * d, 2)
        status = "New" if dz > 0 else "Fled"
        rows.append(
            f"({base}, {n + 8}, {vol!r}, {area!r}, {fp!r}, {round(dz, 6)!r}, '{status}')"
        )
    return (
        "SELECT cluster_id::BIGINT AS cluster_id, n_points::BIGINT AS n_points, "
        "volume, area, footprint_area, mean_dz, status FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(cluster_id, n_points, volume, area, footprint_area, mean_dz, status)"
    )


def _q_mesh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: mesh-vertex ingestion through the DISTRIBUTED OBJ text scan
    (io/mesh.py) — coordinates are exact binary fractions so the write ->
    parse roundtrip is bit-exact and the oracle is closed-form."""
    import os

    path = "/tmp/codem_spark_mesh_ingest.obj"
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("# codem_spark mesh_ingest fixture\no fixture\n")
        for i in range(500):
            f.write(f"v {i * 0.5} {i * 0.25} {i * 0.125}\n")
        f.write("f 1 2 3\n")
    os.replace(tmp, path)  # atomic vs concurrent query runs
    from codem_spark.io import mesh

    return mesh.read_obj_vertices(spark, path).select("x", "y", "z")


def _mesh_ingest_oracle_sql() -> str:
    return """
    SELECT range * 0.5 AS x, range * 0.25 AS y, range * 0.125 AS z
    FROM range(0, 500)
    """


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup with PLANTED truth: 50 perturbed
    copies (cosine ~0.99997 to their sources, ids +10000) are appended; the
    LSH-candidates -> exact-cosine-verify -> drop-higher-id pipeline must
    remove exactly the planted copies (random 64-dim vectors have pairwise
    cosine far below 0.99), so the survivors are precisely the original
    table — a closed-form oracle."""
    from codem_spark.operators import similarity

    emb, planted = _embeddings_with_planted(spark, sf_dir)
    both = emb.unionByName(planted)
    kept = similarity.embedding_cosine_dedup(both, dim=64, threshold=0.99)
    return kept.select("vec_id")


def _q_streaming_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-new streaming tier, executed FOR REAL through Structured
    Streaming: the events table is read as a file stream (micro-batches),
    watermarked on event time, windowed per hour x event_type, driven to a
    memory sink with processAllAvailable, and the materialized result is
    returned. The oracle is the equivalent batch SQL (epoch-aligned hour
    windows = date_trunc), so the streaming execution path itself is
    value-checked against DuckDB."""
    import os
    import time

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # the file stream source requires a DIRECTORY — stage the events file
    # into /tmp (idempotent per sf_dir; testdata itself is read-only)
    import hashlib
    import shutil

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    stage_dir = f"/tmp/codem_spark_stream_events_{tag}"
    os.makedirs(stage_dir, exist_ok=True)
    dst = os.path.join(stage_dir, "events.parquet")
    src = f"{sf_dir}/events.parquet"
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        shutil.copyfile(src, dst + f".{os.getpid()}")
        os.replace(dst + f".{os.getpid()}", dst)  # atomic vs concurrent runs
    stream = spark.readStream.schema(schema).parquet(stage_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    name = f"stream_win_agg_{os.getpid()}_{int(time.time() * 1000) % 100000}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).select(
        F.unix_timestamp(F.col("win.start")).alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )
    # materialize before the memory sink table goes away with the query
    import pandas as pd  # noqa: F401

    return spark.createDataFrame(out.toPandas())


def _streaming_window_agg_oracle_sql() -> str:
    return """
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS win_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------- contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_knn_dz(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cell_encode": _q_cell_encode,
        "grid_max": _q_grid_max,
        "cell_pyramid": _q_cell_pyramid,
        "grid_idw": _q_grid_idw,
        "density": _q_density,
        "bounds": _q_bounds,
        "bbox_clip": _q_bbox_clip,
        "pip": _q_pip,
        "knn_dz": _q_knn_dz,
        "window_count": _q_window_count,
        "sor_outliers": _q_sor_outliers,
        "elm_noise": _q_elm_noise,
        "union_filters": _q_union_filters,
        "exact_dedup": _q_exact_dedup,
        "url_canonical": _q_url_canonical,
        "ngram_jaccard": _q_ngram_jaccard,
        "token_count": _q_token_count,
        "cosine_topk": _q_cosine_topk,
        "idw_resample": _q_idw_resample,
        "utm_project": _q_utm_project,
        "utm_warp": _q_utm_warp,
        "colormap": _q_colormap,
        "tin_resample": _q_tin_resample,
        "tpch_grid_agg": _q_tpch_grid_agg,
        "quantize": _q_quantize,
        "cluster_hull": _q_cluster_hull,
        "mesh_ingest": _q_mesh_ingest,
        "streaming_window_agg": _q_streaming_window_agg,
        "embedding_dedup": _q_embedding_dedup,
        # value-checked via exact-truth oracles (DuckDB twin, planted truth,
        # inline exact verifier, or envelope row — see each docstring)
        "minhash_lsh": _q_minhash_lsh,
        "simhash": _q_simhash,
        "lsh_topk": _q_lsh_topk,
        "text_extract": _q_text_extract,
        "lang_quality": _q_lang_quality,
        "euclidean_cluster": _q_cluster,
        "coarse_registration": _q_registration,
        "fine_registration": _q_fine_registration,
    }


def _url_canonical_oracle_sql() -> str:
    from codem_spark.functions.text import canonical_url_sql

    return f"""
        WITH hp AS (
          SELECT doc_id,
                 'ExAmple' || CAST((doc_id // 4) % 50 AS VARCHAR) || '.CoM' AS host,
                 '/page/' || CAST(doc_id // 4 AS VARCHAR) AS path
          FROM documents
        ),
        u AS (
          SELECT CASE doc_id % 4
            WHEN 0 THEN 'http://' || host || path || '?b=2&a=1'
            WHEN 1 THEN 'HTTP://' || upper(host) || ':80' || path || '?a=1&utm_source=x&b=2#frag'
            WHEN 2 THEN 'http://' || lower(host) || path || '?a=1&b=2&gclid=zz'
            ELSE 'http://' || host || path || '?a=1&b=2' END AS url
          FROM hp
        )
        SELECT {canonical_url_sql('url')} AS canonical_url, count(*) AS n
        FROM u GROUP BY 1"""


def oracle_sql() -> dict[str, str]:
    from codem_spark.functions import cells
    from codem_spark.operators import grid, pip

    pts = _points_sql()
    ring = PIP_RING
    x0, y0, x1, y1 = EXTENT

    cell10 = cells.cell_encode_sql("x", "y", EXTENT, 10)
    cell6 = cells.cell_encode_sql("x", "y", EXTENT, 6)
    return {
        "cell_encode": f"SELECT {cell10} AS cell_id, count(*) AS n FROM ({pts}) GROUP BY 1",
        "grid_max": f"""
            SELECT gx, gy, round(z, 6) AS z_max FROM (
              {grid.grid_max_sql(pts, EXTENT, 2000.0)}
            )""",
        "cell_pyramid": f"""
            SELECT level, cell, round(z_max, 6) AS z_max, n FROM (
              {grid.cell_pyramid_sql(pts, EXTENT, 10, 7)}
            )""",
        "grid_idw": f"""
            SELECT gx, gy, round(z, 6) AS z_idw FROM (
              {grid.grid_idw_sql(f"SELECT * FROM ({pts}) WHERE pid % 16 = 1", EXTENT, 5000.0)}
            )""",
        "density": f"SELECT {cell6} AS cell_id, count(*) AS n_points FROM ({pts}) GROUP BY 1",
        "bounds": f"""
            SELECT round(min(x), 6) AS x0, round(min(y), 6) AS y0,
                   round(max(x), 6) AS x1, round(max(y), 6) AS y1, count(*) AS n
            FROM ({pts})""",
        "bbox_clip": f"""
            SELECT pid FROM ({pts})
            WHERE x >= 25000.0 AND x < 75000.0 AND y >= 25000.0 AND y < 75000.0""",
        "pip": f"""
            SELECT pid FROM ({pts})
            WHERE x >= {min(p[0] for p in ring)!r} AND x <= {max(p[0] for p in ring)!r}
              AND y >= {min(p[1] for p in ring)!r} AND y <= {max(p[1] for p in ring)!r}
              AND {pip.point_in_polygon_sql('x', 'y', ring)}""",
        "knn_dz": f"""
            WITH pts AS ({pts}),
            a AS (SELECT * FROM pts WHERE pid % 40 = 1),
            b AS (SELECT * FROM pts WHERE pid % 40 = 2),
            pairs AS (
              SELECT a.pid, b.pid AS n_pid,
                     ((a.x-b.x)*(a.x-b.x) + ((a.y-b.y)*(a.y-b.y))) + ((a.z-b.z)*(a.z-b.z)) AS d2,
                     a.z - b.z AS dz
              FROM a, b
            ),
            ranked AS (
              SELECT pid, n_pid, dz, row_number() OVER (PARTITION BY pid ORDER BY d2, n_pid) AS rn
              FROM pairs
            )
            SELECT pid, n_pid, round(dz, 6) AS dz FROM ranked WHERE rn = 1""",
        "window_count": """
            SELECT event_id, count(*) OVER (PARTITION BY user_id) AS cluster_size
            FROM events""",
        "sor_outliers": f"""
            WITH pts AS (
              SELECT pid, x, y, z FROM ({_points_sql()}) WHERE pid % 8 = 1
            ),
            cand AS (
              SELECT a.pid AS pid, b.pid AS npid,
                     sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
                          + (a.z-b.z)*(a.z-b.z)) AS d
              FROM pts a JOIN pts b
                ON b.x >= a.x - {KNN_RADIUS!r} AND b.x <= a.x + {KNN_RADIUS!r}
               AND b.y >= a.y - {KNN_RADIUS!r} AND b.y <= a.y + {KNN_RADIUS!r}
               AND a.pid <> b.pid
            ),
            nn AS (
              SELECT pid, d, row_number() OVER (PARTITION BY pid ORDER BY d, npid) AS rk
              FROM cand WHERE d <= {KNN_RADIUS!r}
            ),
            md AS (
              SELECT pid, avg(d) AS m, count(*) AS n_nbrs FROM nn WHERE rk <= 8 GROUP BY pid
            ),
            st AS (SELECT avg(m) + 2.0 * stddev_pop(m) AS thresh FROM md)
            SELECT p.pid AS pid,
                   (COALESCE(md.m > (SELECT thresh FROM st), TRUE)
                    OR COALESCE(md.n_nbrs, 0) < 8) AS is_outlier
            FROM pts p LEFT JOIN md USING (pid)""",
        "elm_noise": f"""
            WITH pts AS (SELECT pid, x, y, z FROM ({_points_sql()})),
            cellz AS (
              SELECT pid, z, {cell6} AS _cell FROM pts
            ),
            floors AS (
              SELECT _cell, quantile_cont(z, 0.05) AS zfloor
              FROM cellz GROUP BY _cell
            )
            SELECT c.pid AS pid, (c.z < f.zfloor - 2.0) AS is_low_noise
            FROM cellz c JOIN floors f USING (_cell)""",
        "union_filters": """
            SELECT DISTINCT event_id FROM (
              SELECT event_id FROM events WHERE event_type IN ('click','view') AND value > 50.0
              UNION ALL
              SELECT event_id FROM events WHERE event_type NOT IN ('click') AND value <= 10.0
            )""",
        "exact_dedup": """
            SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS digest,
                   count(*) AS n_dups, min(doc_id) AS keep_id
            FROM documents GROUP BY 1""",
        "url_canonical": _url_canonical_oracle_sql(),
        "ngram_jaccard": """
            WITH w AS (
              SELECT doc_id,
                     list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS ws
              FROM documents WHERE doc_id < 100
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.ws, b.ws))::double
                         / len(list_distinct(list_concat(a.ws, b.ws)))::double, 6) AS jaccard
            FROM w a, w b
            WHERE a.doc_id < b.doc_id
              AND round(len(list_intersect(a.ws, b.ws))::double
                        / len(list_distinct(list_concat(a.ws, b.ws)))::double, 6) >= 0.5""",
        "token_count": """
            SELECT doc_id, case when trim(text) = '' then 0
                   else len(regexp_split_to_array(trim(text), '\\s+')) end AS n_tokens
            FROM documents""",
        "cosine_topk": """
            WITH pairs AS (
              SELECT q.vec_id AS q_id, d.vec_id AS d_id,
                     list_dot_product(q.embedding::DOUBLE[], d.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[])) + 1e-30) AS sim
              FROM embeddings q, embeddings d
              WHERE q.vec_id < 50 AND q.vec_id != d.vec_id
            ),
            ranked AS (
              SELECT q_id, d_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, d_id) AS rank
              FROM pairs
            )
            SELECT q_id, d_id, rank FROM ranked WHERE rank <= 3""",
        "idw_resample": _idw_resample_oracle_sql(),
        "tin_resample": _tin_resample_oracle_sql(),
        "utm_project": _utm_project_oracle_sql(),
        "utm_warp": _utm_warp_oracle_sql(),
        "colormap": _colormap_oracle_sql(),
        "tpch_grid_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2""",
        "quantize": _quantize_oracle_sql(),
        "cluster_hull": _cluster_hull_oracle_sql(),
        "mesh_ingest": _mesh_ingest_oracle_sql(),
        "streaming_window_agg": _streaming_window_agg_oracle_sql(),
        "embedding_dedup": "SELECT vec_id FROM embeddings",
        "minhash_lsh": _minhash_lsh_oracle_sql(),
        "lang_quality": _lang_quality_oracle_sql(),
        # self-verifying entries: the query computes the exact truth inline
        # (planted perturbations / pigeonhole-complete exact cross join /
        # per-point exact union-find / reference-envelope residuals) and the
        # oracle pins the invariant the construction guarantees
        "simhash": (
            "SELECT 1::BIGINT AS has_pairs, 0::BIGINT AS n_missing, "
            "0::BIGINT AS n_false"
        ),
        "lsh_topk": "SELECT 50::BIGINT AS n_q, 50::BIGINT AS n_top1_correct",
        "text_extract": (
            "SELECT lang, n::BIGINT AS n, n_ok::BIGINT AS n_ok FROM (VALUES "
            "('en', 400, 400), ('de', 400, 400), ('fr', 400, 400), "
            "('es', 400, 400), ('zh', 400, 400)) AS t(lang, n, n_ok)"
        ),
        "euclidean_cluster": f"""
            SELECT pid, 1::BIGINT AS ok FROM ({pts}) WHERE pid % 8 = 1""",
        "coarse_registration": (
            "SELECT 1::BIGINT AS scale_ok, 1::BIGINT AS rot_ok, "
            "1::BIGINT AS trans_ok, 1::BIGINT AS pairs_ok, 1::BIGINT AS rmse_ok"
        ),
        "fine_registration": (
            "SELECT 1::BIGINT AS tx_ok, 1::BIGINT AS ty_ok, "
            "1::BIGINT AS tz_ok, 1::BIGINT AS rmse_ok"
        ),
    }


def _idw_resample_oracle_sql() -> str:
    from codem_spark.functions.geo import id_lane_sql

    pts = _points_sql()
    x0, y0, x1, y1 = EXTENT
    qx = f"{x0 + 5000.0!r} + ({id_lane_sql('(id + 7)', 0)}) * {(x1 - x0) - 10000.0!r}"
    qy = f"{y0 + 5000.0!r} + ({id_lane_sql('(id + 7)', 1)}) * {(y1 - y0) - 10000.0!r}"
    return f"""
    WITH samples AS (SELECT * FROM ({pts}) WHERE pid % 16 = 1),
    queries AS (SELECT range AS id, {qx} AS x, {qy} AS y FROM range(0, 200)),
    pairs AS (
      SELECT q.id AS pid, s.z,
             sqrt((q.x-s.x)*(q.x-s.x) + (q.y-s.y)*(q.y-s.y)) AS d
      FROM queries q, samples s
      WHERE (q.x-s.x)*(q.x-s.x) + (q.y-s.y)*(q.y-s.y) <= 8000.0*8000.0
    ),
    ranked AS (
      SELECT pid, z, d, row_number() OVER (PARTITION BY pid ORDER BY d) AS rn FROM pairs
    ),
    knn AS (SELECT * FROM ranked WHERE rn <= 8),
    agg AS (
      SELECT pid, sum(z / pow(d + 1e-9, 2.0)) / sum(1.0 / pow(d + 1e-9, 2.0)) AS z
      FROM knn GROUP BY pid
    ),
    allq AS (
      SELECT q.id AS pid, coalesce(a.z, -9999.0) AS z
      FROM queries q LEFT JOIN agg a ON q.id = a.pid
    )
    SELECT pid, round(z, 5) AS z_interp FROM allq
    """


def _utm_project_oracle_sql() -> str:
    from codem_spark.functions.crs import utm_project_sql
    from codem_spark.functions.geo import id_lane_sql

    lon = f"(-108.0 + ({id_lane_sql('pid', 0)}) * 6.0)"
    lat = f"(35.0 + ({id_lane_sql('pid', 1)}) * 10.0)"
    e, n = utm_project_sql(lon, lat, zone=13)
    return f"""
    SELECT pid, round({e}, 2) AS easting, round({n}, 2) AS northing
    FROM (SELECT DISTINCT (l_orderkey * 8 + l_linenumber) AS pid FROM lineitem)
    """


def _utm_warp_oracle_sql() -> str:
    from codem_spark.functions.crs import utm_project_sql
    from codem_spark.functions.geo import id_lane_sql

    lon = f"(-105.1 + ({id_lane_sql('pid', 0)}) * 0.2)"
    lat = f"(39.9 + ({id_lane_sql('pid', 1)}) * 0.2)"
    z = f"(({id_lane_sql('pid', 2)}) * 100.0)"
    e, n = utm_project_sql(lon, lat, zone=13)
    x0, y0 = _UTM_WARP_EXTENT[0], _UTM_WARP_EXTENT[1]
    return f"""
    WITH pts AS (
      SELECT {e} AS x, {n} AS y, {z} AS z
      FROM (SELECT DISTINCT (l_orderkey * 8 + l_linenumber) AS pid FROM lineitem)
    )
    SELECT cast(floor((x - {x0!r}) / 500.0) as bigint) AS gx,
           cast(floor((y - {y0!r}) / 500.0) as bigint) AS gy,
           round(max(z), 6) AS z_max
    FROM pts GROUP BY 1, 2
    """


def _colormap_oracle_sql() -> str:
    pts = _points_sql()
    return f"""
    WITH dzs AS (SELECT pid, (z - 50.0) / 10.0 AS dz FROM ({pts})),
    norms AS (
      SELECT pid, least(1.0, greatest(0.0,
        CASE WHEN dz < 0.0 THEN (dz - (-5.0)) / 5.0 * 0.5
             ELSE 0.5 + dz / 5.0 * 0.5 END)) AS norm
      FROM dzs
    )
    SELECT pid,
      cast(round((CASE WHEN norm <= 0.5 THEN norm * 2.0 ELSE 1.0 END) * 65535.0) as int) AS red,
      cast(round((CASE WHEN norm <= 0.5 THEN norm * 2.0 ELSE (1.0 - norm) * 2.0 END) * 65535.0) as int) AS green,
      cast(round((CASE WHEN norm >= 0.5 THEN (1.0 - norm) * 2.0 ELSE 1.0 END) * 65535.0) as int) AS blue
    FROM norms
    """


def _quantize_oracle_sql() -> str:
    pts = _points_sql()
    return f"""
    WITH pts AS ({pts}),
    q AS (SELECT quantile_cont(z, 0.01) AS lo, quantile_cont(z, 0.99) AS hi FROM pts)
    SELECT pid,
           cast(round((least(hi, greatest(lo, z)) - lo) / greatest(hi - lo, 1e-12) * 254.0) + 1.0 as int) AS z_u8
    FROM pts, q
    """
