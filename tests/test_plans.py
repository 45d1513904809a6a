"""Physical-plan shape assertions — the scale properties the engine relies
on must survive refactors: filter pushdown to the parquet scan, partial
(map-side) aggregation, broadcast joins for small dims, and whole-stage
codegen on the scan-side expression paths."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bbox_filter_pushed_to_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter((F.col("l_quantity") > 10.0) & (F.col("l_partkey") < 100)).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan
    # column pruning: the scan must not read more than the 3 needed columns
    assert "ReadSchema" in plan


def test_grid_max_has_partial_aggregation(spark):
    from codem_spark import synth
    from codem_spark.operators import grid

    pc = synth.point_cloud(spark, 1000)
    plan = _plan(grid.grid_max(pc, (0, 0, 100000, 100000), 1000.0))
    # two HashAggregates around the exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(gx" in plan


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select("l_orderkey", "o_totalprice")
    assert "BroadcastHashJoin" in _plan(j)


def test_scan_side_text_ops_have_no_exchange(spark):
    from codem_spark.functions import text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(
        "doc_id",
        text.token_count_col(F.col("text")).alias("n"),
        text.fingerprint_col(F.col("text")).alias("f"),
    )
    plan = _plan(q)
    assert "Exchange" not in plan  # pure scan-side pipeline
    assert "WholeStageCodegen" in plan or "*(1)" in plan  # codegen marker


def test_cell_encode_is_codegen(spark):
    from codem_spark import synth
    from codem_spark.functions import cells

    pc = synth.point_cloud(spark, 100)
    q = cells.with_cell(pc, "x", "y", (0, 0, 100000, 100000), 12).select("cell_id")
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WholeStageCodegen" in plan or "*(1)" in plan  # codegen marker


def test_density_quantizes_each_axis_once(spark):
    """The Morton spread names its input twice per step, so a cell id built
    over the raw quantize expression repeats it 32 times per axis; with the
    integer cell coords projected first (``cells.with_cell``) the optimized
    plan quantizes each axis once."""
    from codem_spark import synth
    from codem_spark.operators import grid

    pc = synth.point_cloud(spark, 100)
    q = grid.density(pc, (0, 0, 100000, 100000), 10)
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("floor(") == 2


def _plan_tree(p):
    """(nodeName, [children]) of a physical plan. Tree traversal, not string
    matching: an InMemoryRelation's toString embeds its (pre-cache) child
    plan with the one-time repartition exchange, but InMemoryTableScan is a
    LEAF of the live plan, so walking children() sees only what runs."""
    name = p.nodeName()
    if name == "AdaptiveSparkPlan":  # children() is empty; descend
        return name, [_plan_tree(p.initialPlan())]
    ch = p.children()
    return name, [_plan_tree(ch.apply(i)) for i in range(ch.size())]


def _walk(tree):
    yield tree
    for c in tree[1]:
        yield from _walk(c)


def test_icp_pass_is_one_exchange_free_cogroup(spark):
    """An ICP pass (registration/icp.py) after the first: NO Exchange, and
    ONE FlatMapCoGroupsInPandas whose only leaves are the two
    InMemoryTableScans — the first pass fills both caches, which then carry
    the same hash partitioning on cell_id, so no later pass reshuffles."""
    import numpy as np
    import pandas as pd

    from codem_spark.registration import icp

    ext = (0.0, 0.0, 100.0, 100.0)
    rng = np.random.default_rng(5)
    n = 400
    pdf = pd.DataFrame(
        {"pid": np.arange(n), "x": rng.uniform(0, 100, n),
         "y": rng.uniform(0, 100, n), "z": rng.uniform(0, 5, n),
         "nx": np.zeros(n), "ny": np.zeros(n), "nz": np.ones(n)}
    )
    fixed = spark.createDataFrame(pdf)
    moving = spark.createDataFrame(pdf[["pid", "x", "y", "z"]].assign(x=pdf.x + 0.2))
    level, radius, pose = 3, 2.0, np.eye(4)
    fixed_tiled = icp._tile_fixed(fixed, ext, 2 * radius, level)
    moving_tiled = icp._tile_moving(moving, pose, ext, level)
    kern = icp._pass_kernel_builder(pose, pose, radius, True, 2.0, 1.0, True)
    first = icp._pass_frame(moving_tiled, fixed_tiled, kern).collect()
    one_pass = icp._pass_frame(moving_tiled, fixed_tiled, kern)

    tree = _plan_tree(one_pass._jdf.queryExecution().executedPlan())
    names = [t[0] for t in _walk(tree)]
    assert not [x for x in names if "Exchange" in x], names
    cogroups = [t for t in _walk(tree) if "FlatMapCoGroupsInPandas" in t[0]]
    assert len(cogroups) == 1, names
    leaves = [t[0] for t in _walk(cogroups[0]) if not t[1]]
    assert leaves == ["InMemoryTableScan"] * 2, names
    assert [t[0] for t in _walk(tree) if not t[1]] == leaves, names

    rows = one_pass.collect()
    fixed_tiled.unpersist()
    moving_tiled.unpersist()
    assert sorted(rows) == sorted(first)
    acc, drift = icp._sum_tiles(rows)
    # every moving point has a neighbor within 2.0 (planted 0.2 shift)
    assert int(acc[icp._ACC_COLS.index("n")]) == n
    assert drift == 0.0


def _nodes(p):
    """Java plan nodes of a physical plan, pre-order (through AQE's
    initial plan)."""
    if p.nodeName() == "AdaptiveSparkPlan":
        yield from _nodes(p.initialPlan())
        return
    yield p
    ch = p.children()
    for i in range(ch.size()):
        yield from _nodes(ch.apply(i))


def test_raster_operators_share_one_tile_exchange(spark):
    """infill_band_pass, extract_features and smrf_ground all run through
    grid.tile_apply: ONE FlatMapGroupsInPandas, under it ONE Exchange
    hash-partitioned on the tile keys (htx, hty). The first two read a
    local raster, so that is their only Exchange; smrf_ground adds its
    grid-min aggregation and the join back to the points."""
    import numpy as np
    import pandas as pd

    from codem_spark.operators import grid, ground
    from codem_spark.registration import features

    rng = np.random.default_rng(2)
    gx, gy = np.meshgrid(np.arange(40), np.arange(30), indexing="ij")
    z = rng.normal(0, 1, gx.size)
    dsm = spark.createDataFrame(pd.DataFrame(
        {"gx": gx.ravel(), "gy": gy.ravel(), "z": z,
         "z_u8": rng.integers(1, 256, gx.size).astype(np.int32)}
    ))
    pts = spark.createDataFrame(pd.DataFrame(
        {"x": rng.uniform(0, 40, 500), "y": rng.uniform(0, 30, 500), "z": rng.normal(0, 1, 500)}
    ))
    frames = {
        "infill_band_pass": grid.infill_band_pass(dsm.select("gx", "gy", "z"), 1.0, 2.0),
        "extract_features": features.extract_features(dsm, (0, 0, 40, 30), 1.0),
        "smrf_ground": ground.smrf_ground(pts, (0, 0, 40, 30), resolution=1.0, max_window=4.0),
    }
    for name, df in frames.items():
        nodes = list(_nodes(df._jdf.queryExecution().executedPlan()))
        kernels = [p for p in nodes if p.nodeName() == "FlatMapGroupsInPandas"]
        assert len(kernels) == 1, (name, [p.nodeName() for p in nodes])
        heads = [p.toString().splitlines()[0] for p in nodes if p.nodeName() == "Exchange"]
        tile = [h for h in heads if "hashpartitioning(htx#" in h and ", hty#" in h]
        assert len(tile) == 1, (name, heads)
        under = [p.toString().splitlines()[0] for p in _nodes(kernels[0])
                 if p.nodeName() == "Exchange"]
        assert under[0] == tile[0], (name, under)
        if name != "smrf_ground":
            assert heads == tile, (name, heads)


def _joins(df) -> list[str]:
    """First lines of the join operators of ``df``'s executed plan."""
    return [
        p.toString().splitlines()[0]
        for p in _nodes(df._jdf.queryExecution().executedPlan())
        if p.nodeName().endswith("Join") or p.nodeName() == "CartesianProduct"
    ]


def test_banded_dedup_verifies_in_bucket_without_join_back(spark):
    """simhash and embedding dedup score each candidate pair inside its LSH
    bucket (dedup._bucket_pairs carries the payload), so neither joins the
    fingerprints or vectors back onto the pair sides: simhash has no join,
    embedding dedup only the left_anti that drops the confirmed copies."""
    from codem_spark.operators import dedup, similarity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert _joins(dedup.simhash_candidates(docs)) == []
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    joins = _joins(similarity.embedding_cosine_dedup(emb, dim=64))
    assert len(joins) == 1 and "LeftAnti" in joins[0], joins
