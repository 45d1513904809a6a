"""Plan utilities and the cache scope."""

from __future__ import annotations

import ast
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.util import rebalance
from tests.conftest import persisted_rdd_ids


def test_rebalance_repartitions_past_a_broadcast_exchange(spark):
    """A broadcast join keeps its streamed side's partitioning, so a
    1-partition scan joined to a broadcast table still needs rebalancing."""
    probe = spark.range(0, 1000, numPartitions=1)
    dim = spark.range(0, 10).withColumnRenamed("id", "k")
    j = probe.join(F.broadcast(dim), probe.id % 10 == dim.k)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    target = spark.sparkContext.defaultParallelism
    assert target > 1
    assert rebalance(j).rdd.getNumPartitions() == target


def test_rebalance_keeps_a_shuffled_plan(spark):
    df = spark.range(0, 1000, numPartitions=2).groupBy((F.col("id") % 7).alias("g")).count()
    assert "Exchange hashpartitioning" in df._jdf.queryExecution().executedPlan().toString()
    assert rebalance(df) is df


# ---------------------------------------------------------------- caches
def _frames(spark, k: int = 0):
    """One persisted and one checkpointed frame, both materialized (plans
    differ by ``k``: equal plans share one cache entry)."""
    p = util.persist(spark.range(100).selectExpr(f"id * 3 + {k} AS v"))
    p.count()
    c = util.checkpoint(spark.range(50).selectExpr("id * 5 AS v"))
    return p, c


def test_scope_releases_persist_and_checkpoint_on_exit(spark):
    before = persisted_rdd_ids(spark)
    with util.cache_scope():
        _frames(spark)
        assert len(persisted_rdd_ids(spark) - before) == 2
    assert not persisted_rdd_ids(spark) - before


def test_scope_releases_on_exception(spark):
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="stage failed"):
        with util.cache_scope():
            _frames(spark)
            raise RuntimeError("stage failed")
    assert not persisted_rdd_ids(spark) - before


def test_nested_scopes_release_their_own_frames(spark):
    before = persisted_rdd_ids(spark)
    with util.cache_scope():
        outer = util.persist(spark.range(10).selectExpr("id + 1 AS v"))
        outer.count()
        held = persisted_rdd_ids(spark) - before
        with util.cache_scope():
            _frames(spark)
            assert len(persisted_rdd_ids(spark) - before) == 3
        assert persisted_rdd_ids(spark) - before == held
        assert outer.is_cached
    assert not persisted_rdd_ids(spark) - before


def test_release_frees_a_frame_early(spark):
    before = persisted_rdd_ids(spark)
    with util.cache_scope():
        p, c = _frames(spark)
        both = persisted_rdd_ids(spark) - before
        util.release(c)
        left = persisted_rdd_ids(spark) - before
        assert len(left) == 1 and left < both
        util.release(p)
        assert not persisted_rdd_ids(spark) - before
        assert not p.is_cached
    assert not persisted_rdd_ids(spark) - before


def test_frame_cached_in_a_pool_thread_lands_in_the_callers_scope(spark):
    """preprocess builds its two DSMs in driver pool threads; their caches
    must belong to the scope the calling thread opened."""
    before = persisted_rdd_ids(spark)
    with util.cache_scope():
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(_frames, spark, k) for k in range(2)]
            for f in futs:
                f.result()
        assert len(persisted_rdd_ids(spark) - before) == 4
    assert not persisted_rdd_ids(spark) - before


def test_frame_without_a_scope_stays_unowned(spark):
    before = persisted_rdd_ids(spark)
    p, c = _frames(spark)
    with util.cache_scope():
        pass
    unowned = persisted_rdd_ids(spark) - before
    assert len(unowned) == 2 and p.is_cached
    util.release(p, c)
    assert not persisted_rdd_ids(spark) - before


def _cache_calls(path: str) -> list[str]:
    """``<file>:<line> .<name>(`` for each persist, localCheckpoint or
    unpersist method call in ``path``, other than through ``util``."""
    tree = ast.parse(open(path).read())
    return [
        f"{path}:{node.lineno} .{node.func.attr}("
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "localCheckpoint", "unpersist")
        and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "util")
    ]


def test_only_util_caches_frames():
    """Every cache of the engine goes through util.persist / util.checkpoint
    and is released by a scope or util.release."""
    repo = Path(__file__).resolve().parents[1]
    paths = [repo / "__spark_entry__.py", repo / "bench.py"]
    paths += sorted((repo / "codem_spark").rglob("*.py"))
    calls = [c for p in paths if p.name != "util.py" or p.parent.name != "codem_spark"
             for c in _cache_calls(str(p))]
    assert not calls, calls
