"""Plan utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from codem_spark.util import rebalance


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
