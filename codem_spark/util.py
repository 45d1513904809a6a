"""Small plan utilities, and the one owner of every Spark cache.

Caches. Every ``persist`` and ``localCheckpoint`` of the engine goes
through :func:`persist` and :func:`checkpoint`, and each registers its
frame with the innermost open :func:`cache_scope`. Leaving the scope
releases every frame it still holds, on error paths too; :func:`release`
frees a frame early. The scopes form one process-wide stack under a lock,
so a frame cached from a driver pool thread (``preprocess`` builds both
DSMs in two) lands in the scope of the thread that opened it.

- Return rule: a function opens its own scope only if its return value
  does not read that scope's caches. ``knn_join_complete``,
  ``euclidean_cluster``, ``jaccard_verify``, ``preprocess`` and
  ``run_vcd`` return lazy frames built on their caches, so those caches
  go to the caller's scope. A contract query that needs its caches for
  its result collects the result inside its scope and returns
  ``createDataFrame(pdf, schema)``.
- With no scope open, a frame is unowned, as a bare ``persist()`` is:
  it lives until ``release``, ``spark.catalog.clearCache()`` (which does
  not reach checkpoints) or Spark's context cleaner.
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

# approx_row_count: bytes per row assumed at least this, whatever the schema
_ROW_WIDTH_FLOOR = 16


def rebalance(df: DataFrame) -> DataFrame:
    """Ensure scan-side parallelism before heavy per-row work.

    At 100 TB the scan has thousands of input splits and this no-ops; tiny
    demo files arrive as ONE split and every narrow stage downstream would
    run single-threaded (observed: 8 s -> 1.3 s on a 5000-doc shingle stage
    at local[32]). Only repartitions when the current partition count is
    below the session's default parallelism — the shuffle it introduces is
    then trivially small by construction.

    Plan-aware short-circuit (guide §2.4/§7.2): if the physical plan already
    contains a shuffle Exchange, downstream stages run at spark.sql.shuffle
    .partitions (>= parallelism in this engine's sessions), so rebalancing
    is a no-op BY CONSTRUCTION — and probing ``df.rdd.getNumPartitions()``
    on such a plan is far from free: with AQE enabled, materializing the
    RDD eagerly EXECUTES every shuffle stage of the query just to learn the
    partition count, and that work is thrown away and repeated by the real
    action (measured: ~0.3-0.5 s per bench query at sf0.1, one redundant
    scan+shuffle each for every _points()-derived query). Only shuffle-free
    plans fall through to the RDD probe. A BroadcastExchange does not count:
    a broadcast join keeps its streamed side's partitioning, so a 1-split
    scan joined to a broadcast table still runs single-threaded.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a shuffle renders as "Exchange <partitioning>" (a reused one keeps
        # that text after "ReusedExchange [...], "); \b skips BroadcastExchange
        if re.search(r"\bExchange\b", plan):
            return df
    except Exception:
        pass  # fall through to the RDD probe on any introspection failure
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def approx_row_count(df: DataFrame) -> int:
    """Cheap row-count ESTIMATE from Catalyst plan statistics — no job.

    For parallelism knobs only (tile-level selection in knn.auto_level and
    friends), where being a factor of a few off changes nothing but task
    granularity: an exact ``df.count()`` there costs a full scan+shuffle
    execution per call (measured: 2 count jobs = ~0.7 s of the 3.3 s
    tin_resample query at sf0.1). Uses the optimizer's rowCount when
    statistics provide it, else sizeInBytes divided by the schema's fixed
    width (variable-width columns make this an overestimate, which errs
    toward MORE tiles — bounded by the radius rule, so always correct)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(rc.get().longValue())
        size = int(stats.sizeInBytes())
        width = max(_ROW_WIDTH_FLOOR, sum(
            8 if f.dataType.simpleString() in ("double", "bigint", "long") else 4
            for f in df.schema.fields
        ))
        return max(1, size // width)
    except Exception:
        return df.count()


_scopes: list[list[DataFrame]] = []
_scopes_lock = threading.Lock()


def _own(df: DataFrame) -> DataFrame:
    with _scopes_lock:
        if _scopes:
            _scopes[-1].append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost open scope."""
    return _own(df.persist())


def checkpoint(df: DataFrame) -> DataFrame:
    """An eager ``df.localCheckpoint()``, owned by the innermost open scope."""
    return _own(df.localCheckpoint(eager=True))


def release(*dfs: DataFrame) -> None:
    """Free frames that :func:`persist` or :func:`checkpoint` returned,
    and drop them from their scope."""
    with _scopes_lock:
        for frames in _scopes:
            frames[:] = [f for f in frames if all(f is not d for d in dfs)]
    for df in dfs:
        df.unpersist(False)
        # a checkpoint is a LogicalRDD over its own RDD's blocks, which no
        # cache-manager entry names: unpersist that RDD
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


@contextmanager
def cache_scope():
    """Own every frame cached inside the block, and release those still
    held when it ends."""
    frames: list[DataFrame] = []
    with _scopes_lock:
        _scopes.append(frames)
    try:
        yield
    finally:
        with _scopes_lock:
            del _scopes[next(i for i, f in enumerate(_scopes) if f is frames)]
        release(*frames)
