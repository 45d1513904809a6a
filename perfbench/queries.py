"""Query registry of the benchmark: the contract queries of
``__spark_entry__`` with the scale-path overrides, and the layer each query
loads.

The contract versions of ``minhash_lsh``, ``simhash`` and
``euclidean_cluster`` carry O(n^2) inline exact verifiers so that small
scale factors can be value-checked. A benchmark times the scale path
instead: the same operators with their production configuration.
``SCALE_OVERRIDES`` is the one copy of those three paths.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]


def minhash_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Banded MinHash candidates and the documents they came from."""
    from codem_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_lsh_candidates(docs, num_hashes=64, bands=16), docs


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import dedup

    cands, docs = minhash_candidates(spark, sf_dir)
    return dedup.jaccard_verify(cands, docs, threshold=0.7)


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codem_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_candidates(docs, band_bits=16, hamming_max=3)


def euclidean_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed union-find over the lineitem-derived points (the contract
    entry's driver-side exact verifier only fits small scale factors)."""
    from codem_spark import synth
    from codem_spark.operators import cluster

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = synth.points_from_lineitem(li)
    return cluster.euclidean_cluster(pts, synth.DEFAULT_EXTENT, tolerance=120.0, min_points=10)


SCALE_OVERRIDES: dict[str, Query] = {
    "minhash_lsh": minhash_lsh,
    "simhash": simhash,
    "euclidean_cluster": euclidean_cluster,
}


def bench_queries() -> dict[str, Query]:
    """Contract queries with the scale-path overrides applied."""
    import __spark_entry__ as entry

    qs = dict(entry.queries())
    qs.update(SCALE_OVERRIDES)
    return qs


# query -> the module layer it loads
QUERY_LAYER: dict[str, str] = {
    "knn_dz": "operators.knn",
    "cell_encode": "functions.cells",
    "grid_max": "operators.grid",
    "grid_idw": "operators.grid",
    "density": "operators.grid",
    "window_count": "operators.grid",
    "quantize": "operators.grid",
    "pip": "operators.pip",
    "idw_resample": "operators.resample",
    "tin_resample": "operators.tin",
    "euclidean_cluster": "operators.cluster",
    "exact_dedup": "operators.dedup",
    "minhash_lsh": "operators.dedup",
    "simhash": "operators.dedup",
    "cosine_topk": "operators.similarity",
    "embedding_dedup": "operators.similarity",
}

# one query_mix pass: the tile+halo spatial queries and the dedup and
# similarity queries, run in a seed-permuted order
QUERY_MIX = [
    "knn_dz", "cell_encode", "grid_max", "grid_idw", "density", "pip",
    "window_count", "quantize", "idw_resample", "tin_resample", "euclidean_cluster",
    "exact_dedup", "minhash_lsh", "simhash", "cosine_topk", "embedding_dedup",
]
