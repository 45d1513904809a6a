"""Dedup family: exact vs DuckDB sha256; minhash/simhash find planted dups."""

from __future__ import annotations

from pyspark.sql import functions as F

from codem_spark.operators import dedup
from tests.conftest import persisted_rdd_ids

SF = "/root/testdata/sf0.001"


def test_exact_dup_groups_vs_duckdb(spark, duck):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = dedup.exact_dup_groups(docs).toPandas().sort_values("digest").reset_index(drop=True)
    exp = duck.sql(
        f"""SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS digest,
               count(*) AS n_dups, min(doc_id) AS keep_id
        FROM '{SF}/documents.parquet' GROUP BY 1 ORDER BY digest"""
    ).df()
    assert len(got) == len(exp)
    assert (got.digest.values == exp.digest.values).all()
    assert (got.n_dups.values == exp.n_dups.values).all()
    assert (got.keep_id.values == exp.keep_id.values).all()


def test_minhash_finds_planted_near_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    # plant near-duplicates: copy each doc with one word appended
    dups = docs.select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    alld = docs.select("doc_id", "text").unionByName(dups)
    pairs = dedup.minhash_lsh_candidates(alld, num_hashes=64, bands=16).toPandas()
    verified = dedup.jaccard_verify(
        spark.createDataFrame(pairs), alld, threshold=0.5
    ).toPandas()
    planted = set(zip(verified.id_a, verified.id_b))
    found = sum(1 for i in range(50) if any(a == i and b == i + 100_000 for a, b in planted))
    assert found >= 45  # LSH recall on ~1.0-jaccard pairs is near-total


def test_simhash_hamming_zero_for_identical(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20).select("doc_id", "text")
    dups = docs.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    alld = docs.unionByName(dups)
    cands = dedup.simhash_candidates(alld).toPandas()
    ident = cands[(cands.id_b - cands.id_a) == 100_000]
    assert (ident.hamming == 0).all()
    assert len(ident) >= 15


def test_hot_bucket_guard_bounds_candidates(spark):
    """Planted skew: thousands of near-identical docs share every LSH band.
    The hot-bucket guard must emit O(m) star pairs, not m^2/2, and still
    link every copy to the representative (dedup-complete)."""
    m = 20_000
    docs = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page text repeated across the web corpus").alias("text"),
    )
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=64, bands=16)
    n = cands.count()
    assert n == m - 1  # star: every doc pairs with the bucket-min (doc 0)
    ids = cands.agg(F.min("id_a"), F.max("id_a")).collect()[0]
    assert ids[0] == 0 and ids[1] == 0


def test_bucket_guard_small_buckets_exact(spark):
    """Buckets at or under the cap keep exact all-pairs banded-LSH output."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40).select("doc_id", "text")
    dups = docs.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    alld = docs.unionByName(dups)
    small_cap = dedup.minhash_lsh_candidates(alld, bucket_cap=1_000_000).toPandas()
    default_cap = dedup.minhash_lsh_candidates(alld).toPandas()
    a = set(zip(small_cap.id_a, small_cap.id_b))
    b = set(zip(default_cap.id_a, default_cap.id_b))
    assert a == b


def test_bucket_cap_none_is_exact_and_stats_observable(spark):
    """cap=None disables the star-pair fallback (exact banded-LSH pairs)."""
    from codem_spark.operators import dedup as dd
    from pyspark.sql import functions as F

    docs_df = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    keys = docs_df.select(
        F.col("doc_id").alias("did"),
        dd.minhash_band_keys_col(dd.shingles_col(F.col("text"), 3), 64, 16).alias("bkeys"),
    )
    banded = keys.select("did", F.posexplode("bkeys").alias("band", "bkey"))

    def ids(cap):
        pairs = dd._bucket_pairs(banded, cap=cap).select("a.did", "b.did").distinct()
        return set(map(tuple, pairs.collect()))

    exact, capped = ids(None), ids(2)
    # the capped set is a subset (star pairs are a subset of all-pairs
    # within each bucket)
    assert capped <= exact or len(exact) == 0


def _leaf_names(p) -> list[str]:
    """Leaf operators of a physical plan (InMemoryTableScan is a leaf of
    the live plan, so a cached subtree counts once, as its scan)."""
    if p.nodeName() == "AdaptiveSparkPlan":  # children() is empty; descend
        return _leaf_names(p.initialPlan())
    ch = p.children()
    if ch.size() == 0:
        return [p.nodeName()]
    return [n for i in range(ch.size()) for n in _leaf_names(ch.apply(i))]


def test_verify_shares_one_persisted_shingle_frame(spark):
    """candidates + verify over two reads of the same parquet persist ONE
    shingle frame, and every shingle subtree of the verify plan (the
    candidate side and both pair sides) reads it from the cache."""
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        docs2 = spark.read.parquet(f"{SF}/documents.parquet")
        out = dedup.jaccard_verify(dedup.minhash_lsh_candidates(docs), docs2, threshold=0.5)
        out.collect()
        assert len(persisted_rdd_ids(spark) - before) == 1
        leaves = _leaf_names(out._jdf.queryExecution().executedPlan())
        assert leaves == ["InMemoryTableScan"] * 3, leaves
    finally:
        spark.catalog.clearCache()


def test_candidates_alone_persist_nothing(spark):
    """A candidates-only call leaves no persisted frame behind."""
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dedup.minhash_lsh_candidates(docs).count()
    assert not persisted_rdd_ids(spark) - before


def test_simhash_candidates_persist_nothing(spark):
    """simhash scores the Hamming distance inside the bucket, so it has no
    fingerprint frame to persist for a join back."""
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dedup.simhash_candidates(docs).count()
    assert not persisted_rdd_ids(spark) - before


def test_minhash_mersenne_fold_matches_modulo():
    """The lane loop's Mersenne shift-add reduction must be bit-identical
    to the integer remainder it replaced, for every coefficient lane and
    boundary hash values (0, 1, p-1, multiples of p)."""
    import numpy as np
    import pandas as pd

    from codem_spark.operators.dedup import _MH_PRIME, _mh_coeffs, _minhash_matrix

    p = _MH_PRIME
    coeffs = _mh_coeffs(64)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)
    rng = np.random.default_rng(5)
    rows = [
        rng.integers(-(1 << 62), 1 << 62, 37).tolist(),
        [0, 1, p - 1, p, p + 1, 2 * p, -1, -p],
        [],
        rng.integers(0, p, 211).tolist(),
    ]
    got = _minhash_matrix(pd.Series(rows), a_vec, b_vec)
    # reference: plain modular arithmetic per row/lane
    for r, row in enumerate(rows):
        if not row:
            assert (got[r] == p).all()
            continue
        hp = np.asarray(row, dtype=np.int64) % p
        for lane in range(64):
            ref = ((hp * a_vec[lane] + b_vec[lane]) % p).min()
            assert got[r, lane] == ref, (r, lane)
