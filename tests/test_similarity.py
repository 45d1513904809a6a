"""Similarity search: LSH recall against brute force; embedding dedup."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_lsh_recall_reasonable(spark):
    from codem_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(40)
    exact = similarity.cosine_topk_bruteforce(q, emb, k=1).toPandas()
    approx = similarity.cosine_topk_lsh(q, emb, dim=64, k=1, n_planes=6, n_tables=12).toPandas()
    exact_nn = dict(zip(exact[exact["rank"] == 1].q_id, exact[exact["rank"] == 1].d_id))
    appr_nn = dict(zip(approx[approx["rank"] == 1].q_id, approx[approx["rank"] == 1].d_id))
    hits = sum(1 for k_, v in exact_nn.items() if appr_nn.get(k_) == v)
    assert hits / len(exact_nn) > 0.5  # multi-table LSH recall on random vectors


def test_embedding_cosine_dedup_drops_planted_copies(spark):
    """Dedup-family member over embeddings: planted near-copies (cosine
    ~0.9999) are dropped (higher id), genuinely distinct vectors survive,
    and a stricter threshold that nothing meets drops nothing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from codem_spark.operators import similarity

    rng = np.random.default_rng(12)
    n, dim = 300, 32
    base = rng.standard_normal((n, dim))
    copies = base[:40] * (1.0 + rng.uniform(-0.004, 0.004, (40, dim)))
    emb = pd.DataFrame(
        {
            "vec_id": np.concatenate([np.arange(n), np.arange(40) + 10_000]),
            "embedding": list(np.vstack([base, copies])),
        }
    )
    df = spark.createDataFrame(emb)
    kept = similarity.embedding_cosine_dedup(df, dim=dim, threshold=0.99).toPandas()
    assert set(kept.vec_id) == set(range(n))  # every planted copy dropped
    kept_strict = similarity.embedding_cosine_dedup(df, dim=dim, threshold=0.9999999).toPandas()
    assert len(kept_strict) == n + 40  # nothing meets the bar -> no drops


def test_embedding_dedup_hot_bucket_star_guard(spark):
    """A duplicate cluster larger than bucket_cap: star pairs (member vs
    bucket-min representative) must still drop every copy except the min id
    — the O(m) guard a 10^12-row corpus needs instead of O(m^2) pairs."""
    import numpy as np
    import pandas as pd

    from codem_spark.operators import similarity

    rng = np.random.default_rng(13)
    dim = 16
    v = rng.standard_normal(dim)
    cluster = [v * (1.0 + 1e-5 * k) for k in range(60)]  # 60 near-copies
    distinct = list(rng.standard_normal((20, dim)))
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(80),
            "embedding": cluster + distinct,
        }
    )
    df = spark.createDataFrame(emb)
    kept = similarity.embedding_cosine_dedup(
        df, dim=dim, threshold=0.999, bucket_cap=8
    ).toPandas()
    # survivor of the 60-copy cluster is exactly vec_id 0; distinct rows kept
    assert set(kept.vec_id) == {0} | set(range(60, 80))
