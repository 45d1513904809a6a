"""Seeded input generators. The same seed gives the same tables.

The seed picks which rows exist and what they say; the row counts are fixed
per workload, so different seeds ask for the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# word list of the text corpus; small on purpose, so 3-gram shingles repeat
# across documents and the LSH buckets are not all singletons
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join customer the a"
).split()


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet"))


def write_spatial_tables(sf_dir: str, seed: int, n_orders: int, n_events: int) -> None:
    """Write the lineitem and events tables the spatial contract queries
    read, with the columns those queries use."""
    rng = np.random.default_rng(seed)
    # lineitem: pid = l_orderkey * 8 + l_linenumber, x/y/z are functions of pid
    orderkeys = np.sort(rng.choice(4 * n_orders, n_orders, replace=False)).astype(np.int64)
    lines = rng.integers(1, 8, n_orders)
    ok = np.repeat(orderkeys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    _write(pd.DataFrame({"l_orderkey": ok, "l_linenumber": ln}), os.path.join(sf_dir, "lineitem.parquet"))

    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "user_id": rng.integers(0, max(1, n_events // 64), n_events).astype(np.int64),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )


def write_text_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write the documents and embeddings tables the text contract queries
    read, with the columns those queries use."""
    rng = np.random.default_rng(seed)
    # documents: random word sequences; 10% exact copies (case and spacing
    # noise only) and 10% near copies (one word replaced) of earlier docs
    words = np.array(_WORDS)
    lens = rng.integers(20, 70, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    kind = rng.random(n_docs)
    for i in range(1, n_docs):
        src = int(rng.integers(0, i))
        if kind[i] < 0.1:
            texts[i] = "  " + texts[src].upper()
        elif kind[i] < 0.2:
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "edited"
            texts[i] = " ".join(toks)
    _write(
        pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}),
        os.path.join(sf_dir, "documents.parquet"),
    )

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    _write(
        pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(vecs)}),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def true_transform(side: float) -> np.ndarray:
    """AOI <- foundation transform of the register scene: a 90 degree turn
    about the scene centre, then a (40, 25, 2) m shift."""
    from codem_spark.functions.geo import similarity_matrix

    c = side / 2.0
    t = np.eye(4)
    t[:3, 3] = (c, c, 0.0)
    ti = np.eye(4)
    ti[:3, 3] = (-c, -c, 0.0)
    shift = np.eye(4)
    shift[:3, 3] = (40.0, 25.0, 2.0)
    return shift @ t @ similarity_matrix(1.0, 0, 0, 90.0) @ ti


def register_scene(seed: int, n: int, side: float, scene_seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Foundation and AOI clouds of one registration scene: a smooth
    terrain with an 80 m block grid of buildings, and the inner 60% square
    moved by :func:`true_transform`.

    ``scene_seed`` fixes the point positions and ``seed`` permutes the rows
    and their ids. Coarse matching at this size depends on where the points
    fall: some samplings give a handful of RANSAC pairs and run ICP to its
    100-iteration cap (a slow input, not noise), so the run seed must not
    move the points."""
    rng = np.random.default_rng(scene_seed)
    fx = rng.uniform(0, side, n)
    fy = rng.uniform(0, side, n)
    gx = np.floor(fx / 80).astype(np.int64)
    gy = np.floor(fy / 80).astype(np.int64)
    inside = ((fx - gx * 80) > 25) & ((fx - gx * 80) < 55) & ((fy - gy * 80) > 25) & ((fy - gy * 80) < 55)
    h = ((gx * 73856093 + gy * 19349663) % 97) / 97.0 * 18 + 4
    fz = (
        10 * np.sin(fx * 2 * np.pi / 1400 + 0.3) * np.cos(fy * 2 * np.pi / 1800 - 1.7)
        + np.where(inside, h, 0.0)
        + 50.0
    )
    lo, hi = 0.2 * side, 0.8 * side
    m = (fx > lo) & (fx < hi) & (fy > lo) & (fy < hi)
    a = np.column_stack([fx[m], fy[m], fz[m], np.ones(int(m.sum()))]) @ true_transform(side).T
    perm = np.random.default_rng(seed)
    fo, ao = perm.permutation(n), perm.permutation(len(a))
    fnd = pd.DataFrame({"pid": perm.permutation(n), "x": fx[fo], "y": fy[fo], "z": fz[fo]})
    aoi = pd.DataFrame({"pid": perm.permutation(len(a)), "x": a[ao, 0], "y": a[ao, 1], "z": a[ao, 2]})
    return fnd, aoi
