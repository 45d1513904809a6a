"""The brute-force -> LSH descriptor-match capacity switch (reference
dsm.py:175-183): the LSH path must find essentially the same putative
matches as the driver brute-force path on the same keypoints, and the
brute-force kernel's AOI chunking must not change its output."""

from __future__ import annotations

import numpy as np
import pandas as pd

from codem_spark.registration import coarse


def _kp_frame(n, seed):
    rng = np.random.default_rng(seed)
    d = rng.integers(-(2**62), 2**62, size=(n, 4), dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "x": rng.uniform(0, 1000, n),
            "y": rng.uniform(0, 1000, n),
            "z": rng.uniform(0, 100, n),
            "d0": d[:, 0], "d1": d[:, 1], "d2": d[:, 2], "d3": d[:, 3],
        }
    )
    return pdf


def test_lsh_match_agrees_with_bruteforce(spark, monkeypatch):
    fnd_pdf = _kp_frame(400, seed=3)
    # AOI descriptors = 200 foundation descriptors with a couple of bit flips
    rng = np.random.default_rng(4)
    idx = rng.choice(400, 200, replace=False)
    aoi_pdf = fnd_pdf.iloc[idx].reset_index(drop=True).copy()
    for lane in ("d0", "d1"):
        flips = np.int64(1) << rng.integers(0, 63, size=200)
        aoi_pdf[lane] = aoi_pdf[lane].to_numpy() ^ flips
    aoi_pdf["x"] = rng.uniform(0, 1000, 200)
    aoi_pdf["y"] = rng.uniform(0, 1000, 200)

    fnd = spark.createDataFrame(fnd_pdf)
    aoi = spark.createDataFrame(aoi_pdf)
    bf = coarse.match_features(fnd, aoi, lowes_ratio=0.8)  # capacity not hit
    monkeypatch.setattr(coarse, "BF_MATCH_CAPACITY", 10)  # force LSH
    lsh = coarse.match_features(fnd, aoi, lowes_ratio=0.8)
    # both must recover the planted correspondences (match rate high; LSH
    # recall may drop a handful)
    assert len(bf) >= 190
    assert len(lsh) >= 0.9 * len(bf)
    bfk = set(zip(bf.fx.round(6), bf.ax.round(6)))
    lshk = set(zip(lsh.fx.round(6), lsh.ax.round(6)))
    assert len(bfk & lshk) >= 0.9 * len(bfk)


def test_bruteforce_chunking_is_exact(monkeypatch):
    """A cell budget far below one AOI row per chunk gives the pairs of the
    one-block default, row order included, on descriptors with exact
    duplicates (Hamming ties) on both sides."""
    fnd = _kp_frame(300, seed=8)
    fnd.iloc[150:200, 3:] = fnd.iloc[100:150, 3:].to_numpy()  # foundation ties
    aoi = _kp_frame(250, seed=9)
    aoi.iloc[:120, 3:] = fnd.iloc[60:180, 3:].to_numpy()  # exact matches
    aoi.iloc[120:140, 3:] = aoi.iloc[100:120, 3:].to_numpy()  # AOI duplicates
    whole = coarse._match_bf(fnd, aoi, 0.9)
    monkeypatch.setattr(coarse, "BF_CHUNK_CELLS", 700)  # 2 AOI rows per chunk
    chunked = coarse._match_bf(fnd, aoi, 0.9)
    assert len(whole) >= 40  # the unique exact matches
    pd.testing.assert_frame_equal(whole, chunked)
