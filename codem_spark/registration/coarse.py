"""Coarse registration: descriptor match + RANSAC similarity solve.

Reference analog: DsmRegistration (dsm.py:95-138): _get_kp -> _get_putative
(k=2 Hamming kNN + Lowe ratio, dsm.py:165-200) -> _filter_putative (RANSAC
over 3D pairs, threshold 10 m, <=10^4 trials, dsm.py:232-257) -> umeyama
closed-form similarity (dsm.py:523-592, Umeyama 1991 Eq. 38-43) -> RMSE
(dsm.py:386-402).

Engine design: keypoint tables are small relative to the input (at most
``MAX_KP_PER_TILE`` per tile), so the match runs on the driver. One bounded
collect per side (``BF_MATCH_CAPACITY + 1`` rows) both picks the route and
feeds it: brute force over vectorized 256-bit Hamming distances (XOR +
popcount over 4 int64 lanes) in AOI chunks of bounded size when both sides
fit, else the banded-LSH join on the keypoint frames — the reference's
brute-force-vs-LSH capacity switch at 2^17 descriptors (dsm.py:175-183).
RANSAC runs on the driver over the (tiny) putative-match table with a
seeded generator — deterministic run-to-run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.config import EngineConfig, RegistrationParameters
from codem_spark.operators.dedup import band_keys

_POP = np.array([bin(i).count("1") for i in range(65536)], dtype=np.int64)
# RANSAC: points per similarity sample, and the seed of the sample draw
_MIN_SAMPLES = 3
_RANSAC_SEED = 0
# RANSAC trials solved per stacked-SVD batch
_RANSAC_CHUNK = 512
# LSH match: bits per descriptor band key (16-bit bands of the 4 lanes)
_LSH_BAND_BITS = 16


def _popcount64(a: np.ndarray) -> np.ndarray:
    v = a.view(np.uint64)
    out = np.zeros(a.shape, dtype=np.int64)
    for s in (0, 16, 32, 48):
        out += _POP[((v >> np.uint64(s)) & np.uint64(0xFFFF)).astype(np.int64)]
    return out


# Above this many descriptors on either side the driver brute-force matcher
# switches to a banded-LSH candidate join — the capacity switch the reference
# makes from BFMatcher to FLANN-LSH (dsm.py:175-183). Read at call time.
BF_MATCH_CAPACITY = 1 << 17
# The brute-force kernel takes AOI rows in chunks so that one Hamming block
# holds at most this many int64 cells (32 MiB), whatever the side sizes.
BF_CHUNK_CELLS = 1 << 22

_KP_COLS = ["x", "y", "z", "d0", "d1", "d2", "d3"]
_PAIR_COLS = ["fx", "fy", "fz", "ax", "ay", "az", "dist"]


def _collect_capped(kp: DataFrame, cap: int) -> pd.DataFrame:
    """At most ``cap + 1`` keypoint rows, sorted by value: the match and
    RANSAC then see the same rows in the same order whatever the frame's
    partitioning (the limit's fetch order is not fixed either)."""
    pdf = kp.select(*_KP_COLS).limit(cap + 1).toPandas()
    return pdf.sort_values(_KP_COLS, kind="stable").reset_index(drop=True)


def match_features(
    fnd_kp: DataFrame,
    aoi_kp: DataFrame,
    lowes_ratio: float,
) -> pd.DataFrame:
    """k=2 Hamming kNN of AOI descriptors against foundation descriptors +
    Lowe ratio filter (reference dsm.py:185-197). Returns the putative-match
    pair table as pandas: columns fx, fy, fz, ax, ay, az, dist.

    Each side is collected once, capped at ``BF_MATCH_CAPACITY + 1`` rows,
    from two driver threads. When both sides fit, the collected frames feed
    the driver brute force; when either is over the cap, the banded-LSH join
    runs on the keypoint frames instead (callers persist them for it). The
    reference switches on the foundation side alone; here an AOI side over
    the cap also takes LSH."""
    cap = BF_MATCH_CAPACITY
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_collect_capped, kp, cap) for kp in (fnd_kp, aoi_kp)]
        fnd, aoi = (f.result() for f in futs)
    if len(fnd) > cap or len(aoi) > cap:
        return _match_features_lsh(fnd_kp, aoi_kp, lowes_ratio)
    return _match_bf(fnd, aoi, lowes_ratio)


def _match_bf(fnd: pd.DataFrame, aoi: pd.DataFrame, lowes_ratio: float) -> pd.DataFrame:
    """Brute-force k=2 Hamming match on the driver: XOR + popcount over the
    4 int64 descriptor lanes, AOI rows in chunks of at most
    ``BF_CHUNK_CELLS`` distance cells. Rows are independent, so the output
    does not depend on the chunk size."""
    if len(fnd) < 2:  # no second-nearest neighbour for the ratio test
        aoi = aoi.iloc[:0]
    fdesc = fnd[["d0", "d1", "d2", "d3"]].to_numpy(np.int64)
    fxyz = fnd[["x", "y", "z"]].to_numpy(np.float64)
    adesc = aoi[["d0", "d1", "d2", "d3"]].to_numpy(np.int64)
    axyz = aoi[["x", "y", "z"]].to_numpy(np.float64)
    n = len(adesc)
    best = np.zeros(n, dtype=np.int64)
    d2v = np.zeros((n, 2), dtype=np.int64)
    step = max(1, BF_CHUNK_CELLS // max(len(fdesc), 1))
    for lo in range(0, n, step):
        a = adesc[lo : lo + step]
        d = np.zeros((len(a), len(fdesc)), dtype=np.int64)
        for lane in range(4):
            d += _popcount64(a[:, lane : lane + 1] ^ fdesc[None, :, lane])
        p2 = np.argpartition(d, 1, axis=1)[:, :2]
        dv = np.take_along_axis(d, p2, axis=1)
        swap = dv[:, 0] > dv[:, 1]
        p2[swap] = p2[swap][:, ::-1]
        dv[swap] = dv[swap][:, ::-1]
        best[lo : lo + step] = p2[:, 0]
        d2v[lo : lo + step] = dv
    keep = d2v[:, 0] < lowes_ratio * d2v[:, 1]
    cols = [*fxyz[best[keep]].T, *axyz[keep].T, d2v[keep, 0].astype(np.float64)]
    return pd.DataFrame(dict(zip(_PAIR_COLS, cols)))


def _match_features_lsh(
    fnd_kp: DataFrame,
    aoi_kp: DataFrame,
    lowes_ratio: float,
) -> pd.DataFrame:
    """LSH fallback for huge descriptor sets: candidate pairs collide on any
    16-bit band of any of the 4 descriptor lanes (catching near-Hamming
    matches with high recall, like the reference's FLANN multi-probe LSH);
    exact Hamming + per-AOI-keypoint top-2 + Lowe ratio on the candidates —
    one banded shuffle join instead of a driver collect. The pairs come
    back sorted by value, so their order does not depend on the shuffle."""
    bands = band_keys(["d0", "d1", "d2", "d3"], _LSH_BAND_BITS)

    def banded(df: DataFrame, prefix: str) -> DataFrame:
        cols = [F.col(c).alias(f"{prefix}{c}") for c in ("x", "y", "z", "d0", "d1", "d2", "d3")]
        return df.select(*cols, F.inline(bands))

    with util.cache_scope():
        fb = util.persist(banded(fnd_kp, "f_"))
        ab = banded(aoi_kp, "a_")
        ham = None
        for lane in range(4):
            h = F.bit_count(F.col(f"a_d{lane}").bitwiseXOR(F.col(f"f_d{lane}")))
            ham = h if ham is None else ham + h
        pairs = (
            ab.join(fb, ["band", "bkey"])
            .drop("band", "bkey")
            .dropDuplicates(["a_x", "a_y", "f_x", "f_y"])
            .withColumn("ham", ham)
        )
        from pyspark.sql import Window

        w = Window.partitionBy("a_x", "a_y").orderBy(
            F.col("ham").asc(), F.col("f_x"), F.col("f_y")
        )
        top2 = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
        agg = (
            top2.groupBy("a_x", "a_y")
            .agg(
                F.min(F.when(F.col("rn") == 1, F.col("ham"))).alias("d1"),
                F.min(F.when(F.col("rn") == 2, F.col("ham"))).alias("d2"),
                F.first(F.when(F.col("rn") == 1, F.col("f_x")), ignorenulls=True).alias("fx"),
                F.first(F.when(F.col("rn") == 1, F.col("f_y")), ignorenulls=True).alias("fy"),
                F.first(F.when(F.col("rn") == 1, F.col("f_z")), ignorenulls=True).alias("fz"),
                F.first(F.when(F.col("rn") == 1, F.col("a_z")), ignorenulls=True).alias("az"),
            )
            # a lone candidate has no in-bucket second-best: score the ratio test
            # against the max possible Hamming distance (256 bits) — the BF path
            # would see a random ~128-distance second-best and pass it anyway
            .filter(
                F.col("d1")
                < F.lit(lowes_ratio) * F.coalesce(F.col("d2"), F.lit(256).cast("int"))
            )
        )
        pdf = agg.select(
            "fx", "fy", "fz",
            F.col("a_x").alias("ax"), F.col("a_y").alias("ay"), F.col("az").alias("az"),
            F.col("d1").cast("double").alias("dist"),
        ).toPandas()
    return pdf.sort_values(_PAIR_COLS, kind="stable").reset_index(drop=True)


def umeyama(src: np.ndarray, dst: np.ndarray, solve_scale: bool) -> np.ndarray:
    """Closed-form least-squares similarity transforms src -> dst for a stack
    of point sets (Umeyama 1991, Eq. 38-43 — same formulation the reference
    implements at dsm.py:523-592): (t, k, 3) pairs -> (t, 4, 4) homogeneous
    matrices. A set whose SVD does not converge gets a NaN matrix, so every
    residual under it is non-finite."""
    t, k, _ = src.shape
    mu_s = src.mean(axis=1)  # (t, 3)
    mu_d = dst.mean(axis=1)
    ss = src - mu_s[:, None, :]
    ds = dst - mu_d[:, None, :]
    cov = np.einsum("tki,tkj->tij", ds, ss) / k  # (t, 3, 3)
    ok = np.ones(t, bool)
    try:
        u, s, vt = np.linalg.svd(cov)
    except np.linalg.LinAlgError:
        # one failing set fails the stacked call: find it, solve the rest
        for i in range(t):
            try:
                np.linalg.svd(cov[i])
            except np.linalg.LinAlgError:
                ok[i] = False
        cov = np.where(ok[:, None, None], cov, np.eye(3))
        u, s, vt = np.linalg.svd(cov)
    # numpy matrix_rank default tolerance: s.max() * max(M, N) * eps
    rank = (s > (s[:, :1] * 3 * np.finfo(np.float64).eps)).sum(axis=1)
    d = np.ones((t, 3))
    flip = (np.linalg.det(cov) < 0) | ((rank == 2) & (np.linalg.det(u) * np.linalg.det(vt) < 0))
    d[flip, 2] = -1.0
    r = np.einsum("tij,tj,tjk->tik", u, d, vt)  # u @ diag(d) @ vt
    if solve_scale:
        c = (s * d).sum(axis=1) / np.maximum(ss.var(axis=1).sum(axis=1), 1e-300)
    else:
        c = np.ones(t)
    m4 = np.tile(np.eye(4), (t, 1, 1))
    m4[:, :3, :3] = c[:, None, None] * r
    m4[:, :3, 3] = mu_d - c[:, None] * np.einsum("tij,tj->ti", r, mu_s)
    m4[~ok] = np.nan
    return m4


def _ransac_consensus_batch(
    src: np.ndarray,
    dst: np.ndarray,
    samples: np.ndarray,
    threshold: float,
    solve_scale: bool,
) -> tuple[int, "np.ndarray | None"]:
    """Batched RANSAC consensus search: for every 3-point sample, the
    umeyama similarity and its inlier count over all pairs, in chunks of
    ``_RANSAC_CHUNK`` trials; returns (best_count, inlier mask of the FIRST
    best trial). Trials with duplicate sample indices count -1 (the loop
    skipped them), as do trials with a non-finite residual."""
    best_count = -1
    best_inliers: np.ndarray | None = None
    for lo in range(0, len(samples), _RANSAC_CHUNK):
        sl = samples[lo : lo + _RANSAC_CHUNK]
        valid = (
            (sl[:, 0] != sl[:, 1]) & (sl[:, 0] != sl[:, 2]) & (sl[:, 1] != sl[:, 2])
        )
        m = umeyama(src[sl], dst[sl], solve_scale)  # (t, 4, 4)
        # residuals of ALL pairs under every trial's transform (degenerate
        # trials can overflow to inf — masked out by the finite check)
        with np.errstate(over="ignore", invalid="ignore"):
            proj = np.einsum("nj,tij->tni", src, m[:, :3, :3]) + m[:, None, :3, 3]
            res2 = ((proj - dst[None, :, :]) ** 2).sum(axis=2)  # (t, n)
        inl = res2 < threshold * threshold
        finite = np.isfinite(res2).all(axis=1)
        cnt = np.where(valid & finite, inl.sum(axis=1), -1)
        ci = int(np.argmax(cnt))
        if cnt[ci] > best_count:
            best_count = int(cnt[ci])
            best_inliers = inl[ci]
    return best_count, best_inliers


def ransac_similarity(
    pairs: pd.DataFrame,
    threshold: float,
    max_iter: int,
    solve_scale: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Max-consensus similarity fit over putative pairs (reference
    dsm.py:232-257; residual threshold 10 m, <=10^4 trials, 3-point
    samples). Deterministic (seeded). Returns (4x4 matrix, inlier mask)."""
    src = pairs[["ax", "ay", "az"]].to_numpy(np.float64)
    dst = pairs[["fx", "fy", "fz"]].to_numpy(np.float64)
    n = len(src)
    if n < _MIN_SAMPLES:
        raise ValueError(f"not enough putative matches for RANSAC: {n}")
    rng = np.random.default_rng(_RANSAC_SEED)
    trials = min(max_iter, 4 * n * n if n < 50 else max_iter)
    samples = rng.integers(0, n, size=(trials, _MIN_SAMPLES))
    # All trials run batched (a per-trial Python loop measured 1.25 s of
    # driver-serial time per coarse solve at 10^4 trials): the same umeyama
    # as the fits below, on stacks of 3-point samples, with first-maximum
    # selection like a loop's strict '>' update rule.
    best_count, best_inliers = _ransac_consensus_batch(
        src, dst, samples, threshold, solve_scale
    )
    if best_inliers is None or best_count < _MIN_SAMPLES:
        raise ValueError("RANSAC failed to find a consensus set")
    m = umeyama(src[None, best_inliers], dst[None, best_inliers], solve_scale)[0]
    # one refinement pass on the refit inliers (standard; reference's
    # skimage ransac does the same internally)
    res = np.linalg.norm(src @ m[:3, :3].T + m[:3, 3] - dst, axis=1)
    inl = res < threshold
    if inl.sum() >= _MIN_SAMPLES:
        m = umeyama(src[None, inl], dst[None, inl], solve_scale)[0]
        best_inliers = inl
    return m, best_inliers


def coarse_registration(
    fnd_kp: DataFrame,
    aoi_kp: DataFrame,
    cfg: EngineConfig | None = None,
) -> tuple[RegistrationParameters, pd.DataFrame, np.ndarray]:
    """Full coarse stage: match -> RANSAC -> umeyama -> RMSE record
    (the reference's registration.txt fields, dsm.py:404-432). Returns the
    record, the putative pairs and the inlier mask over them — what the
    feature-match image (registration/viz.py) draws."""
    cfg = cfg or EngineConfig()
    pairs = match_features(fnd_kp, aoi_kp, cfg.dsm_lowes_ratio)
    m, inl = ransac_similarity(
        pairs,
        threshold=cfg.dsm_ransac_threshold,
        max_iter=cfg.dsm_ransac_max_iter,
        solve_scale=cfg.dsm_solve_scale,
    )
    src = pairs[["ax", "ay", "az"]].to_numpy(np.float64)[inl]
    dst = pairs[["fx", "fy", "fz"]].to_numpy(np.float64)[inl]
    res = src @ m[:3, :3].T + m[:3, 3] - dst
    params = RegistrationParameters.from_fit(m, (res**2).mean(axis=0), int(inl.sum()))
    return params, pairs, inl
