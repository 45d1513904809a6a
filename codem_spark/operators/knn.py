"""Distributed kNN correspondence join — tile + halo pattern (SURVEY.md §2.4).

Reference analogs: J2 radius-bounded nearest fixed point per moving point
(scipy cKDTree, icp.py:132-140), J3 VCD dZ3d nearest-before join
(vcd/preprocessing/preprocess.py:196-199), J4 k-neighborhood for normals
(preprocess.py:317-350). The reference builds one in-RAM KD-tree; that can't
exist at 10^12 rows, so the engine:

1. picks a cell level whose cell edge >= search radius (so a 1-ring halo
   provably covers every true neighbor within radius — same role as the
   reference's ``distance_upper_bound`` pruning, icp.py:133-135);
2. partitions the query side by its own cell and duplicates the data side
   into the neighbor cells within radius of each row (:func:`tile_right`,
   the one builder of the halo'd data side — bounded shuffle fan-out);
3. cogroups the two sides per cell (:func:`_tile_cogroup`, the one join
   runner) and runs a vectorized numpy kernel — :func:`grid_topk`, the one
   neighbour search — via applyInPandas: Arrow batches, no per-row Python.
   kNN, the cross-tile clustering edges (operators/cluster.py), normals
   (registration/icp.compute_normals) and point resampling
   (operators/resample.resample_to_points) are all this plan;
4. (completeness pass, :func:`knn_join_complete`) queries that found no
   neighbor inside the radius re-run at an escalated radius — a driver loop
   over a shrinking residual set, read off the kernel's ``nn_rank = 0``
   sentinel rows; the distributed replacement for an unbounded KD-tree
   query.

Both sides are (pid, x, y, z) frames: ``pid`` is the id on each side and
the distance is 3-D.

Determinism: ties in distance break by ascending data-point id, so output
rows are identical run-to-run and partitioning-to-partitioning (a north-rule
requirement: join output rows must match the reference / the oracle).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.functions import cells

Extent = tuple[float, float, float, float]

# auto_level's data-size bound: aim for ~this many rows per tile
_TARGET_PER_TILE = 1500
# Candidate generation allocates ~56 B/pair of temporaries (index arrays +
# the (chunk, 3) diff). 1M-pair chunks = ~56 MB of streaming temps PER
# worker — DRAM-bound; on a host whose aggregate copy bandwidth scales only
# ~3.3x for 4x cores that capped the kNN stage at 2.75x core-scaling
# (BENCH r4 run 1). 128k-pair chunks keep the working set ~7 MB (L2/L3-
# resident): with the k=1 reduceat path in grid_topk, the 7.3M-pt harness
# stage measured 245.9 -> 105.6 s at 1 core and 89.4 -> 30.8 s at 4
# (2.75x -> 3.43x core-scaling), identical output.
_PAIR_CHUNK = 131_072
# the joins' distance space
_XYZ = ("x", "y", "z")
# finest tile level any join picks
_MAX_LEVEL = 16


def level_for_radius(extent: Extent, radius: float) -> int:
    """Finest level (at most _MAX_LEVEL) whose cell edge >= radius (1-ring
    halo covers radius)."""
    span = max(extent[2] - extent[0], extent[3] - extent[1])
    level = int(math.floor(math.log2(max(span / max(radius, 1e-12), 1.0))))
    return max(1, min(_MAX_LEVEL, level))


def auto_level(extent: Extent, radius: float, n_rows: int, parallelism: int) -> int:
    """Tile level for a tile+halo join: bounded above by the radius rule
    (cell edge >= radius so a 1-ring halo provably covers the search ball)
    AND by the data size (≈_TARGET_PER_TILE rows per tile), with a floor of
    ~4x ``parallelism`` tiles so the cogroup stage can actually use every
    task slot (rows permitting).

    The count bound matters: a level chosen from radius alone can produce
    far more tiles than rows, and per-tile kernel overhead (one Arrow batch
    + pandas invocation per cogroup key) then dominates (observed 37 s vs
    ~2 s on an 18k-point join). The parallelism floor matters just as much
    the other way: at level L there are at most 4^L tiles, and a level
    chosen from row count alone can strand most of a cluster (observed:
    level 1 -> 4 cogroup groups on 32 cores). Any level <= the radius bound
    is CORRECT — this only tunes parallelism vs per-tile overhead.
    """
    lc = max(1, int(0.5 * math.log2(max(n_rows / _TARGET_PER_TILE, 1.0))))
    # enough tiles to fill 4x the task slots, but never so fine that
    # average occupancy drops below ~64 rows/tile
    lp = int(math.ceil(0.5 * math.log2(max(4.0 * parallelism, 1.0))))
    lcap = int(0.5 * math.log2(max(n_rows / 64.0, 1.0)))
    return min(level_for_radius(extent, radius), max(lc, min(lp, lcap)))


_EMPTY = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.float64),
    np.empty(0, dtype=np.int64),
)


def grid_topk(
    lpts: np.ndarray,
    rpts: np.ndarray,
    rids: np.ndarray,
    radius: float,
    k: int | None,
    order: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized radius-bounded (top-k or all-pairs) neighbor search.

    The tile-kernel core: bin the right side into (radius/2)-sized xy
    buckets (sorted by bucket key once); for every left row expand the 5x5
    bucket ring into candidate pairs with searchsorted segment arithmetic
    (NO per-bucket Python loop), after pruning ring cells whose minimum
    distance to the query point already exceeds the radius; compute
    distances only on surviving candidates; rank per left row by
    (distance, right id). Cost is O(n_l * ball_density + rank) — linear in
    the true candidate volume, independent of tile size, so the tile level
    only tunes parallelism.

    Bucket granularity: radius-sized buckets with a 3x3 ring cover
    (3r)^2/(pi r^2) = 2.86x the search disk; half-radius buckets with a
    pruned 5x5 ring cover ~1.8x (measured: 0.607x the candidate volume and
    0.70x the kernel time — 55.7 -> 39.2 ms — on a harness-density tile,
    identical output vs brute force in k=1/k=9/k=None modes) — a win since
    per-ring-cell bookkeeping (two searchsorted per cell) is negligible
    against the avoided distance evaluations.

    ``order=(lg, rg)`` (k=None only) keeps a candidate pair only when
    ``lg[li] < rg[ri]``, tested by one integer compare BEFORE the distance
    evaluation. It is the one pair rule of the cluster kernels: with
    ``(idx, idx)`` over a self-join each unordered point pair is kept once
    (self-pairs never); with component labels, same-label pairs (no
    connectivity, and on dense data nearly every candidate) are dropped
    and each cross-label pair is kept in its one (lower, higher) label
    orientation. The left side may be any slice of rows, as long as ``lg``
    holds that slice's values.

    Returns (left_idx, right_idx, dist, rank) with rank starting at 1;
    k=None keeps every within-radius pair and reports rank 0 for every
    pair (no ranking is computed — the edge callers discard it).
    """
    n_l, n_r = len(lpts), len(rpts)
    if order is not None and k is not None:
        raise ValueError("grid_topk: order requires k=None")
    if n_l == 0 or n_r == 0:
        return _EMPTY
    r2 = radius * radius
    # bucket both sides on xy at radius/sub granularity
    sub = 2
    ring = 2 * sub + 1
    bs = radius / sub
    x0 = min(lpts[:, 0].min(), rpts[:, 0].min())
    y0 = min(lpts[:, 1].min(), rpts[:, 1].min())
    lbx = np.floor((lpts[:, 0] - x0) / bs).astype(np.int64)
    lby = np.floor((lpts[:, 1] - y0) / bs).astype(np.int64)
    rbx = np.floor((rpts[:, 0] - x0) / bs).astype(np.int64)
    rby = np.floor((rpts[:, 1] - y0) / bs).astype(np.int64)
    m = max(lby.max(initial=0), rby.max(initial=0)) + ring + 1
    rkey = rbx * m + rby
    rorder = np.lexsort((rids, rkey))  # deterministic within-bucket order
    rkey_s = rkey[rorder]

    li_parts: list[np.ndarray] = []
    ri_parts: list[np.ndarray] = []
    d_parts: list[np.ndarray] = []
    rk_parts: list[np.ndarray] = []

    # chunk left rows so the expanded candidate set stays bounded
    est_per_left = max(
        1.0, ring * ring * 0.66 * n_r / max(len(np.unique(rkey_s)), 1)
    )
    lchunk = max(1, int(_PAIR_CHUNK / est_per_left))
    for s in range(0, n_l, lchunk):
        lsl = slice(s, min(s + lchunk, n_l))
        nlc = lsl.stop - lsl.start
        # in-bucket offsets drive the per-cell min-distance prune
        fx = lpts[lsl, 0] - x0 - lbx[lsl] * bs
        fy = lpts[lsl, 1] - y0 - lby[lsl] * bs
        seg_starts = np.empty((nlc, ring * ring), dtype=np.int64)
        seg_ends = np.empty((nlc, ring * ring), dtype=np.int64)
        oi = 0
        for dx in range(-sub, sub + 1):
            # min x-gap from the query point to the cell dx columns away
            if dx > 0:
                gx = dx * bs - fx
            elif dx < 0:
                gx = fx + (-dx - 1) * bs
            else:
                gx = 0.0
            for dy in range(-sub, sub + 1):
                if dy > 0:
                    gy = dy * bs - fy
                elif dy < 0:
                    gy = fy + (-dy - 1) * bs
                else:
                    gy = 0.0
                key = (lbx[lsl] + dx) * m + (lby[lsl] + dy)
                st = np.searchsorted(rkey_s, key, side="left")
                en = np.searchsorted(rkey_s, key, side="right")
                if dx != 0 or dy != 0:
                    reach = gx * gx + gy * gy <= r2
                    en = np.where(reach, en, st)  # prune: empty segment
                seg_starts[:, oi] = st
                seg_ends[:, oi] = en
                oi += 1
        lens = (seg_ends - seg_starts).ravel()  # (nlc*ring^2,)
        total = int(lens.sum())
        if total == 0:
            continue
        # expand segments -> candidate index arrays, fully vectorized
        li_rep = np.repeat(np.repeat(np.arange(lsl.start, lsl.stop), ring * ring), lens)
        starts_rep = np.repeat(seg_starts.ravel(), lens)
        offs = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
        ri_sorted_idx = starts_rep + offs
        ri_glob = rorder[ri_sorted_idx]
        if order is not None:
            keep = order[0][li_rep] < order[1][ri_glob]
            li_rep = li_rep[keep]
            ri_glob = ri_glob[keep]
            if len(li_rep) == 0:
                continue
        diff = lpts[li_rep] - rpts[ri_glob]
        d2 = np.einsum("ij,ij->i", diff, diff)
        within = d2 <= r2
        if not within.any():
            continue
        li_w = li_rep[within]
        ri_w = ri_glob[within]
        d2_w = d2[within]
        # candidates are generated grouped by left row (li_rep repeats each
        # left across its 9 segments consecutively; the within-filter keeps
        # that order), so per-left segment boundaries come from one diff
        if k is None:
            # all-pairs mode: every within-radius pair, no ranking — the
            # callers (the cluster edge kernels) ignore rank, so the lexsort
            # the generic path pays is pure waste here
            li_parts.append(li_w)
            ri_parts.append(ri_w)
            d_parts.append(np.sqrt(d2_w))
            rk_parts.append(np.zeros(len(li_w), dtype=np.int64))
        elif k == 1:
            # nearest-neighbor mode (the flagship dZ join + ICP loop):
            # segmented argmin by (d2, rid) via three minimum.reduceat
            # passes — sequential streaming, no O(p log p) random-access
            # lexsort; bit-identical selection (exact d2 equality ties
            # break by ascending rid, as in the sort path)
            newgrp = np.empty(len(li_w), dtype=bool)
            newgrp[0] = True
            newgrp[1:] = li_w[1:] != li_w[:-1]
            starts = np.flatnonzero(newgrp)
            lens = np.diff(starts, append=len(li_w))
            dmin = np.minimum.reduceat(d2_w, starts)
            is_min = d2_w == np.repeat(dmin, lens)
            r_ids = rids[ri_w]
            big = np.iinfo(np.int64).max
            rmin = np.minimum.reduceat(np.where(is_min, r_ids, big), starts)
            sel = np.where(
                is_min & (r_ids == np.repeat(rmin, lens)),
                np.arange(len(li_w)),
                len(li_w),
            )
            pick = np.minimum.reduceat(sel, starts)
            li_parts.append(li_w[pick])
            ri_parts.append(ri_w[pick])
            d_parts.append(np.sqrt(d2_w[pick]))
            rk_parts.append(np.ones(len(pick), dtype=np.int64))
        else:
            ord_ = np.lexsort((rids[ri_w], d2_w, li_w))
            li_o = li_w[ord_]
            # rank within each left group (groups are contiguous after sort)
            newgrp = np.empty(len(li_o), dtype=bool)
            newgrp[0] = True
            newgrp[1:] = li_o[1:] != li_o[:-1]
            grp_start = np.maximum.accumulate(np.where(newgrp, np.arange(len(li_o)), 0))
            rank = np.arange(len(li_o)) - grp_start + 1
            keep = rank <= k
            li_parts.append(li_o[keep])
            ri_parts.append(ri_w[ord_][keep])
            d_parts.append(np.sqrt(d2_w[ord_][keep]))
            rk_parts.append(rank[keep])
    if not li_parts:
        return _EMPTY
    return (
        np.concatenate(li_parts),
        np.concatenate(ri_parts),
        np.concatenate(d_parts),
        np.concatenate(rk_parts),
    )


def _topk_kernel_builder(
    k: int,
    radius: float,
    l_carry: list[str],
    r_carry: list[str],
    emit_unmatched: bool = False,
):
    """Build the per-tile cogroup kernel around grid_topk.

    ``emit_unmatched=True`` additionally emits one row per left point that
    found NO neighbor inside the radius, marked ``nn_rank = 0`` with
    sentinel neighbor fields (n_pid = -1, nn_dist/r_* = NaN) — the
    escalation loop (knn_join_complete) reads its residual straight off
    these rows instead of running a separate anti-join per round. Each left
    row lives in exactly one home tile, so no duplicates arise."""

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) and len(right):
            lpts = np.column_stack([left[d].to_numpy(np.float64) for d in _XYZ])
            rpts = np.column_stack([right[d].to_numpy(np.float64) for d in _XYZ])
            li, ri, dist, rank = grid_topk(lpts, rpts, right["pid"].to_numpy(), radius, k)
        else:
            li, ri, dist, rank = _EMPTY
        n_ids = right["pid"].to_numpy()[ri]
        r_vals = {c: right[c].to_numpy()[ri] for c in r_carry}
        if emit_unmatched:
            un = np.ones(len(left), dtype=bool)
            un[li] = False
            extra = np.flatnonzero(un)
            li = np.concatenate([li, extra])
            n_ids = np.concatenate([n_ids, np.full(len(extra), -1)])
            dist = np.concatenate([dist, np.full(len(extra), np.nan)])
            rank = np.concatenate([rank, np.zeros(len(extra), dtype=np.int64)])
            r_vals = {
                c: np.concatenate([v, np.full(len(extra), np.nan)]) for c, v in r_vals.items()
            }
        data = {
            "pid": left["pid"].to_numpy()[li],
            "n_pid": n_ids,
            "nn_dist": dist,
            "nn_rank": rank.astype(np.int32),
        }
        data.update({"l_" + c: left[c].to_numpy()[li] for c in l_carry})
        data.update({"r_" + c: v for c, v in r_vals.items()})
        return pd.DataFrame(data)

    return kernel


def tile_right(
    right: DataFrame,
    extent: Extent,
    radius: float,
    level: int,
    dims: tuple[str, ...] = ("x", "y", "z"),
    rid: str | None = "pid",
    r_carry: tuple[str, ...] = (),
) -> DataFrame:
    """The data side of the tile+halo plan — with_cell + halo explosion,
    keyed by ``cell_id``, with the ``rid``/``dims``/``r_carry`` columns
    aliased to ``_r_<col>`` (``rid=None`` carries no id). Every tile+halo
    operator builds its data side here; :func:`_tile_cogroup` joins it.

    The ``_r_`` aliases matter: a self-join (left is right, or shares
    lineage) otherwise resolves both cogroup children to the SAME attribute
    ids and Catalyst prunes the right side down to the key.

    Loop callers build it once: ICP (registration/icp.py) tiles its fixed
    cloud here once per solve with a halo widened by a drift margin,
    ``.repartition('cell_id').persist()``s it, and cogroups it with a moving
    side cached under the same hash partitioning — the cogroup's
    clustered-distribution requirement is then met by both caches, and each
    ICP pass plans no Exchange (asserted in tests/test_plans.py)."""
    rc = cells.with_cell(right, "x", "y", extent, level)
    rh = cells.explode_halo(rc, level, extent, radius).drop("_ix", "_iy", "cell_id")
    r_cols = [*([rid] if rid else []), *dims, *r_carry]
    return rh.select(
        F.col("halo_cell").alias("cell_id"),
        *[F.col(c).alias(f"_r_{c}") for c in dict.fromkeys(r_cols)],
    )


def _tile_cogroup(
    left: DataFrame,
    right_tiled: DataFrame,
    extent: Extent,
    level: int,
    l_cols: list[str],
    kernel: "Callable[[int, pd.DataFrame, pd.DataFrame], pd.DataFrame]",
    schema: str,
) -> DataFrame:
    """The tile+halo join: ``left`` rows go to their home cell, the
    :func:`tile_right` side to every cell its halo reaches; per cell,
    ``kernel(cell_id, left_pdf, right_pdf)`` runs on the two pandas frames
    (right columns with their ``_r_`` prefix stripped) — Arrow batches, no
    per-row Python. ``l_cols`` lists the left columns to shuffle, in row
    order, with the ``cell_id`` this adds among them."""
    lsel = cells.with_cell(left, "x", "y", extent, level).select(*dict.fromkeys(l_cols))

    def run(key, lpdf, rpdf):
        rpdf = rpdf.rename(columns={c: c[3:] for c in rpdf.columns if c.startswith("_r_")})
        return kernel(key[0], lpdf, rpdf)

    return (
        lsel.groupBy("cell_id")
        .cogroup(right_tiled.groupBy("cell_id"))
        .applyInPandas(run, schema=schema)
    )


def _types(df: DataFrame, prefix: str = "") -> dict[str, str]:
    return {
        f.name[len(prefix):]: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name.startswith(prefix)
    }


def level_of(df: DataFrame, extent: Extent, radius: float) -> int:
    """:func:`auto_level` for ``df``'s plan-statistics row count and its
    session's default parallelism — the tile level of a frame (an
    overestimated count only pushes toward more tiles; the radius rule
    still caps the level)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return auto_level(extent, radius, util.approx_row_count(df), parallelism=par)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    extent: Extent,
    radius: float,
    k: int = 1,
    l_carry: tuple[str, ...] = (),
    r_carry: tuple[str, ...] = (),
    level: int | None = None,
    emit_unmatched: bool = False,
) -> DataFrame:
    """Radius-bounded k-nearest-neighbor join (left row -> up to k nearest
    right rows within ``radius`` in xyz-space; xy drives tiling).

    Output columns: pid, n_pid, nn_dist, nn_rank, l_<carry...>, r_<carry...>.

    ``level=None`` sizes tiles from the left side's plan-statistics row
    estimate (``util.approx_row_count``, no job); the output does not
    depend on the tiling.
    """
    if level is None:
        level = level_of(left, extent, radius)
    right_tiled = tile_right(right, extent, radius, level, r_carry=r_carry)
    kernel = _topk_kernel_builder(
        k, radius, list(l_carry), list(r_carry), emit_unmatched=emit_unmatched
    )
    lf, rf = _types(left), _types(right_tiled, "_r_")
    parts = [f"pid {lf['pid']}", f"n_pid {rf['pid']}", "nn_dist double", "nn_rank int"]
    parts += [f"l_{c} {lf[c]}" for c in l_carry]
    parts += [f"r_{c} {rf[c]}" for c in r_carry]
    return _tile_cogroup(
        left, right_tiled, extent, level, ["cell_id", "pid", *_XYZ, *l_carry],
        lambda _cell, l, r: kernel(l, r), ", ".join(parts),
    )


# knn_join_complete: at most this many radius-bounded rounds, the radius
# growing by _ESCALATE per round; the first radius is at most
# _ADAPTIVE_FACTOR x the right cloud's mean point spacing
_MAX_ROUNDS = 8
_ESCALATE = 4.0
_ADAPTIVE_FACTOR = 3.0


def knn_join_complete(
    left: DataFrame,
    right: DataFrame,
    extent: Extent,
    radius: float,
    l_carry: tuple[str, ...] = (),
    r_carry: tuple[str, ...] = (),
) -> DataFrame:
    """Unbounded nearest-neighbor (k=1) join: radius-bounded rounds with
    escalating radius over the unmatched residual — distributed stand-in for
    the reference's unbounded KDTree.query (icp.py:235-241). Each round the
    residual shrinks (typically exponentially), so total cost ~ one bounded
    join plus noise. Output columns are :func:`knn_join`'s.

    ``radius`` is the FIRST round's search radius — a pure performance knob
    (escalation makes the result radius-unbounded). Small starting radii win
    twice: the halo duplication is narrow AND the radius rule admits a fine
    tile level (high kernel parallelism); late rounds run on tiny residuals
    where a wide halo is cheap.

    Round plumbing (optimization round r6): each round runs the kNN cogroup
    with ``emit_unmatched=True`` and ONE localCheckpoint — matched rows and
    the next round's residual are both filters over that checkpointed frame
    (nn_rank 1 vs 0), so there is no per-round anti-join, and each residual
    generation is consumed exactly once. The checkpoints belong to the
    caller's cache scope (``util.cache_scope``): the returned frame reads
    them. The right side is not checkpointed:
    each round reads it from its own plan, so a caller whose right side is
    expensive to recompute caches it first. Its exact count sizes the first
    radius; a plan-statistics estimate can be ~9x off (sf0.1: 116,583
    estimated for 13,065 rows), which costs an extra escalation round.
    """
    # the residual is rebuilt from l_<col> outputs: carry the join dims too
    l_carry_full = tuple(dict.fromkeys([*_XYZ, *l_carry]))
    par = left.sparkSession.sparkContext.defaultParallelism
    n_right = right.count()
    # Density-adaptive FIRST radius (scale-holding, guide §2.3): the
    # caller's radius is a constant, but the right cloud's density is not —
    # at 10x the bench rows the same 2.5 km start meant ~300 candidate
    # pairs per query point (measured 36 s at 6M rows). Shrink round 1 to
    # _ADAPTIVE_FACTOR x the mean point spacing (never grow past the
    # caller's radius): for near-uniform data P(no neighbor) ~ e^(-pi f^2)
    # is negligible at f = 3, and any stragglers are exactly what the
    # escalation rounds are for — the RESULT is radius-unbounded either
    # way, only the work changes.
    if n_right > 0:
        area = max((extent[2] - extent[0]) * (extent[3] - extent[1]), 1e-12)
        spacing = math.sqrt(area / n_right)
        radius = min(radius, max(_ADAPTIVE_FACTOR * spacing, 1e-9))
    residual = left
    n_res = util.approx_row_count(left)  # parallelism knob only — no count job
    rounds: list[DataFrame] = []
    r = radius
    for _ in range(_MAX_ROUNDS):
        # auto_level keeps cell edge >= radius as the radius escalates
        out = util.checkpoint(knn_join(
            residual, right, extent, r, l_carry=l_carry_full, r_carry=r_carry,
            level=auto_level(extent, r, n_res, par), emit_unmatched=True,
        ))
        rounds.append(out.filter(F.col("nn_rank") == 1))
        n_res = out.filter(F.col("nn_rank") == 0).count()
        if n_res == 0 or n_right == 0:
            break
        residual = out.filter(F.col("nn_rank") == 0).select(
            "pid", *[F.col(f"l_{c}").alias(c) for c in l_carry_full]
        )
        r *= _ESCALATE
    result = rounds[0]
    for m in rounds[1:]:
        result = result.unionByName(m)
    # restore the caller's contract columns (drop the internal dim carries)
    return result.select(
        "pid", "n_pid", "nn_dist", "nn_rank",
        *[f"l_{c}" for c in l_carry], *[f"r_{c}" for c in r_carry],
    )
