"""Deduplication family for web-scale training-data pipelines.

No reference analog (CODEM is geometry-only) — these are the engine-new
operators the 100 TB webtext use case demands. All hot paths are JVM column
expressions (xxhash64 / transform / aggregate over arrays); the only
shuffles are the final groupBys on hash keys, which AQE skew-splits.

Scale notes:
* exact: one hash-agg — map-side combine makes the shuffle one row per
  distinct digest per partition.
* minhash-LSH: signatures are computed scan-side (no shuffle); the only
  shuffle is groupBy(band_key), whose fan-out is n_bands rows per doc;
  candidate pairs then join back to the shingle sets to verify jaccard.
* simhash: 64-bit fingerprint scan-side; near-dup = equality on band keys
  (default 2x32-bit bands via bit slicing), Hamming distance verified on
  the in-bucket pair (the fingerprint rides in the bucket; no join back).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codem_spark import util
from codem_spark.functions.text import normalized_text_col

# -------------------------------------------------------------- exact dedup
def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Digest -> group size + representative id (the SQL-checkable face of
    exact dedup) over (doc_id, text) documents."""
    d = util.rebalance(df).select(
        "doc_id", F.sha2(normalized_text_col(F.col("text")), 256).alias("digest")
    )
    return d.groupBy("digest").agg(
        F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id")
    )


# ----------------------------------------------------------------- shingles
# Two-stage shingle hashing. Stage 1 (JVM): one xxhash64 per TOKEN — a
# single-pass transform. Stage 2 (Arrow UDF): n-gram window combine +
# per-row distinct in batched numpy. Both obvious all-JVM forms are
# pathological: transform(i -> xxhash64(concat_ws(slice(...)))) re-slices
# strings per window (measured 1.2 ms/doc), and element_at(th, i+j) inside
# a transform re-evaluates the whole token-hash array per element in
# interpreted mode (O(tokens^2) — observed as a single task pinning a core
# for minutes on 100k docs).
_SH_P = (1 << 31) - 1
_SH_COEF = (1_000_003, 999_979, 31_337, 7_368_787, 2_750_159)


def token_hashes_col(text_col: Column) -> Column:
    """Per-token 31-bit hashes of the normalized text — pure JVM, one pass."""
    toks = F.split(normalized_text_col(text_col), " ")
    return F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_SH_P)))


def _grams_np(flat: np.ndarray, lens: np.ndarray, n: int):
    """Windowed n-gram combine over a batch-flattened token-hash array.
    Returns (row_idx, gram) for every full window that does not cross a row
    boundary. Fully vectorized."""
    total = len(flat)
    if total < n:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    g = np.zeros(total - n + 1, dtype=np.int64)
    for j, c in zip(range(n), _SH_COEF):
        g = (g + flat[j : total - n + 1 + j] * c) % _SH_P
    row_of = np.repeat(np.arange(len(lens)), lens)
    valid = row_of[: total - n + 1] == row_of[n - 1 :]
    return row_of[: total - n + 1][valid], g[valid]


def shingles_col(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingle hashes: distinct combined hashes of each full
    n-word window (rows with fewer than n tokens get an empty set)."""
    th = token_hashes_col(text_col)

    @F.pandas_udf("array<long>")
    def grams(s: pd.Series) -> pd.Series:
        nrows = len(s)
        lens = s.map(len).to_numpy(np.int64)
        if nrows == 0 or lens.sum() == 0:
            return pd.Series([[] for _ in range(nrows)])
        flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in s])
        rows, g = _grams_np(flat, lens, n)
        # per-row distinct via unique on (row, gram) packed keys, over the
        # row slices of _row_slices (exact: the packed key embeds the row
        # id, so rows are independent) to keep each sort's working set ~2 MB
        # instead of one ~25 MB random-access sort over the whole Arrow
        # batch; large streaming temps are what flatten this host's
        # core-scaling curve
        packed = rows * (np.int64(1) << np.int64(31)) + g
        gcounts = np.bincount(rows, minlength=nrows)
        out: list[np.ndarray] = []
        for row_lo, row_hi, flat_lo in _row_slices(gcounts):
            flat_hi = flat_lo + int(gcounts[row_lo:row_hi].sum())
            keys = np.unique(packed[flat_lo:flat_hi])
            krow = keys >> np.int64(31)
            kval = keys & np.int64(_SH_P)
            starts = np.searchsorted(krow, np.arange(row_lo, row_hi))
            ends = np.append(starts[1:], len(keys))
            out.extend(kval[starts[i] : ends[i]] for i in range(row_hi - row_lo))
        return pd.Series(out)

    return grams(th)


# -------------------------------------------------------------- minhash LSH
# Mersenne prime 2^31-1: (h mod p) * a + b stays under 2^61 — no int64
# overflow, so the expression is safe under Spark 4's default ANSI mode.
_MH_PRIME = (1 << 31) - 1
# LCG seed of the minhash coefficients
_MH_SEED = 7
# minhash shingles are word 3-grams
_MINHASH_SHINGLE_N = 3
# Row slices of the signature kernels hold at most this many flat shingle
# entries (see _minhash_matrix for the measurement behind the size)
_CHUNK_FLAT = 256_000


def _mh_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    # deterministic LCG-derived coefficients (no RNG state dependency)
    coeffs = []
    s = _MH_SEED
    for _ in range(num_hashes):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (s >> 16) % (1 << 30) | 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (s >> 16) % (1 << 30)
        coeffs.append((a, b))
    return coeffs


def _row_slices(lens: np.ndarray):
    """Yield ``(row_lo, row_hi, flat_lo)``: consecutive row slices of a
    batch with per-row lengths ``lens`` whose flattened length stays at or
    under ``_CHUNK_FLAT`` (a longer single row is a slice of its own);
    ``flat_lo`` is the slice's first index in the flattened batch."""
    cum = np.cumsum(lens)
    row_lo = 0
    while row_lo < len(lens):
        base = int(cum[row_lo - 1]) if row_lo else 0
        row_hi = int(np.searchsorted(cum, base + _CHUNK_FLAT, side="right"))
        row_hi = max(row_hi, row_lo + 1)  # always advance (one huge row)
        yield row_lo, row_hi, base
        row_lo = row_hi


def _minhash_matrix(s: pd.Series, a_vec: np.ndarray, b_vec: np.ndarray) -> np.ndarray:
    """(n_rows, num_hashes) minhash matrix over a batch of shingle arrays.

    Processes the row slices of ``_row_slices`` (at most ``_CHUNK_FLAT``
    flat shingles each): the (N, H) modular-product temporary is the hot
    allocation (an unchunked 65536-row Arrow batch of ~200-shingle docs is a
    13M x 64 x 8 B = ~6.7 GB temp PER python worker — 32 workers of those
    thrash the box and flatten the core-scaling curve). Chunked, results
    are bit-identical. 256k flat entries (~130 MB temp per worker) measured
    best at sf0.1/32 cores: 64k -> 14.8 s, 128k -> 10.5 s, 256k -> 8.0 s,
    512k -> 8.8 s for the full candidates+verify pipeline (best-of-3 each)
    — the per-chunk numpy dispatch overhead dominates below 256k now that
    the tmpfs shuffle dir removed the allocation-stall pressure that
    originally justified 64k."""
    num_hashes = len(a_vec)
    n = len(s)
    out = np.full((n, num_hashes), _MH_PRIME, dtype=np.int64)
    if n == 0:
        return out
    lens = s.map(len).to_numpy(np.int64)
    if lens.sum() == 0:
        return out
    for row_lo, row_hi, _flat_lo in _row_slices(lens):
        sl = s.iloc[row_lo:row_hi]
        lsl = lens[row_lo:row_hi]
        if lsl.sum() > 0:
            flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in sl])
            hp = flat % _MH_PRIME
            starts = np.zeros(len(lsl), dtype=np.int64)
            np.cumsum(lsl[:-1], out=starts[1:])
            safe = lsl > 0
            safe_starts = starts if safe.all() else starts[safe]
            # lane loop with (chunk,)-sized temporaries instead of one
            # (chunk, num_hashes) materialization: the 2D form writes+reads
            # ~2 x chunk x H x 8 B of DRAM per chunk (memory-bandwidth
            # bound — measured only 2.5x core-scaling 4 -> 16 on the
            # signature stage), while the per-lane temps stay L2-resident
            # (hp is reread from cache each lane). Bit-identical results.
            #
            # The per-lane reduction `prod % p` is the hot op: int64
            # remainder has no SIMD form (scalar ~20-40-cycle divisions,
            # 64 lanes x every shingle). p = 2^31 - 1 is Mersenne, so
            # 2^31 ≡ 1 (mod p) and the remainder folds with shifts:
            # x ≡ (x & p) + (x >> 31). prod = hp*a + b < p^2 + p < 2^62,
            # so two folds bring the value to <= p + 2 and one masked
            # subtract lands exactly in [0, p) — bit-identical to `%`
            # (asserted in tests/test_dedup.py), all SIMD ops. Measured
            # ~3x on the signature kernel.
            prod = np.empty_like(hp)
            fold = np.empty_like(hp)
            for lane in range(num_hashes):
                np.multiply(hp, a_vec[lane], out=prod)
                prod += b_vec[lane]
                np.right_shift(prod, 31, out=fold)
                prod &= _MH_PRIME
                prod += fold
                np.right_shift(prod, 31, out=fold)
                prod &= _MH_PRIME
                prod += fold
                np.subtract(prod, _MH_PRIME, out=prod, where=prod >= _MH_PRIME)
                mins = np.minimum.reduceat(prod, safe_starts)
                if safe.all():
                    out[row_lo:row_hi, lane] = mins
                else:
                    out[row_lo:row_hi, lane][safe] = mins
    return out


def minhash_band_keys_col(
    shingles: Column, num_hashes: int = 64, bands: int = 16
) -> Column:
    """Banded-LSH keys in ONE pandas UDF: the ``num_hashes``-lane minhash
    signature (``_minhash_matrix``: min over shingles of (a * h + b) mod p
    per lane) then an FNV-1a fold of each band's lanes -> array<long> of
    ``bands`` keys.
    Folding the band hash into the same Arrow pass avoids a 64-element_at
    JVM expression tree that measured ~0.8 ms/row."""
    coeffs = _mh_coeffs(num_hashes)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)
    rpb = num_hashes // bands
    fnv_offset = np.uint64(1469598103934665603)
    fnv_prime = np.uint64(1099511628211)

    @F.pandas_udf("array<long>")
    def bkeys(s: pd.Series) -> pd.Series:
        n = len(s)
        sigm = _minhash_matrix(s, a_vec, b_vec)
        sig3 = sigm.reshape(n, bands, rpb).astype(np.uint64)
        h = np.full((n, bands), fnv_offset, dtype=np.uint64)
        for r in range(rpb):
            h = (h ^ sig3[:, :, r]) * fnv_prime
        return pd.Series(list(h.view(np.int64)))

    return bkeys(shingles)


def _bucket_pairs(banded: DataFrame, cap: int | None = 64) -> DataFrame:
    """(band, bkey, did, *payload) -> one row per in-bucket pair: member
    structs ``a``, ``b`` (``did`` then every payload column; a.did < b.did),
    so callers verify from ``a.*``/``b.*`` with no join back. NOT
    deduplicated across bands: callers score, filter, then ``distinct()``.
    Buckets of size <= ``cap`` emit every pair (exact banded-LSH
    semantics). Larger buckets — boilerplate/empty docs sharing a signature,
    the quadratic scale-killer at 10^12 rows — emit STAR pairs instead
    (bucket-min did vs every member): O(m) rows per m-member bucket, and any
    member that truly near-dups the bucket survives verification against the
    representative, which is the dedup contract (drop all but one).

    NOTE: the star fallback WEAKENS pairwise completeness — two hot-bucket
    members near-dup of each other but not of the representative are never
    paired. Pass ``cap=None`` for exact (all-pairs) banded-LSH semantics.

    Plan shape: ONE shuffle. groupBy(band, bkey) collects each bucket's
    did-sorted member array, and the pair list (all-pairs or star) is
    generated by JVM array expressions and exploded — no Python, no second
    pass."""
    payload = [c for c in banded.columns if c not in ("band", "bkey", "did")]
    ms = F.array_sort(F.collect_list(F.struct("did", *payload))).alias("ms")
    arr = F.col("ms")
    all_pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    if cap is None:
        pairs = all_pairs
    else:
        star = F.transform(
            F.slice(arr, 2, F.size(arr)),
            lambda y: F.struct(F.element_at(arr, 1).alias("a"), y.alias("b")),
        )
        pairs = F.when(F.size(arr) <= F.lit(cap), all_pairs).otherwise(star)
    return (
        banded.groupBy("band", "bkey").agg(ms)
        .select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
    )


def _shingle_frame(df: DataFrame) -> DataFrame:
    """(did, sh) word 3-gram shingle sets of the (doc_id, text) documents
    ``df`` — the one place this plan is written. Candidates need the banded
    minhash keys OF the shingles and verification needs the shingle sets
    themselves; because both build the identical plan for the same ``df``,
    the frame jaccard_verify persists is substituted by Spark's cache manager
    for every matching subtree at execution, the one inside the candidate
    plan included, so one minhash_lsh query runs the shingle UDF once."""
    return util.rebalance(df).select(
        F.col("doc_id").alias("did"),
        shingles_col(F.col("text"), _MINHASH_SHINGLE_N).alias("sh"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    bucket_cap: int | None = 64,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), deduplicated across bands.
    Standard MinHash banding: docs sharing any full band collide; buckets
    above ``bucket_cap`` fall back to star pairs (see _bucket_pairs).
    Persists nothing: a following jaccard_verify shares the shingles
    through the cache (see _shingle_frame)."""
    keys = _shingle_frame(df).select(
        "did", minhash_band_keys_col(F.col("sh"), num_hashes, bands).alias("bkeys")
    )
    banded = keys.select("did", F.posexplode("bkeys").alias("band", "bkey"))
    pairs = _bucket_pairs(banded, cap=bucket_cap)
    return pairs.select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b")).distinct()


def jaccard_verify(pairs: DataFrame, df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (JVM array intersect/union).
    pairs: (id_a, id_b). The shingle frame is persisted (joined on both
    pair sides, and shared with the candidate plan of the same source);
    the returned frame reads it, so the cache belongs to the caller's
    cache scope."""
    sh = util.persist(_shingle_frame(df))
    j = (
        pairs.join(sh.withColumnsRenamed({"did": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"did": "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ------------------------------------------------------------------ simhash
_SIMHASH_SHINGLE_N = 2


def simhash_col(text_col: Column) -> Column:
    """64-bit SimHash: per token-shingle hash, each bit votes +1/-1; the
    fingerprint is the sign vector. One Arrow-vectorized pandas UDF over the
    shingle array (batch-flattened bit unpack + add.reduceat) — scan-side,
    deterministic; shingle hashes themselves stay JVM-side (xxhash64)."""
    sh = shingles_col(text_col, _SIMHASH_SHINGLE_N)

    @F.pandas_udf("long")
    def simhash(s: pd.Series) -> pd.Series:
        lens = s.map(len).to_numpy(np.int64)
        n = len(s)
        if lens.sum() == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        from codem_spark.functions.geo import splitmix64_np

        # shingle hashes are 31-bit (see shingles_col) — spread to a full
        # 64-bit avalanche so every simhash bit-plane is informative
        flat31 = np.concatenate([np.asarray(v, dtype=np.int64) for v in s])
        flat = splitmix64_np(flat31).view(np.uint64)
        # Per-bit set counts over the row slices of _minhash_matrix, so the
        # per-lane temporaries stay L2-resident: the old (N_shingles, 64)
        # int64 ±1 vote matrix wrote+read multi-GB DRAM temporaries per
        # Arrow batch at corpus scale. tot = sum(±1) = 2*count_set -
        # n_shingles, computed per row at the end — bit-identical
        # fingerprints.
        cnt = np.zeros((n, 64), dtype=np.int64)
        for row_lo, row_hi, flat_lo in _row_slices(lens):
            lsl = lens[row_lo:row_hi]
            if lsl.sum() > 0:
                fl = flat[flat_lo : flat_lo + int(lsl.sum())]
                starts = np.zeros(len(lsl), dtype=np.int64)
                np.cumsum(lsl[:-1], out=starts[1:])
                safe = lsl > 0
                safe_starts = starts if safe.all() else starts[safe]
                tmp = np.empty_like(fl)
                for bit in range(64):
                    np.right_shift(fl, np.uint64(bit), out=tmp)
                    tmp &= np.uint64(1)
                    m = np.add.reduceat(tmp.view(np.int64), safe_starts)
                    if safe.all():
                        cnt[row_lo:row_hi, bit] = m
                    else:
                        cnt[row_lo:row_hi, bit][safe] = m
        tot = 2 * cnt - lens[:, None]
        bitsm = (tot > 0).astype(np.uint64)
        weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
        packed = (bitsm * weights[None, :]).sum(axis=1, dtype=np.uint64)
        return pd.Series(packed.view(np.int64))

    return simhash(sh)


def simhash_candidates(
    df: DataFrame, band_bits: int = 32, hamming_max: int = 1
) -> DataFrame:
    """Near-dup candidates = equality on any simhash band (pigeonhole:
    64/band_bits bands catch every pair within Hamming distance
    64/band_bits - 1). Output: (id_a, id_b, hamming), hamming <= hamming_max.

    Defaults are the SCALE configuration: 2 bands of 32 bits -> 2^32 key
    space per band, so at 10^9 docs the average bucket stays O(1) (16-bit
    bands cap at 65,536 distinct values per band — every bucket holds ~15k
    docs at 10^9 and candidate volume goes ~10^12). Wider bands narrow the
    guaranteed Hamming radius (here <=1); pass band_bits=16, hamming_max=3
    for the looser small-data behavior. Buckets above 64 members emit star
    pairs (see _bucket_pairs) — the residual guard for pathological keys
    (e.g. simhash 0 from empty docs)."""
    d = util.rebalance(df).select(
        F.col("doc_id").alias("did"), simhash_col(F.col("text")).alias("sh")
    )
    return simhash_candidates_from(d, band_bits, hamming_max)


def band_keys(cols: list[str], band_bits: int) -> Column:
    """Array of ``struct(band, bkey)``: every 64-bit column of ``cols`` cut
    into ``64 // band_bits`` keys of ``band_bits`` bits, low bits first;
    band = column index * (64 // band_bits) + key index. Expand with
    ``F.inline``."""
    per_col = 64 // band_bits
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.struct(
                F.lit(ci * per_col + b).alias("band"),
                F.shiftrightunsigned(F.col(c), b * band_bits).bitwiseAND(F.lit(mask)).alias("bkey"),
            )
            for ci, c in enumerate(cols)
            for b in range(per_col)
        ]
    )


def simhash_candidates_from(
    d: DataFrame,
    band_bits: int = 32,
    hamming_max: int = 1,
    bucket_cap: int | None = 64,
) -> DataFrame:
    """Banding half of :func:`simhash_candidates` over a PRECOMPUTED
    (did, sh) fingerprint frame — for callers that also need the
    fingerprints (e.g. an exact verifier). ``sh`` rides in the bucket and
    the Hamming distance is scored there: ``d`` is read once, no join back."""
    banded = d.select("did", "sh", F.inline(band_keys(["sh"], band_bits)))
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming")
    return (
        _bucket_pairs(banded, cap=bucket_cap)
        .select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"), hamming)
        .filter(F.col("hamming") <= F.lit(hamming_max))
        .distinct()
    )
