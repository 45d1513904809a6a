"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Noise hardening (VERDICT r3 item 2): this host's cores are heterogeneous
(~4x per-core bandwidth spread when cold) and co-tenant phases can stall an
identical query 3-20x run-to-run. The bench therefore (a) probes per-core
bandwidth and re-execs itself pinned via taskset to the fastest contiguous
core window (same methodology as scripts/scaling.py), (b) runs >=3 passes
per query, and (c) records EVERY pass ("passes") plus the per-query max/min
spread ("spread") alongside the min ("queries"), so a co-tenant stall is
distinguishable from a code regression. The final stdout line is a COMPACT
headline (metric/value/queries/sf/cpus/rows_per_sec) sized for the driver's
tail capture (VERDICT r4 item 2); pass-level detail + the 1M-point
registration leg go to BENCH/bench_detail.json.

Extra keys: rows (total input rows touched), rows_per_sec (the BASELINE.md
throughput figure), cpus, pinned_cores. Run scripts/scaling.py for the
N-vs-4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def _pin_to_fast_cores(cpus: int) -> None:
    """Probe per-core bandwidth and re-exec under taskset on the fastest
    contiguous window of ``cpus`` cores. Without this, an unlucky scheduler
    placement hands the bench the host's slow cores and round-over-round
    numbers are incomparable (BENCH_r03's 2x coarse_registration swing)."""
    if os.environ.get("SPARK_GRAFT_BENCH_PINNED") or os.environ.get(
        "SPARK_GRAFT_BENCH_NO_PIN"
    ):
        return
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from scaling import probe_core_bandwidth
    except Exception:
        return
    bw = probe_core_bandwidth()
    n_cores = len(bw)
    win = min(cpus, n_cores)
    base = max(range(n_cores - win + 1), key=lambda b: sum(bw[b : b + win]))
    cores = f"{base}-{base + win - 1}"
    os.environ["SPARK_GRAFT_BENCH_PINNED"] = cores
    os.execvp("taskset", ["taskset", "-c", cores, sys.executable] + sys.argv)


def _bench_registration_1m(spark):
    """>=1M-point registration leg (VERDICT r3 item 7): the flagship
    coarse-to-fine pipeline at bench scale, with per-stage timings. The
    contract scenes (60k/20k pts) pin correctness; this leg evidences the
    100x story. Single pass (it is long); stage spread shows up in the
    suite passes instead."""
    from codem_spark import synth, util
    from codem_spark.config import EngineConfig
    from codem_spark.registration import pipeline as P

    fnd_pd, aoi_pd, _ = synth.registration_scene(1_200_000, 2000.0, 17)
    ext = (0.0, 0.0, 2000.0, 2000.0)
    fnd = spark.createDataFrame(fnd_pd)
    aoi = spark.createDataFrame(aoi_pd)
    cfg = EngineConfig(min_resolution=4.0)
    stages: dict[str, float] = {}
    with util.cache_scope():
        t0 = time.time()
        prep = P.preprocess(fnd, aoi, extent=ext, cfg=cfg, resolution=4.0)
        stages["preprocess"] = round(time.time() - t0, 3)
        t0 = time.time()
        c = P.coarse_registration(prep, cfg)
        stages["coarse"] = round(time.time() - t0, 3)
        t0 = time.time()
        f = P.fine_registration_stage(prep, c, cfg)
        stages["fine_icp"] = round(time.time() - t0, 3)
    total = sum(stages.values())
    n_total = len(fnd_pd) + len(aoi_pd)
    return {
        "n_points": n_total,
        "stages": stages,
        "total_sec": round(total, 3),
        "rows_per_sec": round(n_total / max(total, 1e-9), 1),
        "coarse_rmse_3d": round(float(c.rmse_3d), 4),
        # nonzero by construction: the default fine path registers the
        # pipeline-resolution DSM-derived clouds (the reference's _dsm2pc
        # early downsample), so residuals are grid-sampling-bounded, not
        # exact-subset-zero
        "fine_rmse_3d": round(float(f.rmse_3d), 4),
        "fine_iters": f.iterations,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    _pin_to_fast_cores(cpus)
    sys.path.insert(0, REPO)

    from codem_spark import util
    from codem_spark.session import get_spark
    from perfbench.queries import bench_queries

    spark = get_spark(app_name="codem_spark_bench", cpus=cpus, shuffle_partitions=2 * cpus)

    # The CONTRACT versions of the sketch/cluster queries carry O(n^2)
    # inline exact verifiers (cross-join hamming / cap=None banding /
    # driver union-find) so the driver can value-check them at sf0.01. A
    # benchmark must time the SCALE path — the guarded banded operators a
    # 10^12-row run would use — so perfbench.queries.SCALE_OVERRIDES times
    # those directly (same operators, production config). This divergence
    # is recorded in the output's "overridden_queries" key.
    qs = bench_queries()

    # headline set: the scale-relevant operators (flagship join first);
    # r4 adds the heavy ops VERDICT item 6 called out
    names = [
        "knn_dz",
        "cell_encode",
        "grid_max",
        "grid_idw",
        "density",
        "pip",
        "window_count",
        "exact_dedup",
        "minhash_lsh",
        "simhash",
        "cosine_topk",
        "idw_resample",
        "quantize",
        "tpch_grid_agg",
        "coarse_registration",
        "euclidean_cluster",
        "embedding_dedup",
        "tin_resample",
    ]
    # warm the JVM + parquet footers once (excluded from timings)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    all_times: dict[str, list[float]] = {n: [] for n in names}
    rows_touched = 0
    for rep in range(passes):
        for name in names:
            # the scale overrides leave their caches to the caller: release
            # them between queries so timings measure the query, not the
            # previous query's cache pressure
            with util.cache_scope():
                t0 = time.time()
                n = qs[name](spark, sf_dir).count()
                all_times[name].append(round(time.time() - t0, 3))
            if rep == 0:
                rows_touched += n
    timings = {n: min(v) for n, v in all_times.items()}
    spread = {n: round(max(v) / max(min(v), 1e-9), 2) for n, v in all_times.items()}
    total = round(sum(timings.values()), 3)

    reg_1m = None
    if os.environ.get("SPARK_GRAFT_BENCH_REG1M", "1") != "0":
        # a failed leg is recorded in the sidecar; the headline still prints
        try:
            reg_1m = _bench_registration_1m(spark)
        except Exception as e:  # noqa: BLE001
            reg_1m = {"error": f"{type(e).__name__}: {e}"[:300]}

    n_input = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    sf = {"sf0.001": 0.001, "sf0.01": 0.01, "sf0.1": 0.1}.get(
        os.path.basename(os.path.normpath(sf_dir)), None
    )
    # Full detail (every pass, spread, the 1M registration leg, override
    # disclosures) goes to a BENCH/ sidecar; stdout's FINAL line is a
    # compact headline the driver's tail capture can always parse
    # (VERDICT r4 item 2: the r4 one-line dump outgrew the capture and the
    # round's headline became machine-unverifiable).
    detail = {
        "passes": all_times,
        "spread": spread,
        "n_passes": passes,
        "pinned_cores": os.environ.get("SPARK_GRAFT_BENCH_PINNED"),
        "overridden_queries": {
            "minhash_lsh": "production banded config (no inline O(n^2) verifier)",
            "simhash": "production banded config (no inline O(n^2) verifier)",
            "euclidean_cluster": "distributed scale path (no driver-side exact verifier)",
        },
        "registration_1m": reg_1m,
        "output_rows": rows_touched,
    }
    detail_path = os.path.join(REPO, "BENCH", "bench_detail.json")
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "input_rows": n_input,
        "rows_per_sec": round(n_input * len(names) / max(total, 1e-9), 1),
        "detail": "BENCH/bench_detail.json",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
