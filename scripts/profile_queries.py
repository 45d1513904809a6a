"""Per-query profiling harness for the optimization round (guide §1).

NOT the frozen bench: this script isolates each bench query with the same
session config as bench.py, records wall time per pass, the number of Spark
jobs each query launches (driver round-trips are the sf0.1 bottleneck), and
dumps .explain('formatted') plans to plans/<tag>/<query>_<suffix>.txt.

Usage:
  python scripts/profile_queries.py --tag <dir> [--suffix before] \
      [--passes 2] [--queries knn_dz,density,...] [--no-plans]

``--tag`` is required: plans/ holds committed plan dumps (plans/r06), and a
run writes only into the directory it is told to.

Prints one JSON line per query and a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="plan dump directory under plans/")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--queries", default="")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from codem_spark.session import get_spark
    from perfbench.queries import bench_queries

    spark = get_spark(
        app_name="codem_spark_profile", cpus=cpus, shuffle_partitions=2 * cpus
    )
    sc = spark.sparkContext

    # same bench-scale overrides as bench.py (the contract versions carry
    # O(n^2) verifiers)
    qs = bench_queries()

    names = [
        "knn_dz", "cell_encode", "grid_max", "grid_idw", "density", "pip",
        "window_count", "exact_dedup", "minhash_lsh", "simhash",
        "cosine_topk", "idw_resample", "quantize", "tpch_grid_agg",
        "coarse_registration", "euclidean_cluster", "embedding_dedup",
        "tin_resample",
    ]
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]

    plans_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    # warm the JVM + parquet footers (like bench.py)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    tracker = sc.statusTracker()
    results = {}
    for name in names:
        times = []
        n_jobs = 0
        for rep in range(args.passes):
            group = f"prof_{name}_{rep}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            n = df.count()
            times.append(round(time.time() - t0, 3))
            if rep == 0:
                n_jobs = len(tracker.getJobIdsForGroup(group))
                if not args.no_plans:
                    try:
                        plan = df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        )
                    except Exception:
                        import io
                        from contextlib import redirect_stdout

                        buf = io.StringIO()
                        with redirect_stdout(buf):
                            df.explain("formatted")
                        plan = buf.getvalue()
                    with open(
                        os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
                    ) as fh:
                        fh.write(plan)
            sc.setJobGroup(None, None)
            spark.catalog.clearCache()
        rec = {
            "min": min(times),
            "times": times,
            "jobs_in_final_count_group": n_jobs,
            "rows": n,
        }
        results[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
    total = round(sum(r["min"] for r in results.values()), 3)
    print(json.dumps({"metric": "profile_suite_sec_min", "value": total}))
    spark.stop()


if __name__ == "__main__":
    main()
