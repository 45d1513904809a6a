"""Attribute Spark jobs within one bench query to callsites (guide §1/§7).

Runs one query, then dumps every job in its group with stage names and
submission->completion timing pulled from the status tracker.

Usage: python scripts/job_breakdown.py <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from codem_spark.session import get_spark
    from perfbench.queries import bench_queries

    spark = get_spark(
        app_name="codem_spark_jobs", cpus=cpus, shuffle_partitions=2 * cpus
    )
    sc = spark.sparkContext
    qs = bench_queries()

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    tracker = sc.statusTracker()
    jtracker = sc._jsc.statusTracker()
    for name in names:
        # warm pass (uncounted), then measured pass
        qs[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        group = f"jb_{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.count()
        wall = time.time() - t0
        sc.setJobGroup(None, None)
        jids = sorted(tracker.getJobIdsForGroup(group))
        print(f"\n=== {name}: wall={wall:.3f}s, {len(jids)} jobs ===")
        for j in jids:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            stage_descr = []
            for s in sorted(ji.stageIds):
                si = tracker.getStageInfo(s)
                if si is None:
                    continue
                stage_descr.append(f"{si.name}[{si.numTasks}t]")
            print(f"  job {j}: stages={'; '.join(stage_descr)}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
