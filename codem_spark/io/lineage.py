"""Per-stage lineage + metrics + checkpoint-resume (north-rule requirement).

The reference persists a config.yml + registration.txt + log per run
(main.py:165-174, dsm.py:434-466); at cluster scale the engine extends that
to a *stage manifest* written after every job boundary: stage name, input
fingerprints, per-partition row counts, wall time, and arbitrary metrics.
``run_stage`` is the resume point: if the stage's output table + manifest
already exist with matching input fingerprints, the stage is SKIPPED and its
output is read back — re-running a failed pipeline re-executes only the
stages after the last completed one (SURVEY.md §3.1 'each arrow is a job
boundary ... resumable').
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from codem_spark.io import tables


def _stage_manifest_path(run_dir: str, stage: str) -> str:
    return os.path.join(run_dir, f"stage_{stage}.json")


def stage_complete(run_dir: str, stage: str, input_fingerprint: str | None = None) -> bool:
    p = _stage_manifest_path(run_dir, stage)
    if not os.path.exists(p):
        return False
    with open(p) as f:
        m = json.load(f)
    if input_fingerprint is not None and m.get("input_fingerprint") != input_fingerprint:
        return False
    return tables.table_exists(m["output_path"])


def run_stage(
    spark: SparkSession,
    run_dir: str,
    stage: str,
    fn: Callable[[], DataFrame],
    input_fingerprint: str | None = None,
    metrics: dict[str, Any] | None = None,
) -> DataFrame:
    """Execute (or resume) one pipeline stage.

    fn() builds the stage's output DataFrame; the result is persisted as a
    table under run_dir/stage/, with a manifest recording input fingerprint,
    per-partition metrics, and wall time. On rerun with the same
    fingerprint, the persisted table is returned without recomputation.
    """
    os.makedirs(run_dir, exist_ok=True)
    out_path = os.path.join(run_dir, stage)
    if stage_complete(run_dir, stage, input_fingerprint):
        return tables.read_table(spark, out_path)
    t0 = time.time()
    df = fn()
    tm = tables.write_table(df, out_path)
    # per-partition lineage metrics come from the write's own parquet
    # footers (tables.parquet_file_metrics) — ONE Spark job per stage, where
    # r3 ran a pre-write groupBy job that recomputed the whole frame
    pm = [
        {"partition": i, "rows": f["rows"], "file": f["file"], "bytes": f["bytes"]}
        for i, f in enumerate(tm["file_metrics"])
    ]
    manifest = {
        "stage": stage,
        "output_path": out_path,
        "input_fingerprint": input_fingerprint,
        "row_count": tm["row_count"],
        "n_partitions": len(pm),
        "partition_metrics": pm,
        "wall_sec": round(time.time() - t0, 3),
        "metrics": metrics or {},
        "completed_at": time.time(),
    }
    with open(_stage_manifest_path(run_dir, stage), "w") as f:
        json.dump(manifest, f, indent=2)
    return tables.read_table(spark, out_path)


def run_manifest(run_dir: str) -> list[dict[str, Any]]:
    """All stage manifests of a run, in completion order."""
    out = []
    for fn in sorted(os.listdir(run_dir)):
        if fn.startswith("stage_") and fn.endswith(".json"):
            with open(os.path.join(run_dir, fn)) as f:
                out.append(json.load(f))
    out.sort(key=lambda m: m.get("completed_at", 0))
    return out
