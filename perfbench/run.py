"""Layered benchmark of codem_spark on one local[4] driver process.

    python3 perfbench/run.py --workload register --seed 1 --seconds 5 --trace 0

Runs one workload as a closed loop with one client: each pass is one unit
of user work, the next starts when the last ends, until ``--seconds`` have
been measured. Every output is checked; a wrong or failed operation counts
in ``failed`` and the run goes on. The last stdout line is the result JSON:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# driver heap; in local mode the driver JVM also runs every task
DRIVER_MEM = "2g"
# a register pass fails its check when the recovered transform moves an AOI
# corner further than this from where the true transform puts it
REG_ERR_BOUND_M = 2.0
# input sizes per workload (see README.md for how they were chosen)
SIZES = {
    "register": {"n_points": 70_000, "side_m": 500.0, "resolution_m": 4.0, "scene_seed": 7},
    "query_mix": {"n_orders": 8_000, "n_events": 10_000, "n_docs": 2_000, "n_vecs": 1_000},
}
REGISTER_LAYERS = ["registration.preprocess", "registration.coarse", "registration.icp", "registration.apply"]
LAYERS = REGISTER_LAYERS + [
    "operators.knn", "operators.cluster", "operators.tin", "operators.resample",
    "operators.pip", "functions.cells", "operators.grid", "operators.dedup", "operators.similarity",
]
PINS = os.path.join(HERE, "pins.json")


def _digest(pdf) -> list[int]:
    """Row count and an order-independent content hash of a query output.
    Floating-point values are hashed rounded to 3 decimals, so a change of
    summation order does not read as a wrong answer."""
    import numpy as np
    import pandas as pd

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return repr((np.round(np.asarray(v, dtype=float), 3) + 0.0).tolist())
        return str(v)

    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(3) + 0.0  # + 0.0 turns -0.0 into 0.0
        elif out[c].dtype == object:
            out[c] = out[c].map(cell)
    # uint64 sum wraps: the hash of the row multiset, in any row order
    h = pd.util.hash_pandas_object(out, index=False).to_numpy(np.uint64).sum()
    return [len(out), int(h)]


def _oracle_mismatch(got, want) -> str | None:
    """How a query output differs from its DuckDB oracle (the comparison
    the repo's oracle tests make), or None when they agree."""
    import numpy as np

    def canon(df):
        out = df[sorted(df.columns)].copy()
        for c in out.columns:
            if out[c].dtype == object:
                out[c] = out[c].astype(str)
        return out.sort_values(list(out.columns)).reset_index(drop=True)

    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating):
            same = np.allclose(av.astype(float), bv.astype(float), rtol=1e-6, atol=1e-6, equal_nan=True)
        else:
            same = bool((av == bv).all())
        if not same:
            return f"values of {c} differ from the oracle"
    return None


def _tail(values: list[float]) -> float:
    """Highest percentile with at least 10 samples above it; the maximum
    when there are fewer than 11 samples."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) >= 11 else v[-1]


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to others while this host's CPUs
    wanted to run, summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until each process has ended (exited or a zombie); kill those
    still running after ``timeout`` seconds and wait for them too."""
    import signal

    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    for kill in (True, False):
        deadline = time.monotonic() + timeout
        while (alive := [p for p in pids if running(p)]) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in alive if kill else ():
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


class Bench:
    """One workload run: set-up, then timed passes."""

    def __init__(self, spark, workload: str, seed: int, work: str):
        from queries import bench_queries

        self.spark, self.workload, self.seed, self.work = spark, workload, seed, work
        self.sf_dir = os.path.join(work, "data")
        self.queries = bench_queries()
        self.oracle: dict[str, object] = {}
        self.reference: dict[str, object] = {}
        with open(PINS) as fh:
            self.pins = json.load(fh).get(workload, {}).get(str(seed), {})
        self.failures: list[str] = []

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        import inputs

        size = SIZES[self.workload]
        if self.workload == "register":
            from codem_spark.io.tables import write_table

            fnd, aoi = inputs.register_scene(self.seed, size["n_points"], size["side_m"], size["scene_seed"])
            self.n_aoi = len(aoi)
            for name, pdf in (("fnd", fnd), ("aoi", aoi)):
                write_table(self.spark.createDataFrame(pdf), os.path.join(self.sf_dir, name))
        else:
            inputs.write_spatial_tables(self.sf_dir, self.seed, size["n_orders"], size["n_events"])
            inputs.write_text_tables(self.sf_dir, self.seed, size["n_docs"], size["n_vecs"])

    def compute_oracles(self) -> None:
        """Answers of the DuckDB oracles of ``__spark_entry__`` on this run's
        inputs, for every query_mix query that has one and runs its contract
        version. The warm-up pass is checked against them."""
        if self.workload != "query_mix":
            return
        import duckdb

        import __spark_entry__ as entry
        import queries as Q

        sql = entry.oracle_sql()
        names = [q for q in Q.QUERY_MIX if q in sql and q not in Q.SCALE_OVERRIDES]
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                con.sql(f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM '{self.sf_dir}/{t}/*.parquet'")
            self.oracle = {q: con.sql(sql[q]).df() for q in names}
        finally:
            con.close()

    # ------------------------------------------------------------ checks
    def _check(self, op: str, pdf, warm: bool) -> bool:
        """The warm-up pass is checked against the query's oracle, where it
        has one; every later pass must give the warm-up digest. On seeds
        pinned in pins.json the digest must also equal the pinned one."""
        value = _digest(pdf)
        problem = None
        if warm and op in self.oracle:
            problem = _oracle_mismatch(pdf, self.oracle[op])
        expected = self.pins.get(op, self.reference.get(op))
        if problem is None and expected is not None and expected != value:
            problem = f"got {value}, expected {expected}"
        if warm:
            # a wrong warm-up answer fails every later pass of the query too
            self.reference[op] = value if problem is None else "wrong in the warm-up pass"
        if problem:
            self.failures.append(f"{op}: {problem}")
        return problem is None

    # ------------------------------------------------------------ passes
    def run_pass(self, tracer, warm: bool) -> tuple[int, int, dict]:
        """One pass; returns (attempted, failed, extra per-layer counts)."""
        from contextlib import nullcontext

        span = tracer.span if tracer else (lambda _layer: nullcontext())
        if self.workload == "register":
            return self._register_pass(span)
        import random

        import queries as Q

        names = list(Q.QUERY_MIX)
        random.Random(self.seed).shuffle(names)
        failed, extra = 0, {}
        for name in names:
            layer = Q.QUERY_LAYER[name]
            t0 = time.perf_counter()
            try:
                with span(layer):
                    # the caller's view of a query: its whole result in the driver
                    pdf = self.queries[name](self.spark, self.sf_dir).toPandas()
                # every query's time goes to the run line; the per-layer
                # metrics list those of the layers with several queries
                extra[f"{layer}.{name}_s"] = time.perf_counter() - t0
                ok = self._check(name, pdf, warm)
            except Exception as e:  # noqa: BLE001 - a failed query counts and the run goes on
                self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
                ok = False
            finally:
                self.spark.catalog.clearCache()
            failed += not ok
            if name == "minhash_lsh" and ok:
                self.verified_pairs = len(pdf)
        return len(names), failed, extra

    def minhash_verify_ratio(self) -> float:
        """Verified pairs over candidate pairs of the last minhash_lsh run
        (one extra job, run outside the timed pass)."""
        import queries as Q

        cands, _docs = Q.minhash_candidates(self.spark, self.sf_dir)
        try:
            return self.verified_pairs / max(cands.count(), 1)
        finally:
            self.spark.catalog.clearCache()

    def _register_pass(self, span) -> tuple[int, int, dict]:
        import numpy as np

        import inputs
        from codem_spark.config import EngineConfig
        from codem_spark.io.tables import read_table, write_table
        from codem_spark.registration import pipeline as P

        size = SIZES["register"]
        side = size["side_m"]
        try:
            fnd = read_table(self.spark, os.path.join(self.sf_dir, "fnd"))
            aoi = read_table(self.spark, os.path.join(self.sf_dir, "aoi"))
            cfg = EngineConfig(min_resolution=size["resolution_m"])
            with span("registration.preprocess"):
                prep = P.preprocess(fnd, aoi, extent=(0.0, 0.0, side, side), cfg=cfg, resolution=size["resolution_m"])
            with span("registration.coarse"):
                c = P.coarse_registration(prep, cfg)
            t0 = time.perf_counter()
            with span("registration.icp"):
                f = P.fine_registration_stage(prep, c, cfg)
            icp_s = time.perf_counter() - t0
            prep.fnd_dsm.unpersist()
            prep.aoi_dsm.unpersist()
            with span("registration.apply"):
                out = P.apply_registration(aoi, f)
                manifest = write_table(out, os.path.join(self.work, "registered"))
        except Exception as e:  # noqa: BLE001 - a failed registration counts and the run goes on
            self.failures.append(f"register: {type(e).__name__}: {e}"[:300])
            return 1, 1, {}
        finally:
            self.spark.catalog.clearCache()
        # error of the recovered AOI -> foundation transform at the AOI corners
        t = inputs.true_transform(side)
        lo, hi = 0.2 * side, 0.8 * side
        corners = np.array([[x, y, 50.0, 1.0] for x in (lo, hi) for y in (lo, hi)]) @ t.T
        got = corners @ np.array(f.matrix).T
        want = corners @ np.linalg.inv(t).T
        err = float(np.max(np.linalg.norm((got - want)[:, :3], axis=1)))
        ok = True
        if manifest["row_count"] != self.n_aoi:
            self.failures.append(f"register wrote {manifest['row_count']} rows of {self.n_aoi}")
            ok = False
        if err > REG_ERR_BOUND_M:
            self.failures.append(f"register: corner error {err:.3f} m > {REG_ERR_BOUND_M} m")
            ok = False
        extra = {
            "reg_err_m": err,
            "registration.coarse.n_pairs": float(c.n_pairs),
            "registration.icp.iterations": float(f.iterations),
            "registration.icp.iter_s": icp_s / max(f.iterations, 1),
            "registration.icp.n_pairs": float(f.n_pairs),
        }
        return 1, int(not ok), extra


def _per_layer_units() -> dict[str, str]:
    units = {"wall_s": "s", "jobs": "count", "task_s": "s", "jvm_cpu_s": "s",
             "py_cpu_s": "s", "shuffle_bytes": "B", "driver_s": "s"}
    out = {f"{layer}.{k}": u for layer in LAYERS for k, u in units.items()}
    out.update({
        "registration.coarse.n_pairs": "count",
        "registration.icp.iterations": "count",
        "registration.icp.iter_s": "s",
        "registration.icp.n_pairs": "count",
        "operators.dedup.minhash_verify_ratio": "ratio",
        "trace_overhead_s": "s",
        "failed_frac": "ratio",
        "reg_err_m": "m",
    })
    for q in ("grid_max", "grid_idw", "density", "window_count", "quantize"):
        out[f"operators.grid.{q}_s"] = "s"
    for q in ("exact_dedup", "minhash_lsh", "simhash"):
        out[f"operators.dedup.{q}_s"] = "s"
    for q in ("cosine_topk", "embedding_dedup"):
        out[f"operators.similarity.{q}_s"] = "s"
    return out


def _session(work: str):
    """local[4] session whose scratch files, shuffle and Python workers all
    stay inside ``work`` and the checkout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # workers are started by the JVM and import codem_spark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_SHM_SHUFFLE"] = "0"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from codem_spark.session import get_spark

    return get_spark(
        app_name="codem_spark_perfbench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched up front, so peak RSS
            # does not follow the collector's run-to-run heap sizing; no
            # perf-data file, which the JVM would write under /tmp
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _host_info() -> dict:
    import pyspark

    os.environ.pop("SPARK_GRAFT_SHM_SHUFFLE", None)
    from codem_spark.session import _use_shm_shuffle

    return {
        "cpu_count": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        # the library's own choice on this host; the benchmark always keeps
        # shuffle files inside the checkout instead
        "host_would_use_shm_shuffle": _use_shm_shuffle(),
        "shm_shuffle": False,
    }


def run(args) -> dict:
    from spans import ProcTree, Tracer

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    info = _host_info()
    tree = ProcTree()
    t_setup = time.perf_counter()
    spark = _session(work)
    gateway = spark.sparkContext._gateway
    try:
        t_session = time.perf_counter()
        bench = Bench(spark, args.workload, args.seed, work)
        bench.setup()
        t_inputs = time.perf_counter()
        # the oracles are the benchmark's own work, not set-up of the engine
        bench.compute_oracles()
        t_oracle = time.perf_counter()
        attempted, failed, _extra = bench.run_pass(None, warm=True)
        t_warm = time.perf_counter()
        setup_s = (t_inputs - t_setup) + (t_warm - t_oracle)
        info["setup_parts_s"] = {"session": t_session - t_setup, "inputs": t_inputs - t_session,
                                 "warm_up": t_warm - t_oracle}
        info["oracle_s"] = t_oracle - t_inputs

        passes = []
        t_run = time.perf_counter()
        i = 0
        while time.perf_counter() - t_run < args.seconds or i < (2 if args.trace else 1):
            # traced runs alternate traced and untraced passes, so the
            # tracing overhead is measured inside the run
            tracer = Tracer(spark, tree) if args.trace and i % 2 == 0 else None
            load0, steal0, cpu0 = _loadavg(), _steal_s(), sum(tree.cpu().values())
            t0 = time.perf_counter()
            a, f, extra = bench.run_pass(tracer, warm=False)
            wall = time.perf_counter() - t0
            cpu = sum(tree.cpu().values()) - cpu0
            p = {"wall": wall, "cpu": cpu, "load": [load0, _loadavg()], "steal": _steal_s() - steal0, "extra": extra,
                 "traced": tracer is not None, "rss": tree.peak_rss_mb()}
            if tracer:
                if args.workload == "query_mix":
                    extra["operators.dedup.minhash_verify_ratio"] = bench.minhash_verify_ratio()
                layers, calls = tracer.layer_totals()
                p["layers"] = layers
                for layer, jobs in calls:
                    if layer in REGISTER_LAYERS and jobs < 1:
                        bench.failures.append(f"{layer}: a call reported {jobs} jobs")
                        f += 1
            passes.append(p)
            attempted += a
            failed += f
            i += 1
    finally:
        # the Python workers are the JVM's children: once it exits they are
        # no longer in this process's tree, so take their ids first
        started = [p for p in tree.pids() if p != tree.root]
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        _wait_ended(started)
        shutil.rmtree(work, ignore_errors=True)

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    if args.trace:
        units = _per_layer_units()
        vals: dict[str, list[float]] = {k: [] for k in units}
        for p in traced:
            for name in units:
                layer, _, counter = name.rpartition(".")
                if name in p["extra"]:
                    vals[name].append(p["extra"][name])
                elif layer in p["layers"]:
                    vals[name].append(p["layers"][layer][counter])
        metrics = {k: statistics.median(v) if v else 0.0 for k, v in vals.items()}
        metrics["trace_overhead_s"] = statistics.median(p["wall"] for p in traced) - statistics.median(
            p["wall"] for p in untraced
        )
        metrics["failed_frac"] = failed / max(attempted, 1)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        walls = [p["wall"] for p in passes]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(walls), "unit": "s"},
            "pass_s_tail": {"value": _tail(walls), "unit": "s"},
            "cpu_s": {"value": statistics.median(p["cpu"] for p in passes), "unit": "s"},
            "peak_rss_mb": {"value": max(p["rss"] for p in passes), "unit": "MB"},
        }
    info.update(
        workload=args.workload, seed=args.seed, passes=len(passes),
        pass_s=[round(p["wall"], 4) for p in passes],
        pass_counts=[p["extra"] for p in passes],
        loadavg=[p["load"] for p in passes],
        steal_s=[round(p["steal"], 2) for p in passes],
        failures=bench.failures[:20],
        digests=bench.reference,
    )
    print(json.dumps({"run": info}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(os.path.join(ROOT, "codem_spark"))):
        print(f"engine sources not found next to {HERE}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
