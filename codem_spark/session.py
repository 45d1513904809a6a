"""SparkSession factory tuned for the engine.

Local mode is the test bed; the same settings (AQE, Arrow, explicit shuffle
partitions) are what we would submit with ``spark-submit --py-files`` on a
real cluster. ``SPARK_GRAFT_CPUS`` selects parallelism so the N vs 4N
scaling-efficiency evidence (BASELINE.md) runs the identical code path.

Worker import caches: before every task, a PySpark 4.1 Python worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``). On
CPython < 3.13 every ``zipimporter`` then re-reads its whole archive
directory, and a worker holds 16 of them (the ``pyspark.zip`` subpackages,
1,328 entries, and py4j). That is ~0.3 s of CPU per Python task before the
kernel starts; an ICP tile kernel at bench sizes takes ~12 ms.
``keep_unchanged_zip_directories`` wraps ``zipimporter.invalidate_caches``:
an importer whose archive still has the ``(st_mtime_ns, st_size, st_ino)``
of its last read keeps its directory, while a first call, a changed archive
or a failed ``stat`` does the stock re-read. ``codem_spark/__init__.py``
installs it once, when the package is first imported inside a worker; the
driver keeps the stock method, and plans and outputs do not change.
CPython 3.13 reads zip directories lazily and does not need it.

Generated classes: Spark compiles each generated source (whole-stage code,
projections, predicates) with Janino and keeps the class in a Guava cache
of ``spark.sql.codegen.cache.maxEntries`` entries (default 100), keyed by
the source and the compiling thread's class loader. Guava splits the cache
into 4 segments of maxEntries/4 entries that evict on their own, so the cap
needs headroom well past the number of entries a workload fills. The
engine runs its query suite as many short one-shot plans: a perfbench
``query_mix`` pass fills ~240 entries and a ``register`` pass ~93. At the
default the cache evicted before any reuse, so every warm pass compiled
its classes again (``query_mix`` ~247, ``register`` 43), the JIT compiled
the new classes again, and Metaspace grew 4-5 MB per ``query_mix`` pass,
since generated classes are never unloaded. ``_CODEGEN_CACHE_ENTRIES`` =
2000 holds the engine's plan set: warm passes compile 0-6 classes, Metaspace
grows ~2-3 MB per ``query_mix`` pass, and a second run of the 37 contract
queries at sf0.01 in one session compiles 0-8 classes instead of 546 (the
run fills ~500 entries, so these are sources first compiled under another
thread's class loader, not evictions). A compile added 16-20 KB of
Metaspace (3.95-5.0 MB for ~247), so a full cache holds at most ~40 MB.
The conf is static, read when the JVM first generates code, so it is set
here, before the session starts.
"""

from __future__ import annotations

import functools
import os
import zipimport

from pyspark.sql import SparkSession


# tmpfs shuffle dir of the auto policy, and the free space it needs
_SHM = "/dev/shm"
_SHM_MIN_FREE = 16 << 30
# entries of Spark's generated-class cache (module docstring)
_CODEGEN_CACHE_ENTRIES = 2000


def keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives whose
    ``stat`` is unchanged since the importer last read them (see the
    module docstring). Installing twice is a no-op."""
    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        stock(self)
        self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _use_shm_shuffle() -> bool:
    flag = os.environ.get("SPARK_GRAFT_SHM_SHUFFLE", "").strip().lower()
    if flag in ("1", "true", "yes"):
        return True
    if flag in ("0", "false", "no"):
        return False
    if not (os.path.isdir(_SHM) and os.access(_SHM, os.W_OK)):
        return False
    try:
        st = os.statvfs(_SHM)
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= _SHM_MIN_FREE


def get_spark(
    app_name: str = "codem_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    shuffle_partitions defaults to 4x cores: cogroup kernel stages (kNN,
    normals, clustering) have expensive Python work per task, and with only
    ~1-2 waves of tasks the last wave strands most of the cluster (measured:
    a 23-task kernel stage on 16 cores ran 44 s with the second wave using
    7/16 slots — wave imbalance, not skew). ~4 waves bounds that loss at
    ~1/8. The AQE advisory size below keeps coalescing from undoing this
    for kernel stages while still collapsing genuinely tiny shuffles.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(16, 4 * cpus)

    # One BLAS thread per Python worker: N workers x M BLAS threads
    # oversubscribes the box quadratically (batched eigh/matmul kernels);
    # parallelism comes from Spark tasks, not from nested BLAS pools.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Keep glibc from mmap/munmap-cycling large numpy temporaries: by
    # default every allocation > 128 KB is a fresh mmap whose pages are
    # returned to the OS on free, so each kernel iteration re-faults its
    # temps — and page faults both serialize under concurrency and are
    # pathologically slow on this host's virtual-memory backend (measured:
    # a 4-process numpy streaming loop 13.9 s -> 2.75 s with the thresholds
    # raised). Raising the thresholds keeps big chunks on the reusable
    # heap; cost is only idle-RSS, safe on real executors too.
    _malloc_tuning = {
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    }
    for var, val in _malloc_tuning.items():
        os.environ.setdefault(var, val)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing targets BYTES, but the engine's cogroup
        # kernel stages cost Python CPU per row, not bytes: a few-MB shuffle
        # carries tens of seconds of kernel work, and coalescing it to ~1
        # wave of tasks strands most cores (measured: normals stage 47 s ->
        # 30 s at local[16] with coalescing off). Skew-join stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode: the driver heap IS the executor heap. Measured on the
        # scaling workload: a 48g heap with ParallelGC
        # made a pure-JVM hash agg 8x SLOWER at local[32] than local[8]
        # (GC threads x huge young gen thrash); G1 (the JVM default) with a
        # heap sized to the task-thread count is uniformly fastest. ~1 GiB
        # per task thread + 8 GiB base fits every sf0.1 stage with headroom.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(8 + cpus, 40)}g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    # Shuffle spill dir on tmpfs — GATED: this host's virtual disk serializes
    # under concurrent shuffle writers (measured: the same 40M-row
    # repartition took 7.8 s at local[8] but 30.7 s at local[32] on /tmp, and
    # 5.9 s on /dev/shm) — with the default dir, every shuffle-heavy stage
    # ANTI-scales with cores. But tmpfs is RAM-backed: a shuffle larger than
    # its free space dies with ENOSPC, so this must NOT be a blanket library
    # default. Policy: SPARK_GRAFT_SHM_SHUFFLE=1 forces on, =0 forces off;
    # unset = auto, on only with >=16 GiB free on /dev/shm (~100x any sf0.1
    # stage's shuffle). On a real cluster keep the default (local SSD /
    # YARN local dirs) and leave this off.
    if _use_shm_shuffle():
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    for var, val in _malloc_tuning.items():
        builder = builder.config(f"spark.executorEnv.{var}", os.environ.get(var, val))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
