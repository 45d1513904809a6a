"""Session set-up: the worker-side zip directory guard and the size of
Spark's generated-class cache."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from codem_spark.session import keep_unchanged_zip_directories

_MEMBER = "zipguard_member"


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{_MEMBER}.py", f"VALUE = {value!r}\n")


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_archive(archive, "first")
    monkeypatch.syspath_prepend(archive)
    # restored at teardown, so the test process keeps the stock method
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    stock_read = zipimport._read_directory
    reads = []

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module(_MEMBER).VALUE == "first"
        reads.clear()  # the importer's own first read
        keep_unchanged_zip_directories()
        guarded = zipimport.zipimporter.invalidate_caches
        assert guarded.__wrapped__ is not None

        importlib.invalidate_caches()  # first call: the stock re-read
        assert len(reads) == 1
        importlib.invalidate_caches()
        assert len(reads) == 1  # unchanged archive: no read

        keep_unchanged_zip_directories()
        assert zipimport.zipimporter.invalidate_caches is guarded
        importlib.invalidate_caches()
        assert len(reads) == 1

        # a longer member changes the size, whatever the mtime resolution
        _write_archive(archive, "second, longer")
        importlib.invalidate_caches()
        assert len(reads) == 2
        del sys.modules[_MEMBER]
        assert importlib.import_module(_MEMBER).VALUE == "second, longer"
    finally:
        sys.modules.pop(_MEMBER, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_skip_unchanged_zip_directories(spark):
    """Each probe task counts the zip directory reads of one
    ``importlib.invalidate_caches()`` in its Python worker. A worker that
    already ran a probe has read every archive since its last change, so
    it reads none; the stock method re-reads them all every task."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import codem_spark  # noqa: F401  (installs the guard in a worker)

        stock_read = zipimport._read_directory
        reads = []

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"worker": [os.getpid()], "zips": [zips], "reads": [len(reads)]})

    rows = []
    for _ in range(12):
        job = spark.range(1, numPartitions=1).mapInPandas(probe, "worker long, zips long, reads long")
        rows.extend(job.collect())
    # the workers import pyspark and py4j from their zip archives
    assert min(r.zips for r in rows) > 0
    seen, repeat_reads = set(), []
    for r in rows:
        if r.worker in seen:
            repeat_reads.append(r.reads)
        seen.add(r.worker)
    assert repeat_reads, "no Python worker ran two probe tasks"
    assert repeat_reads == [0] * len(repeat_reads)
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def test_repeated_plan_reuses_its_generated_class(spark):
    """A plan that ran before reuses its generated class: no Janino
    compile, even after more distinct plans than Spark's default cache of
    100 entries (4 segments of 25) holds. Each query below generates
    distinct code (its literals are inlined), so at the default size the
    first query's classes are evicted and compiled again."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def query(i):
        v = spark.range(0, 100, 1, 1).selectExpr(f"id * {i} + {i}.5 AS v")
        return v.agg(F.sum("v")).collect()

    first = query(1)
    for i in range(2, 90):
        query(i)
    compiles = codegen.METRIC_COMPILATION_TIME().getCount()
    assert query(1) == first
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiles
