"""The workers' stat-guarded zip-import invalidation (`_zipguard`)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from dablooms_spark import _zipguard
from dablooms_spark.core import CountingBloom
from dablooms_spark.operators import bloom_probe_column

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info[:2] >= (3, 13), reason="CPython >= 3.13 invalidates zip caches lazily"
)


def _is_guarded(method) -> bool:
    return getattr(method, "_stat_guarded", False)


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """An archive on sys.path with module zg_mod_a in it; restores the
    stdlib method, sys.path, the importer cache and sys.modules after."""
    saved = zipimport.zipimporter.invalidate_caches
    assert not _is_guarded(saved)
    monkeypatch.setattr(_zipguard, "_READ_STAT", {})
    archive = str(tmp_path / "zg.zip")
    _write_zip(archive, {"zg_mod_a": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    yield archive
    zipimport.zipimporter.invalidate_caches = saved
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("zg_mod_a", "zg_mod_b", "zg_mod_c"):
        sys.modules.pop(name, None)


def _write_zip(path: str, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list:
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_eager_zipimport
def test_guard_skips_rereads_of_an_unchanged_archive(zip_path, monkeypatch):
    assert importlib.import_module("zg_mod_a").VALUE == 1
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(zip_path) == 1  # the stdlib re-reads on every call

    assert _zipguard.install()
    importlib.invalidate_caches()  # the first guarded call reads and records the stat
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    importer = sys.path_importer_cache[zip_path]
    assert importer._files is zipimport._zip_directory_cache[zip_path]


@needs_eager_zipimport
def test_guard_rereads_a_rewritten_archive(zip_path, monkeypatch):
    importlib.import_module("zg_mod_a")
    assert _zipguard.install()
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)

    _write_zip(zip_path, {"zg_mod_a": "VALUE = 1\n", "zg_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zip_path) == 1
    assert importlib.import_module("zg_mod_b").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@needs_eager_zipimport
def test_guard_treats_a_deleted_archive_as_the_stdlib_does(zip_path):
    importlib.import_module("zg_mod_a")
    importer = sys.path_importer_cache[zip_path]
    os.remove(zip_path)
    zipimport.zipimporter.invalidate_caches(importer)
    expected = (importer._files, zip_path in zipimport._zip_directory_cache)
    _write_zip(zip_path, {"zg_mod_a": "VALUE = 1\n"})
    zipimport.zipimporter.invalidate_caches(importer)
    assert importer._files

    assert _zipguard.install()
    importlib.invalidate_caches()
    os.remove(zip_path)
    importlib.invalidate_caches()
    assert (importer._files, zip_path in zipimport._zip_directory_cache) == expected == ({}, False)
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zg_mod_c")

    _write_zip(zip_path, {"zg_mod_c": "VALUE = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_c").VALUE == 3


@needs_eager_zipimport
def test_install_twice_leaves_one_wrapper(zip_path):
    stdlib = zipimport.zipimporter.invalidate_caches
    assert _zipguard.install() and _zipguard.install()
    method = zipimport.zipimporter.invalidate_caches
    assert _is_guarded(method)
    assert method.__wrapped__ is stdlib


def test_install_is_a_no_op_on_lazy_cpython(zip_path, monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@needs_eager_zipimport
def test_workers_that_ran_a_probe_skip_zip_rereads(spark):
    n = spark.sparkContext.defaultParallelism
    keys = spark.range(0, 400, numPartitions=n).select(F.col("id").cast("string").alias("k"))
    bloom = CountingBloom(400, 0.01)
    bloom.add([str(i).encode() for i in range(400)])
    assert bloom_probe_column(keys, "k", bloom).filter("NOT is_member").count() == 0

    def report(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        preloaded = "dablooms_spark" in sys.modules
        guarded_before = getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
        import dablooms_spark  # noqa: F401  (what unpickling one of its functions does)

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            if not preloaded:
                importlib.invalidate_caches()  # a fresh guard reads each archive once
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "preloaded": [preloaded],
            "guarded_before": [guarded_before],
            "guarded": [getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)],
            "reads": [len(reads)],
        })

    schema = "pid long, preloaded boolean, guarded_before boolean, guarded boolean, reads long"
    rows = spark.range(0, n, numPartitions=n).mapInArrow(report, schema).collect()
    by_pid = {r.pid: r for r in rows}
    assert any(r.preloaded for r in by_pid.values())
    for r in by_pid.values():
        assert r.guarded and r.reads == 0, r
        assert r.guarded_before or not r.preloaded, r
    assert not _is_guarded(zipimport.zipimporter.invalidate_caches)
