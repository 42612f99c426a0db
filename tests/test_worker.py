"""Python-worker zip guard (``bloomjoin_spark._worker``): an unchanged
archive is not re-read on ``invalidate_caches()``, a changed one always
is, and only PySpark workers on CPython < 3.13 are touched."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from bloomjoin_spark import _worker

pre_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip invalidation is lazy on CPython ≥ 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose zip directory ``zipimport`` parsed, in call order."""
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pre_313
def test_unchanged_archive_is_not_reread(tmp_path, directory_reads):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"bj_zip_probe_a": "X = 1\n"})
    stock = zipimport.zipimporter(zp)
    guarded = _worker._StatZipImporter(zp)
    del directory_reads[:]
    stock.invalidate_caches()
    assert directory_reads == [zp]  # the per-task cost being removed
    guarded.invalidate_caches()  # first call: its directory predates its stamp
    for _ in range(3):
        guarded.invalidate_caches()
    assert directory_reads == [zp, zp]


@pre_313
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, directory_reads):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"bj_zip_probe_a": "X = 1\n"})
    guarded = _worker._StatZipImporter(zp)
    monkeypatch.setitem(sys.path_importer_cache, zp, guarded)
    monkeypatch.syspath_prepend(zp)
    for name in ("bj_zip_probe_a", "bj_zip_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("bj_zip_probe_a").X == 1
    importlib.invalidate_caches()
    n = directory_reads.count(zp)
    importlib.invalidate_caches()
    assert directory_reads.count(zp) == n

    _write_zip(zp, {"bj_zip_probe_a": "X = 1\n", "bj_zip_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert directory_reads.count(zp) == n + 1
    assert importlib.import_module("bj_zip_probe_b").Y == 2
    importlib.invalidate_caches()
    assert directory_reads.count(zp) == n + 1


def _isolated_import_state(monkeypatch, tmp_path):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"bj_zip_probe_a": "X = 1\n"})
    imp = zipimport.zipimporter(zp)
    monkeypatch.setattr(sys, "path_importer_cache", {zp: imp})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    assert zipimport.zipimporter in sys.path_hooks
    return imp


def test_install_skips_driver_and_python_313(monkeypatch, tmp_path):
    imp = _isolated_import_state(monkeypatch, tmp_path)
    hooks = list(sys.path_hooks)
    _worker.install()  # the driver: no TaskContext
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _worker.install()
    assert type(imp) is zipimport.zipimporter
    assert sys.path_hooks == hooks


@pre_313
def test_install_in_worker_swaps_importers_once(monkeypatch, tmp_path):
    imp = _isolated_import_state(monkeypatch, tmp_path)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    _worker.install()
    _worker.install()
    assert type(imp) is _worker._StatZipImporter
    assert zipimport.zipimporter not in sys.path_hooks
    assert sys.path_hooks.count(_worker._StatZipImporter) == 1


@pre_313
def test_library_call_guards_its_worker_not_the_driver(spark):
    """After a library Python stage, a probe task in a worker that
    imported the package finds no plain ``zipimporter`` left, and the
    driver's importers are unchanged."""
    from bloomjoin_spark import HllSketch, build_sketch

    driver_before = {k: type(v) for k, v in sys.path_importer_cache.items()}
    hooks_before = list(sys.path_hooks)
    build_sketch(spark.range(0, 4_000, 1, 4), lambda: HllSketch(10), cols=["id"])

    def probe(it):
        import sys as wsys
        import zipimport as wzip

        import pyarrow as pa

        for _ in it:
            pass
        cached = list(wsys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "lib": ["bloomjoin_spark" in wsys.modules],
            "zips": [sum(isinstance(v, wzip.zipimporter) for v in cached)],
            "plain": [sum(type(v) is wzip.zipimporter for v in cached)],
        })

    rows = (
        spark.range(0, 8, 1, 8)
        .mapInArrow(probe, "lib boolean, zips long, plain long")
        .collect()
    )
    guarded = [r for r in rows if r.lib]
    assert guarded, rows
    assert all(r.zips > 0 and r.plain == 0 for r in guarded), rows
    assert {k: type(v) for k, v in sys.path_importer_cache.items()
            if k in driver_before} == driver_before
    assert not any(isinstance(v, _worker._StatZipImporter)
                   for v in sys.path_importer_cache.values())
    assert sys.path_hooks == hooks_before
