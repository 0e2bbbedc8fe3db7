"""Lazy zipimport invalidation (parquet_spark.lazy_zipimport_invalidation,
applied by sitecustomize.py in every Spark-started Python process).

pyspark calls `importlib.invalidate_caches()` at the start of every
task; on CPython < 3.13 each cached zipimporter then re-reads its whole
archive index.  With the backport, invalidation drops the cached index
and the next lookup in the archive reads it once."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from parquet_spark import lazy_zipimport_invalidation


def _natively_lazy() -> bool:
    return getattr(getattr(zipimport.zipimporter, "_get_files", None),
                   "__module__", None) == "zipimport"


def _apply_backport(monkeypatch):
    cls = zipimport.zipimporter
    # importers created while the backport is applied keep no `_files`
    # of their own, so the stock class can't use them: they go with
    # this copy of the cache at teardown
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    # hand the two attributes the backport adds to monkeypatch, so
    # teardown deletes them and the stock class is back
    for name in ("_get_files", "_files"):
        monkeypatch.setattr(cls, name, None, raising=False)
        monkeypatch.delattr(cls, name)
    lazy_zipimport_invalidation()
    assert isinstance(cls.__dict__["_files"], property)


def _count_reads(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_is_lazy_and_sees_a_rewritten_archive(tmp_path,
                                                         monkeypatch):
    if _natively_lazy():
        pytest.skip("zipimport is natively lazy on this interpreter")
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zi_probe_m1"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zi_probe_m1").NAME == "zi_probe_m1"
    # applied after the archive's importer exists, as for an importer
    # cached before sitecustomize ran
    _apply_backport(monkeypatch)
    calls = _count_reads(monkeypatch)

    for _ in range(5):
        importlib.invalidate_caches()
    assert calls == []

    _write_zip(archive, ["zi_probe_m1", "zi_probe_m2"])
    importlib.invalidate_caches()
    assert calls == []
    assert importlib.import_module("zi_probe_m2").NAME == "zi_probe_m2"
    assert calls == [archive]

    # a deleted archive reads as empty: imports from it fail cleanly and
    # every other import still works
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zi_probe_m3") is None
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zi_probe_m3")
    assert importlib.import_module("json.decoder")
    for name in ("zi_probe_m1", "zi_probe_m2"):
        sys.modules.pop(name, None)


def test_noop_when_zipimporter_is_already_lazy(monkeypatch):
    """A class that has `_get_files` (CPython >= 3.13, or the backport
    itself) is left untouched."""
    if not _natively_lazy():
        _apply_backport(monkeypatch)
    before = dict(vars(zipimport.zipimporter))
    lazy_zipimport_invalidation()
    assert dict(vars(zipimport.zipimporter)) == before


def test_worker_invalidation_reads_no_zip_index(spark):
    """Inside a Python worker, pyspark's per-task
    `importlib.invalidate_caches()` reads no zip index (16 reads of
    pyspark.zip per task without the backport)."""
    if _natively_lazy():
        pytest.skip("zipimport is natively lazy on this interpreter")

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi
        zips = sum(isinstance(v, zi.zipimporter)
                   for v in s.path_importer_cache.values())
        calls = []
        real = zi._read_directory
        zi._read_directory = lambda a: calls.append(a) or real(a)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"zips": [zips],
                                          "reads": [len(calls)]})

    rows = (spark.range(0, 4, numPartitions=4)
            .mapInArrow(probe, "zips long, reads long").collect())
    if not any(r.zips for r in rows):
        pytest.skip("workers import nothing from a zip archive")
    assert [r.reads for r in rows] == [0] * len(rows)
