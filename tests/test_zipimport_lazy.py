"""Lazy zip-archive cache invalidation (``machine_readability_checker_spark
._zipimport``): ``importlib.invalidate_caches()`` re-reads no zip
directory, in this process and inside a Spark Python worker, and an
archive rewritten on disk is still seen after an invalidate."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import machine_readability_checker_spark  # noqa: F401  (installs the patch)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_invalidate_caches_reads_no_zip_directory(tmp_path, monkeypatch):
    archive = str(tmp_path / "lazy_mods.zip")
    _write_zip(archive, {"lazy_zip_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "lazy_zip_a", raising=False)
    assert importlib.import_module("lazy_zip_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    calls = _count_reads(monkeypatch)
    for _ in range(5):
        importlib.invalidate_caches()
    assert calls == []


def test_rewritten_zip_is_importable_after_invalidate(tmp_path, monkeypatch):
    archive = str(tmp_path / "grow_mods.zip")
    _write_zip(archive, {"lazy_zip_b": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("lazy_zip_b", "lazy_zip_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("lazy_zip_b").VALUE == 1

    _write_zip(archive, {"lazy_zip_b": "VALUE = 1\n", "lazy_zip_c": "VALUE = 2\n"})
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch)
    assert importlib.import_module("lazy_zip_c").VALUE == 2
    assert calls == [archive]  # read once, on the first lookup after


def test_worker_invalidate_caches_reads_no_zip_directory(spark):
    # zip directories a worker re-reads in one invalidate, as PySpark runs
    # it before each task, after the package import every engine kernel
    # does.  Defined here so it pickles by value: workers cannot import
    # this test module.
    def worker_reads(batches):
        import importlib
        import sys
        import zipimport

        import machine_readability_checker_spark  # noqa: F401

        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(i, zipimport.zipimporter)
            for i in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "reads": [len(calls)]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(worker_reads, "zips long, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["zips"] > 0 for r in rows)  # the worker holds zip importers
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]
