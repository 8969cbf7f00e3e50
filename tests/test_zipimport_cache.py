"""Importing doc_ocr_spark keys zipimport's cache invalidation on the
archive's stat: pyspark's worker calls ``importlib.invalidate_caches()``
before every task, and an unchanged pyspark.zip must not be re-read."""

import importlib
import os
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pytest

import doc_ocr_spark  # noqa: F401  (installs the stat-keyed invalidation)


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # new inode, as a redeploy would give


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package ``zpkg_cache`` on ``sys.path``; the modules,
    importers and directory cache it leaves are dropped afterwards."""
    path = tmp_path / "zpkg_cache.zip"
    _write_zip(path, {"zpkg_cache/__init__.py": "", "zpkg_cache/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in [m for m in sys.modules if m.partition(".")[0] == "zpkg_cache"]:
        del sys.modules[name]
    for entry in [e for e in sys.path_importer_cache if e.startswith(str(path))]:
        del sys.path_importer_cache[entry]
    zipimport._zip_directory_cache.pop(str(path), None)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zpkg_cache.a").A == 1
    # two zipimporters: the archive root and the package directory in it
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == str(archive)
    ]
    assert len(importers) == 2
    importlib.invalidate_caches()  # first call after import reads once

    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(
        archive,
        {
            "zpkg_cache/__init__.py": "",
            "zpkg_cache/a.py": "A = 1\n",
            "zpkg_cache/b.py": "B = 2\n",
        },
    )
    importlib.invalidate_caches()
    assert len(reads) == 1  # once per rewrite, not once per importer
    assert importlib.import_module("zpkg_cache.b").B == 2
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_lazy_zipimporter_is_left_alone():
    from doc_ocr_spark import _stat_keyed_zip_invalidation

    class LazyImporter:  # 3.13+: invalidation only drops a cache entry
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    stock = LazyImporter.invalidate_caches
    assert _stat_keyed_zip_invalidation(LazyImporter) is False
    assert LazyImporter.invalidate_caches is stock

    eager = not hasattr(zipimport.zipimporter, "_get_files")
    installed = hasattr(zipimport.zipimporter.invalidate_caches, "stat_keyed")
    assert installed is eager
    # installed once, however often the package is imported or asked
    assert _stat_keyed_zip_invalidation(zipimport.zipimporter) is False


def _worker_reads():
    """Directory reads across one ``importlib.invalidate_caches()`` in a
    Python worker that has imported the package and invalidated once,
    and the number of zipimporters it holds."""

    def reads_after_prime():
        import importlib
        import sys
        import zipimport

        import doc_ocr_spark  # noqa: F401

        importlib.invalidate_caches()
        reads = []
        stock = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return len(reads), zips

    def arrow_probe(batches):
        for _ in batches:
            pass
        reads, zips = reads_after_prime()
        yield pa.RecordBatch.from_pylist([{"reads": reads, "zips": zips}])

    def cogroup_probe(left, right):
        reads, zips = reads_after_prime()
        return pd.DataFrame({"reads": [reads], "zips": [zips]})

    return arrow_probe, cogroup_probe


def _assert_no_rereads(rows):
    assert rows
    assert all(r.zips > 0 for r in rows), rows  # pyspark.zip is on the path
    assert all(r.reads == 0 for r in rows), rows


def test_worker_invalidation_skips_unchanged_archives_map_in_arrow(spark):
    arrow_probe, _ = _worker_reads()
    df = spark.range(0, 8, numPartitions=4)
    _assert_no_rereads(df.mapInArrow(arrow_probe, "reads long, zips long").collect())


def test_worker_invalidation_skips_unchanged_archives_cogroup(spark):
    _, cogroup_probe = _worker_reads()
    df = spark.range(0, 8, numPartitions=4).selectExpr("id % 4 AS k")
    rows = (
        df.groupBy("k")
        .cogroup(df.groupBy("k"))
        .applyInPandas(cogroup_probe, "reads long, zips long")
        .collect()
    )
    _assert_no_rereads(rows)
