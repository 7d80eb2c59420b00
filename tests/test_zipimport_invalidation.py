"""Import-cache invalidation over zip archives (`zipcache`): an unchanged
archive's directory is read once, a changed one is read again, and the
package import makes that so inside Spark's Python workers too."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import llm_review_aggregation_spark  # noqa: F401  (installs the wrapper)
from llm_review_aggregation_spark import zipcache

MOD = "zipcache_probe_mod"


def _write_archive(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", source)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path; yields (path, reads) where
    `reads` lists every archive `zipimport._read_directory` reads."""
    path = str(tmp_path / "mods.zip")
    _write_archive(path, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module(MOD).VALUE == 1
    importlib.invalidate_caches()
    after_first = reads.count(path)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) == after_first


def test_changed_archive_is_reread_and_reloads(archive):
    path, reads = archive
    mod = importlib.import_module(MOD)
    importlib.invalidate_caches()
    _write_archive(path, "VALUE = 2\nNOTE = 'a longer body, so the archive size changes'\n")
    before = reads.count(path)
    importlib.invalidate_caches()
    assert reads.count(path) == before + 1
    assert importlib.reload(mod).VALUE == 2


def test_missing_archive_is_reread_and_emptied(archive):
    path, reads = archive
    importlib.import_module(MOD)
    importlib.invalidate_caches()
    os.remove(path)
    before = reads.count(path)
    importlib.invalidate_caches()
    assert reads.count(path) == before + 1
    assert sys.path_importer_cache[path]._files == {}


def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_python_workers_skip_unchanged_archives(spark):
    """Inside a worker that has imported the package, a per-task
    `invalidate_caches()` reads no zip directory. The first call in the
    kernel stands in for an earlier task on a reused worker."""

    def kernel(batches):
        import importlib
        import sys
        import zipimport

        import llm_review_aggregation_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory

        def counting(p):
            reads.append(p)
            return real(p)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        yield pd.DataFrame({"zipimporters": [len(importers)], "reads": [len(reads)]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(kernel, "zipimporters long, reads long").collect()
    assert row["zipimporters"] >= 1
    assert row["reads"] == 0
