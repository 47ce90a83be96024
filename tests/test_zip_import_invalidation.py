"""The stat-checked ``zipimporter.invalidate_caches`` installed by
`s3_manifest_spark.session` (CPython < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; the stdlib method re-reads the central directory of every cached
zip archive once per importer (16 times for pyspark.zip).  The shim
re-reads an archive only when its (mtime, size) stamp changed since its
last read.  The first tests pin those semantics on a throwaway archive
with no SparkSession; the last one counts the reads a reused Spark
Python worker makes between tasks.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from s3_manifest_spark.session import _stat_checked_zip_invalidation

shimmed = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the shim is installed before 3.13 only"
)


def write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Every ``zipimport._read_directory`` call, by archive path."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """An archive holding ``zpkg.sub.mod`` on ``sys.path``; the modules,
    importers and directory it leaves behind are dropped afterwards."""
    archive = tmp_path / "zpkg.zip"
    write_zip(archive, 1)
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in ("zpkg.sub.mod", "zpkg.sub", "zpkg"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


def fresh_value():
    for name in ("zpkg.sub.mod", "zpkg.sub", "zpkg"):
        sys.modules.pop(name, None)
    return importlib.import_module("zpkg.sub.mod").VALUE


@shimmed
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is_once(zpkg, reads):
    assert fresh_value() == 1
    # the archive, zpkg and zpkg/sub each hold an importer of it
    assert sum(str(zpkg) in k for k in sys.path_importer_cache) == 3
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    write_zip(zpkg, "rewritten with a different size")
    importlib.invalidate_caches()
    assert reads == [str(zpkg)]
    assert fresh_value() == "rewritten with a different size"
    importlib.invalidate_caches()
    assert reads == [str(zpkg)]


@shimmed
def test_an_archive_added_after_the_shim_is_read(tmp_path, monkeypatch, reads):
    other = tmp_path / "late.zip"
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("zlate.py", "VALUE = 7\n")
    monkeypatch.syspath_prepend(str(other))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("zlate").VALUE == 7
        assert reads == [str(other)]
    finally:
        sys.modules.pop("zlate", None)
        sys.path_importer_cache.pop(str(other), None)
        zipimport._zip_directory_cache.pop(str(other), None)


@shimmed
def test_a_deleted_archive_drops_its_directory_like_the_stdlib(zpkg, reads):
    assert fresh_value() == 1
    zpkg.unlink()
    importlib.invalidate_caches()
    assert str(zpkg) not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        fresh_value()


def test_installed_once_and_only_before_3_13():
    method = zipimport.zipimporter.invalidate_caches
    assert hasattr(method, "stamps") == (sys.version_info < (3, 13))
    if sys.version_info >= (3, 13):
        assert method.__module__ == "zipimport"
    _stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method


def test_a_reused_python_worker_reads_no_zip_directory_between_tasks(spark):
    def report(batches):
        import os
        import zipimport

        import pandas as pd

        import s3_manifest_spark  # noqa: F401  (installs the shim here)

        for _ in batches:
            pass
        read = zipimport._read_directory
        if hasattr(read, "count"):
            n, read.count[0] = read.count[0], 0
        else:

            def counting(archive):
                counting.count[0] += 1
                return read(archive)

            counting.count = [0]
            zipimport._read_directory = counting
            n = -1  # this worker's first counted task starts now
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [n]})

    reports = []
    for _ in range(16):
        df = spark.range(1, numPartitions=1).mapInPandas(report, "pid long, reads long")
        reports.append(df.collect()[0])
        if sum(r.reads >= 0 for r in reports) >= 3:
            break
    counted = [r.reads for r in reports if r.reads >= 0]
    assert counted, f"no worker ran a second task: {reports}"
    assert counted == [0] * len(counted), reports
