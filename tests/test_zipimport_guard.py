"""The stat-guarded zip directory reload (``_zipimport_guard``).

PySpark workers call ``importlib.invalidate_caches()`` before every task;
before CPython 3.13 that re-parses every zip archive on ``sys.path``. The
guard keeps a parsed directory while the archive's stat is unchanged and
reloads as before when it changed, so a rewritten ``--py-files`` zip still
becomes importable.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pyspark
import pytest

from healthcare_data_harmonization_dataflow_spark import _zipimport_guard

OLD_PYTHON = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module zip on sys.path, imported once so a zipimporter for it
    sits in sys.path_importer_cache; its modules leave sys.modules after."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zg_first").VALUE == 1
    yield archive
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths ``zipimport._read_directory`` is called with."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(zip_on_path, directory_reads):
    assert _zipimport_guard.installed() == OLD_PYTHON
    importlib.invalidate_caches()  # the first guarded call may stamp by reading
    del directory_reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 0
    assert importlib.import_module("zg_first").VALUE == 1


def test_rewritten_zip_becomes_importable(zip_on_path, directory_reads):
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zg_second")
    _write_zip(zip_on_path, {"zg_first": "VALUE = 1\n", "zg_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_second").VALUE == 2
    assert directory_reads.count(zip_on_path) >= 1


def test_vanished_zip_drops_its_directory(zip_on_path):
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # must not raise
    assert zip_on_path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module("zg_second")


def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    assert _zipimport_guard.install() == OLD_PYTHON
    assert _zipimport_guard.install() == OLD_PYTHON
    assert zipimport.zipimporter.invalidate_caches is guarded
    if OLD_PYTHON:
        # the guard wraps the interpreter's own reload, not another guard
        assert not getattr(guarded.__wrapped__, "_stat_guarded", False)


def test_engine_udf_worker_has_guard_installed(spark):
    """A Python worker that unpickles engine code has the guard installed,
    and a repeated per-task invalidation re-reads none of its zips."""
    import pandas as pd

    installed = _zipimport_guard.installed  # pickled by reference: the worker imports the package

    def probe(batches):
        import importlib as il
        import zipimport as zi

        reads = []
        read = zi._read_directory
        zi._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            il.invalidate_caches()
            del reads[:]
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        zips = sum(isinstance(f, zi.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "installed": [installed()],
                "pyspark_from_zip": [isinstance(pyspark.__loader__, zi.zipimporter)],
                "zips": [zips],
                "rereads": [len(reads)],
            }
        )

    schema = "installed boolean, pyspark_from_zip boolean, zips long, rereads long"
    rows = spark.range(4, numPartitions=2).mapInPandas(probe, schema).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["installed"] == OLD_PYTHON
        assert r["rereads"] == 0, r
        # a Spark distribution's workers import pyspark from pyspark.zip,
        # which is where the per-task re-reads came from
        assert r["zips"] > 0 or not r["pyspark_from_zip"], r
