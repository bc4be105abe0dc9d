"""Stamp-checked zip-archive cache invalidation (``zipimport_cache``): an
unchanged archive is not re-read, a rewritten one is, and the patch is in
place on every Python worker but never on the driver."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from dataflow_ordered_processing_spark import zipimport_cache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def worker_patch(monkeypatch):
    """Install the patch as a worker would, and undo it afterwards."""
    from pyspark.core.files import SparkFiles

    cls = zipimport.zipimporter
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, "_stamp_checked", False, raising=False)
    assert zipimport_cache.install()
    assert zipimport_cache.install()  # idempotent
    assert cls.invalidate_caches.__module__ == zipimport_cache.__name__


def test_unchanged_archive_is_not_reread_and_rewrite_is(tmp_path, monkeypatch, worker_patch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_mod_a"])
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zc_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zc_mod_b", raising=False)
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        importlib.invalidate_caches()  # first stamp for this archive: one read
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, ["zc_mod_a", "zc_mod_b"])  # new size and mtime
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_patch_on_every_worker_task_and_never_on_driver(spark):
    from pyspark.core.files import SparkFiles

    n_parts = 2 * spark.sparkContext.defaultParallelism

    def probe(batches):
        # defined here so it is pickled by value and imports the package itself
        import zipimport as zi

        import dataflow_ordered_processing_spark  # noqa: F401
        from pyspark.core.files import SparkFiles as WorkerFiles

        for _ in batches:
            yield pd.DataFrame(
                {
                    "pid": [os.getpid()],
                    "on_worker": [WorkerFiles._is_running_on_worker],
                    "method_module": [zi.zipimporter.invalidate_caches.__module__],
                }
            )

    rows = (
        spark.range(0, n_parts * 4, numPartitions=n_parts)
        .mapInPandas(probe, "pid long, on_worker boolean, method_module string")
        .collect()
    )
    assert len(rows) == n_parts
    assert all(r.on_worker for r in rows)
    assert {r.method_module for r in rows} == {zipimport_cache.__name__}
    assert os.getpid() not in {r.pid for r in rows}

    assert not SparkFiles._is_running_on_worker
    assert not zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
