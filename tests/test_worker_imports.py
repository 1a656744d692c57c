"""``neontology_spark.worker_imports``: zip importers re-read their archive
on ``importlib.invalidate_caches()`` only when its stat stamp moved, and
the replacement is installed in Spark Python workers only."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from neontology_spark import worker_imports


def _write_zip(archive, modules):
    # in place, so the rewrite keeps the inode: size and mtime must tell
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """An archive holding ``wi_mod_a`` on ``sys.path``, imported once, with
    the stamped invalidation installed in this process."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wi_mod_a": "A = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_imports._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("wi_mod_a")
    yield archive
    for name in ("wi_mod_a", "wi_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_rewritten_archive_is_reread(zip_on_path):
    importlib.invalidate_caches()  # stamps the importer
    _write_zip(zip_on_path, {"wi_mod_a": "A = 1\n", "wi_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("wi_mod_b").B == 2


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    importer = sys.path_importer_cache[zip_on_path]
    importlib.invalidate_caches()  # stamps the importer
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0
    worker_imports._stdlib_invalidate(importer)  # the spy sees a real read
    assert reads.count(zip_on_path) == 1


def test_missing_archive_counts_as_changed(zip_on_path):
    importer = sys.path_importer_cache[zip_on_path]
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates lazily")
def test_installed_in_workers_not_driver(spark):
    import neontology_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is worker_imports._stdlib_invalidate
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

    def report(batches):
        import os
        import zipimport

        import pyarrow as pa

        from neontology_spark import worker_imports as wi

        for _ in batches:
            pass
        installed = zipimport.zipimporter.invalidate_caches is wi._invalidate_if_changed
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "installed": installed}])

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(report, "pid long, installed boolean")
        .collect()
    )
    assert len(rows) == 4 and all(r["installed"] for r in rows)
