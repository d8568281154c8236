"""Zip importers re-read their archive only when it changed
(``flink_1_11_1_spark.worker_imports``).  Pure Python, no Spark."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from flink_1_11_1_spark import worker_imports


def _write_zip(path, version: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/mod_a.py", f"A = {version}\n" + "# pad\n" * version)
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod_b.py", f"B = {version}\n" + "# pad\n" * version)
    # a rewrite must show in the stamp even inside one mtime tick
    os.utime(path, ns=(version * 10**9, version * 10**9))


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """An archive holding a package and a sub-package, imported so that
    the package and the sub-package each get a zipimporter."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    import zpkg.mod_a  # noqa: F401
    import zpkg.sub.mod_b  # noqa: F401

    importers = {
        path: imp for path, imp in sys.path_importer_cache.items()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    }
    pkg = importers[os.path.join(archive, "zpkg")]
    sub = importers[os.path.join(archive, "zpkg", "sub")]
    worker_imports.install()
    importlib.invalidate_caches()  # first call after install reads once

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, pkg, sub, reads
    for name in ("zpkg.sub.mod_b", "zpkg.sub", "zpkg.mod_a", "zpkg"):
        sys.modules.pop(name, None)
    for path in importers:
        sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zpkg):
    archive, pkg, sub, reads = zpkg
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert pkg.get_source("zpkg.mod_a").startswith("A = 1")
    assert sub.get_source("zpkg.sub.mod_b").startswith("B = 1")


def test_rewritten_archive_is_reread_by_every_importer(zpkg):
    archive, pkg, sub, reads = zpkg
    _write_zip(archive, 2)
    importlib.invalidate_caches()
    assert reads == [archive]  # one read, shared through the cache
    assert pkg.get_source("zpkg.mod_a").startswith("A = 2")
    assert sub.get_source("zpkg.sub.mod_b").startswith("B = 2")
    importlib.invalidate_caches()
    assert reads == [archive]


def test_deleted_archive_behaves_like_stock_zipimport(zpkg):
    archive, pkg, sub, reads = zpkg
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert pkg.find_spec("zpkg.mod_a") is None
    assert sub.find_spec("zpkg.sub.mod_b") is None
    _write_zip(archive, 3)
    importlib.invalidate_caches()
    assert pkg.get_source("zpkg.mod_a").startswith("A = 3")
    assert sub.get_source("zpkg.sub.mod_b").startswith("B = 3")
