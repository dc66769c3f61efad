"""The extraction stage's per-worker import fix, without a JVM: before Python
3.12, ``importlib.invalidate_caches()`` (called by a reused PySpark worker
before every task) re-reads the directory of every zip on ``sys.path``;
the stat-keyed ``zipimporter.invalidate_caches`` must re-read an archive only
when it changed, and still pick up a rewritten archive."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from table_extractor_spark.plans import extract


def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path, with four zipimporters over it
    in the path-importer cache, and every ``_read_directory`` call on it
    counted.  Leaves zipimport exactly as it found it."""
    path = str(tmp_path / "mods.zip")
    write_zip(path, ["wz_first"])
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(path)
    for sub in ("", "/a", "/b", "/c"):
        monkeypatch.setitem(
            sys.path_importer_cache, path + sub, zipimport.zipimporter(path + sub)
        )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return real_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, reads
    zipimport._zip_directory_cache.pop(path, None)
    for name in ("wz_first", "wz_second"):
        sys.modules.pop(name, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy since 3.12")
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert len(reads) == 4  # stock behaviour: one re-read per importer

    extract._install_lazy_zip_invalidation()
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1  # first call records the archive's stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("wz_first").NAME == "wz_first"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy since 3.12")
def test_rewritten_archive_is_picked_up(archive):
    path, reads = archive
    extract._install_lazy_zip_invalidation()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("wz_second")

    write_zip(path, ["wz_first", "wz_second"])
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("wz_second").NAME == "wz_second"


def test_install_is_idempotent(archive):
    extract._install_lazy_zip_invalidation()
    installed = zipimport.zipimporter.invalidate_caches
    extract._install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed
    importlib.invalidate_caches()  # no recursion through a double wrap


def test_install_does_nothing_on_python_312(archive, monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    extract._install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stock
