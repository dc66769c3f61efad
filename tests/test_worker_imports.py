"""The extraction stage's per-worker import fix: before Python 3.12,
``importlib.invalidate_caches()`` (called by a reused PySpark worker before
every task) re-reads the directory of every zip on ``sys.path``; the
stat-keyed ``zipimporter.invalidate_caches`` must re-read an archive only
when it changed, and still pick up a rewritten archive.  The generator
installs it inside a Spark task only, never on the driver; under
``build_session`` the package's daemon installs it in every worker.  The
tests that take the ``spark`` fixture start a JVM; the others do not."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from table_extractor_spark.plans import extract
from table_extractor_spark.sources.corpus import fixture_documents


def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _fixture_batch() -> pa.RecordBatch:
    """One fixture document as the kernel stage's input batch."""
    doc_id, spans = fixture_documents()[0]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([doc_id]),
            pa.array([[s["kind"] for s in spans]]),
            pa.array([[s["text"] for s in spans]]),
            pa.array([[s["media_ref"] for s in spans]]),
            pa.array([[s["offset"] for s in spans]], pa.list_(pa.int32())),
        ],
        ["doc_id", "__k", "__t", "__r", "__o"],
    )


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


def test_driver_side_generator_leaves_zipimport_alone(monkeypatch):
    # put the attribute back afterwards, whatever the generator did to it
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    stock = zipimport.zipimporter.invalidate_caches
    assert not hasattr(stock, "stat_keyed")
    assert list(extract.parse_documents_gen(iter([_fixture_batch()])))
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy since 3.12")
def test_generator_installs_the_patch_inside_a_spark_task(spark):
    from pyspark.sql import functions as F

    from table_extractor_spark.sources.tables import fixture_corpus_df

    def probe(batches):
        for _ in extract.parse_documents_gen(batches):
            pass
        installed = hasattr(zipimport.zipimporter.invalidate_caches, "stat_keyed")
        yield pa.RecordBatch.from_arrays([pa.array([installed])], ["stat_keyed"])

    cols = fixture_corpus_df(spark).select(
        "doc_id",
        *[F.col("spans." + f).alias(a) for f, a in
          (("kind", "__k"), ("text", "__t"), ("media_ref", "__r"), ("offset", "__o"))],
    )
    rows = cols.mapInArrow(probe, "stat_keyed boolean").collect()
    assert rows and all(r.stat_keyed for r in rows)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy since 3.12")
def test_generator_installs_the_patch_when_it_runs_in_a_task(monkeypatch):
    """The kernel stage's own install, without a JVM: the spark-submit path
    relies on it, since there the stock daemon starts every worker."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "stat_keyed")
    monkeypatch.setattr(extract.TaskContext, "get", lambda: object())
    assert list(extract.parse_documents_gen(iter([_fixture_batch()])))
    assert hasattr(zipimport.zipimporter.invalidate_caches, "stat_keyed")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy since 3.12")
def test_build_session_workers_have_the_patch_without_package_code(spark):
    """Under ``build_session`` the package's daemon starts every Python
    worker, so a task that runs no package code (the scan of a frame built
    from a local list, then a stdlib-only probe) already has the patch."""

    def probe(batches):
        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            daemon = f.read().split(b"\0")
        installed = hasattr(zipimport.zipimporter.invalidate_caches, "stat_keyed")
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([installed]),
                pa.array([b"table_extractor_spark.worker_daemon" in daemon]),
            ],
            ["stat_keyed", "our_daemon"],
        )

    rows = (
        spark.createDataFrame([(i,) for i in range(8)], "i int")
        .repartition(4)
        .mapInArrow(probe, "stat_keyed boolean, our_daemon boolean")
        .collect()
    )
    assert rows and all(r.stat_keyed and r.our_daemon for r in rows)


def test_recommended_confs_keep_the_stock_daemon():
    """spark-submit starts the daemon before ``--py-files`` are on its
    path, so the confs it is given must not name the package's daemon."""
    from table_extractor_spark.session import recommended_confs

    for confs in (recommended_confs(), recommended_confs(8)):
        assert "spark.python.daemon.module" not in confs


def test_daemon_only_where_local_workers_find_the_package(tmp_path, monkeypatch):
    from table_extractor_spark import session

    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/x", session._PACKAGE_ROOT]))
    assert session._workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(session._PACKAGE_ROOT)
    assert session._workers_import_package()
