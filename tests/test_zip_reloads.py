"""Python workers skip re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
on CPython < 3.13 that re-reads every zipimporter's archive directory.
``session.skip_unchanged_zip_reloads`` makes the re-read depend on the
archive's (mtime, size) stamp. These tests pin that it skips an unchanged
archive, still re-reads a changed one, installs only inside a task on an
interpreter that needs it, and is installed in every pooled worker once the
Arrow kernel has run.
"""
from __future__ import annotations

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark import TaskContext

from rag_document_parser_spark import session
from rag_document_parser_spark.operators.extract_arrow import extract_arrow
from rag_document_parser_spark.schema import INPUT_SCHEMA

eager_only = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads the archive")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def in_task(monkeypatch):
    """A fake running task; the class attribute and zipimporter's method
    are restored after the test."""
    monkeypatch.setattr(TaskContext, "_taskContext",
                        object.__new__(TaskContext))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


@pytest.fixture
def archive_reads(monkeypatch, tmp_path):
    """A temp archive with one module, and a list that records each
    `_read_directory` call made on it. Forgets the archive's importer and
    modules afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zr_mod_a": "A = 1\n"})
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    for name in ("zr_mod_a", "zr_mod_b"):
        sys.modules.pop(name, None)


@eager_only
def test_unchanged_archive_is_not_reread(in_task, archive_reads):
    path, reads = archive_reads
    imp = zipimport.zipimporter(path)
    assert len(reads) == 1
    session.skip_unchanged_zip_reloads()
    imp.invalidate_caches()  # first call under the helper: stamps the archive
    assert len(reads) == 2
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert len(reads) == 2
    assert imp.find_spec("zr_mod_a") is not None


@eager_only
def test_rewritten_archive_is_reread_and_new_module_imports(
        in_task, archive_reads, monkeypatch):
    path, reads = archive_reads
    monkeypatch.syspath_prepend(path)
    session.skip_unchanged_zip_reloads()
    importlib.invalidate_caches()
    assert importlib.import_module("zr_mod_a").A == 1
    importlib.invalidate_caches()
    n = len(reads)
    with pytest.raises(ImportError):
        importlib.import_module("zr_mod_b")

    _write_zip(path, {"zr_mod_a": "A = 1\n", "zr_mod_b": "B = 2\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("zr_mod_b").B == 2


def test_installs_nothing_outside_a_task(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert TaskContext.get() is None
    session.skip_unchanged_zip_reloads()
    assert zipimport.zipimporter.invalidate_caches is session._eager_zip_reload


def test_installs_nothing_on_python_3_13(in_task, monkeypatch):
    monkeypatch.setattr(session, "sys",
                        types.SimpleNamespace(version_info=(3, 13, 0)))
    session.skip_unchanged_zip_reloads()
    assert zipimport.zipimporter.invalidate_caches is session._eager_zip_reload


@eager_only
def test_every_pooled_worker_skips_after_the_kernel_ran(spark):
    n = spark.sparkContext.defaultParallelism
    docs = [(f"d{i}", [("text", f"body {i}", None, 0)])
            for i in range(16 * n)]
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)
    assert extract_arrow(df.repartition(4 * n)).count() == len(docs)

    def probe(batches):  # nested, so it pickles by value
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [zipimport.zipimporter.invalidate_caches
                          is session._reload_if_changed],
            "zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                                  for f in sys.path_importer_cache.values())],
        })

    rows = (spark.range(n, numPartitions=n)
            .mapInArrow(probe, "pid long, installed boolean, "
                                "zip_importers long")
            .collect())
    assert len(rows) == n
    assert all(r.zip_importers > 0 for r in rows), rows
    assert all(r.installed for r in rows), rows
