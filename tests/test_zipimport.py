"""Stat-checked zipimport invalidation: an unchanged archive is not
re-read by ``importlib.invalidate_caches()``, a changed or missing one is
handled by CPython's own code, and Spark's Python workers get the hook
from importing the package."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from tiger_etl_spark import _zipimport

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from CPython 3.13 on"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, archive) -> list:
    calls = []
    read = zipimport._read_directory

    def counted(path):
        if path == str(archive):
            calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _importer(archive) -> zipimport.zipimporter:
    return sys.path_importer_cache[str(archive)]


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "unchanged.zip"
    _write_zip(archive, {"zi_unchanged_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zi_unchanged_a", raising=False)
    assert importlib.import_module("zi_unchanged_a").X == 1
    importlib.invalidate_caches()  # first call on an importer re-reads
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "rewritten.zip"
    _write_zip(archive, {"zi_rewritten_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zi_rewritten_a", "zi_rewritten_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zi_rewritten_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zi_rewritten_b")

    _write_zip(archive, {"zi_rewritten_a": "X = 1\n", "zi_rewritten_b": "Y = 2\n"})
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert calls == [str(archive)]
    assert importlib.import_module("zi_rewritten_b").Y == 2


def test_missing_archive_drops_the_file_list(tmp_path, monkeypatch):
    archive = tmp_path / "missing.zip"
    _write_zip(archive, {"zi_missing_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zi_missing_a", raising=False)
    importlib.import_module("zi_missing_a")
    importlib.invalidate_caches()
    assert _importer(archive)._files

    archive.unlink()
    importlib.invalidate_caches()
    assert _importer(archive)._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed._stat_checked  # importing the package installed it
    _zipimport.install()
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_install_leaves_lazy_zipimport_untouched(monkeypatch):
    eager = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", eager)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is eager


def test_python_worker_does_not_reread_archives(spark):
    """Inside a reused Python worker, a task's ``invalidate_caches()``
    (what ``setup_spark_files`` calls) re-reads no zip archive once the
    package has been imported there."""

    def probe(batches):
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pandas as pd

        import tiger_etl_spark  # noqa: F401  (what unpickling a UDF does)

        # one archive of our own, so the probe never depends on how the
        # worker's pyspark/py4j were installed
        tmp = tempfile.mkdtemp()
        archive = os.path.join(tmp, "probe.zip")
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("zi_worker_probe.py", "X = 1\n")
        sys.path.insert(0, archive)
        try:
            importlib.import_module("zi_worker_probe")
            importlib.invalidate_caches()
            calls = []
            read = zipimport._read_directory

            def counted(path):
                calls.append(path)
                return read(path)

            zipimport._read_directory = counted
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            importers = sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("zi_worker_probe", None)
            shutil.rmtree(tmp)
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [importers], "rereads": [len(calls)]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "importers long, rereads long")
        .collect()[0]
    )
    assert row.importers >= 1
    assert row.rereads == 0
