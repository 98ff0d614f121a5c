"""pincspark.daemon: the worker daemon's zip directory memo. A worker calls
``importlib.invalidate_caches()`` before every task; an unchanged archive
must not be re-read, a rewritten one must be, and the session's workers
must actually run the engine's daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pincspark import daemon


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def memo_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "memo_mods.zip")
    _write_zip(archive, {"memo_pkg/__init__.py": "", "memo_pkg/a.py": "V = 'a'\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(daemon, "_memo", {})
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in [m for m in sys.modules if m == "memo_pkg" or m.startswith("memo_pkg.")]:
        del sys.modules[name]


def test_unchanged_archive_is_not_reread(memo_zip, monkeypatch):
    archive, reads = memo_zip
    assert importlib.import_module("memo_pkg.a").V == "a"
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) >= 2  # the archive root and the memo_pkg directory

    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) >= len(importers)  # stock: every importer re-reads

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {
        "memo_pkg/__init__.py": "",
        "memo_pkg/a.py": "V = 'a'\n",
        "memo_pkg/b.py": "V = 'b'\n",
    })
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read, shared by every importer of the archive
    assert importlib.import_module("memo_pkg.b").V == "b"
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_unreadable_archive_falls_back_to_stock(memo_zip, monkeypatch):
    archive, _ = memo_zip
    importlib.import_module("memo_pkg.a")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    importlib.invalidate_caches()
    assert archive in daemon._memo
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in daemon._memo
    assert archive not in zipimport._zip_directory_cache


def test_session_workers_run_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def invalidate_source(x: pd.Series) -> pd.Series:
        import zipimport

        return x.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    got = {
        r[0] for r in spark.range(4).repartition(2)
        .select(invalidate_source(F.col("id").cast("string"))).collect()
    }
    assert {os.path.realpath(p) for p in got} == {os.path.realpath(daemon.__file__)}
