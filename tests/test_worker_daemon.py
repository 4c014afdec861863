"""The engine's Python worker daemon: zip archives on sys.path are
re-read by ``importlib.invalidate_caches()`` only when they changed, and
``addPyFile`` keeps working under the real daemon."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

from projektdataengineering_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value}\n")


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    a, b = f"wd_a_{tag}", f"wd_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {a: 1})
    monkeypatch.syspath_prepend(archive)
    # restored at teardown, undoing install()
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    try:
        assert importlib.import_module(a).VALUE == 1
        worker_daemon.install()
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []  # unchanged archive: not re-read

        _write_zip(archive, {a: 1, b: 2})  # new size
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(b).VALUE == 2

        os.remove(archive)  # stat fails: the stock method runs
        importlib.invalidate_caches()
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        for name in (a, b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._read_at.pop(archive, None)


def test_engine_daemon_keeps_addpyfile_imports(spark, tmp_path):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    name = f"wd_pyfile_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: 41})
    spark.sparkContext.addPyFile(str(archive))

    def probe(it):
        mod = importlib.import_module(name)
        for pdf in it:
            yield pdf.assign(v=pdf["id"] + mod.VALUE)

    out = spark.range(2, numPartitions=2).mapInPandas(probe, "id long, v long")
    assert sorted(map(tuple, out.collect())) == [(0, 41), (1, 42)]
