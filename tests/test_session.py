"""The local session's Python-worker daemon (``sparkgraft.pydaemon``):
a worker re-reads no zip archive on ``importlib.invalidate_caches()``, and
imports ``sparkgraft`` from any working directory."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd

import sparkgraft
from sparkgraft import pydaemon


def test_worker_rereads_no_zip_and_finds_sparkgraft(spark):
    def probe(batches):
        import importlib
        import os
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "path": [os.environ.get("PYTHONPATH", "")]})

    row = (
        spark.range(1)
        .repartition(1)
        .mapInPandas(probe, "reads long, path string")
        .collect()[0]
    )
    assert row.reads == 0
    root = os.path.dirname(os.path.dirname(os.path.abspath(sparkgraft.__file__)))
    assert root in row.path.split(os.pathsep)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")

    def write(value, mtime):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("sg_probe.py", f"VALUE = {value}\n")
        os.utime(archive, (mtime, mtime))

    def load(importer):
        spec = importer.find_spec("sg_probe")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        return module.VALUE

    write(1, 1_000_000)
    importer = zipimport.zipimporter(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))

    pydaemon.invalidate_caches(importer)
    pydaemon.invalidate_caches(importer)
    assert reads == [archive]
    assert load(importer) == 1

    write(22, 2_000_000)
    pydaemon.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert load(importer) == 22
