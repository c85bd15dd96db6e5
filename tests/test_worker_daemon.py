"""The engine's Python worker daemon: its zipimport patch and that the
engine's sessions actually fork their workers from it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from kafka_connect_jsonata_spark import worker_daemon

lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport reloads lazily from Python 3.13; the daemon patches nothing",
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def patched(monkeypatch, tmp_path):
    """An archive on sys.path, imported through ``zipimporter``s that use
    the daemon's ``invalidate_caches``; yields the archive path and the
    list of ``_read_directory`` calls made for it."""
    archive = str(tmp_path / "probe.zip")
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in [m for m in sys.modules if m.startswith("_zd_probe")]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]


@lazy_zipimport
def test_unchanged_archive_is_not_reread(patched):
    archive, reads = patched
    _write_zip(archive, {"_zd_probe/__init__.py": "", "_zd_probe/mod.py": "X = 1\n"})
    importlib.import_module("_zd_probe.mod")
    # one importer for the archive root, one for the package directory
    importers = [i for i in sys.path_importer_cache.values()
                 if isinstance(i, zipimport.zipimporter) and i.archive == archive]
    assert len(importers) == 2
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    # read once for the first stamp, shared by both importers, then skipped
    assert reads == [archive]


@lazy_zipimport
def test_rewritten_archive_is_reread(patched):
    archive, reads = patched
    _write_zip(archive, {"_zd_probe_a.py": "X = 1\n"})
    assert importlib.import_module("_zd_probe_a").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("_zd_probe_b")
    _write_zip(archive, {"_zd_probe_a.py": "X = 1\n", "_zd_probe_b.py": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("_zd_probe_b").Y == 2


def test_session_workers_run_engine_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {
        r.m
        for r in spark.range(4).repartition(2).mapInPandas(probe, "m string").collect()
    }
    want = (
        "kafka_connect_jsonata_spark.worker_daemon"
        if sys.version_info < (3, 13)
        else "zipimport"
    )
    assert got == {want}
