"""engine.pydaemon: Python workers re-read a zip archive's directory only
when the archive changed."""

import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

from engine import pydaemon


def _worker_invalidate_caches_file(_):
    import zipimport

    return zipimport.zipimporter.invalidate_caches.__code__.co_filename


def test_workers_run_the_engine_invalidate_caches(spark):
    got = spark.sparkContext.parallelize([0], 1).map(_worker_invalidate_caches_file).collect()
    assert [Path(p).resolve() for p in got] == [Path(pydaemon.__file__).resolve()]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_is_reread_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pydaemon_zmod_a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("pydaemon_zmod_a").X == 1
        importlib.invalidate_caches()  # first sight of the archive: one read
        before = reads.count(str(archive))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == before

        _write_zip(archive, {"pydaemon_zmod_a": "X = 1\n", "pydaemon_zmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == before + 1
        assert importlib.import_module("pydaemon_zmod_b").Y == 2
    finally:
        for name in ("pydaemon_zmod_a", "pydaemon_zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
