"""The engine's Spark Python daemon (``docinsight_spark.pyworker``): a
zipimport cache that re-reads an archive only when it changed, and the
session wiring that makes every Python worker fork from it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from docinsight_spark import pyworker


def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyworker_probe_a.py", "X = 1\n")
    monkeypatch.setattr(zipimport, "_read_directory", pyworker.read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pyworker_probe_a", "pyworker_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_probe_a").X == 1

    real_read = zipimport._read_directory
    reads: list[str] = []

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0

    before = os.stat(archive)
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyworker_probe_a.py", "X = 1\n")
        z.writestr("pyworker_probe_b.py", "Y = 2\n")
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000))
    after = os.stat(archive)
    assert after.st_mtime_ns != before.st_mtime_ns and after.st_size != before.st_size
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("pyworker_probe_b").Y == 2


def test_python_workers_fork_from_the_engine_daemon(spark):
    """Workers run under the patched class and find the package through
    the PYTHONPATH the session hands them, whatever the working dir."""
    from docinsight_spark.session import _PACKAGE_ROOT

    def probe(_):
        import os
        import zipimport

        return (
            zipimport.zipimporter.invalidate_caches.__module__,
            os.environ["PYTHONPATH"].split(os.pathsep),
        )

    [(patched_by, path)] = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert patched_by == "docinsight_spark.pyworker"
    assert _PACKAGE_ROOT in path
