"""The engine's Spark Python daemon (``spark.python.daemon.module``).

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Before CPython 3.13 each
``zipimporter`` answers that by re-reading its archive's whole directory:
for ``pyspark.zip`` that is 1,328 entries, once per importer (16 in a
bare worker), 230-340 ms per task on a 4-vCPU host before any engine
code runs.  Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from when it was last read, so a
changed archive is still picked up.  Then the stock ``pyspark.daemon``
runs; the workers it forks inherit the patched class.

It has to be the daemon module: ``pyspark/daemon.py`` ignores
``spark.python.worker.module`` unless the name starts with ``pyspark``.
"""

from __future__ import annotations

import os
import zipimport

_read_directory = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stat when last read


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def read_directory(path):
    # stat before the read: a write racing the read shows up as a change
    _read_at[path] = _stat(path)
    return _read_directory(path)


def invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    key = _stat(self.archive)
    if files is None or key is None or _read_at.get(self.archive) != key:
        _reread(self)
    else:
        self._files = files


def install() -> None:
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # patch from the importable module, not ``__main__``, so the functions
    # carry this module's name; before pyspark's imports, so their
    # archive reads are recorded
    from docinsight_spark import pyworker

    pyworker.install()
    from pyspark.daemon import manager

    manager()
