"""Filesystem abstraction for index lineage IO (pyarrow.fs).

The builder's manifests, parquet-footer counters, and bucket-local
doc-stats reads are *driver/kernel-side* file operations — on a real
cluster the index lives on a distributed store (S3/HDFS/…), where
``os``/``glob``/``open`` break.  Every such operation goes through this
module: paths may be plain local paths or URIs (``file://``, ``s3://``,
``hdfs://``), resolved via ``pyarrow.fs.FileSystem.from_uri``.  Spark
jobs keep receiving the original URI string (Hadoop resolves it on its
own); only the non-Spark side needs the abstraction.

Atomicity: on local filesystems manifests are written tmp-then-rename
(atomic).  On object stores a single PUT is already atomic, so the
write goes direct — there is no rename on S3 to be half-done.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyarrow import fs as pafs


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, fs-internal path) for a plain path or URI."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _is_local(fs: pafs.FileSystem) -> bool:
    return isinstance(fs, pafs.LocalFileSystem)


def exists(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def makedirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def write_json_atomic(path: str, payload: dict) -> None:
    fs, p = resolve(path)
    data = json.dumps(payload, indent=1, default=str).encode()
    if _is_local(fs):
        tmp = f"{p}.tmp.{os.getpid()}"
        with fs.open_output_stream(tmp) as out:
            out.write(data)
        fs.move(tmp, p)
    else:
        with fs.open_output_stream(p) as out:
            out.write(data)


def create_exclusive_json(path: str, payload: dict) -> bool:
    """Create ``path`` with ``payload`` ONLY if it does not exist.

    Returns False when the file already exists.  On local filesystems
    this is a true atomic create (``O_CREAT|O_EXCL``) — the writer-lease
    primitive.  Object stores have no portable atomic create; there the
    check-then-put is best-effort (S3 offers ``If-None-Match`` puts but
    pyarrow.fs does not expose them), which still catches every
    non-simultaneous second writer — the failure mode the lease exists
    for (two *racing* acquisitions within one round trip remain possible
    on such stores and must be prevented by deployment convention)."""
    fs, p = resolve(path)
    data = json.dumps(payload, indent=1, default=str).encode()
    if _is_local(fs):
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True
    if fs.get_file_info(p).type != pafs.FileType.NotFound:
        return False
    with fs.open_output_stream(p) as out:
        out.write(data)
    return True


def read_json(path: str) -> Any:
    fs, p = resolve(path)
    with fs.open_input_stream(p) as f:
        return json.loads(f.read().decode())


def listdir(path: str) -> list[str]:
    """Base names of entries directly under ``path`` ([] if absent)."""
    fs, p = resolve(path)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return []
    sel = pafs.FileSelector(p, recursive=False, allow_not_found=True)
    return sorted(info.base_name for info in fs.get_file_info(sel))


def glob_parquet(path: str) -> list[str]:
    """All ``*.parquet`` file paths under ``path``, recursive
    (fs-internal paths, usable with the paired filesystem)."""
    fs, p = resolve(path)
    sel = pafs.FileSelector(p, recursive=True, allow_not_found=True)
    return sorted(
        info.path
        for info in fs.get_file_info(sel)
        if info.type == pafs.FileType.File and info.path.endswith(".parquet")
    )


def remove(path: str) -> None:
    fs, p = resolve(path)
    fs.delete_file(p)


def rmtree(path: str) -> None:
    fs, p = resolve(path)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.Directory:
        fs.delete_dir(p)
    elif info.type != pafs.FileType.NotFound:
        fs.delete_file(p)


def is_dir(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type == pafs.FileType.Directory
