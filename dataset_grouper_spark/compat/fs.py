"""Minimal filesystem abstraction for executor-side shard IO.

The TFRecord compat sink/source write whole files from executor tasks
(one shard per task) — a pattern Spark's own writers don't cover. Plain
``open()`` only works when every executor shares one POSIX namespace;
this module routes any URI through ``pyarrow.fs`` instead, which
resolves ``file://``, ``s3://``, ``gs://``, ``hdfs://`` (and anything
else Arrow registers) uniformly ON THE EXECUTORS — no JVM gateway
needed from Python workers, which is why the Hadoop FileSystem via
py4j is NOT an option here (py4j exists only on the driver).

Scheme-less paths take a zero-dependency local ``open()`` fast path.
The reference writes through Beam's FileSystems abstraction
(reference: dataset_grouper/tfds_pipelines.py:67-76); this is the
Spark-executor equivalent.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid
from collections.abc import Iterator
from fnmatch import fnmatch
from typing import IO
from urllib.parse import urlparse

_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

# scheme -> explicitly mounted pyarrow FileSystem. Lets tests mount
# pyarrow.fs._MockFileSystem() (or any custom backend) under a scheme
# that FileSystem.from_uri can't resolve, and exercises the lakehouse
# metadata walks against a non-POSIX store without network access.
_REGISTRY: dict[str, object] = {}


def register_filesystem(scheme: str, fs) -> None:
    """Mount ``fs`` (a pyarrow.fs.FileSystem) under ``scheme://``."""
    _REGISTRY[scheme] = fs


def unregister_filesystem(scheme: str) -> None:
    _REGISTRY.pop(scheme, None)


def _split(path: str):
    """Return (pyarrow_fs | None, resolved_path). None fs = use builtin
    ``open`` (scheme-less local path). Only a real ``scheme://`` prefix
    routes to pyarrow: urlparse would call 'run:1/shard.tfrecord' a
    URI with scheme 'run' and crash FileSystem.from_uri on a perfectly
    valid relative local path (colons in path segments are legal)."""
    if not _URI_RE.match(path):
        return None, path
    scheme = path.split("://", 1)[0]
    if scheme in _REGISTRY:
        parsed = urlparse(path)
        return _REGISTRY[scheme], (parsed.netloc + parsed.path).lstrip("/")
    if scheme == "file":
        # fast path: local semantics (incl. real O_EXCL) without a
        # pyarrow round-trip; from_uri would hand back LocalFileSystem.
        return None, urlparse(path).path
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(path)
    return fs, p


def pyarrow_target(path: str):
    """``(filesystem, path)`` for pyarrow readers (``pyarrow.dataset``,
    ``pyarrow.parquet``): the filesystem is None for a local path,
    which pyarrow then opens locally, else the registered or
    URI-resolved backend."""
    return _split(path)


def open_write(path: str) -> IO[bytes]:
    fs, p = _split(path)
    if fs is None:
        return open(p, "wb")
    return fs.open_output_stream(p)


def open_read(path: str) -> IO[bytes]:
    fs, p = _split(path)
    if fs is None:
        return open(p, "rb")
    return fs.open_input_stream(p)


def makedirs(path: str) -> None:
    """Create a directory (and parents); no-op if it exists."""
    fs, p = _split(path)
    if not p:
        return
    if fs is None:
        os.makedirs(p, exist_ok=True)
    else:
        fs.create_dir(p, recursive=True)


def parent_dir(path: str) -> str:
    """Dirname that preserves the URI scheme."""
    parsed = urlparse(path)
    if parsed.scheme == "":
        return os.path.dirname(path)
    head = os.path.dirname(parsed.path)
    return f"{parsed.scheme}://{parsed.netloc}{head}"


# --- lakehouse-metadata primitives (VERDICT r7 task 2) -----------------
#
# Everything below exists so sources/delta.py, sources/iceberg.py,
# sources/hudi.py, sinks/snapshots.py and operators/matview.py can walk
# and mutate table metadata through ONE abstraction that also resolves
# s3:// / gs:// / hdfs:// — at 100 TB the tables live on object stores,
# not a POSIX mount (reference analogue: data_loaders.py:116-122 reads
# any tf.io filesystem). Scheme-less paths keep the zero-dependency
# ``os`` fast path.


def exists(path: str) -> bool:
    fs, p = _split(path)
    if fs is None:
        return os.path.exists(p)
    import pyarrow.fs as pafs

    return fs.get_file_info(p).type != pafs.FileType.NotFound


def is_dir(path: str) -> bool:
    fs, p = _split(path)
    if fs is None:
        return os.path.isdir(p)
    import pyarrow.fs as pafs

    return fs.get_file_info(p).type == pafs.FileType.Directory


def listdir(path: str) -> list[str]:
    """Immediate child names (files and dirs) of a directory.

    Raises FileNotFoundError when the directory doesn't exist, matching
    ``os.listdir`` — callers use that to say "not a table".
    """
    fs, p = _split(path)
    if fs is None:
        return os.listdir(p)
    import pyarrow.fs as pafs

    if fs.get_file_info(p).type != pafs.FileType.Directory:
        raise FileNotFoundError(path)
    infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    return [info.base_name for info in infos]


def open_create(path: str) -> IO[bytes]:
    """EXCLUSIVE create (put-if-absent): raises FileExistsError when the
    path already exists. This is the lakehouse commit primitive — two
    writers racing on the same version must see exactly one winner.

    Local paths get a true atomic O_EXCL. Generic pyarrow backends get
    check-then-create, which an object store without CAS cannot make
    atomic — same caveat every Delta/S3 deployment documents (S3 needs
    a coordinating LogStore); single-writer pipelines are unaffected.
    """
    fs, p = _split(path)
    if fs is None:
        return open(p, "xb")
    import pyarrow.fs as pafs

    if fs.get_file_info(p).type != pafs.FileType.NotFound:
        raise FileExistsError(path)
    return fs.open_output_stream(p)


def open_random(path: str) -> IO[bytes]:
    """SEEKABLE read stream — what parquet footer reads need."""
    fs, p = _split(path)
    if fs is None:
        return open(p, "rb")
    return fs.open_input_file(p)


def file_size(path: str) -> int:
    fs, p = _split(path)
    if fs is None:
        return os.path.getsize(p)
    return fs.get_file_info(p).size


def mtime(path: str) -> float:
    """Last-modified time as epoch seconds (0.0 when the backend does
    not track one — age guards then treat the file as old)."""
    fs, p = _split(path)
    if fs is None:
        return os.path.getmtime(p)
    info = fs.get_file_info(p)
    return info.mtime.timestamp() if info.mtime is not None else 0.0


def read_bytes(path: str) -> bytes:
    with open_read(path) as f:
        return f.read()


def read_text(path: str) -> str:
    return read_bytes(path).decode("utf-8")


def write_bytes(path: str, data: bytes) -> None:
    with open_write(path) as f:
        f.write(data)


def write_text(path: str, text: str) -> None:
    write_bytes(path, text.encode("utf-8"))


def remove(path: str) -> None:
    fs, p = _split(path)
    if fs is None:
        os.remove(p)
    else:
        fs.delete_file(p)


def rmtree(path: str, ignore_errors: bool = True) -> None:
    fs, p = _split(path)
    if fs is None:
        shutil.rmtree(p, ignore_errors=ignore_errors)
        return
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        if not ignore_errors:
            raise


def move(src: str, dst: str) -> None:
    """Rename within one filesystem; stream-copy + delete across two
    (e.g. local Spark staging dir -> object-store table)."""
    sfs, sp = _split(src)
    dfs, dp = _split(dst)
    if sfs is None and dfs is None:
        shutil.move(sp, dp)
        return
    if sfs is not None and dfs is not None and sfs.equals(dfs):
        sfs.move(sp, dp)
        return
    with open_read(src) as r, open_write(dst) as w:
        shutil.copyfileobj(r, w)
    remove(src)


def is_uri(path: str) -> bool:
    return bool(_URI_RE.match(path))


def walk_files(path: str) -> list[str]:
    """Every FILE under ``path`` (recursive), as sorted '/'-separated
    paths RELATIVE to it — the vacuum/orphan-scan primitive."""
    fs, p = _split(path)
    if fs is None:
        out = []
        for root, _dirs, names in os.walk(p):
            for n in names:
                out.append(
                    os.path.relpath(os.path.join(root, n), p).replace(
                        os.sep, "/"
                    )
                )
        return sorted(out)
    import pyarrow.fs as pafs

    infos = fs.get_file_info(pafs.FileSelector(p, recursive=True))
    base = p.rstrip("/") + "/"
    return sorted(
        i.path[len(base):]
        for i in infos
        if i.type == pafs.FileType.File and i.path.startswith(base)
    )


@contextlib.contextmanager
def staging_dir(parent: str, name: str) -> Iterator[str]:
    """A fresh ``<parent>/.<name>-<uuid>.staging`` directory for a
    job's tasks to write into before the driver commits what they
    report; removed on exit, on success and on failure. The driver
    makes it: a task still running after its job failed and the
    directory went cannot recreate it."""
    stage = join(parent, f".{name}-{uuid.uuid4().hex}.staging")
    makedirs(stage)
    try:
        yield stage
    finally:
        rmtree(stage)


def leftover_staging_dirs(parent: str, name: str) -> list[str]:
    """Sorted names of the ``staging_dir(parent, name)`` directories
    still under ``parent``: left by a driver that died before its
    commit."""
    return sorted(n for n in listdir(parent) if fnmatch(n, f".{name}-*.staging"))


def join(base: str, *parts: str) -> str:
    """URI-preserving path join (os.path.join is fine for both local
    paths and scheme URIs on POSIX, but keep one named entry point)."""
    return os.path.join(base, *parts)
