"""Store filesystem abstraction — the interface the blockstore's commit
layer speaks, with NO rename/move anywhere in it.

Reference parity: fastparquet abstracts its filesystem behind
``open_with`` / ``mkdirs`` hooks (writer.py:1192-1197) so any fsspec
filesystem can host a dataset.  This module is the same seam for the
blockstore, designed one step further for object stores: rename is not
in the interface at all, because S3/GCS/ABFS have no atomic (or even
cheap) rename.

The commit protocol has three parts:
- block files under ``blocks/`` are written by Spark through its own
  pluggable Hadoop FileSystem/committer layer (already portable: S3A +
  magic committer, GCS connector, …); the job commit makes each file
  visible whole, and from then on it counts — lineage is derived from
  the block files, so nothing else is committed beside them;
- maintenance writes the replacement files, then re-lists ``blocks/`` as
  a single-writer fence (a file it means to replace already gone means
  another commit rewrote those parts: it removes its own new files and
  fails), then unlinks the dead files;
- ``put_atomic`` writes the small metadata objects
  (``generations.json``, the custom key-value metadata) in one PUT.

This interface covers what the driver does outside a Spark job: listing,
``put_atomic``, file deletes, and the ranged reads with which it rolls
up lineage and plans a decode from the block files' metadata columns.
Decode and compaction tasks read block files through it too: the driver
resolves each file's ``StoreFS`` (``get_fs``) and ships that instance
inside the task, so a ``register_fs`` mapping holds in the workers.  A
registered filesystem must therefore pickle, and its class must be
importable where the Python workers run.

Implementations:
- ``LocalFS`` (default): POSIX; ``put_atomic`` is write-tmp + os.replace
  (atomic on one filesystem).
- ``FsspecFS``: adapter over any fsspec filesystem when the optional
  package is present (s3fs, gcsfs, adlfs); ``put_atomic`` maps to the
  store's native atomic PUT (``pipe_file``).
- Custom: subclass ``StoreFS`` and ``register_fs(prefix, fs)``.

Deletes are idempotent (missing path is success), so a retried
maintenance step may repeat them.
"""

from __future__ import annotations

import os
from urllib.parse import unquote


def _strip_uri(path: str) -> str:
    """file:// URIs (Spark's ``inputFiles`` and ``input_file_name``, which
    percent-encode the path: a space reads ``%20``) -> local paths."""
    if path.startswith("file://"):
        return unquote(path[7:])
    return path


class StoreFS:
    """Commit-protocol filesystem interface.  See module docstring for the
    contract; note the deliberate absence of rename/move."""

    def ls(self, dirpath: str) -> list[str]:
        """Full paths of FILES directly under ``dirpath`` (no recursion,
        no directories).  Missing directory -> empty list."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def open(self, path: str):
        """A seekable binary file object: a reader fetches the byte ranges
        it needs (a parquet footer and the column chunks it selects), not
        the whole object.  The caller closes it."""
        raise NotImplementedError

    def put_atomic(self, path: str, data: bytes) -> None:
        """All-or-nothing create/replace of one small object.  Readers
        never observe a partial write."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Delete one file; missing file is success."""
        raise NotImplementedError


class LocalFS(StoreFS):
    """POSIX implementation (the test substrate).  put_atomic keeps the
    atomic-replace property via a same-directory temp file + os.replace —
    a single-FILE rename, which object-store adapters replace with a
    native PUT (the protocol never renames a directory anywhere)."""

    def ls(self, dirpath: str) -> list[str]:
        d = _strip_uri(dirpath)
        try:
            with os.scandir(d) as it:
                return [e.path for e in it if e.is_file()]
        except FileNotFoundError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(_strip_uri(path))

    def read_bytes(self, path: str) -> bytes:
        with open(_strip_uri(path), "rb") as f:
            return f.read()

    def open(self, path: str):
        return open(_strip_uri(path), "rb")

    def put_atomic(self, path: str, data: bytes) -> None:
        p = _strip_uri(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)

    def delete(self, path: str) -> None:
        try:
            os.remove(_strip_uri(path))
        except FileNotFoundError:
            pass


class FsspecFS(StoreFS):
    """Adapter over an fsspec filesystem instance (s3fs/gcsfs/adlfs/...).
    Import-gated: constructing it raises if fsspec is absent from the
    environment (it is absent from this container — the adapter is the
    production seam, LocalFS the tested one)."""

    def __init__(self, fs=None, protocol: str | None = None, **kw):
        if fs is None:
            import fsspec  # noqa: F401 — optional dependency

            fs = fsspec.filesystem(protocol or "file", **kw)
        self._fs = fs

    def ls(self, dirpath: str) -> list[str]:
        try:
            infos = self._fs.ls(dirpath, detail=True)
        except FileNotFoundError:
            return []
        return [i["name"] for i in infos if i.get("type") == "file"]

    def exists(self, path: str) -> bool:
        return self._fs.exists(path)

    def read_bytes(self, path: str) -> bytes:
        return self._fs.cat_file(path)

    def open(self, path: str):
        return self._fs.open(path, "rb")

    def put_atomic(self, path: str, data: bytes) -> None:
        # object-store PUT is atomic per object; pipe_file is one PUT
        self._fs.pipe_file(path, data)

    def delete(self, path: str) -> None:
        try:
            self._fs.rm_file(path)
        except FileNotFoundError:
            pass


_LOCAL = LocalFS()
_REGISTRY: list[tuple[str, StoreFS]] = []


def register_fs(prefix: str, fs: StoreFS) -> None:
    """Route store paths under ``prefix`` to ``fs`` (longest prefix wins).
    Re-registering a prefix replaces the previous mapping."""
    _REGISTRY[:] = [(p, f) for p, f in _REGISTRY if p != prefix]
    _REGISTRY.append((prefix, fs))
    _REGISTRY.sort(key=lambda t: -len(t[0]))


def unregister_fs(prefix: str) -> None:
    _REGISTRY[:] = [(p, f) for p, f in _REGISTRY if p != prefix]


def get_fs(path: str) -> StoreFS:
    p = _strip_uri(path)
    for prefix, fs in _REGISTRY:
        if p.startswith(prefix):
            return fs
    return _LOCAL
