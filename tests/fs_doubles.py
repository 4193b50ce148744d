"""StoreFS test doubles that decode and compaction tasks can unpickle.

A decode or a recode ships the ``StoreFS`` the driver resolved for each
block file into its Python tasks, so a registered filesystem's class must
be importable in the workers.  The workers start in the driver's working
directory (the repo root), so they import this module as
``tests.fs_doubles``; a class defined in a test module itself would not
import there.
"""
import os

from parquet_python_spark.operators import fs as fs_mod


class ObjectStoreFS(fs_mod.LocalFS):
    """LocalFS with object-store PUT semantics: put_atomic writes the
    object directly (one PUT), never via a temp-file rename."""

    def put_atomic(self, path, data):
        p = fs_mod._strip_uri(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)


class OpenLogFS(fs_mod.LocalFS):
    """LocalFS that appends ``<pid> <path>`` to the file ``log`` on every
    ``open``, from whichever process opens: the driver or a worker."""

    def __init__(self, log: str):
        self.log = log

    def open(self, path):
        with open(self.log, "a") as f:
            f.write(f"{os.getpid()} {fs_mod._strip_uri(path)}\n")
        return super().open(path)

    def opens(self) -> list[tuple[int, str]]:
        """(pid, path) of every open so far, in order."""
        if not os.path.exists(self.log):
            return []
        with open(self.log) as f:
            return [(int(pid), p) for pid, p in
                    (line.rstrip("\n").split(" ", 1) for line in f)]
