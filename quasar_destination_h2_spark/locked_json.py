"""One JSON state file in the warehouse directory, shared by the
table catalog and the statement-layer registries (sequences, column
metadata, views, schemas, constraints).

Protocol: an advisory ``flock`` on a sibling ``.lock`` file
serializes read-modify-write cycles across engine PROCESSES on one
host; a write goes to a temp file in the same directory, is
``fsync``-ed, and ``os.replace``-d over the state file, so a reader
never sees a half-written file and a power loss never leaves a
zero-length one. On non-POSIX hosts (no ``fcntl``) the lock degrades
to the single-writer contract. Multi-HOST warehouses (NFS, object
stores) need a transactional store; flock does not hold there.

What a corrupt file means is the owner's decision: every registry
raises (silently resetting it would re-dispense sequence values or
lose restore metadata), the table catalog quarantines (its physical
names are re-derivable). So :meth:`LockedJson.read` only reports it.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile

try:  # POSIX advisory locks
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX: single-writer only
    fcntl = None  # type: ignore[assignment]


class LockedJson:
    """``<dir>/<stem>.json`` guarded by ``<dir>/<stem>.lock``."""

    def __init__(self, directory: str, stem: str):
        self.dir = directory
        self.path = os.path.join(directory, stem + ".json")
        self.lock_path = os.path.join(directory, stem + ".lock")
        self._tmp_prefix = stem + "."

    @contextlib.contextmanager
    def locked(self, exclusive: bool = True):
        """Hold the flock (exclusive for writers, shared for readers
        that must not interleave with a writer's read-modify-write)."""
        os.makedirs(self.dir, exist_ok=True)
        with open(self.lock_path, "w") as fh:
            if fcntl is not None:
                fcntl.flock(fh, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
            yield  # closing the handle releases the lock

    def read(self, error: "type[Exception] | None" = None, what: str = "state"):
        """The parsed state; ``{}`` when the file does not exist.

        Undecodable JSON (``ValueError``) and I/O errors propagate as
        they are, or wrapped as ``error(...)`` naming `what` and the
        path when `error` is given."""
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}
        except (ValueError, OSError) as e:
            if error is None:
                raise
            raise error(f"{what} unreadable at {self.path!r}: {e}") from e

    def write(self, state) -> None:
        """Atomically replace the state file (caller holds the
        exclusive lock)."""
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix=self._tmp_prefix)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(state, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.path)
        except BaseException:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise
