"""Commit-point backends: compare-and-swap publication of a manifest.

The single-writer guarantee of the store (SURVEY §2.1 W6 analogue —
the reference enforces one writer per bucket by thread ownership,
``crates/sierradb/src/writer_thread_pool.rs:56-186``) rests entirely on
ONE primitive: *publish this manifest under commit number N+1 iff no
one else already has*. Different storage systems offer that primitive
differently, so it lives behind an interface:

- :class:`LinkCAS` — POSIX filesystems. ``os.link`` fails with EEXIST
  when the target name is taken, and unlike ``os.rename`` never
  silently replaces; the payload is fully written + fsynced before the
  link, so the published name is atomic-complete.
- :class:`ConditionalPut` — the object-store shape: S3 conditional
  writes (``If-None-Match: *``), GCS ``ifGenerationMatch=0``, Azure
  ``If-None-Match``. A conditional PUT either creates the full object
  or fails with a precondition error; there is no hard link and rename
  is not atomic-exclusive on these stores, so LinkCAS is NOT portable
  to them. The local emulation stages the full payload and claims the
  name with an exclusive link (whole-object atomicity — see the class
  docstring) so the durability suite can exercise the same code path
  the production swap would use; a real deployment implements
  :meth:`CommitBackend.publish` with the store SDK's conditional put
  (or swaps the whole manifest log for Delta/Iceberg commits, whose
  transaction protocol is this same primitive).

Both backends return ``False`` (not an exception) when the key is
already taken: "lost the race" is an expected outcome the caller turns
into :class:`~sierradb_spark.eventstore.store.ConcurrentWriteError`
and retries from fresh state.
"""

from __future__ import annotations

import os
import secrets
from abc import ABC, abstractmethod


class CommitBackend(ABC):
    """Publish-if-absent for commit manifests."""

    @abstractmethod
    def publish(self, path: str, payload: bytes) -> bool:
        """Atomically create ``path`` with ``payload`` iff it does not
        exist. True = this writer won the commit; False = the name was
        already taken (another writer committed first). The payload must
        never be observable partially written under the final name."""


def fsync_dir(path: str) -> None:
    """fsync a directory so a just-linked/renamed entry survives power
    loss (POSIX: the entry itself is durable only after the containing
    directory is synced)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_file(path: str) -> None:
    """fsync a written file's data before it is renamed into place or
    named by a manifest (Spark's executor writes and pyarrow's writer
    don't fsync)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _stage_and_link(path: str, payload: bytes, suffix: str) -> bool:
    """The one crash-critical publish sequence both backends share:
    write+fsync the full payload to a hidden temp name, then claim the
    final name with an exclusive link (EEXIST = lost the race), fsync
    the directory (the entry is not power-loss durable until then),
    then drop the temp. The final name only ever holds the complete
    payload, and a publish that returned True survives power loss."""
    tmp = (
        f"{os.path.dirname(path)}/."
        f"{os.path.basename(path)}.{suffix}-{secrets.token_hex(4)}"
    )
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
        fsync_dir(os.path.dirname(path))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class LinkCAS(CommitBackend):
    """POSIX: write+fsync a temp file, then ``os.link`` to the final
    name — EEXIST is the loss signal. The default backend."""

    def publish(self, path: str, payload: bytes) -> bool:
        return _stage_and_link(path, payload, "tmp")


class DirOps(ABC):
    """Directory maintenance primitives for table/index layouts
    (list / promote / remove), the second storage seam next to
    :class:`CommitBackend`'s publish-if-absent.

    Spark itself writes data through the cluster filesystem, so the
    WRITE path is already portable; what leaks driver-local assumptions
    is MAINTENANCE — folding many ``batch=<id>`` directories into one,
    sweeping superseded ones (streaming corpus index, subscription
    sinks). Those ops live behind this interface so the same fold code
    runs against a POSIX tree and an object-store namespace:

    - :class:`LocalDirOps` — POSIX: ``os.listdir`` / atomic
      ``os.rename`` / ``shutil.rmtree``.
    - :class:`ObjectStoreDirOps` — the flat-namespace shape: S3/GCS/
      Azure have no directories and NO atomic rename; "promote" is
      per-object copy + source delete, listing is a prefix scan. The
      local emulation restricts itself to exactly those primitives so
      tests prove the fold protocols never depend on rename atomicity.

    Every consumer of this seam must therefore order its steps so that
    a non-atomic promote is safe: the new data is written and made
    visible BEFORE superseded data is removed, and readers must treat
    duplicate rows across old+new as harmless (semi-join membership,
    event-identity dedup). That fold-before-delete discipline is
    documented at each call site.
    """

    @abstractmethod
    def exists(self, path: str) -> bool:
        """True iff the directory exists (has any object under it)."""

    @abstractmethod
    def list_subdirs(self, path: str) -> list[str]:
        """Names of the immediate child directories of ``path``."""

    @abstractmethod
    def promote(self, tmp_dir: str, final_dir: str) -> None:
        """Make a fully-written staging directory visible under its
        final name. Atomic on POSIX (rename); copy-then-delete on
        object stores — callers must not rely on atomicity."""

    @abstractmethod
    def remove(self, path: str) -> None:
        """Recursively remove a directory; missing is not an error."""


class LocalDirOps(DirOps):
    """POSIX directory ops (the default): atomic rename promote."""

    def exists(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_subdirs(self, path: str) -> list[str]:
        try:
            return sorted(
                d
                for d in os.listdir(path)
                if os.path.isdir(os.path.join(path, d))
            )
        except FileNotFoundError:
            return []

    def promote(self, tmp_dir: str, final_dir: str) -> None:
        os.rename(tmp_dir, final_dir)
        fsync_dir(os.path.dirname(final_dir))

    def remove(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


class ObjectStoreDirOps(DirOps):
    """Flat-namespace emulation: only object-store primitives.

    Mirrors S3/GCS/Azure semantics on a local tree so fold protocols
    can be tested against them: there are no directories (``exists`` /
    ``list_subdirs`` are prefix scans over object keys) and no rename —
    ``promote`` copies every object to the destination prefix one at a
    time and then deletes the sources, exactly the visibility order a
    real object store gives (objects appear under the new prefix
    incrementally; a crash mid-promote leaves both prefixes partially
    populated). A production deployment implements these four methods
    with the store SDK's list/copy/delete calls (or the Hadoop
    FileSystem API, which exposes the same shape).
    """

    def _keys(self, path: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                out.append(os.path.join(root, f))
        return sorted(out)

    def exists(self, path: str) -> bool:
        return len(self._keys(path)) > 0 or os.path.isdir(path)

    def list_subdirs(self, path: str) -> list[str]:
        # Prefix listing with '/' delimiter: the distinct first path
        # segment below the prefix, like S3 CommonPrefixes.
        prefix = path.rstrip("/") + "/"
        names = set()
        for key in self._keys(path):
            rel = key[len(prefix):]
            if "/" in rel:
                names.add(rel.split("/", 1)[0])
        # os.walk also surfaces empty dirs; include them for parity with
        # a fresh Spark write of an empty partition (marker objects).
        if os.path.isdir(path):
            for d in os.listdir(path):
                if os.path.isdir(os.path.join(path, d)):
                    names.add(d)
        return sorted(names)

    def promote(self, tmp_dir: str, final_dir: str) -> None:
        import shutil

        src_prefix = tmp_dir.rstrip("/") + "/"
        for key in self._keys(tmp_dir):
            dest = os.path.join(final_dir, key[len(src_prefix):])
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(key, dest)  # one PUT-copy per object
        os.makedirs(final_dir, exist_ok=True)
        self.remove(tmp_dir)  # then delete the source objects

    def remove(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


class ConditionalPut(CommitBackend):
    """Object-store semantics (conditional PUT, If-None-Match: *).

    A real conditional PUT is atomic *whole-object*: the object appears
    fully written or not at all, and the precondition failure is the
    loss signal. The local emulation must honor both halves of that
    contract — an ``O_CREAT|O_EXCL`` + write sequence would not (a crash
    between create and write leaves a partial object under the final
    name, which no real object store can produce, and which would brick
    every subsequent ``_read_state``). So the emulation stages the full
    payload first and claims the name with an exclusive link, the only
    local primitive with both properties. A production deployment
    replaces this class with the store SDK's conditional put (S3
    ``If-None-Match: *``, GCS ``ifGenerationMatch=0``, Azure
    ``If-None-Match``) — or swaps the whole manifest log for
    Delta/Iceberg commits, whose transaction protocol is this same
    primitive."""

    def publish(self, path: str, payload: bytes) -> bool:
        return _stage_and_link(path, payload, "put")
