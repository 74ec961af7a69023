"""The commit protocol of ``ManagedTable`` (plans/table.py), on plain
directories: no Spark, standard library only.

A commit hands over a staged directory (``staged``) and publishes it in
one critical section under the table's flock lock (``lock``): check the
caller's expectation, rename the stage into the next free slot, and, for
a version, swap the ``_LATEST`` pointer and vacuum. Nothing is renamed
into a slot until its check has passed, and no other writer runs between
the rename and the swap, so nothing is ever published and then rolled
back. Under the lock the slot is the highest taken number plus one, so it
cannot collide, and each new version is the newest. A writer that dies
between its rename and its swap leaves an orphan numbered above the
pointer: ``versions`` never lists it, and the next commit removes it.

    <root>/
      .ptr_lock                    # flock target, never unlinked
      _LATEST                      # name of the current version
      ._stage_<uuid>/              # a write not yet committed
      v00000002/part-*.parquet
      v00000002/_deletes/_KEYS     # the key columns of every sidecar
      v00000002/_deletes/d000001/  # equality-delete sidecar
"""

from __future__ import annotations

import fcntl
import os
import shutil
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

_POINTER = "_LATEST"
_LOCK = ".ptr_lock"
_STAGE = "._stage_"
_LOCK_TIMEOUT_S = 30.0
# a stage older than this belongs to a writer that died before its commit
_STAGE_TTL_S = 86400


class ConcurrentWriteError(RuntimeError):
    """A commit against a snapshot found the table moved since the read.

    Raised only for commits that pass the ``snapshot`` they read
    (read-modify-write: merge, delete, compaction). The caller's recovery
    is Delta's: re-read the new current version, re-derive, re-commit —
    the losing writer's work is discarded, never silently merged over."""


def current_version(root: str) -> str | None:
    try:
        with open(os.path.join(root, _POINTER)) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def _slots(root: str) -> list[str]:
    """Every version directory, oldest first, orphans included."""
    return sorted(d for d in os.listdir(root) if d.startswith("v"))


def versions(root: str) -> list[str]:
    """Retained versions, oldest first: those at or below the pointer. A
    directory numbered above it is an orphan, claimed by a writer that
    died before its pointer swap; no reader was ever pointed at it."""
    cur = current_version(root)
    return [v for v in _slots(root) if cur is not None and v <= cur]


def _deletes_dir(root: str, version: str) -> str:
    # underscore prefix: Spark's file-source discovery treats _*/.* paths
    # as hidden, so sidecars never pollute the data scan
    return os.path.join(root, version, "_deletes")


def sidecars(root: str, version: str) -> list[str]:
    """Paths of ``version``'s equality-delete sidecars, in commit order."""
    d = _deletes_dir(root, version)
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, s) for s in os.listdir(d) if s.startswith("d"))


@contextmanager
def staged(root: str) -> Iterator[str]:
    """A fresh hidden path under ``root`` to write a commit's files into.
    It is removed if the block raises before a commit claimed it; a
    writer that dies leaks it until ``_vacuum`` finds it aged out."""
    path = os.path.join(root, f"{_STAGE}{uuid.uuid4().hex}")
    try:
        yield path
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise


@contextmanager
def lock(root: str) -> Iterator[int]:
    """Hold the table's commit lock; yields the locked fd.

    Every writer flocks the one ``.ptr_lock`` inode, which is never
    unlinked. The kernel drops a flock when its holder's fd closes,
    SIGKILL included, so a dead writer never wedges the table. The
    critical section is metadata only, never a Spark job; 30 s of
    contention raises ``RuntimeError``."""
    path = os.path.join(root, _LOCK)
    fd = os.open(path, os.O_CREAT | os.O_WRONLY)
    try:
        deadline = time.monotonic() + _LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    raise RuntimeError(
                        f"pointer lock {path} held past {_LOCK_TIMEOUT_S:.0f}s"
                        " — live contention?"
                    ) from None
                time.sleep(0.01)
        yield fd
    finally:
        os.close(fd)


def _claim(stage: str, parent: str, prefix: str, width: int) -> str:
    """Rename ``stage`` into ``parent``'s next free ``prefix`` slot. Called
    only under the lock, so the highest taken number plus one is free."""
    taken = [
        int(d[1:]) for d in os.listdir(parent) if d.startswith(prefix) and d[1:].isdigit()
    ]
    name = f"{prefix}{max(taken, default=0) + 1:0{width}d}"
    os.rename(stage, os.path.join(parent, name))
    return name


def _write(path: str, text: str) -> None:
    # POSIX rename is atomic within a filesystem: readers see either the
    # old file or the new one, never a torn or empty write, even if the
    # writer dies. Only the lock holder writes the tmp file, so its name
    # can be fixed.
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _swap_pointer(root: str, version: str) -> None:
    _write(os.path.join(root, _POINTER), version)


def _vacuum(root: str, current: str, keep_versions: int) -> None:
    """Keep ``current`` and the ``keep_versions - 1`` newest others; remove
    stages older than ``_STAGE_TTL_S``. Runs under the lock, after the
    commit removed the orphans, so every version it sees was published."""
    older = [v for v in versions(root) if v != current]
    for stale in older[: max(0, len(older) - (keep_versions - 1))]:
        shutil.rmtree(os.path.join(root, stale), ignore_errors=True)
    for d in os.listdir(root):
        if d.startswith(_STAGE):
            path = os.path.join(root, d)
            try:
                if time.time() - os.path.getmtime(path) > _STAGE_TTL_S:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                pass  # committed or removed by its writer meanwhile


def commit_version(
    root: str,
    stage: str,
    expect: tuple[str | None, list[str]] | None,
    keep_versions: int,
) -> str:
    """Publish ``stage`` as the table's next version and return its name.

    ``expect`` is the (version, sidecar paths) pair a read-modify-write
    read; if the table no longer matches it, raise ``ConcurrentWriteError``
    and publish nothing: a sidecar that landed after the read would
    otherwise be folded away. ``expect=None`` is a blind commit (last
    commit wins)."""
    with lock(root):
        cur = current_version(root)
        if expect is not None and (cur, sidecars(root, cur) if cur else []) != expect:
            raise ConcurrentWriteError(
                f"table {root} moved from {expect[0]!r} ({len(expect[1])} delete "
                f"sidecars) to {cur!r} since the snapshot was read; re-read and retry"
            )
        version = _claim(stage, root, "v", 8)
        # Under the lock, a slot above the pointer other than this one is
        # an orphan. Remove it before the swap, which would put it below
        # the pointer; the claim counted its number, so none is reused.
        for orphan in _slots(root):
            if orphan != version and (cur is None or orphan > cur):
                shutil.rmtree(os.path.join(root, orphan), ignore_errors=True)
        _swap_pointer(root, version)
        _vacuum(root, version, keep_versions)
    return version


def commit_sidecar(root: str, stage: str, version: str, key_spec: str) -> str:
    """Publish ``stage`` as the next equality-delete sidecar of ``version``
    and return its path. Raise ``ConcurrentWriteError`` if ``version`` is no
    longer current (readers no longer resolve it), and ``ValueError`` if
    the version's sidecars use other key columns than ``key_spec``; the
    first sidecar of a version pins its ``_KEYS``."""
    with lock(root):
        if current_version(root) != version:
            raise ConcurrentWriteError(
                f"table {root} advanced past {version!r} while the "
                f"equality-delete sidecar was written; re-read and retry"
            )
        d = _deletes_dir(root, version)
        marker = os.path.join(d, "_KEYS")
        try:
            with open(marker) as f:
                prior = f.read().strip()
        except FileNotFoundError:
            os.makedirs(d, exist_ok=True)
            _write(marker, key_spec)
        else:
            if prior != key_spec:
                raise ValueError(
                    f"equality-delete key mismatch: table uses [{prior}], got [{key_spec}]"
                )
        return os.path.join(d, _claim(stage, d, "d", 6))
