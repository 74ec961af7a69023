"""ManagedTable — a minimal versioned parquet table with atomic swap.

The reference gets transactionality from Postgres (commit/rollback per batch,
``flows/data_ingestion.py:181-185``). Vanilla Spark-on-parquet has no
transactions and no in-place update, so every mutating plan (MERGE, schema
evolution) writes a **new immutable version directory** and then atomically
repoints a tiny ``_LATEST`` pointer file — the same write-new-then-swap idea
Delta Lake's transaction log generalizes (SURVEY.md §4.3). Readers resolve
the pointer once per read, never see partial writes, and concurrent readers
of the old version are undisturbed because old versions are immutable.

Layout, the same for every commit path (overwrite, merge, delete,
compaction)::

    <root>/
      _LATEST            # text file: name of the current version dir
      v00000001/part-*.parquet
      v00000002/part-*.parquet
      v00000002/_deletes/d000001/   # equality-delete sidecar (merge-on-read)

A version's data files sit flat in its directory; merge and compact write
about one file per ``TARGET_FILE_BYTES`` of data.

Commit protocol: every read-modify-write (merge, schema sync, aggregate
fold, ``delete_where``, ``compact``, ``sorted_overwrite``) reads through
``snapshot()`` and commits through ``overwrite(df, snapshot=snap)``. The
snapshot holds the current version, its equality-delete sidecar listing
(taken before the read, which folds the sidecars) and the folded rows.
The commit stages its files, claims the next version slot and, under the
pointer lock, raises ``ConcurrentWriteError`` if the version or its
sidecar listing moved since the snapshot; the caller re-reads and
retries. ``overwrite(df)`` without a snapshot is a blind replacement:
last commit wins, and the pointer never moves backward.

Scale notes: version data is written by executors (a normal distributed
``df.write.parquet``); only the pointer flip is a driver-side metadata
operation (O(1), independent of data size). On HDFS/S3 the pointer write
relies on rename-atomicity; production systems use a log/commit protocol
(Delta/Iceberg) — the interface here is deliberately narrow so a Delta
backend could slot in behind it.
"""

from __future__ import annotations

import errno
import fcntl
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_pipeline_spark.sources.catalog import read_parquet, remember_schema

__all__ = ["ManagedTable", "Snapshot", "ConcurrentWriteError"]

_POINTER = "_LATEST"
_PTR_LOCK = ".ptr_lock"
# file size the layout-sizing rewrites (compact, merge) aim for
TARGET_FILE_BYTES = 128 * 1024 * 1024


class ConcurrentWriteError(RuntimeError):
    """A commit against a snapshot found the table moved since the read.

    Raised only for commits that pass the ``snapshot`` they read
    (read-modify-write: merge, delete, compaction). The caller's recovery
    is Delta's: re-read the new current version, re-derive, re-commit —
    the losing writer's work is discarded, never silently merged over."""


class Snapshot(NamedTuple):
    """What a read-modify-write commit read (``ManagedTable.snapshot``)."""

    version: str | None  # None: the table has no committed version yet
    sidecars: list[str]  # the version's equality-delete sidecars
    df: DataFrame | None  # the version's rows, sidecars folded; None if empty


class ManagedTable:
    def __init__(self, spark: SparkSession, root: str, keep_versions: int = 3) -> None:
        self.spark = spark
        self.root = root
        self.keep_versions = keep_versions
        os.makedirs(root, exist_ok=True)

    # -- pointer management -------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def current_version(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                v = f.read().strip()
            return v or None
        except FileNotFoundError:
            return None

    def _swap_pointer(self, version: str) -> None:
        # POSIX rename is atomic within a filesystem: readers see either the
        # old pointer or the new one, never a torn write.
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="._ptr")
        with os.fdopen(fd, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer_path())

    # -- optimistic concurrency ----------------------------------------------

    def _claim_version(self, stage: str) -> str:
        """Atomically claim the next version SLOT by renaming the staged
        data directory into place. rename() onto an existing non-empty
        directory fails (ENOTEMPTY), so two writers can never both own one
        version name — the loser recomputes from the directory listing and
        retries. This fixes the lost-claim race of deriving the next name
        from the pointer alone: a concurrent writer's claimed-but-not-yet-
        pointed directory is visible here before the pointer moves."""
        while True:
            claimed = [
                int(d[1:])
                for d in os.listdir(self.root)
                if d.startswith("v") and d[1:].isdigit()
            ]
            version = f"v{(max(claimed) if claimed else 0) + 1:08d}"
            try:
                os.rename(stage, os.path.join(self.root, version))
                return version
            except OSError as e:
                # only a claim COLLISION retries; any other errno (missing
                # stage, permissions, IO) must raise, not busy-loop
                if e.errno in (errno.EEXIST, errno.ENOTEMPTY):
                    continue
                raise

    def _ptr_locked(self):
        """Acquire the commit lock (flock on a lockfile); returns the fd.
        The critical section is driver-side metadata only — never a Spark
        job — so contention is milliseconds; 30 s of live contention
        raises. flock is released by the kernel when the holder's fd
        closes — including SIGKILL — so a crashed writer can never wedge
        the table and no mtime-staleness breaking is needed. (The previous
        O_EXCL+unlink design had a TOCTOU: two waiters could both judge a
        lock stale; the second's delayed unlink then removed the first's
        FRESH lock, admitting a third writer — mutual exclusion violated.)

        Because _ptr_unlock unlinks the lockfile, a waiter can acquire
        flock on an inode that is no longer what the lock PATH names (the
        holder unlinked it; a third writer re-created the path). Guard:
        after acquiring, verify path-inode == fd-inode, else retry — the
        standard flock-with-unlink pattern."""
        deadline = time.monotonic() + 30.0
        lock = os.path.join(self.root, _PTR_LOCK)
        while True:
            fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                os.close(fd)
                if time.monotonic() > deadline:
                    raise RuntimeError(
                        f"pointer lock {lock} held past 30s — live contention?"
                    )
                time.sleep(0.01)
                continue
            try:
                if os.stat(lock).st_ino == os.fstat(fd).st_ino:
                    return fd
            except OSError:
                pass  # path unlinked between open and verify
            os.close(fd)
            # the inode-mismatch path must honor the same deadline and
            # back off like the contention path — under churning
            # committers it would otherwise hot-spin past the 30 s
            # contract without ever raising (round-9 review finding)
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"pointer lock {lock} held past 30s — live contention?"
                )
            time.sleep(0.01)

    def _ptr_unlock(self, fd: int) -> None:
        # unlink BEFORE close: the path disappears while we still hold the
        # flock, so no new waiter can open-and-block on an inode that is
        # about to become an orphan (they create a fresh file instead; a
        # waiter already blocked on ours acquires it after close and is
        # bounced by the inode check above). The unlink is best-effort:
        # an externally-removed lockfile must not raise out of the
        # callers' finally blocks (it would mask a pending
        # ConcurrentWriteError) nor leak the flocked fd.
        try:
            os.unlink(os.path.join(self.root, _PTR_LOCK))
        except OSError:
            pass
        finally:
            os.close(fd)

    def _commit_pointer(self, version: str, snapshot: Snapshot | None) -> None:
        """Move the pointer to ``version`` under the commit lock. A commit
        against a ``snapshot`` aborts with ConcurrentWriteError, and
        discards the claimed (never-pointed) version, if the current
        version or its sidecar listing differs from the snapshot's: a
        sidecar that landed after the snapshot would otherwise be folded
        away silently. Blind commits are last-commit-wins, but the pointer
        never moves BACKWARD (claim order and commit order can invert
        across writers — the earlier claim stays on disk as a retained
        HISTORICAL version in claim order, it just never becomes
        current)."""
        try:
            fd = self._ptr_locked()
        except RuntimeError:
            # lock never acquired -> the claimed dir was never pointed at;
            # discard it rather than leak a phantom version
            shutil.rmtree(os.path.join(self.root, version), ignore_errors=True)
            raise
        try:
            cur = self.current_version()
            if snapshot is not None and (
                cur != snapshot.version
                or (cur and self._delete_sidecars(cur) != snapshot.sidecars)
            ):
                shutil.rmtree(
                    os.path.join(self.root, version), ignore_errors=True
                )
                raise ConcurrentWriteError(
                    f"table {self.root} moved from {snapshot.version!r} "
                    f"({len(snapshot.sidecars)} delete sidecars) to {cur!r} "
                    f"since the snapshot was read; re-read and retry"
                )
            if cur is None or int(version[1:]) > int(cur[1:]):
                self._swap_pointer(version)
        finally:
            self._ptr_unlock(fd)

    def versions(self) -> list[str]:
        """Retained version directories, oldest first (time-travel targets)."""
        return sorted(d for d in os.listdir(self.root) if d.startswith("v"))

    # -- read / write -------------------------------------------------------

    def read(self, version: str | None = None) -> DataFrame:
        """Read the current version, or a retained older one (time travel).

        Versions are immutable once the pointer moves past them, so reading
        ``version="v00000001"`` after later commits is a consistent snapshot
        — the poor man's Delta ``VERSION AS OF``, bounded by keep_versions.

        If the version carries equality-delete sidecars
        (``equality_delete``), they are applied merge-on-read as an
        anti-join.

        The version directory and each sidecar are read with their schema
        from ``catalog.read_parquet``'s memo, so no read runs an inference
        job for a version this process committed (``overwrite`` seeds
        it) or for one it has read before.
        """
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        path = os.path.join(self.root, v)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"version {v} not retained in {self.root}")
        df = read_parquet(self.spark, path)
        sidecars = self._delete_sidecars(v)
        if not sidecars:
            return df
        from functools import reduce

        from pyspark.sql import functions as F

        keys = reduce(
            DataFrame.unionByName,
            [read_parquet(self.spark, p) for p in sidecars],
        ).distinct()
        # delete sets are small relative to data (bounded by compaction
        # cadence) — broadcast the anti-join so the read stays shuffle-free
        return df.join(F.broadcast(keys), list(keys.columns), "left_anti")

    def snapshot(self) -> Snapshot:
        """The current version, its sidecar listing and its folded rows:
        the read half of every read-modify-write commit. Pass it back as
        ``overwrite(df, snapshot=snap)``. On an empty table the version
        is None and ``df`` is None; the commit then bootstraps the table
        and conflicts with any concurrent bootstrap."""
        v = self.current_version()
        if v is None:
            return Snapshot(None, [], None)
        # list the sidecars BEFORE read() lists the ones it folds: a
        # sidecar landing between the two shows up as a commit-time
        # mismatch (a spurious but safe abort); the reverse order could
        # fold a listing the commit check then misses (a lost delete)
        sidecars = self._delete_sidecars(v)
        return Snapshot(v, sidecars, self.read(version=v))

    def _committed_snapshot(self) -> Snapshot:
        snap = self.snapshot()
        if snap.df is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return snap

    # -- merge-on-read deletes (Iceberg V2 equality-delete style) -----------

    def _deletes_dir(self, version: str) -> str:
        # underscore prefix: Spark's file-source discovery treats _*/.*
        # paths as hidden, so sidecars never pollute the data scan
        return os.path.join(self.root, version, "_deletes")

    def _delete_sidecars(self, version: str) -> list[str]:
        d = self._deletes_dir(version)
        if not os.path.isdir(d):
            return []
        return sorted(
            os.path.join(d, s) for s in os.listdir(d) if s.startswith("d")
        )

    def equality_delete(self, keys: DataFrame, key_cols: Sequence[str]) -> str:
        """Merge-on-read delete: write an equality-delete SIDECAR against
        the current version — the data files are untouched (asserted by
        mtime in pytest). This is the other half of the delete design
        axis: ``delete_where`` is copy-on-write (pay the rewrite at delete
        time, reads stay pure scans); ``equality_delete`` is merge-on-read
        (O(keys) delete commit, every read pays a broadcast anti-join until
        a rewrite such as ``compact`` folds the sidecars in). Iceberg V2 equality
        deletes / Delta deletion vectors make exactly this trade.

        All sidecars of a version must share one key-column list (pinned by
        a marker file); delete sets accumulate until rewritten, which is
        the read-amplification knob a table service monitors.
        """
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        d = self._deletes_dir(v)
        os.makedirs(d, exist_ok=True)
        marker = os.path.join(d, "_KEYS")
        spec = ",".join(key_cols)
        if os.path.exists(marker):
            with open(marker) as f:
                prior = f.read().strip()
            if prior != spec:
                raise ValueError(
                    f"equality-delete key mismatch: table uses [{prior}], got [{spec}]"
                )
        else:
            with open(marker, "w") as f:
                f.write(spec)
        # write-then-rename: _delete_sidecars lists entries starting with
        # "d", so a reader between directory creation and write completion
        # would otherwise see a footerless partial sidecar — the rename
        # makes the sidecar visible atomically, preserving the module's
        # readers-never-see-partial-writes invariant. The tmp name is
        # unique per writer and the rename CLAIMS the sequence slot
        # (fails on an existing non-empty dir), so concurrent deleters
        # serialize onto distinct sidecar numbers.
        tmp = os.path.join(d, f".sidecar_{uuid.uuid4().hex}.tmp")
        try:
            keys.select(*key_cols).distinct().write.mode("overwrite").parquet(
                tmp
            )
            while True:
                # max+1, never count+1: a rolled-back sidecar leaves a GAP
                # in the sequence, and count+1 would then collide with the
                # same existing name on every retry (unbounded spin)
                existing = [
                    int(os.path.basename(p)[1:])
                    for p in self._delete_sidecars(v)
                ]
                out = os.path.join(
                    d, f"d{(max(existing) if existing else 0) + 1:06d}"
                )
                try:
                    os.rename(tmp, out)
                    break
                except OSError as e:
                    if e.errno in (errno.EEXIST, errno.ENOTEMPTY):
                        continue  # slot claimed concurrently; recompute
                    raise
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # conflict check mirroring _commit_pointer: if the table advanced
        # while the sidecar was being written, it attached to a version no
        # reader resolves anymore — roll it back and make the caller
        # re-read. Verified under the commit lock, so a racing snapshot
        # commit either saw this sidecar in its commit-time listing check
        # (and aborted) or moved the pointer first (and this aborts).
        try:
            fd = self._ptr_locked()
        except RuntimeError:
            # lock never acquired -> the sidecar is already renamed into
            # place but its commit was never verified; detach it before
            # re-raising, else readers see a half-applied delete (mirrors
            # _commit_pointer's lock-failure cleanup)
            shutil.rmtree(out, ignore_errors=True)
            raise
        try:
            if self.current_version() != v:
                shutil.rmtree(out, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table {self.root} advanced past {v!r} while the "
                    f"equality-delete sidecar was written; re-read and retry"
                )
        finally:
            self._ptr_unlock(fd)
        return v

    def overwrite(self, df: DataFrame, snapshot: Snapshot | None = None) -> str:
        """Commit ``df`` as the new table contents.

        Write-stage-claim-swap: data lands in a unique hidden staging
        directory, an atomic rename claims the next version slot (safe
        against concurrent claimers), and the pointer moves under the
        commit lock. With the ``snapshot`` that ``df`` was derived from,
        the commit raises ConcurrentWriteError instead of silently
        overwriting a concurrent writer's changes; without it, it is a
        blind replacement (last commit wins).

        Once committed, the version's schema (``df.schema``, every field
        nullable as a parquet read reports it) seeds ``read_parquet``'s
        memo, so neither the next ``read()`` nor the next commit's
        ``snapshot()`` runs a schema-inference job."""
        stage = os.path.join(self.root, f"._stage_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        version = self._claim_version(stage)
        self._commit_pointer(version, snapshot)
        remember_schema(self.spark, os.path.join(self.root, version), df.schema)
        self._vacuum()
        return version

    def delete_where(self, condition) -> str:
        """Delete matching rows (GDPR/right-to-erasure): commit a new
        version holding only the survivors.

        Parquet files are immutable, so deletion is a projecting rewrite —
        the same move as schema-evolution drops — committed atomically via
        the pointer swap. Prior retained versions still contain the rows
        (time travel is the audit trail); `_vacuum` bounds how long they
        survive, which is exactly the `keep_versions`-sized retention window
        a compliance pipeline tunes. At cluster scale, key-partitioned
        layout turns this into a partial rewrite of only the partitions
        whose min/max overlap the predicate.

        SQL DELETE semantics: only rows where the condition is TRUE are
        removed — a NULL-valued condition (e.g. NULL key) KEEPS the row,
        so ``~condition`` alone would be wrong (NULL negates to NULL and
        the filter would drop the row).
        """
        from pyspark.sql import functions as F

        snap = self._committed_snapshot()
        return self.overwrite(
            snap.df.filter(~F.coalesce(condition, F.lit(False))), snapshot=snap
        )

    def _data_bytes(self, version: str) -> int:
        # every parquet file under the version dir: the data files, plus
        # any pending equality-delete sidecars under _deletes (small next
        # to the data; compact folds them)
        path = os.path.join(self.root, version)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    @staticmethod
    def file_count(n_bytes: int) -> int:
        """Files to write ``n_bytes`` of data in: ``ceil(n_bytes /
        TARGET_FILE_BYTES)``, at least 1."""
        return max(1, -(-n_bytes // TARGET_FILE_BYTES))

    def target_file_count(self, version: str) -> int:
        """How many files a rewrite of ``version``'s data should produce,
        sized from its on-disk parquet bytes — a directory walk, not a
        Spark job. ``compact`` and ``merge_upsert`` both size their output
        with it, which keeps a version at about this many files instead of
        one more file per commit."""
        return self.file_count(self._data_bytes(version))

    def compact(self) -> str:
        """Rewrite the current version into ~``TARGET_FILE_BYTES`` files
        (OPTIMIZE), folding its pending delete sidecars.

        Streaming/incremental ingestion accretes many small files; at 100 TB
        the scan-planning and open() overhead of millions of tiny files
        dominates. Sizing from the actual on-disk bytes of the current
        version, ``coalesce`` (no shuffle) bin-packs partitions down to
        ``target_file_count`` files. The rows are the snapshot's, with the
        equality deletes applied, so the new version carries no sidecars
        and its scan needs no anti-join (the minor-compaction half of a
        table service).
        """
        snap = self._committed_snapshot()
        return self.overwrite(
            snap.df.coalesce(self.target_file_count(snap.version)), snapshot=snap
        )

    def sorted_overwrite(self, sort_cols: Sequence[str], num_files: int) -> str:
        """Rewrite the current version range-clustered on ``sort_cols``
        (Z-order lite).

        ``repartitionByRange`` gives files with DISJOINT value ranges and
        ``sortWithinPartitions`` orders rows inside each, so every parquet
        footer carries tight non-overlapping min/max stats — a pushed-down
        range predicate then skips whole files/row-groups instead of
        scanning them (asserted from the footers in pytest). At cluster
        scale, size num_files from plan stats or a prior version's bytes.
        """
        snap = self._committed_snapshot()
        return self.overwrite(
            snap.df.repartitionByRange(num_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            ),
            snapshot=snap,
        )

    def _vacuum(self) -> None:
        cur = self.current_version()
        versions = sorted(
            d for d in os.listdir(self.root) if d.startswith("v") and d != cur
        )
        for stale in versions[: max(0, len(versions) - (self.keep_versions - 1))]:
            shutil.rmtree(os.path.join(self.root, stale), ignore_errors=True)
        # crashed writers leak staging dirs (written but never claimed) and
        # sidecar tmp dirs (unique-named, so never reused); age-gate both
        # sweeps so an in-flight concurrent write is never hit
        stale_paths = [
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith("._stage_")
        ]
        for v in os.listdir(self.root):
            deletes = os.path.join(self.root, v, "_deletes")
            if v.startswith("v") and os.path.isdir(deletes):
                stale_paths.extend(
                    os.path.join(deletes, s)
                    for s in os.listdir(deletes)
                    if s.startswith(".sidecar_") and s.endswith(".tmp")
                )
        for p in stale_paths:
            try:
                if time.time() - os.path.getmtime(p) > 86400:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
