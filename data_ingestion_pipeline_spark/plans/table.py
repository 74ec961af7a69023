"""ManagedTable — a minimal versioned parquet table with atomic swap.

The reference gets transactionality from Postgres (commit/rollback per batch,
``flows/data_ingestion.py:181-185``). Vanilla Spark-on-parquet has no
transactions and no in-place update, so every mutating plan (MERGE, schema
evolution) writes a **new immutable version directory** and then atomically
repoints a tiny ``_LATEST`` pointer file — the same write-new-then-swap idea
Delta Lake's transaction log generalizes (SURVEY.md §4.3). Readers resolve
the pointer once per read, never see partial writes, and concurrent readers
of the old version are undisturbed because old versions are immutable.

Layout::

    <root>/
      _LATEST            # text file: name of the current version dir
      v00000001/...parquet
      v00000002/...parquet

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

from pyspark.sql import DataFrame, SparkSession

__all__ = ["ManagedTable", "ConcurrentWriteError"]

_POINTER = "_LATEST"
_PTR_LOCK = ".ptr_lock"
# key-bucketed layout (keyed partial rewrites): versions committed through
# overwrite_bucketed/replace_buckets store data under __bucket=K partition
# dirs with a hidden spec file pinning (key columns, bucket count)
_BUCKET_COL = "__bucket"
_BUCKET_SPEC = "_bucket_spec"  # leading _ -> invisible to the data scan
# file size the layout-sizing rewrites (compact, merge) aim for
TARGET_FILE_BYTES = 128 * 1024 * 1024
# sentinel: "caller did not declare a base" (None is a real value — the
# expected base of a bootstrap commit against a not-yet-existing table)
_UNSET = object()


class ConcurrentWriteError(RuntimeError):
    """A conflict-checked commit found the table advanced past its base.

    Raised only for commits that DECLARE the version they read
    (read-modify-write: merge, delete, compaction). The caller's recovery
    is Delta's: re-read the new current version, re-derive, re-commit —
    the losing writer's work is discarded, never silently merged over."""


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

    def exists(self) -> bool:
        return self.current_version() is not None


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

    def _commit_pointer(
        self, version: str, expected_base, expected_sidecars=None
    ) -> None:
        """Move the pointer to ``version`` under the commit lock. If the
        committer declared the base it read (``expected_base`` is not the
        _UNSET sentinel) and the table has advanced, abort with
        ConcurrentWriteError and discard the claimed (never-pointed)
        version. ``expected_sidecars`` additionally pins the base
        version's equality-delete listing as read — a sidecar that landed
        after this commit derived its data (rewrite_deletes' race) aborts
        it instead of being silently folded away. Undeclared commits are
        last-commit-wins, but the pointer never moves BACKWARD (claim
        order and commit order can invert across writers — the earlier
        claim stays on disk as a retained HISTORICAL version in claim
        order, it just never becomes current)."""
        try:
            fd = self._ptr_locked()
        except RuntimeError:
            # lock never acquired -> the claimed dir was never pointed at;
            # discard it rather than leak a phantom version
            shutil.rmtree(os.path.join(self.root, version), ignore_errors=True)
            raise
        try:
            cur = self.current_version()
            conflict = None
            if expected_base is not _UNSET and cur != expected_base:
                conflict = (
                    f"advanced {expected_base!r} -> {cur!r} since this "
                    f"commit's base was read"
                )
            elif (
                expected_sidecars is not None
                and self._delete_sidecars(cur) != expected_sidecars
            ):
                conflict = (
                    f"equality-delete sidecars changed on {cur!r} since "
                    f"this commit's base was read"
                )
            if conflict:
                shutil.rmtree(
                    os.path.join(self.root, version), ignore_errors=True
                )
                raise ConcurrentWriteError(
                    f"table {self.root} {conflict}; re-read and retry"
                )
            if cur is None or int(version[1:]) > int(cur[1:]):
                self._swap_pointer(version)
        finally:
            self._ptr_unlock(fd)

    def versions(self) -> list[str]:
        """Retained version directories, oldest first (time-travel targets)."""
        return sorted(d for d in os.listdir(self.root) if d.startswith("v"))

    # -- read / write -------------------------------------------------------

    def read(
        self, version: str | None = None, apply_deletes: bool = True
    ) -> DataFrame:
        """Read the current version, or a retained older one (time travel).

        Versions are immutable once the pointer moves past them, so reading
        ``version="v00000001"`` after later commits is a consistent snapshot
        — the poor man's Delta ``VERSION AS OF``, bounded by keep_versions.

        If the version carries equality-delete sidecars
        (``equality_delete``), they are applied merge-on-read as an
        anti-join unless ``apply_deletes=False`` (the raw-data-file view a
        compaction job reads).
        """
        v = version or self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        path = os.path.join(self.root, v)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"version {v} not retained in {self.root}")
        df = self.spark.read.parquet(path)
        if _BUCKET_COL in df.columns:
            # key-bucketed layout: the bucket is derivable from the keys
            # (bucket_expr), so it is storage layout, not table schema
            df = df.drop(_BUCKET_COL)
        if not apply_deletes:
            return df
        sidecars = self._delete_sidecars(v)
        if not sidecars:
            return df
        from functools import reduce

        from pyspark.sql import functions as F

        keys = reduce(
            DataFrame.unionByName,
            [self.spark.read.parquet(p) for p in sidecars],
        ).distinct()
        # delete sets are small relative to data (bounded by rewrite_deletes
        # cadence) — broadcast the anti-join so the read stays shuffle-free
        return df.join(F.broadcast(keys), list(keys.columns), "left_anti")

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

    def sidecar_listing(self, version: str) -> list[str]:
        """Public capture point for OCC read-modify-write commits: every
        path that FOLDS a version's equality deletes (rewrite_deletes,
        delete_where, compact, merge) must capture this listing BEFORE
        read() and pass it as ``expected_sidecars`` — a sidecar landing
        after the capture then aborts the commit instead of being silently
        folded away."""
        return self._delete_sidecars(version)

    def equality_delete(self, keys: DataFrame, key_cols: Sequence[str]) -> str:
        """Merge-on-read delete: write an equality-delete SIDECAR against
        the current version — the data files are untouched (asserted by
        mtime in pytest). This is the other half of the delete design
        axis: ``delete_where`` is copy-on-write (pay the rewrite at delete
        time, reads stay pure scans); ``equality_delete`` is merge-on-read
        (O(keys) delete commit, every read pays a broadcast anti-join until
        ``rewrite_deletes`` folds the sidecars in). Iceberg V2 equality
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
        # re-read. Verified under the commit lock, so a racing
        # rewrite_deletes either saw this sidecar in its commit-time
        # listing check (and aborted) or moved the pointer first (and this
        # aborts).
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

    def rewrite_deletes(self) -> str:
        """Fold the current version's delete sidecars into the data files
        (the minor-compaction half of a table service): commits a new
        version whose scan needs no anti-join. Merge-on-read == copy-on-
        write parity is oracle-proved by the registered query."""
        base = self.current_version()
        # capture the sidecar listing BEFORE read() lists them for the plan:
        # a sidecar landing between the two shows up as a commit-time
        # mismatch (spurious-but-safe abort); the reverse order could fold
        # a listing the conflict check then fails to notice (lost delete)
        sidecars = self._delete_sidecars(base) if base else []
        return self.overwrite(
            self.read(version=base),
            expected_base=base,
            expected_sidecars=sidecars,
        )

    def overwrite(
        self, df: DataFrame, expected_base=_UNSET, expected_sidecars=None
    ) -> str:
        """Commit ``df`` as the new table contents.

        Write-stage-claim-swap: data lands in a unique hidden staging
        directory, an atomic rename claims the next version slot (safe
        against concurrent claimers), and the pointer moves under the
        commit lock. Pass ``expected_base=<version read>`` (or ``None``
        for a bootstrap) to make this an OPTIMISTIC-CONCURRENCY commit
        that raises ConcurrentWriteError instead of silently overwriting
        a concurrent writer's changes — every read-modify-write path in
        this module (merge, delete_where, rewrite_deletes, compact)
        declares its base; blind full replacements may omit it and get
        last-commit-wins."""
        stage = os.path.join(self.root, f"._stage_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        version = self._claim_version(stage)
        self._commit_pointer(version, expected_base, expected_sidecars)
        self._vacuum()
        return version

    # -- key-bucketed layout: keyed partial rewrites --------------------------
    #
    # The sustained-streaming bench (tools/stream_bench.py, BASELINE.md
    # §streaming) names the one genuine scale cliff of the copy-on-write
    # design: a MERGE rewrites O(table) per micro-batch, so per-batch cost
    # bends upward once the rewrite exceeds the fixed commit floor. The
    # lever is layout: hash the merge keys into a fixed number of __bucket=K
    # partition directories; a merge then (a) partition-PRUNES its stored
    # scan to the buckets the batch touches and (b) commits a new version
    # where untouched bucket dirs are HARD-LINKED from the base snapshot —
    # O(1) metadata per file, no data copy, no scan. Per-batch cost becomes
    # O(touched buckets) ~ O(batch · table/n_buckets), independent of total
    # table size once n_buckets scales with the table. On an object store
    # the hard link becomes a manifest entry (Delta/Iceberg keep exactly
    # this metadata instead of links); the commit protocol is unchanged —
    # staged dir, atomic slot claim, pointer swap under the flock.

    @staticmethod
    def default_bucket_sql(key_cols: Sequence[str], n_buckets: int) -> str:
        """Deterministic bucket id of a row as a SQL expression string:
        pmod(xxhash64(keys), n) — stable across sessions/partitionings,
        pure long arithmetic. A string (not a Column) so the spec file can
        pin it verbatim and later merges can validate layout compatibility.

        Hash bucketing spreads uniform keys over ALL buckets, so a large
        random-key batch touches everything — callers whose ingest has key
        LOCALITY (ascending ids, tenant shards, time-prefixed keys) should
        pass a bucket expression that PRESERVES that locality (e.g.
        ``pmod(cast(substr(order_id, 2) as bigint) div 25000, 64)``) so a
        micro-batch touches O(1) buckets regardless of table size. The only
        correctness requirement: the expression is a deterministic function
        of the merge key columns."""
        return (
            f"cast(pmod(xxhash64({', '.join(key_cols)}), {n_buckets}) as int)"
        )

    def _write_bucket_spec(
        self, stage: str, key_cols: Sequence[str], n_buckets: int, bucket_sql: str
    ) -> None:
        with open(os.path.join(stage, _BUCKET_SPEC), "w") as f:
            f.write(
                ",".join(key_cols) + "\n" + str(n_buckets) + "\n" + bucket_sql + "\n"
            )

    def bucket_spec(self, version: str | None = None):
        """(key_cols, n_buckets, bucket_sql) if ``version`` was committed
        key-bucketed, else None. A full-rewrite path that loses the layout
        (compact, delete_where, plain overwrite) simply yields None here
        and the next keyed merge re-buckets with one full rewrite."""
        v = version or self.current_version()
        if v is None:
            return None
        try:
            with open(os.path.join(self.root, v, _BUCKET_SPEC)) as f:
                keys_line, n_line, expr_line = f.read().splitlines()[:3]
            return keys_line.split(","), int(n_line), expr_line
        except (FileNotFoundError, ValueError):
            return None

    def overwrite_bucketed(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        n_buckets: int,
        bucket_sql: str | None = None,
        expected_base=_UNSET,
        expected_sidecars=None,
    ) -> str:
        """Full rewrite committed in the key-bucketed layout (the bootstrap
        / re-bucketing path of keyed partial rewrites), one file per
        bucket dir."""
        bucket_sql = bucket_sql or self.default_bucket_sql(key_cols, n_buckets)
        stage = self._stage_bucketed(df, bucket_sql)
        self._write_bucket_spec(stage, key_cols, n_buckets, bucket_sql)
        version = self._claim_version(stage)
        self._commit_pointer(version, expected_base, expected_sidecars)
        self._vacuum()
        return version

    def _stage_bucketed(self, df: DataFrame, bucket_sql: str) -> str:
        """Write ``df`` to a fresh staging dir in the __bucket=K layout. One
        shuffle on the bucket id puts every bucket in one task, so each
        bucket dir gets exactly one file however many partitions ``df``
        has — without it, every commit would add a file per bucket."""
        from pyspark.sql import functions as F

        stage = os.path.join(self.root, f"._stage_{uuid.uuid4().hex}")
        (
            df.withColumn(_BUCKET_COL, F.expr(bucket_sql))
            .repartition(_BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(stage)
        )
        return stage

    def read_buckets(
        self, version: str, buckets: Sequence[int], apply_deletes: bool = True
    ) -> DataFrame:
        """Partition-pruned scan of a bucketed version: only the named
        __bucket=K directories are read (Catalyst prunes on the partition
        column — the 100 TB point: a micro-batch merge scans O(touched)
        data, not the table)."""
        from pyspark.sql import functions as F

        path = os.path.join(self.root, version)
        df = (
            self.spark.read.parquet(path)
            .filter(F.col(_BUCKET_COL).isin([int(b) for b in buckets]))
            .drop(_BUCKET_COL)
        )
        if not apply_deletes:
            return df
        sidecars = self._delete_sidecars(version)
        if not sidecars:
            return df
        from functools import reduce

        keys = reduce(
            DataFrame.unionByName,
            [self.spark.read.parquet(p) for p in sidecars],
        ).distinct()
        return df.join(F.broadcast(keys), list(keys.columns), "left_anti")

    def replace_buckets(
        self,
        merged: DataFrame,
        touched: Sequence[int],
        key_cols: Sequence[str],
        n_buckets: int,
        expected_base: str,
        bucket_sql: str | None = None,
        expected_sidecars=None,
    ) -> str:
        """Keyed PARTIAL rewrite: commit a new version in which only the
        ``touched`` buckets' data comes from ``merged``; every untouched
        bucket directory is hard-linked file-by-file from the base
        snapshot, and each touched bucket is rewritten as one file, so a
        bucket holds one file however many commits touched it. Versions
        stay immutable (data files are write-once, so
        shared inodes are never mutated; _vacuum of the base keeps linked
        files alive via the refcount). The caller must have verified
        ``bucket_spec(expected_base) == (key_cols, n_buckets, bucket_sql)``
        and that ``merged`` contains no rows outside ``touched``."""
        bucket_sql = bucket_sql or self.default_bucket_sql(key_cols, n_buckets)
        stage = self._stage_bucketed(merged, bucket_sql)
        base_dir = os.path.join(self.root, expected_base)
        touched_set = {int(b) for b in touched}
        try:
            for entry in os.listdir(base_dir):
                if not entry.startswith(f"{_BUCKET_COL}="):
                    continue
                if int(entry.split("=", 1)[1]) in touched_set:
                    continue
                src = os.path.join(base_dir, entry)
                dst = os.path.join(stage, entry)
                os.makedirs(dst, exist_ok=True)
                for fname in os.listdir(src):
                    if fname.endswith(".parquet"):
                        os.link(
                            os.path.join(src, fname), os.path.join(dst, fname)
                        )
        except FileNotFoundError as e:
            # base vacuumed mid-link -> the table advanced under us; same
            # outcome _commit_pointer would reach, surfaced earlier
            shutil.rmtree(stage, ignore_errors=True)
            raise ConcurrentWriteError(
                f"table {self.root} base {expected_base!r} vacuumed while "
                f"linking untouched buckets; re-read and retry"
            ) from e
        self._write_bucket_spec(stage, key_cols, n_buckets, bucket_sql)
        version = self._claim_version(stage)
        self._commit_pointer(version, expected_base, expected_sidecars)
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

        base = self.current_version()
        sidecars = self._delete_sidecars(base) if base else []
        return self.overwrite(
            self.read(version=base).filter(
                ~F.coalesce(condition, F.lit(False))
            ),
            expected_base=base,
            expected_sidecars=sidecars,
        )

    def _data_bytes(self, version: str) -> int:
        # walk: bucketed versions keep parquet under __bucket=K subdirs
        path = os.path.join(self.root, version)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    @staticmethod
    def file_count(n_bytes: int, target_file_bytes: int = TARGET_FILE_BYTES) -> int:
        """Files to write ``n_bytes`` of data in: ``ceil(n_bytes /
        target_file_bytes)``, at least 1."""
        return max(1, -(-n_bytes // target_file_bytes))

    def target_file_count(
        self, version: str, target_file_bytes: int = TARGET_FILE_BYTES
    ) -> int:
        """How many files a rewrite of ``version``'s data should produce,
        sized from its on-disk parquet bytes — a directory walk, not a
        Spark job. ``compact`` and ``merge_upsert`` both size their output
        with it, which keeps a version at about this many files instead of
        one more file per commit."""
        return self.file_count(self._data_bytes(version), target_file_bytes)

    def compact(self, target_file_bytes: int = TARGET_FILE_BYTES) -> str:
        """Rewrite the current version into ~target-sized files (OPTIMIZE).

        Streaming/incremental ingestion accretes many small files; at 100 TB
        the scan-planning and open() overhead of millions of tiny files
        dominates. Sizing from the actual on-disk bytes of the current
        version, ``coalesce`` (no shuffle) bin-packs partitions down to
        ``target_file_count`` files. Data is unchanged — only layout.

        A KEY-BUCKETED version (keyed partial rewrites) keeps its layout:
        the compaction re-commits through ``overwrite_bucketed`` under the
        same spec (one file per bucket) WITHOUT demoting the next merge to
        a full re-bucketing rewrite. (Folding pending delete sidecars stays
        correct either way — the read applies them before the rewrite.)
        """
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        sidecars = self._delete_sidecars(cur)
        spec = self.bucket_spec(cur)
        if spec is not None:
            key_cols, n_buckets, bucket_sql = spec
            return self.overwrite_bucketed(
                self.read(version=cur),
                key_cols,
                n_buckets,
                bucket_sql,
                expected_base=cur,
                expected_sidecars=sidecars,
            )
        return self.overwrite(
            self.read(version=cur).coalesce(
                self.target_file_count(cur, target_file_bytes)
            ),
            expected_base=cur,
            expected_sidecars=sidecars,
        )

    def sorted_overwrite(
        self, df: DataFrame, sort_cols: Sequence[str], num_files: int
    ) -> str:
        """Commit ``df`` range-clustered on ``sort_cols`` (Z-order lite).

        ``repartitionByRange`` gives files with DISJOINT value ranges and
        ``sortWithinPartitions`` orders rows inside each, so every parquet
        footer carries tight non-overlapping min/max stats — a pushed-down
        range predicate then skips whole files/row-groups instead of
        scanning them (asserted from the footers in pytest). At cluster
        scale, size num_files from plan stats or a prior version's bytes.
        """
        return self.overwrite(
            df.repartitionByRange(num_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
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
