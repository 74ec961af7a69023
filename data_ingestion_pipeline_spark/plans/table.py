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
The commit stages its files, then, in one critical section under the
table's lock (``plans/commit.py``, which imports no Spark), raises
``ConcurrentWriteError`` if the version or its sidecar listing moved
since the snapshot, or else renames the stage into the next version slot
and swaps the pointer to it; the caller re-reads and retries.
``overwrite(df)`` without a snapshot is a blind replacement: last commit
wins. Nothing becomes visible before its check passes.

Scale notes: version data is written by executors (a normal distributed
``df.write.parquet``); only the pointer flip is a driver-side metadata
operation (O(1), independent of data size). On HDFS/S3 the pointer write
relies on rename-atomicity; production systems use a log/commit protocol
(Delta/Iceberg) — the interface here is deliberately narrow so a Delta
backend could slot in behind it.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_pipeline_spark.plans import commit
from data_ingestion_pipeline_spark.plans.commit import ConcurrentWriteError
from data_ingestion_pipeline_spark.sources.catalog import read_parquet, remember_schema

__all__ = ["ManagedTable", "Snapshot", "ConcurrentWriteError"]

# file size the layout-sizing rewrites (compact, merge) aim for
TARGET_FILE_BYTES = 128 * 1024 * 1024


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

    def current_version(self) -> str | None:
        return commit.current_version(self.root)

    def versions(self) -> list[str]:
        """Retained versions, oldest first (time-travel targets): the
        current one and older ones, never an orphan a dead writer left
        above the pointer."""
        return commit.versions(self.root)

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
        if v not in self.versions():
            raise FileNotFoundError(f"version {v} not retained in {self.root}")
        path = os.path.join(self.root, v)
        df = read_parquet(self.spark, path)
        sidecars = commit.sidecars(self.root, v)
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
        sidecars = commit.sidecars(self.root, v)
        return Snapshot(v, sidecars, self.read(version=v))

    def _committed_snapshot(self) -> Snapshot:
        snap = self.snapshot()
        if snap.df is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return snap

    # -- merge-on-read deletes (Iceberg V2 equality-delete style) -----------

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
        # the sidecar becomes visible only by the commit's rename, so no
        # reader sees a partial sidecar or one whose commit then fails
        with commit.staged(self.root) as stage:
            keys.select(*key_cols).distinct().write.mode("overwrite").parquet(stage)
            commit.commit_sidecar(self.root, stage, v, ",".join(key_cols))
        return v

    def overwrite(self, df: DataFrame, snapshot: Snapshot | None = None) -> str:
        """Commit ``df`` as the new table contents.

        The data lands in a unique hidden staging directory; then, under
        the commit lock, the stage is renamed into the next version slot
        and the pointer moves to it. With the ``snapshot`` that ``df`` was
        derived from, the commit raises ConcurrentWriteError, publishing
        nothing, instead of silently overwriting a concurrent writer's
        changes; without it, it is a blind replacement (last commit wins).
        The commit then removes all but the ``keep_versions`` newest
        versions.

        Once committed, the version's schema (``df.schema``, every field
        nullable as a parquet read reports it) seeds ``read_parquet``'s
        memo, so neither the next ``read()`` nor the next commit's
        ``snapshot()`` runs a schema-inference job."""
        expect = None if snapshot is None else (snapshot.version, snapshot.sidecars)
        with commit.staged(self.root) as stage:
            df.write.mode("overwrite").parquet(stage)
            version = commit.commit_version(self.root, stage, expect, self.keep_versions)
        remember_schema(self.spark, os.path.join(self.root, version), df.schema)
        return version

    def delete_where(self, condition) -> str:
        """Delete matching rows (GDPR/right-to-erasure): commit a new
        version holding only the survivors.

        Parquet files are immutable, so deletion is a projecting rewrite —
        the same move as schema-evolution drops — committed atomically via
        the pointer swap. Prior retained versions still contain the rows
        (time travel is the audit trail); each commit's vacuum bounds how long they
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
