"""MERGE upsert — the reference's most distinctive operator, made set-based.

The reference upserts row-at-a-time: build a dict of existing keys (one SQL
disjunct per incoming row, ``flows/data_ingestion.py:41-48``), then loop —
UPDATE if the key exists, INSERT otherwise (``:99-154``, ``:157-216``). Its
duplicate handling is an artifact of dict construction order and is not
idempotent (SURVEY.md §2.6).

This plan implements the *intent* — upsert-by-key, last-writer-wins — with
deterministic, distributed semantics:

1. **Dedup the batch** to one row per key: ``row_number() OVER (PARTITION BY
   keys ORDER BY order_col DESC)`` = 1. Last-wins is defined by the ordering
   column (the reference's duplicates differ only in their timestamp).
2. **Split** against the store with a single anti-join (kept stored rows) —
   the reference's per-row membership test (F5/J3/J4) collapses into one
   set-based join that Catalyst executes as broadcast/shuffled hash. The
   stored side is ``ManagedTable.snapshot()``, pending equality deletes
   folded.
3. **Rewrite**: ``stored ▷ batch  ∪  batch_deduped`` committed with
   ``ManagedTable.overwrite(merged, snapshot=snap)``: write-new-then-swap,
   aborting with ``ConcurrentWriteError`` if another commit landed since
   the snapshot.

Deviation from the reference, documented per SURVEY.md §2.6: duplicate keys
within a first-run batch are collapsed (the reference inserts them all and
later orphans the extras). Idempotent: merging the same batch twice equals
merging it once (tested in tests/test_merge.py).

Scale: the batch dedup shuffles only the batch (micro-batch sized); the
anti-join shuffles store+batch on the key. Files: the kept stored rows are
coalesced (no shuffle) to ``ManagedTable.target_file_count`` files, one
per 128 MiB of stored parquet, and the batch to one file per 128 MiB of its
plan size estimate, so a version holds about ``ceil(stored / 128 MiB) +
ceil(batch / 128 MiB)`` files however many commits built it. Without
the coalesce every commit added a file (2 → 30–42 files over one
``ingest`` benchmark run), and the write and the next read ran one task
per tiny file.

Rows: a commit rewrites every stored row, O(table). Key-bucketed layouts
do not bound that on the benchmark's orders feed (``perfbench``
``OrdersFeed(1)``): a 1,250-row batch touches 64 of 64 hash buckets and
61–62 of 64 order-range buckets, because 20% of its re-sends pick keys
from the whole table. The lever left for O(batch) commits is
merge-on-read: append the batch and record the updated keys as an
equality-delete sidecar (``ManagedTable.equality_delete``). With a
Delta/Iceberg backend the same plan becomes ``MERGE INTO`` with file-level
pruning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.plans.join_strategies import plan_size_estimate
from data_ingestion_pipeline_spark.plans.table import ManagedTable

__all__ = ["dedupe_last_wins", "merge_upsert"]


def dedupe_last_wins(
    batch: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """One row per key: the one with the greatest ``order_col`` (ties broken
    deterministically by the remaining columns via a stable struct compare).

    U1/U2 semantics (reference ``flows/data_ingestion.py:99-154``): within a
    batch, later rows overwrite earlier ones for the same key — here "later"
    is defined by the event-time column instead of file order, which is the
    only distribution-safe definition (file order does not exist after a
    shuffle).
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(),
        # deterministic tiebreak so re-runs pick the same survivor
        F.struct(*[c for c in batch.columns if c not in keys]).desc(),
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    table: ManagedTable,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str,
    evolve_schema: bool = False,
) -> str:
    """Upsert ``batch`` into ``table`` by ``keys`` with last-wins semantics.

    Returns the committed version name. First run bootstraps the table.

    File count: the stored rows are written as
    ``table.target_file_count(base)`` files (one per 128 MiB of stored
    parquet) and the batch as one file per 128 MiB of its plan size
    estimate, so a large batch still writes in parallel. The new version
    holds about ``ceil(stored / 128 MiB) + ceil(batch / 128 MiB)`` files,
    not one more than its base.

    Pending equality-delete sidecars on the base version are folded in:
    the stored side is ``table.snapshot()``'s rows, and the new version
    carries no sidecars. The commit is checked against that snapshot: a
    concurrent commit raises ``ConcurrentWriteError``.

    ``evolve_schema=True`` composes the reference's two flows in one commit
    (schema sync THEN ingest, ``main.py:9-26``): columns new in the batch
    are added to kept stored rows as typed NULLs, and columns the batch
    lacks are carried as NULLs on its rows — Delta's
    ``mergeSchema``/auto-evolution semantics on the versioned parquet
    table. Off by default: an unexpected column drifting in silently is
    usually a bug, so widening is opt-in per pipeline.
    """
    deduped = dedupe_last_wins(batch, keys, order_col)
    # read-modify-write: commit against the snapshot read here, so a
    # concurrent commit between the read and the swap aborts
    # (ConcurrentWriteError) instead of being silently overwritten — the
    # caller re-reads and retries.
    snap = table.snapshot()
    if snap.df is None:
        return table.overwrite(deduped, snapshot=snap)
    # the batch side of the commit is written as one file per 128 MiB of
    # Catalyst's size estimate (a plan statistic, no job): a large batch
    # still writes in parallel, and the file count does not follow the
    # dedupe's shuffle partitions, which AQE leaves uncoalesced on a cached
    # plan or with AQE off. Capped at the shuffle partitions: a batch with
    # no source statistics estimates as unbounded and keeps its partitions.
    batch_files = min(
        ManagedTable.file_count(plan_size_estimate(deduped)),
        int(deduped.sparkSession.conf.get("spark.sql.shuffle.partitions")),
    )
    # deduped feeds BOTH the anti-join (kept) and the union below; without a
    # pin the commit plan scans + window-dedups the batch source TWICE per
    # merge (tools/stream_bench.py caught numInputRows at exactly 2x the
    # file rows per micro-batch). The batch is micro-batch/ingest sized —
    # bounded — so one lazy localCheckpoint halves the source work (both
    # consumers share the RDD inside the one commit action, so it
    # computes once; lazy skips the extra eager job); blocks are
    # RDD-level and GC-reclaimed after the commit.
    deduped = deduped.localCheckpoint(eager=False)
    # the kept side by its on-disk bytes, not by the base's file count:
    # coalesce (no shuffle) packs it into ~128 MiB files, so the base's
    # files do not carry over one-for-one and a version does not gain a
    # file per commit
    kept = snap.df.join(deduped.select(*keys), list(keys), "left_anti").coalesce(
        table.target_file_count(snap.version)
    )
    merged = kept.unionByName(
        deduped.coalesce(batch_files), allowMissingColumns=evolve_schema
    )
    return table.overwrite(merged, snapshot=snap)
