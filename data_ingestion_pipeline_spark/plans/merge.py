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
   set-based join that Catalyst executes as broadcast/shuffled hash.
3. **Rewrite**: ``stored ▷ batch  ∪  batch_deduped`` committed atomically via
   ManagedTable's write-new-then-swap.

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

Rows: a commit still rewrites every stored row, O(table).
``repartition_keys=True`` (key-bucketed layout, untouched buckets
hard-linked) bounds that only for batches that touch few buckets. Measured
on the benchmark's orders feed (``perfbench`` ``OrdersFeed(1)``): a
1,250-row batch touches 64 of 64 hash buckets and 61–62 of 64 order-range
buckets, because 20% of its re-sends pick keys from the whole table — on
such traffic the keyed path rewrites about the whole table too. With a
Delta/Iceberg backend the same plan becomes ``MERGE INTO`` with file-level
pruning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.plans.join_strategies import plan_size_estimate
from data_ingestion_pipeline_spark.plans.table import ManagedTable

__all__ = ["dedupe_last_wins", "split_updates_inserts", "merge_upsert"]


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


def split_updates_inserts(
    batch: DataFrame, stored: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """J3/J4 — the update/insert split as semi/anti joins (reference does this
    with a per-row dict membership test, ``flows/data_ingestion.py:116-122``)."""
    updates = batch.join(stored.select(*keys), list(keys), "left_semi")
    inserts = batch.join(stored.select(*keys), list(keys), "left_anti")
    return updates, inserts


def merge_upsert(
    table: ManagedTable,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str,
    evolve_schema: bool = False,
    repartition_keys: bool = False,
    n_buckets: int = 64,
    bucket_sql: str | None = None,
) -> str:
    """Upsert ``batch`` into ``table`` by ``keys`` with last-wins semantics.

    Returns the committed version name. First run bootstraps the table.

    File count: the stored rows are written as
    ``table.target_file_count(base)`` files (one per 128 MiB of stored
    parquet) and the batch as one file per 128 MiB of its plan size
    estimate, so a large batch still writes in parallel. The new version
    holds about ``ceil(stored / 128 MiB) + ceil(batch / 128 MiB)`` files,
    not one more than its base; the keyed path holds one file per bucket.

    ``evolve_schema=True`` composes the reference's two flows in one commit
    (schema sync THEN ingest, ``main.py:9-26``): columns new in the batch
    are added to kept stored rows as typed NULLs, and columns the batch
    lacks are carried as NULLs on its rows — Delta's
    ``mergeSchema``/auto-evolution semantics on the versioned parquet
    table. Off by default: an unexpected column drifting in silently is
    usually a bug, so widening is opt-in per pipeline.

    ``repartition_keys=True`` is the scale lever the sustained-streaming
    bench motivates: the table is laid out in ``n_buckets`` key-hash
    partition directories, the stored scan partition-prunes to the buckets
    the batch touches, and untouched buckets are hard-linked into the new
    version instead of rewritten — per-merge cost becomes O(touched
    buckets), which is O(batch) only when a batch touches few buckets; a
    batch whose keys spread over the table (the benchmark's orders feed,
    see the module docstring) touches ~all of them. Falls back to one
    full (re-bucketing) rewrite when the table is not yet in
    the declared layout, and to the plain path when equality-delete
    sidecars are pending or the schema is evolving (deletes are global key
    predicates — folding them per-bucket while hard-linking other buckets
    would fork the fold state; evolution changes untouched rows' schema).

    ``bucket_sql`` overrides the default hash bucketing with a caller
    expression that matches the ingest's key LOCALITY (see
    ManagedTable.default_bucket_sql) — with uniform hash bucketing a large
    random-key batch touches every bucket and the partial path degenerates
    to a full rewrite plus link overhead; with a locality-preserving
    expression a micro-batch touches O(1) buckets at any table size.
    """
    if repartition_keys:
        return _merge_upsert_partial(
            table, batch, keys, order_col, evolve_schema, n_buckets, bucket_sql
        )
    deduped = dedupe_last_wins(batch, keys, order_col)
    # read-modify-write: declare the base version so a concurrent commit
    # between our read and our swap aborts (ConcurrentWriteError) instead
    # of being silently overwritten — the caller re-reads and retries.
    base = table.current_version()
    if base is None:
        return table.overwrite(deduped, expected_base=None)
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
    # capture the sidecar listing read() will fold BEFORE constructing the
    # read: a concurrent equality delete then aborts this merge instead of
    # being silently folded away by a stale snapshot
    sidecars = table.sidecar_listing(base)
    stored = table.read(version=base)
    # the kept side by its on-disk bytes, not by the base's file count:
    # coalesce (no shuffle) packs it into ~128 MiB files, so the base's
    # files do not carry over one-for-one and a version does not gain a
    # file per commit
    kept = stored.join(deduped.select(*keys), list(keys), "left_anti").coalesce(
        table.target_file_count(base)
    )
    merged = kept.unionByName(
        deduped.coalesce(batch_files), allowMissingColumns=evolve_schema
    )
    return table.overwrite(
        merged, expected_base=base, expected_sidecars=sidecars
    )


def _merge_upsert_partial(
    table: ManagedTable,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str,
    evolve_schema: bool,
    n_buckets: int,
    bucket_sql: str | None,
) -> str:
    """The keyed-partial-rewrite merge path (see merge_upsert docstring).

    Same last-wins/idempotency/OCC semantics as the full path — the ONLY
    difference is which bytes move: stored rows in untouched buckets are
    never scanned and never rewritten (their parquet files are hard-linked
    into the new version)."""
    from pyspark.sql import functions as F

    bucket_sql = bucket_sql or table.default_bucket_sql(keys, n_buckets)
    deduped = dedupe_last_wins(batch, keys, order_col)
    base = table.current_version()
    if base is None:
        return table.overwrite_bucketed(
            deduped, list(keys), n_buckets, bucket_sql, expected_base=None
        )
    sidecars = table.sidecar_listing(base)
    spec = table.bucket_spec(base)
    if evolve_schema or sidecars or spec != (list(keys), n_buckets, bucket_sql):
        # one full rewrite: folds pending deletes / applies evolution via
        # the plain path's read(), then (re-)buckets so the NEXT merge is
        # partial. Build the merged relation exactly like merge_upsert.
        deduped_p = deduped.localCheckpoint(eager=False)
        stored = table.read(version=base)
        kept = stored.join(deduped_p.select(*keys), list(keys), "left_anti")
        merged = kept.unionByName(deduped_p, allowMissingColumns=evolve_schema)
        return table.overwrite_bucketed(
            merged,
            list(keys),
            n_buckets,
            bucket_sql,
            expected_base=base,
            expected_sidecars=sidecars,
        )
    # pin: feeds the touched-bucket collect, the anti-join, and the union
    deduped = deduped.localCheckpoint(eager=False)
    # bounded collect: at most n_buckets ids (micro-batches touch far fewer)
    touched = sorted(
        r["__b"]
        for r in deduped.select(F.expr(bucket_sql).alias("__b"))
        .distinct()
        .collect()
    )
    stored_touched = table.read_buckets(base, touched)
    kept = stored_touched.join(deduped.select(*keys), list(keys), "left_anti")
    merged = kept.unionByName(deduped)
    return table.replace_buckets(
        merged,
        touched,
        list(keys),
        n_buckets,
        expected_base=base,
        bucket_sql=bucket_sql,
        expected_sidecars=sidecars,
    )
