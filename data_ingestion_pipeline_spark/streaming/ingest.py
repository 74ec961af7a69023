"""Streaming ingestion: file source → normalize → foreachBatch MERGE.

The north-star composition (SURVEY.md §7 M4): the batch ingestion pipeline's
normalize + MERGE become the per-micro-batch function of a Structured
Streaming job. ``foreachBatch`` is the escape hatch that lets an
append-oriented streaming writer drive an upsert sink (SURVEY.md §4.3).

The table commit is not tied to the epoch: a crash after an epoch's table
commit and before its checkpoint offset commit replays that epoch on
restart. The upsert (``stream_orders_csv``) is idempotent — a last-wins
MERGE of the same batch gives the same table — so its replays converge.
The additive fold (``merge_additive_aggregates``) is not: a replayed epoch
is summed again (a probe folded ``(u1,3),(u2,6)`` into ``(u1,4),(u2,8)``
after one replay), and stays so until commits carry a writer/epoch token
the table can skip.

At scale the file source is a drop-in for Kafka/queue sources — the
transformation graph is identical; only ``readStream.format(...)`` changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from data_ingestion_pipeline_spark import schemas
from data_ingestion_pipeline_spark.functions.normalize import normalize_orders
from data_ingestion_pipeline_spark.plans.merge import merge_upsert
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.csv_reader import csv_source

__all__ = [
    "stream_orders_csv",
    "run_stream_to_completion",
    "merge_additive_aggregates",
]


def stream_orders_csv(
    spark: SparkSession,
    input_dir: str,
    table: ManagedTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Ingest order CSVs dropped into ``input_dir``.

    Each micro-batch runs the same deterministic MERGE as the batch pipeline
    (dedup last-wins → anti-join → atomic version swap), and the source
    drops malformed lines by the batch reader's rule
    (``sources.csv_reader.csv_source``), so the stream and
    ``pipeline.ingest_orders`` give the same table for the same files, and
    stream-then-batch and batch-then-stream converge.

    ``available_now=True`` (the test/driver default) drains the files
    present at start and stops; pass ``available_now=False`` for the
    continuous deployment that keeps watching the directory.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = csv_source(reader, input_dir, schemas.ORDERS_CSV_RAW)
    normalized = normalize_orders(raw)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_upsert(
            table,
            batch_df,
            keys=schemas.ORDERS_KEY,
            order_col="date_time",
        )

    writer = normalized.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return (
        writer
        .start()
    )


def run_stream_to_completion(query: StreamingQuery, timeout_s: float = 120.0) -> None:
    """Drain an availableNow query synchronously (test/driver helper)."""
    query.awaitTermination(timeout_s)
    if query.isActive:
        query.stop()


def merge_additive_aggregates(
    table: ManagedTable,
    batch_agg: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> None:
    """Fold a micro-batch's partial aggregates into a persistent summary
    table — incremental materialized-view maintenance. Unlike the
    state-store form (streaming/stateful.py) the running state lives in the
    versioned TABLE: no state store, readable by any batch consumer
    mid-stream, and the merge is a plain keyed aggregation (sum of longs —
    exact, associative, so batch arrival order and partitioning cannot
    change the result). It is NOT replay-safe: an epoch that a restart
    replays after its table commit is added twice (module docstring).

    At scale the union+groupBy shuffles current-summary + batch partials on
    the key — bound it by partitioning the summary on the key so only
    touched partitions rewrite (same lever as plans/merge.py).
    """
    from pyspark.sql import functions as F

    # read-modify-write: commit against the snapshot so a concurrent commit
    # aborts with ConcurrentWriteError instead of this fold silently
    # discarding it — two micro-batch drivers racing here would otherwise
    # undercount with no error
    snap = table.snapshot()
    if snap.df is None:
        table.overwrite(batch_agg, snapshot=snap)
        return
    merged = (
        snap.df.unionByName(batch_agg)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )
    table.overwrite(merged, snapshot=snap)
