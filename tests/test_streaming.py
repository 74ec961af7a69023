"""Structured Streaming (streaming/, operators/streaming_checks.py):
foreachBatch MERGE ingestion, streaming dedup, session windows vs the
batch gaps-and-islands formulation, and the stateful-operator checks."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark import registry
from data_ingestion_pipeline_spark.operators.streaming_checks import (
    stateful_event_type_counts_events,
    streaming_chained_window_rollup_events,
    streaming_interval_join_events,
)
from data_ingestion_pipeline_spark.pipeline import ingest_orders
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table
from data_ingestion_pipeline_spark.streaming.ingest import (
    run_stream_to_completion,
    stream_orders_csv,
)
from data_ingestion_pipeline_spark.streaming.joins import purchases_with_recent_views
from data_ingestion_pipeline_spark.streaming.stateful import (
    transform_with_state_available,
)
from data_ingestion_pipeline_spark.streaming.windows import (
    dedup_events_stream,
    session_window_stats,
    sessionize_gaps_and_islands,
)
from tests.conftest import SF_SMOKE
from tests.fixtures import ORDERS_HEADER


def _write_orders_csv(path, rows):
    with open(path, "w") as f:
        f.write(ORDERS_HEADER + "\n")
        for r in rows:
            f.write(r + "\n")


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_stream_ingest_foreachbatch_merge(spark, tmp_path):
    """Two files dropped into the watched dir: second updates the first's
    key (later event time) and inserts a new one — exactly the batch MERGE
    semantics, driven through a real streaming query with checkpointing."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = ManagedTable(spark, str(tmp_path / "orders_tbl"))

    _write_orders_csv(
        inbox / "batch1.csv",
        [
            'o1,p1,SEK,1,0,100.0,direct,direct,"",2023-02-01T10:00:00Z',
            'o2,p2,SEK,2,0,200.0,google,sem,"c1",2023-02-01T11:00Z',
        ],
    )
    q = stream_orders_csv(spark, str(inbox), table, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    got = {(r.order_id, r.product_id): r for r in table.read().collect()}
    assert len(got) == 2
    assert got[("o2", "p2")].campaign == "c1"
    assert got[("o2", "p2")].date_time == dt.datetime(2023, 2, 1, 11, 0)  # minute-precision parsed

    _write_orders_csv(
        inbox / "batch2.csv",
        [
            'o1,p1,SEK,5,0,150.0,bing,sem,"",2023-02-02T09:00:00Z',  # update (later ts)
            'o3,p1,SEK,1,0,300.0,direct,direct,"",2023-02-02T10:00:00Z',  # insert
        ],
    )
    q = stream_orders_csv(spark, str(inbox), table, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    got = {(r.order_id, r.product_id): r for r in table.read().collect()}
    assert len(got) == 3
    assert got[("o1", "p1")].quantity == 5 and got[("o1", "p1")].amount == 150.0

    # replaying the same inbox with a FRESH checkpoint converges (MERGE idempotent)
    shutil.rmtree(tmp_path / "ckpt")
    q = stream_orders_csv(spark, str(inbox), table, str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    assert table.read().count() == 3


def test_stream_and_batch_drop_the_same_malformed_rows(spark, tmp_path):
    """The same two files through ``ingest_orders`` and through the stream:
    the second file re-sends (o1, p1) later with a quantity that does not
    parse. Both paths drop that line, so both tables keep quantity=2."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    rows = [
        'o1,p1,SEK,2,0,100.0,direct,direct,"",2023-02-01T10:00:00Z',
        'o1,p1,SEK,two,0,150.0,direct,direct,"",2023-02-02T10:00:00Z',
    ]
    for i, row in enumerate(rows):
        path = inbox / f"batch{i}.csv"
        _write_orders_csv(path, [row])
        # the file source drains a backlog in modification-time order
        os.utime(path, (1_000_000_000 + i,) * 2)
        ingest_orders(spark, str(path), str(tmp_path / "warehouse"))
    batch_table = ManagedTable(spark, str(tmp_path / "warehouse" / "orders"))

    stream_table = ManagedTable(spark, str(tmp_path / "stream_tbl"))
    q = stream_orders_csv(
        spark, str(inbox), stream_table, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    run_stream_to_completion(q)

    for table in (batch_table, stream_table):
        got = [(r.order_id, r.product_id, r.quantity) for r in table.read().collect()]
        assert got == [("o1", "p1", 2)]


def test_streaming_dedup_drops_replayed_ids(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, 1.0),
        (1, t0 + dt.timedelta(minutes=1), 7, 1.0),  # replay of id 1
        (2, t0 + dt.timedelta(minutes=2), 7, 2.0),
    ]
    src = tmp_path / "events_src"
    _mk_events(spark, rows).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, value double"
    ).parquet(str(src))
    deduped = dedup_events_stream(stream, watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.table("dedup_out").collect()
    assert sorted(r.event_id for r in out) == [1, 2]


def test_session_window_matches_gaps_and_islands(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 7: two sessions (gap 10 min > 5 min threshold)
    for i in range(3):
        rows.append((i, t0 + dt.timedelta(minutes=i), 7, 1.0))
    for i in range(3, 5):
        rows.append((i, t0 + dt.timedelta(minutes=13 + i), 7, 1.0))
    # user 8: one session
    rows.append((10, t0, 8, 2.0))
    events = _mk_events(spark, rows)

    gi = sessionize_gaps_and_islands(events, gap_minutes=5)
    sw = session_window_stats(events, gap="5 minutes")

    gi_sessions = {
        (r.user_id, r.session_start, r.n_events) for r in gi.collect()
    }
    sw_sessions = {
        (r.user_id, r.session_start, r.n_events) for r in sw.collect()
    }
    assert gi_sessions == sw_sessions
    assert len(gi_sessions) == 3


def test_interval_join_batch_stream_parity(spark):
    """The same purchases_with_recent_views plan over batch frames equals
    the drained stream-stream join output (row multiset)."""

    events = load_table(spark, SF_SMOKE, "events")
    batch = purchases_with_recent_views(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "view"),
    )
    streamed = streaming_interval_join_events(spark, SF_SMOKE)
    a = sorted(tuple(r) for r in batch.collect())
    b = sorted(tuple(r) for r in streamed.collect())
    assert a == b and len(a) > 0


def test_chained_window_rollup_seals_complete_days_only(spark):
    got = {
        r.day_start: r
        for r in streaming_chained_window_rollup_events(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("tv"),
        )
        .select(F.col("d.start").alias("s"), F.col("d.end").alias("e"), "n", "tv")
        .collect()
    )
    sealed = {r.s: r for r in batch if r.e <= max_ts - dt.timedelta(hours=2)}
    assert set(got) == set(sealed)
    for day, r in got.items():
        assert r.n_events == sealed[day].n
        assert r.total_value == sealed[day].tv


def test_transform_with_state_gated_on_protobuf(spark):
    """The transformWithStateInPandas check registers only where its
    protobuf runtime dependency exists; in this sandbox the gate must keep
    it OUT of the driver contract (an ERR row is worse than absence). Where
    protobuf IS present the streaming check itself runs."""

    registered = "stateful_event_type_counts_events" in registry.queries()
    assert registered == transform_with_state_available()
    if not transform_with_state_available():
        pytest.skip("python-protobuf absent — transformWithState cannot run here")

    out = stateful_event_type_counts_events(spark, SF_SMOKE)
    direct = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id", "event_type")
        .agg((2 * F.count("*")).cast("bigint").alias("n_events"))
    )
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in direct.collect()}
