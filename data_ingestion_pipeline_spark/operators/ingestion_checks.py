"""Driver-checkable ingestion operators (SURVEY.md §2.1 S1/S2, §2.2, §2.6).

The CSV scan → normalize and MERGE operators act on *files and table state*,
not on the pre-registered oracle views — so to put them under the DuckDB
oracle, each query here materializes its own deterministic input FROM a
driver table, runs the real operator, and returns a result the oracle can
recompute directly from the source table with ANSI SQL. That makes the
ingestion path hash-checkable instead of rows-only.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.functions.numeric import dec_sum2
from data_ingestion_pipeline_spark.functions.normalize import (
    parse_iso8601,
    rename_columns_snake_case,
)
from data_ingestion_pipeline_spark.operators.scratch import (
    build_once,
    scratch_dir,
    sf_tag,
)
from data_ingestion_pipeline_spark.plans.merge import merge_upsert
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table


# CSV shape for the round-trip: camelCase headers + ISO8601 string timestamps,
# mirroring the reference CSV quirks (mixed second/minute precision,
# SURVEY.md §1.4.2).
_EVENTS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("eventId", T.LongType(), False),
        T.StructField("ts", T.StringType(), True),
        T.StructField("userId", T.LongType(), True),
        T.StructField("eventType", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def csv_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 + P1-P3 end-to-end: export events to a reference-shaped CSV
    (camelCase headers, Z-suffixed ISO8601 with minute-precision rows where
    seconds are zero), then run the schema'd CSV scan + normalizer over it.

    Oracle: the same rows straight from the parquet table with timestamps
    truncated to seconds — if rename/cast/parse are correct, the round trip
    is lossless.
    """
    events = load_table(spark, sf_dir, "events")
    out = scratch_dir(sf_dir, "events_csv")
    formatted = events.select(
        F.col("event_id").alias("eventId"),
        F.when(
            F.second("ts") == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm'Z'")
        )
        .otherwise(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .alias("ts"),
        F.col("user_id").alias("userId"),
        F.col("event_type").alias("eventType"),
        F.col("value").alias("value"),
        F.col("props").alias("props"),
    )
    formatted.write.mode("overwrite").option("header", "true").csv(out)

    raw = (
        spark.read.option("header", "true")
        .option("nullValue", "")
        .schema(_EVENTS_CSV_SCHEMA)
        .csv(out)
    )
    df = rename_columns_snake_case(raw)
    return df.select(
        "event_id",
        parse_iso8601(F.col("ts")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


CSV_INGEST_EVENTS_ORACLE = """
SELECT event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
       user_id, event_type, value, props
FROM events
"""


def csv_ingest_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + P1/P2/P4 end-to-end on the inventory CSV shape (reference
    ``flows/data_ingestion.py:68-77``, ``data/inventory.csv``): export
    ``part`` as a camelCase inventory CSV — every 5th subCategory written
    as the empty string the reference data uses for missing values — then
    run the schema'd scan + normalizer (rename, string-cast id,
    empty→NULL). Oracle recomputes the normalized table from ``part``."""
    from data_ingestion_pipeline_spark.sources.csv_reader import read_inventory_csv

    part = load_table(spark, sf_dir, "part")
    out = scratch_dir(sf_dir, "inventory_csv")
    formatted = part.select(
        F.col("p_partkey").cast("string").alias("productId"),
        F.col("p_name").alias("name"),
        F.col("p_size").cast("long").alias("quantity"),
        F.col("p_brand").alias("category"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit("")).otherwise(
            F.col("p_type")
        ).alias("subCategory"),
    )
    formatted.write.mode("overwrite").option("header", "true").option(
        "emptyValue", '""'
    ).csv(out)
    return read_inventory_csv(spark, out)


CSV_INGEST_INVENTORY_ORACLE = """
SELECT CAST(p_partkey AS VARCHAR) AS product_id,
       p_name AS name,
       CAST(p_size AS BIGINT) AS quantity,
       p_brand AS category,
       CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_type END AS sub_category
FROM part
"""


def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U3 — the full MERGE under the oracle.

    Deterministic scenario built from ``events``:
    - stored  = events with ``event_id % 3 = 0``
    - batch   = events with ``event_id % 2 = 0`` at value×2, UNION the
      ``% 4 = 0`` subset again one hour later at value×3 (an in-batch
      duplicate whose later timestamp must win)
    Merge by event_id, last-wins by ts, committed through ManagedTable's
    atomic swap. The oracle recomputes the expected table with a window +
    anti-join in pure SQL.
    """
    events = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    stored = events.filter(F.col("event_id") % 3 == 0).select(*cols)
    batch = (
        events.filter(F.col("event_id") % 2 == 0)
        .select(
            "event_id", "ts", "user_id", "event_type",
            (F.col("value") * 2).alias("value"),
        )
        .unionByName(
            events.filter(F.col("event_id") % 4 == 0).select(
                "event_id",
                (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
                "user_id",
                "event_type",
                (F.col("value") * 3).alias("value"),
            )
        )
    )

    root = scratch_dir(sf_dir, "merge_demo")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root)
    table.overwrite(stored)
    merge_upsert(table, batch, keys=["event_id"], order_col="ts")
    return table.read()


MERGE_UPSERT_EVENTS_ORACLE = """
WITH stored AS (
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE event_id % 3 = 0
), batch AS (
    SELECT event_id, ts, user_id, event_type, value * 2 AS value
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, ts + INTERVAL 1 HOUR, user_id, event_type, value * 3
    FROM events WHERE event_id % 4 = 0
), dedup AS (
    SELECT event_id, ts, user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
        FROM batch
    ) WHERE rn = 1
)
SELECT event_id, ts, user_id, event_type, value FROM stored
WHERE event_id NOT IN (SELECT event_id FROM dedup)
UNION ALL
SELECT event_id, ts, user_id, event_type, value FROM dedup
"""


def jsonl_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink → schema'd JSONL source round trip on the events table.

    Timestamps are exported at microsecond precision with an explicit
    format (JSONL stringifies them — the reason it's an interchange format,
    not a store); value doubles survive because Spark's JSON writer emits
    shortest-round-trip decimals. Oracle: the source rows, with ts
    truncated identically.
    """
    from data_ingestion_pipeline_spark.sources.jsonl_reader import (
        read_jsonl,
        write_jsonl,
    )

    path = scratch_dir(sf_dir, "events_jsonl")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_jsonl(events, path, timestamp_format=fmt)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    return read_jsonl(spark, path, schema, timestamp_format=fmt)


JSONL_ROUNDTRIP_EVENTS_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


def orc_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC source round trip on the events table — the second
    columnar format (Spark ships the reader/writer natively; same
    predicate-pushdown + column-pruning story as parquet). Binary-faithful
    for every type including timestamps, so the oracle is simply the source
    rows."""
    path = scratch_dir(sf_dir, "events_orc")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    build_once(
        path,
        [os.path.join(sf_dir, "events.parquet")],
        lambda: events.write.mode("overwrite").orc(path),
    )
    return spark.read.schema(events.schema).orc(path)


ORC_ROUNDTRIP_EVENTS_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


def xml_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML source round trip (Spark 4 ships the spark-xml
    datasource natively). Row-oriented text format — the interchange-format
    counterpart to the columnar ORC/parquet paths; schema-on-read with an
    explicit schema, same as the CSV/JSONL ingests. Timestamps round-trip
    through ISO-8601 text under the pinned UTC session."""
    path = scratch_dir(sf_dir, "events_xml")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # default XML timestamp rendering truncates to milliseconds; pin a
    # microsecond format on both sides so the round trip is lossless
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    build_once(
        path,
        [os.path.join(sf_dir, "events.parquet")],
        lambda: (
            events.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "events")
            .option("rowTag", "event")
            .option("timestampFormat", ts_fmt)
            .save(path)
        ),
    )
    return (
        spark.read.schema(events.schema)
        .format("xml")
        .option("rowTag", "event")
        .option("timestampFormat", ts_fmt)
        .load(path)
    )


XML_ROUNDTRIP_EVENTS_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


def python_datasource_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a CUSTOM Python data source (Spark 4 DataSource API):
    8 InputPartitions → 8 parallel scan tasks, each yielding one Arrow
    batch of arithmetic-derived rows. The oracle recomputes the identical
    stream from DuckDB's range() — a cross-engine check that the connector
    extension point itself produces correct, deterministic data."""
    from data_ingestion_pipeline_spark.sources.python_datasource import (
        read_synthetic_events,
    )

    df = read_synthetic_events(spark, n=100_000, parts=8)
    return df.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        dec_sum2(F.col("score")).alias("total_score"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


PYTHON_DATASOURCE_AGG_ORACLE = """
SELECT CAST(i % 7 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(CAST((i * 2654435761) % 100000 AS DOUBLE) / 100000.0
                              AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_score,
       MIN(i) AS min_id, MAX(i) AS max_id
FROM range(100000) t(i)
GROUP BY 1
"""


def jdbc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 JDBC sink parity end to end: orders → ``df.write.jdbc`` into an
    embedded Derby database (the reference's Postgres sink shape, reference
    ``flows/data_ingestion.py:164-216``) → partitioned ``spark.read.jdbc``
    back (range predicates on o_orderkey split the scan across tasks).
    Oracle: the source rows — the relational round trip must be lossless
    for BIGINT/DOUBLE/VARCHAR/TIMESTAMP alike."""
    from data_ingestion_pipeline_spark.sources.jdbc import (
        derby_url,
        read_jdbc,
        write_jdbc,
    )

    orders = load_table(spark, sf_dir, "orders")
    url = derby_url(scratch_dir(sf_dir, "derby_orders_db"))
    write_jdbc(orders, url, "orders_sink", mode="overwrite")
    lo, hi = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).first()  # two scalars — bounded driver pull for the range split
    return read_jdbc(
        spark,
        url,
        "orders_sink",
        partition_column="o_orderkey",
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        num_partitions=8,
    )


JDBC_ROUNDTRIP_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders
"""


def python_datasource_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same custom Python connector as a STREAMING source (Spark 4
    SimpleDataSourceStreamReader): row-counter offsets, micro-batches of
    10k rows, exactly-once replay via readBetweenOffsets. A complete-mode
    aggregation drains the finite stream (processAllAvailable returns once
    the offset stops advancing at n), so the final memory-sink table is
    the full-stream aggregate — hash-checked against DuckDB recomputing
    the identical arithmetic stream from range(). Proves the streaming
    connector extension point end to end: offsets, replay, micro-batch
    aggregation."""
    from data_ingestion_pipeline_spark.operators.streaming_checks import (
        _stream_state_partitions,
    )
    from data_ingestion_pipeline_spark.sources.python_datasource import (
        synthetic_events_stream,
    )

    name = f"pyds_stream_{sf_tag(sf_dir)}"
    stream = synthetic_events_stream(spark, n=30_000, batch=10_000)
    agg = stream.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        dec_sum2(F.col("score")).alias("total_score"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
    # pin state partitions like every other stateful stream here: 7 state
    # rows per micro-batch do not need 32 per-partition store commits
    with _stream_state_partitions(spark):
        query = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return spark.table(name)


PYTHON_DATASOURCE_STREAM_AGG_ORACLE = """
WITH ids AS (SELECT range AS id FROM range(0, 30000)),
src AS (
    SELECT id, CAST(id % 7 AS INT) AS bucket,
           CAST((id * 2654435761) % 100000 AS DOUBLE) / 100000.0 AS score
    FROM ids
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(score AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_score,
       MIN(id) AS min_id, MAX(id) AS max_id
FROM src GROUP BY bucket
"""


def python_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE side of the Python DataSource API: events flow through the
    custom ``jsonl_sink`` (per-partition JSON-lines files + two-phase
    commit manifest), are read back from exactly the manifested files, and
    aggregate — the oracle computes the same aggregate from the raw table,
    so equality proves the executor-side writer, the commit protocol, and
    the read-back are lossless. Timestamps ride as integer microseconds
    (JSON has no timestamp type); the read-back asserts the manifest row
    count before aggregating."""
    import json as _json

    from data_ingestion_pipeline_spark.sources.python_datasource import (
        JsonlSinkDataSource,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    root = scratch_dir(sf_dir, "pyds_write")
    out = os.path.join(root, "events_jsonl")
    # purchase slice only: the two-phase commit contract under test is
    # volume-independent, and a Python row-at-a-time writer is the SLOW
    # path by design (a real sink would serialize Arrow batches) — don't
    # bench-tax every round for rows that prove nothing extra
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    (
        events.repartition(8)
        .write.format("jsonl_sink")
        .mode("overwrite")
        .option("path", out)
        .save()
    )
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = _json.load(f)
    files = [os.path.join(out, name) for name in manifest["files"]]
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT, value DOUBLE"
    ).json(files)
    assert back.count() == manifest["rows"]
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("ts_us").alias("first_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
        dec_sum2(F.col("value")).alias("total_value"),
    )


PYTHON_DATASOURCE_WRITE_ROUNDTRIP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(epoch_us(ts)) AS first_ts_us,
       MAX(epoch_us(ts)) AS last_ts_us,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events WHERE event_type = 'purchase' GROUP BY event_type
"""


def fixed_width_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (copybook-style) sink → source round trip on orders —
    the legacy-mainframe interchange path (no delimiters; every field is
    (offset, width)). Writer formats at fixed precision; reader is pure
    substring/cast projection inside whole-stage codegen over
    ``spark.read.text`` — no UDFs, line-splittable, which is how a
    converted EBCDIC dump scans at 100 TB. The oracle recomputes the
    parsed values from the source table with the same fixed-precision
    semantics (price at 2 decimals, date at day grain)."""
    from data_ingestion_pipeline_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width,
    )

    spec = [
        ("o_orderkey", "bigint", 12),
        ("o_custkey", "bigint", 12),
        ("o_orderstatus", "string", 1),
        ("o_totalprice", "double2", 15),
        ("o_orderdate", "date8", 8),
        ("o_orderpriority", "string", 15),
    ]
    path = scratch_dir(sf_dir, "orders_fixed_width")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_orderpriority",
    )
    write_fixed_width(orders, path, spec)
    return read_fixed_width(spark, path, spec)


FIXED_WIDTH_ROUNDTRIP_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS o_totalprice,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_orderpriority
FROM orders
"""
