"""Parquet table catalog for the benchmark star schema.

The fixtures (TESTDATA.md) are one parquet file per table in a
scale-factor directory (``sf{N}/``). ``load_table`` reads one of them;
callers that run SQL text register the DataFrames as temp views, so both
the DataFrame API and ``spark.sql`` resolve the same relations — the dual
query surface the reference offers via psql (SURVEY.md §3, entry 3).

Scale note: these are plain ``spark.read.parquet`` scans — Catalyst pushes
filters and prunes columns into the parquet reader, and at cluster scale the
same code reads a directory of thousands of files with partition pruning if
the layout is partitioned. Nothing here materializes data on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "TABLES",
    "DIM_TABLES",
    "load_table",
    "normalize_event_ts",
]

# Every driver-provided table (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension-sized tables: safe and profitable to broadcast in joins.
# (region/nation are tiny; part/supplier/customer scale with SF but stay
# orders of magnitude below lineitem — at very large SF Catalyst's size
# estimate + AQE makes the final call, broadcast() is only a hint.)
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table as a DataFrame (lazy — no action triggered)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Fixture timestamps are naive UTC instants and every oracle renders
    # them as stored; a caller session inheriting a non-UTC JVM zone would
    # shift to_date()/date_format()/window() results (verified: New_York
    # session flips 3 of 6 timestamp queries). Pin UTC at runtime so the
    # engine's results don't depend on the host's timezone — session.py
    # sessions already run UTC; this covers bare driver sessions.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Older fixture generations wrote events.ts as parquet
        # TIMESTAMP(NANOS), readable only as a nanos-since-epoch long under
        # spark.sql.legacy.parquet.nanosAsLong. session.py sets this for our
        # own sessions, but callers (the driver harness) may hand us a bare
        # SparkSession — set it at runtime so either fixture vintage reads.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce the events timestamp to a microsecond ``TimestampType`` UTC
    instant regardless of how the fixture vintage stored it:

    - parquet TIMESTAMP(NANOS) read as long (``nanosAsLong``) → µs instant;
    - parquet timestamp[us] without timezone → Spark ``TIMESTAMP_NTZ``; the
      fixture values are naive UTC, and the session tz is pinned UTC above,
      so a plain cast re-labels the same wall-clock as the same instant;
    - already ``TimestampType`` → untouched.

    Everything downstream (event-time windows, ``unix_micros`` temporal
    joins, the DuckDB oracle which renders naive UTC) agrees on this form.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # The NTZ→TIMESTAMP cast interprets the wall-clock in the SESSION
        # timezone; pin it here so every entry point (streaming checks
        # probe schemas without going through load_table) is tz-safe
        # regardless of call order or the driver's host timezone.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df
