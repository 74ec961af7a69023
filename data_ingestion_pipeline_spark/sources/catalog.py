"""Parquet table catalog for the benchmark star schema.

The fixtures (TESTDATA.md) are one parquet file per table in a
scale-factor directory (``sf{N}/``). ``load_table`` reads one of them;
callers that run SQL text register the DataFrames as temp views, so both
the DataFrame API and ``spark.sql`` resolve the same relations — the dual
query surface the reference offers via psql (SURVEY.md §3, entry 3).

The package reads parquet through ``read_parquet``: a scan with a given
schema, ``spark.read.schema(s).parquet(path)``. A read without
a schema runs a one-task Spark job that only reads a footer, so
``parquet_schema`` infers each schema once and memoizes it process-wide. The memo key changes
whenever the read could see different bytes or infer a different type:

- for a file: its path, size and ``mtime_ns``;
- for a directory (a ``ManagedTable`` version or delete sidecar): its path
  and the name, size and ``mtime_ns`` of every data file Spark would scan
  (names starting with ``_`` or ``.`` are hidden from the scan, so they
  are left out);
- in both cases, the session's parquet inference settings
  (``_INFERENCE_CONFS``).

The memo keeps the ``_MEMO_ENTRIES`` most recently used schemas. Catalyst
still pushes filters and prunes columns into the parquet reader, and at
cluster scale the same code reads a directory of thousands of files.
Nothing here materializes data on the driver.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "TABLES",
    "DIM_TABLES",
    "load_table",
    "normalize_event_ts",
    "parquet_schema",
    "read_parquet",
    "remember_schema",
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

# Session settings that change what parquet schema inference returns. An
# inference setting added to a session must join this tuple, or the memo
# serves a schema inferred under its old value.
_INFERENCE_CONFS = (
    # TIMESTAMP(NANOS) infers as long (events' older fixture vintage)
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_MEMO_ENTRIES = 256
_memo: OrderedDict[tuple, T.StructType] = OrderedDict()
_memo_lock = threading.Lock()


def _memo_key(spark: SparkSession, path: str) -> tuple:
    path = os.path.abspath(path)
    if os.path.isdir(path):
        files = []
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(n for n in dirs if n[0] not in "_.")
            for n in sorted(names):
                if n[0] not in "_.":
                    st = os.stat(os.path.join(d, n))
                    rel = os.path.relpath(os.path.join(d, n), path)
                    files.append((rel, st.st_size, st.st_mtime_ns))
        stamp = tuple(files)
    else:
        st = os.stat(path)
        stamp = (st.st_size, st.st_mtime_ns)
    return path, stamp, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable:
    the schema a parquet read reports, whatever the writer declared."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _put(key: tuple, schema: T.StructType) -> None:
    with _memo_lock:
        _memo[key] = schema
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_ENTRIES:
            _memo.popitem(last=False)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the memo when
    the key still matches; only a miss runs the inference job."""
    try:
        key = _memo_key(spark, path)
    except OSError:
        # not on the local filesystem, or gone: Spark reads it or raises
        # its own error, and nothing is memoized
        key = None
    with _memo_lock:
        schema = _memo.get(key)
        if schema is not None:
            _memo.move_to_end(key)
            return schema
    inferred = spark.read.parquet(path)  # the one inference job per key
    schema = inferred.schema
    if key is not None:
        _put(key, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with its schema from the memo."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def remember_schema(spark: SparkSession, path: str, written: T.StructType) -> None:
    """Memoize the schema of parquet just written to ``path`` from the
    writer's ``written`` schema, so the first read of it infers nothing.
    A parquet read reports every field nullable, so the memo holds
    ``written`` with all fields, array elements and map values nullable."""
    try:
        _put(_memo_key(spark, path), _as_nullable(written))
    except OSError:
        pass  # already vacuumed by a concurrent commit: nothing to read


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
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
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
