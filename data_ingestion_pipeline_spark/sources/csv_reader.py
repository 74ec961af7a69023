"""Schema'd CSV sources (SURVEY.md §2.1 S1/S2).

The reference reads CSV with pandas and post-hoc coercion
(``flows/data_ingestion.py:68-96``); here the reader is ``spark.read.csv``
with an explicit schema — no inference pass (inference = an extra full scan
at 100 TB), malformed rows quarantined instead of failing the job.

One malformed-row rule, ``csv_source``, serves the batch reader and the
streaming source (``streaming/ingest.py``) alike, so the same files give the
same table through either path. ``mode="DROPMALFORMED"`` drops unparseable
lines at the reader: the PERMISSIVE + corrupt-column form either leaks
malformed lines as all-NULL data rows (if the column is merely dropped) or
poisons corrupt-only queries like ``df.count()`` with
QUERY_ONLY_CORRUPT_RECORD_COLUMN (if it is filtered on). At scale, a
dead-letter sink is a SEPARATE permissive read of the same path routed by
``_corrupt_record IS NOT NULL`` — not this ingest path's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from data_ingestion_pipeline_spark import schemas
from data_ingestion_pipeline_spark.functions.normalize import (
    normalize_inventory,
    normalize_orders,
)

__all__ = ["csv_source", "read_orders_csv", "read_inventory_csv"]

_CSV_OPTIONS = {
    "header": "true",
    "mode": "DROPMALFORMED",
    # Reference data quotes empty strings (""); treat both as null at the
    # reader, the normalizer additionally nulls whitespace-only values.
    "nullValue": "",
    "emptyValue": "",
}


def csv_source(
    reader: DataFrameReader | DataStreamReader, path: str, schema: T.StructType
) -> DataFrame:
    """Parse the CSV files at ``path`` with ``schema``, dropping malformed
    lines. ``reader`` is ``spark.read`` for a batch read or
    ``spark.readStream`` (with any source options already set) for a
    streaming one."""
    df = reader.options(**_CSV_OPTIONS).schema(schema).csv(path)
    # DROPMALFORMED is projection-dependent under CSV column pruning: a
    # malformed row is dropped only when a parsed column exposes it, so
    # df.count() KEPT such rows and a narrow projection LEAKED them as
    # all-NULL data (both measured). The always-true filter below
    # references every schema column, forcing the parser to parse the full
    # row for any downstream projection — one stable dropped-row set
    # everywhere. Cost: full-row parse, which ingest normalization needs
    # anyway.
    from pyspark.sql import functions as F

    marker = F.coalesce(
        *[F.col(f).cast("string") for f in schema.fieldNames()], F.lit("")
    )
    return df.where(F.length(marker) >= 0)


def read_orders_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — orders CSV scan (reference ``flows/data_ingestion.py:80-96``)."""
    return normalize_orders(csv_source(spark.read, path, schemas.ORDERS_CSV_RAW))


def read_inventory_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2 — inventory CSV scan (reference ``flows/data_ingestion.py:68-77``)."""
    return normalize_inventory(csv_source(spark.read, path, schemas.INVENTORY_CSV_RAW))
