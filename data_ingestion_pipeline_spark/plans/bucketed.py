"""Bucketed tables — co-located joins without a shuffle.

THE layout lever for repeated big⋈big joins at 100 TB: both tables are
written pre-hashed into the same number of buckets on the join key
(+ sorted within buckets), so a later equi-join on that key is a
SortMergeJoin with NO Exchange on either side — the shuffle was paid once
at write time and amortizes over every subsequent join. Partitioning
(plans/ managed layouts) prunes what you READ; bucketing pre-organizes
how you JOIN.

Rules that make it work (all encoded in ``write_bucketed``):
- same bucket count on both sides (bucket spec mismatch → shuffle returns);
- bucket columns = join columns; sortBy the same columns to skip the
  per-bucket sort;
- ``saveAsTable`` (bucket metadata lives in the catalog — a plain
  ``.parquet(path)`` write silently drops the bucketing).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_bucketed", "read_bucketed"]


def write_bucketed(
    df: DataFrame, table_name: str, buckets: int, keys: Sequence[str]
) -> None:
    """Overwrite ``table_name`` bucketed+sorted by ``keys``.

    A database's directory outlives the in-memory catalog (new session =
    empty metastore, same directory on disk), so a stale table location
    must be cleared or ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS.
    A managed table lives at ``<database location>/<table>``; a
    catalog-qualified name (catalog.db.table) keys on its LAST two segments.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    parts = table_name.lower().split(".")
    db = parts[-2] if len(parts) >= 2 else spark.catalog.currentDatabase()
    db_dir = urlparse(spark.catalog.getDatabase(db).locationUri).path
    shutil.rmtree(os.path.join(db_dir, parts[-1]), ignore_errors=True)
    (
        df.write.bucketBy(buckets, *keys)
        .sortBy(*keys)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
