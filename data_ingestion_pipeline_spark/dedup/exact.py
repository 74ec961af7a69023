"""Exact deduplication — hash-groupBy on a content fingerprint.

The canonical first pass of a training-data pipeline: collapse byte-identical
(after whitespace/case normalization) documents, keeping a deterministic
survivor. One shuffle on the (md5) fingerprint; survivor choice is min(id)
so re-runs are stable. At 100 TB the md5 is computed in the scan stage and
the shuffle carries (fingerprint, id) pairs only — project before grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.text import fingerprint_md5

__all__ = ["exact_dedup", "exact_dedup_keys"]


def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Surviving ids: ``(fingerprint, min(id))`` per fingerprint. Cheap
    shuffle — two columns."""
    return (
        df.select(fingerprint_md5(F.col(text_col)).alias("fingerprint"), id_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Full surviving rows via semi-join against the survivor keys —
    re-joining (rather than carrying all columns through the groupBy) keeps
    the wide row data out of the shuffle."""
    keys = exact_dedup_keys(df, text_col, id_col)
    return df.join(keys, [id_col], "left_semi")
