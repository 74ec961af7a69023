"""Schema evolution — reconcile a stored table to a declared schema.

The reference's schema-sync flow diffs the live DB against the SQLAlchemy
declaration and issues ``ALTER TABLE ADD/DROP COLUMN``
(``flows/schema_sync.py:102-155``), never dropping key columns (``:141-150``).
Parquet cannot alter in place, so evolution is a projecting rewrite committed
through ManagedTable:

- **add**: missing declared columns appear as typed NULLs
  (ADD COLUMN semantics, reference ``flows/schema_sync.py:124-139``);
- **drop**: stored columns absent from the declaration are projected away —
  unless they are protected keys (reference skips PKs, ``:141-150``);
- **cast**: columns whose declared type differs are cast.

The diff itself is pure metadata (driver-side, O(columns)); the rewrite is a
distributed scan→project→write, the parquet-world cost of a DROP. On a
Delta/Iceberg backend add/drop would be metadata-only — same interface,
cheaper physical op.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.plans.table import ManagedTable

__all__ = ["diff_schema", "conform_to_schema", "sync_table_schema"]


def diff_schema(
    current: T.StructType, declared: T.StructType, protected: Sequence[str] = ()
) -> dict[str, list[str]]:
    """Driver-side schema diff (the reference's closest thing to a query plan,
    SURVEY.md §3 entry 2)."""
    cur = {f.name: f.dataType for f in current.fields}
    dec = {f.name: f.dataType for f in declared.fields}
    return {
        "add": [c for c in dec if c not in cur],
        "drop": [c for c in cur if c not in dec and c not in set(protected)],
        "cast": [c for c in dec if c in cur and cur[c] != dec[c]],
    }


def conform_to_schema(
    df: DataFrame, declared: T.StructType, protected: Sequence[str] = ()
) -> DataFrame:
    """Project ``df`` onto the declared schema (add NULLs / drop extras / cast).

    Protected columns survive even if undeclared, mirroring the reference's
    never-drop-primary-keys rule.
    """
    d = diff_schema(df.schema, declared, protected)
    cols = []
    for field in declared.fields:
        if field.name in d["add"]:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        elif field.name in d["cast"]:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.col(field.name))
    for name in protected:
        if name in df.columns and name not in {f.name for f in declared.fields}:
            cols.append(F.col(name))
    return df.select(*cols)


def sync_table_schema(
    table: ManagedTable, declared: T.StructType, protected: Sequence[str] = ()
) -> str | None:
    """Rewrite the table iff its schema differs; returns new version or None.

    Analog of the reference's ``sync_table_schema`` (``flows/schema_sync.py:158-180``).
    """
    # read-modify-write: commit against the snapshot so a concurrent
    # ingest commit aborts this rewrite instead of being silently replaced
    # by the conformed copy of a stale read
    snap = table.snapshot()
    if snap.df is None:
        return None
    d = diff_schema(snap.df.schema, declared, protected)
    if not (d["add"] or d["drop"] or d["cast"]):
        return None
    return table.overwrite(
        conform_to_schema(snap.df, declared, protected), snapshot=snap
    )
