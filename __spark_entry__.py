"""Entry-point contract for the engine (PySpark target).

Thin shim over ``data_ingestion_pipeline_spark.registry`` — the engine's
query/oracle registry. A verifier runs ``entry(spark)`` as a smoke check,
then runs each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` in DuckDB (row count + schema +
order-insensitive value hash); ``tools/check_oracle.py`` does the same
locally. A query is declared once, in its operator module: a function plus
a ``NAME_ORACLE`` string beside it (see the registry's docstring). Both
dicts come back in module order, then definition order; queries are looked
up by name, so the order carries no priority.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from data_ingestion_pipeline_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: revenue per product (scan → broadcast join
    → two-phase hash agg → sort). Driver checks rows > 0."""
    return registry.queries()["revenue_per_product"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted ⇒ rows-only check)."""
    return registry.oracle_sql()
