"""Query + oracle registry — the contract surface for ``__spark_entry__.py``.

A query is declared where it is written: a function ``name(spark, sf_dir)
-> DataFrame`` defined in one of ``MODULES`` with a module-level string
``NAME_ORACLE`` beside it, the DuckDB SQL over the same parquet tables.
Nothing else registers it; a function without that constant is not a query.
Column names AND types are aligned between the Spark plan and the oracle
(aliases identical on both sides; month/year cast to int; float aggregates
rounded identically on both sides so the order-insensitive value hash is
deterministic across engines).

``queries()`` and ``oracle_sql()`` export in ``MODULES`` order, then
definition order within a module. Callers look queries up by name, so no
caller depends on that order.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_pipeline_spark.operators import (
    analytics_checks,
    bpe,
    classifier,
    corpus_quality,
    evolution_checks,
    inference_stats,
    ingestion_checks,
    lakehouse_checks,
    llm_data,
    lm_stats,
    mlprep_checks,
    multimodal_checks,
    pii,
    relational,
    reports,
    sql_surface,
    streaming_checks,
    temporal_checks,
    timeseries_checks,
    tpch_queries,
)
from data_ingestion_pipeline_spark.streaming.stateful import (
    transform_with_state_available,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

MODULES: tuple[ModuleType, ...] = (
    analytics_checks, bpe, classifier, corpus_quality, evolution_checks,
    inference_stats, ingestion_checks, lakehouse_checks, llm_data, lm_stats,
    mlprep_checks, multimodal_checks, pii, relational, reports, sql_surface,
    streaming_checks, temporal_checks, timeseries_checks, tpch_queries,
)

# transformWithStateInPandas needs python-protobuf at runtime; without it the
# query does not register (its pandas twin and pytest cover the semantics).
_NEEDS_PROTOBUF = "stateful_event_type_counts_events"


def _declared(mod: ModuleType) -> Iterator[tuple[str, QueryFn, str]]:
    """``(name, fn, oracle)`` for each query ``mod`` defines, in definition
    order."""
    for name, fn in vars(mod).items():
        oracle = getattr(mod, f"{name.upper()}_ORACLE", None)
        if (
            inspect.isfunction(fn)
            and fn.__module__ == mod.__name__
            and isinstance(oracle, str)
        ):
            yield name, fn, oracle


# name -> (query fn, DuckDB oracle SQL)
_REGISTRY: dict[str, tuple[QueryFn, str]] = {
    name: (fn, oracle)
    for mod in MODULES
    for name, fn, oracle in _declared(mod)
    if name != _NEEDS_PROTOBUF or transform_with_state_available()
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items()}
