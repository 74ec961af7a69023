from __future__ import annotations

import os
import sys
import tempfile
import uuid
from collections import defaultdict
from decimal import Decimal

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_ingestion_pipeline_spark import registry  # noqa: E402
from data_ingestion_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def executed_plan(df) -> str:
    """The executed physical plan of ``df`` as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


def spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted by job group."""
    sc = spark.sparkContext
    group = f"spark_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def write_sf(tmp_path, **tables) -> str:
    """Write each DataFrame in ``tables`` as ``<name>.parquet`` into a fresh
    sf dir under ``tmp_path``; returns the dir."""
    d = tempfile.mkdtemp(prefix="sf_", dir=tmp_path)
    for name, df in tables.items():
        df.write.parquet(os.path.join(d, f"{name}.parquet"))
    return d


def run_oracle(name: str, sf_dir: str) -> list[tuple]:
    """Rows of query ``name``'s registered DuckDB oracle over an sf dir
    written by ``write_sf``."""
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{f}/*.parquet'")
    return con.execute(registry.oracle_sql()[name]).fetchall()


def daily_values(spark, sf_dir: str, by_type: bool = False) -> dict:
    """The events' values per day or, when ``by_type``, per (day,
    event_type) over purchase and view events; keys in sorted order."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    if by_type:
        events = events.filter("event_type IN ('purchase', 'view')")
    acc = defaultdict(list)
    for r in events.selectExpr("CAST(ts AS DATE) AS day", "event_type", "value").collect():
        acc[(r.day, r.event_type) if by_type else r.day].append(r.value)
    return dict(sorted(acc.items()))


def _exact_sum(values) -> float:
    return float(sum(Decimal(str(v)) for v in values))


def daily_sums(spark, sf_dir: str) -> dict:
    """Exact (decimal) sum of the events' values per day, in day order."""
    return {d: _exact_sum(vs) for d, vs in daily_values(spark, sf_dir).items()}


def daily_pv_sums(spark, sf_dir: str) -> dict:
    """Exact per-day (purchase, view) value sums, 0.0 for a type with no
    events that day, in day order."""
    sums = {k: _exact_sum(vs) for k, vs in daily_values(spark, sf_dir, True).items()}
    return {
        d: (sums.get((d, "purchase"), 0.0), sums.get((d, "view"), 0.0))
        for d in sorted({d for d, _ in sums})
    }
