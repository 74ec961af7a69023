"""Report queries (operators/reports.py, SURVEY.md §2.5) and their SQL
surface (operators/sql_surface.py): shape + semantics checks on sf0.001.

The full cross-engine value check runs in tools/check_oracle.py (and the
driver's own verify); these tests assert the plan-independent invariants so
failures localize: schemas, key aggregation identities, null semantics.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from data_ingestion_pipeline_spark.operators import reports, sql_surface
from tests.conftest import SF_SMOKE


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["p_partkey", "p_name", "total_revenue"]
    # sorted desc by revenue
    revs = [r.total_revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_queries_and_oracles_are_paired():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 6


def test_revenue_per_product_total(spark):
    """Sum over groups == ungrouped total (aggregation partitioning is lossless)."""
    df = reports.revenue_per_product(spark, SF_SMOKE)
    total = sum(r.total_revenue for r in df.collect())
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    expected = li.selectExpr(
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS t"
    ).collect()[0].t
    # groups are rounded individually; allow cents-level accumulation slack
    assert abs(total - expected) < 0.01 * df.count() + 0.01


def test_low_stock_threshold(spark):
    df = reports.low_stock(spark, SF_SMOKE, threshold=10)
    assert df.count() > 0
    assert all(r.p_size < 10 for r in df.collect())


def test_inventory_status_unsold_product_yields_null(spark):
    """LEFT-join path: a part with no lineitems keeps NULL total_sold
    and NULL remaining_stock (reference Q5 NULL propagation, README.md:115-130)."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    sold = {r.l_partkey for r in li.select("l_partkey").distinct().collect()}
    all_keys = {r.p_partkey for r in part.select("p_partkey").collect()}
    unsold = sorted(all_keys - sold)
    if not unsold:
        pytest.skip("every part sold at this SF")
    row = reports.inventory_status(spark, SF_SMOKE, product_key=unsold[0]).collect()[0]
    assert row.total_sold is None
    assert row.remaining_stock is None


def test_orders_per_product_month_matches_duckdb(spark):
    """Cheap end-to-end differential check at sf0.001 for the date-extract path."""
    df = reports.orders_per_product_month(spark, SF_SMOKE)
    got = {
        (r.p_partkey, r.ship_month, r.ship_year): r.total_quantity for r in df.collect()
    }
    con = duckdb.connect()
    exp = {
        (k, m, y): q
        for k, m, y, q in con.execute(
            f"""
            SELECT l_partkey, CAST(MONTH(l_shipdate) AS INT), CAST(YEAR(l_shipdate) AS INT),
                   SUM(l_quantity)
            FROM read_parquet('{SF_SMOKE}/lineitem.parquet') GROUP BY 1, 2, 3
            """
        ).fetchall()
    }
    assert got == exp


def test_sql_surface_matches_dataframe_builders(spark):
    """Both query surfaces (SQL text via spark.sql, DataFrame builders) must
    produce identical rows for every report — SURVEY.md §3 entry 3."""

    qs = entrymod.queries()
    for report in sql_surface.REPORT_SQL:
        via_sql = sql_surface.run_report_sql(spark, SF_SMOKE, report)
        via_df = qs[report](spark, SF_SMOKE)
        a = sorted(map(tuple, via_sql.collect()))
        b = sorted(map(tuple, via_df.collect()))
        assert a == b, f"{report}: SQL and DataFrame surfaces diverge"
