"""M1 — CSV reading (sources/csv_reader.py) and the normalization layer
(SURVEY.md §2.2 P1-P4) on reference-shaped CSVs."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark import schemas
from data_ingestion_pipeline_spark.functions.normalize import (
    camel_to_snake,
    parse_iso8601,
)
from data_ingestion_pipeline_spark.functions.partitioning import salted_join
from data_ingestion_pipeline_spark.operators.relational import (
    approx_distinct_users_daily,
    approx_price_quantiles_by_priority,
    distinct_users_daily,
    frequent_users_sketch,
    latest_event_per_user,
    price_quantiles_by_priority,
)
from data_ingestion_pipeline_spark.sources.catalog import load_table
from data_ingestion_pipeline_spark.sources.csv_reader import (
    read_inventory_csv,
    read_orders_csv,
)
from tests.conftest import SF_SMOKE
from tests.fixtures import write_fixture_csvs


@pytest.fixture(scope="module")
def csvs(tmp_path_factory):
    d = tmp_path_factory.mktemp("refdata")
    return write_fixture_csvs(str(d))


def test_camel_to_snake():
    # reference flows/utils.py:4-5 behavior
    assert camel_to_snake("orderId") == "order_id"
    assert camel_to_snake("channelGroup") == "channel_group"
    assert camel_to_snake("subCategory") == "sub_category"
    assert camel_to_snake("already_snake") == "already_snake"
    assert camel_to_snake("shippingCost") == "shipping_cost"


def test_orders_schema_and_rename(spark, csvs):
    orders_csv, _ = csvs
    df = read_orders_csv(spark, orders_csv)
    assert [f.name for f in df.schema.fields] == [f.name for f in schemas.ORDERS.fields]
    assert dict((f.name, f.dataType) for f in df.schema.fields) == dict(
        (f.name, f.dataType) for f in schemas.ORDERS.fields
    )


def test_timestamp_parse_mixed_precision(spark):
    """§1.4.2 — minute-precision rows must parse, not null out or fail."""
    raw = spark.createDataFrame(
        [
            ("o1", "p1", "2023-02-01T06:16Z"),
            ("o2", "p2", "2023-02-01T17:12:52Z"),
        ],
        "orderId string, productId string, dateTime string",
    )

    out = raw.select(parse_iso8601(raw.dateTime).alias("ts")).collect()
    assert out[0].ts == datetime.datetime(2023, 2, 1, 6, 16)
    assert out[1].ts == datetime.datetime(2023, 2, 1, 17, 12, 52)


def test_empty_campaign_becomes_null(spark, csvs):
    orders_csv, _ = csvs
    df = read_orders_csv(spark, orders_csv)
    n_null = df.filter(df.campaign.isNull()).count()
    assert n_null > 0
    assert df.filter(df.campaign == "").count() == 0


def test_no_timestamp_lost(spark, csvs):
    orders_csv, _ = csvs
    df = read_orders_csv(spark, orders_csv)
    assert df.filter(df.date_time.isNull()).count() == 0


def test_inventory_normalized(spark, csvs):
    _, inv_csv = csvs
    df = read_inventory_csv(spark, inv_csv)
    assert df.columns == ["product_id", "name", "quantity", "category", "sub_category"]
    assert df.count() == 40
    # composite product id format preserved as string (§1.4.3)
    assert all("#prod" in r.product_id for r in df.select("product_id").collect())


def test_salted_join_matches_plain_join(spark):

    # skewed big side: key 1 holds 90% of rows
    big = spark.range(0, 10000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 1 ELSE id END AS k", "id AS payload"
    )
    small = spark.createDataFrame(
        [(1, "hot"), (17, "cold"), (999999, "unmatched")], "k long, label string"
    )
    for how in ("inner", "left"):
        plain = big.join(small, ["k"], how).orderBy("payload").collect()
        salted = salted_join(big, small, ["k"], how, salt=8).orderBy("payload").collect()
        assert [tuple(r) for r in plain] == [tuple(r) for r in salted], how


def test_approx_distinct_within_rsd(spark):
    exact = {r.day: r.n_users for r in distinct_users_daily(spark, SF_SMOKE).collect()}
    gated = {
        r.day: (r.n_users, r.within_bound)
        for r in approx_distinct_users_daily(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(gated)
    for day, n in exact.items():
        got_n, ok = gated[day]
        assert got_n == n  # the exact column IS the exact count
        assert ok, (day, n)  # and the sketch estimate is within bound


def test_approx_quantiles_within_rank_error(spark):
    exact = {
        r.o_orderpriority: (r.p25, r.p50, r.p75, r.p95)
        for r in price_quantiles_by_priority(spark, SF_SMOKE).collect()
    }
    gated = {
        r.o_orderpriority: (r.within_p25, r.within_p50, r.within_p75, r.within_p95)
        for r in approx_price_quantiles_by_priority(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(gated)
    # GK with accuracy 10k: every sketch value must sit inside the exact
    # p±1% rank bracket the query computes in-plan
    for prio, oks in gated.items():
        assert all(oks), (prio, oks)


def test_latest_event_struct_max_matches_window(spark):
    agg = latest_event_per_user(spark, SF_SMOKE)
    events = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    via_window = (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
    )
    a = sorted(tuple(r) for r in agg.collect())
    b = sorted(tuple(r) for r in via_window.collect())
    assert a == b


def test_frequent_users_sketch_contains_planted_heavy_hitter(spark):
    items = [r.frequent_user_id for r in frequent_users_sketch(spark, SF_SMOKE).collect()]
    assert 0 in items  # the planted ~14% user must be reported
    assert len(items) < 50  # and the sketch doesn't degenerate to everyone
