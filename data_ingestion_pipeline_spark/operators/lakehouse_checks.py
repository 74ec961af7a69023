"""Driver-checkable lakehouse-maintenance queries: SCD2 history, CDC MERGE
feed, delete-by-key rewrite, multi-resolution rollup.

These generalize the reference's in-place upsert (SURVEY.md §2.6,
/root/reference/flows/data_ingestion.py:99-216) to the table-maintenance
operations a warehouse actually runs: keep attribute history instead of
losing it (SCD2), publish the change feed instead of swallowing it (CDC),
erase keys under a retention contract (GDPR delete), and serve coarse
aggregates from finer pre-aggregates (rollup) instead of rescanning raw.

Every query derives its change batches deterministically from the fixture
tables, so a plain-SQL DuckDB oracle can recompute the closed-form result.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum2
from data_ingestion_pipeline_spark.operators.scratch import scratch_dir
from data_ingestion_pipeline_spark.plans.scd import merge_changes, scd2_apply
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table


def scd2_customer_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 customer dimension after one change batch.

    Bootstrap: every customer current since 2023-01-01. The 2023-06-01
    batch re-states every 7th customer's segment (changed → close + open),
    re-sends every 7th+1 customer unchanged (must be a no-op), and adds new
    customers (key + 1_000_000) for every 13th (insert). One key join, no
    per-row logic — plans/scd.py.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dim = cust.select(
        "*",
        F.lit("2023-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_mktsegment", F.concat(F.lit("SEG_"), F.col("c_mktsegment"))
    )
    unchanged = cust.filter(F.col("c_custkey") % 7 == 1)
    new = cust.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    batch = changed.unionByName(unchanged).unionByName(new)
    return scd2_apply(
        dim, batch, "c_custkey", ["c_name", "c_mktsegment"], "2023-06-01"
    )


SCD2_CUSTOMER_DIMENSION_ORACLE = """
WITH cust AS (SELECT c_custkey, c_name, c_mktsegment FROM customer)
-- closed-out prior versions of changed keys
SELECT c_custkey, c_name, c_mktsegment,
       TIMESTAMP '2023-01-01' AS valid_from,
       TIMESTAMP '2023-06-01' AS valid_to,
       FALSE AS is_current
FROM cust WHERE c_custkey % 7 = 0
UNION ALL
-- untouched current rows (unchanged re-sends are no-ops)
SELECT c_custkey, c_name, c_mktsegment,
       TIMESTAMP '2023-01-01', NULL, TRUE
FROM cust WHERE c_custkey % 7 <> 0
UNION ALL
-- new current version of changed keys
SELECT c_custkey, c_name, 'SEG_' || c_mktsegment,
       TIMESTAMP '2023-06-01', NULL, TRUE
FROM cust WHERE c_custkey % 7 = 0
UNION ALL
-- brand-new keys
SELECT c_custkey + 1000000, 'NEW ' || c_name, 'NEWSEG',
       TIMESTAMP '2023-06-01', NULL, TRUE
FROM cust WHERE c_custkey % 13 = 0
"""


def merge_cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture feed of MERGEing a deterministic batch into
    orders: every 7th order re-priced (+100, status 'X') → pre+post image
    rows; every 7th+1 re-sent unchanged → no feed rows; every 13th cloned
    to a new key (+100_000_000) → insert rows. plans/scd.py::merge_changes.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    changed = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
    )
    unchanged = orders.filter(F.col("o_orderkey") % 7 == 1)
    new = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    batch = changed.unionByName(unchanged).unionByName(new)
    return merge_changes(
        orders, batch, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    )


MERGE_CDC_ORDERS_ORACLE = """
SELECT 'insert' AS op, o_orderkey + 100000000 AS o_orderkey,
       o_totalprice, 'N' AS o_orderstatus
FROM orders WHERE o_orderkey % 13 = 0
UNION ALL
SELECT 'update_preimage', o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 7 = 0
UNION ALL
SELECT 'update_postimage', o_orderkey, o_totalprice + 100.0, 'X'
FROM orders WHERE o_orderkey % 7 = 0
"""


def gdpr_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure: events for every 17th user are deleted via
    ManagedTable.delete_where (projecting rewrite + atomic version swap;
    prior versions stay readable as the bounded audit window — asserted in
    pytest). Returns the post-delete per-type profile; the oracle
    recomputes it from the raw table with the same predicate."""
    root = scratch_dir(sf_dir, "gdpr_events")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root, keep_versions=3)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table.overwrite(events)
    table.delete_where(F.col("user_id") % 17 == 0)
    return (
        table.read()
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            dec_sum2(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        )
    )


GDPR_DELETE_EVENTS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(ROUND(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM events WHERE user_id % 17 <> 0
GROUP BY event_type
"""


def daily_rollup_from_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup: the daily level is computed by re-aggregating
    the HOURLY pre-aggregate, not the raw events — the hypertable/cube
    pattern where each coarser resolution reads the finer one (hours/day
    rows instead of events/day). Works because the partial states compose:
    counts add, and the value sum is an exact DECIMAL(18,6), associative
    across any regrouping — the same property that makes the result
    engine-identical. The oracle computes the daily level directly from raw
    events; equality proves the two-level derivation lossless. At scale
    each level is a materialized table maintained incrementally
    (streaming/ingest.py::merge_additive_aggregates does exactly this for
    the streaming case)."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)")).alias(
            "value_dec"
        ),
    )
    return (
        hourly.groupBy(F.to_date("hour").alias("day"))
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("value_dec"), 2).cast("double").alias("total_value"),
        )
    )


DAILY_ROLLUP_FROM_HOURLY_EVENTS_ORACLE = """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM events
GROUP BY 1
"""


def zorder_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """orders re-laid-out as 8 files z-ordered on (o_custkey, o_orderdate)
    — rebuilt on every call, since zorder_frame is the code under test.
    Separate so pytest can read the parquet footers and measure per-file
    min/max overlap on BOTH dimensions."""
    from data_ingestion_pipeline_spark.plans.zorder import zorder_frame

    path = scratch_dir(sf_dir, "orders_zorder")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate_days", F.datediff("o_orderdate", F.lit("1990-01-01"))
    )
    laid_out = zorder_frame(
        orders, ["o_custkey", "o_orderdate_days"], num_files=8
    ).drop("o_orderdate_days")
    laid_out.write.mode("overwrite").parquet(path)
    return path


def zorder_clustered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box query over the z-ordered layout: a selective predicate on
    BOTH o_custkey and o_orderdate. On the Morton layout each file covers
    a small hyper-rectangle, so the pushed-down conjunction skips most
    files from footer min/max alone — a single-key sort can only skip on
    its one sort column (overlap measured in pytest). The result is
    layout-independent; the oracle recomputes from the raw table."""
    # a plain read, not catalog.read_parquet: the layout is rebuilt on every
    # call under new file names, so a memoized schema would never be hit
    df = spark.read.parquet(zorder_orders_path(spark, sf_dir))
    return (
        df.filter(
            (F.col("o_custkey") >= 100)
            & (F.col("o_custkey") < 200)
            & (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dec_sum2(F.col("o_totalprice")).alias("total_value"),
        )
    )


ZORDER_CLUSTERED_ORDERS_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM orders
WHERE o_custkey >= 100 AND o_custkey < 200
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY o_orderstatus
"""


def observed_metrics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: quality metrics
    (row count, null rate, exact value sum, max) ride along on a REAL
    action over orders — Spark folds them into the same scan, so at scale
    a production write gets its audit metrics for free, with NO second
    pass over the data (contrast data_quality_orders, which is its own
    query). The observed values are returned as a one-row frame; the
    oracle recomputes them from the raw table."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_quality")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_custkey"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,6)") * 1000000).cast("long")
        ).alias("total_price_micros"),
        F.max("o_orderkey").alias("max_orderkey"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the riding action
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_custkey"]),
                int(m["total_price_micros"]),
                int(m["max_orderkey"]),
            )
        ],
        "n_rows bigint, n_null_custkey bigint, total_price_micros bigint, max_orderkey bigint",
    )


OBSERVED_METRICS_ORDERS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_custkey,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT))
           AS BIGINT) AS total_price_micros,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
FROM orders
"""


def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) fact→dimension lookup: every order joined to
    the customer-segment version valid at its order date. The dimension is
    an SCD2 build (bootstrap 1992, one re-segmentation batch effective
    1998-01-01 for every 7th customer), so orders straddling the cut must
    resolve to DIFFERENT versions of the same key — the correctness trap
    naive current-row joins get wrong.

    The join predicate is the half-open validity window
    (valid_from <= ts < valid_to), an equi-join on the key plus a range
    residual; the dimension side broadcasts (dims are always the small
    side at fact scale). The oracle derives the expected segment CLOSED
    FORM from the change rules — independent of scd2_apply — so equality
    proves builder + as-of join against ground truth, not against itself.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim0 = cust.select(
        "*",
        F.lit("1992-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_mktsegment", F.concat(F.lit("SEG_"), F.col("c_mktsegment"))
    )
    dim = scd2_apply(dim0, batch, "c_custkey", ["c_mktsegment"], "1998-01-01")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    return orders.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("valid_from") <= F.col("o_orderdate"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
    ).select("o_orderkey", "o_custkey", "o_orderdate",
             F.col("c_mktsegment").alias("mktsegment_asof"))


SCD2_ASOF_LOOKUP_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderdate,
       CASE WHEN c_custkey % 7 = 0 AND o_orderdate >= TIMESTAMP '1998-01-01'
            THEN 'SEG_' || c_mktsegment ELSE c_mktsegment
       END AS mktsegment_asof
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the audit view between two table versions: orders
    vs orders after a deterministic maintenance pass (every 11th key
    deleted, every surviving 7th repriced +100, every 13th cloned to a new
    key). FULL OUTER join on the key classifies each row added / removed /
    changed / unchanged; the summary carries counts and the exact net
    price delta per class. One shuffle on the key; the class expression is
    null-arithmetic over the two sides. The oracle computes every class
    closed-form from the rules, so the diff operator is checked against
    ground truth rather than a second diff."""
    before = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    survivors = before.filter(F.col("o_orderkey") % 11 != 0)
    after = (
        survivors.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            before.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    b = before.select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p_before")
    )
    a = after.select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p_after")
    )
    j = b.join(a, "k", "full_outer")
    change = (
        F.when(F.col("p_before").isNull(), F.lit("added"))
        .when(F.col("p_after").isNull(), F.lit("removed"))
        .when(F.col("p_before") != F.col("p_after"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("p_after"), F.lit(0.0)) - F.coalesce(
        F.col("p_before"), F.lit(0.0)
    )
    return (
        j.select(change.alias("change_type"), delta.alias("delta"))
        .groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dec_sum2(F.col("delta")).alias("net_price_delta"),
        )
    )


TABLE_DIFF_SNAPSHOTS_ORACLE = """
SELECT 'removed' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(-o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS net_price_delta
FROM orders WHERE o_orderkey % 11 = 0
UNION ALL
SELECT 'added', CAST(COUNT(*) AS BIGINT),
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders WHERE o_orderkey % 13 = 0
UNION ALL
-- (o_totalprice + 100.0) - o_totalprice, NOT the literal 100.0: the float
-- round-trip is not exactly 100 for most prices, and the builder sums the
-- round-tripped per-row deltas
SELECT 'changed', CAST(COUNT(*) AS BIGINT),
       CAST(ROUND(SUM(CAST((o_totalprice + 100.0) - o_totalprice
                           AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders WHERE o_orderkey % 11 != 0 AND o_orderkey % 7 = 0
UNION ALL
SELECT 'unchanged', CAST(COUNT(*) AS BIGINT),
       CAST(ROUND(SUM(CAST(0.0 AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders WHERE o_orderkey % 11 != 0 AND o_orderkey % 7 != 0
"""


def time_travel_orders_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (``VERSION AS OF``): two atomic overwrites of a managed
    orders table (v2 reprices every 7th order), then BOTH versions are read
    back concurrently through the retained-version window and diffed — the
    audit query a lakehouse runs after a bad deploy. The version pointer
    swap is what makes v1 still readable while v2 is current
    (plans/table.py: immutable version directories + keep_versions
    retention). Oracle derives the expected diff closed-form from the
    reprice rule, checking the retention machinery against ground truth."""
    root = scratch_dir(sf_dir, "timetravel_orders")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root, keep_versions=3)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = table.overwrite(orders)
    v2 = table.overwrite(
        orders.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    old = table.read(version=v1).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p1")
    )
    cur = table.read(version=v2).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p2")
    )
    j = old.join(cur, "k")
    return j.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("p1") != F.col("p2"), 1)).cast("bigint").alias("n_changed"),
        dec_sum2(F.col("p2") - F.col("p1")).alias("net_delta"),
        F.lit(len(table.versions())).cast("int").alias("n_versions_retained"),
    )


TIME_TRAVEL_ORDERS_VERSIONS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS BIGINT) AS n_changed,
       CAST(ROUND(SUM(CAST(CASE WHEN o_orderkey % 7 = 0
                                THEN (o_totalprice + 100.0) - o_totalprice
                                ELSE 0.0 END AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS net_delta,
       CAST(2 AS INT) AS n_versions_retained
FROM orders
"""


def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum of the orders table — the
    anti-entropy primitive for replica/migration verification: two engines
    (or two clusters) agree the tables are identical iff (n_rows,
    checksum) agree, without ever co-locating the data. Each row
    canonicalizes to a '|'-joined string (money as DECIMAL(18,2) text,
    timestamps formatted — never raw double rendering), hashes to a
    48-bit md5 prefix, and the checksum is the SUM of row hashes in
    DECIMAL(38,0) — commutative, so partition order, file order, and
    engine are all irrelevant, and map-side partial sums make the whole
    check one scan + one tiny agg at any scale. Published as a string
    (exact integer text) so the comparison never rides float precision."""
    orders = load_table(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.date_format(
            F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd HH:mm:ss"
        ),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("decimal(38,0)")
    return orders.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(h).cast("decimal(38,0)").cast("string").alias("content_checksum"),
    )


TABLE_CHECKSUM_ORDERS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum
FROM (
    SELECT ('0x' || substr(md5(
               o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|'
               || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|'
               || o_orderpriority
           ), 1, 12))::BIGINT AS h
    FROM orders
)
"""


def incremental_mv_refresh_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh, batch form: a stored
    aggregate (revenue/count per priority over the 'old' partition,
    o_orderkey % 5 != 0) absorbs a delta batch (% 5 == 0) by MERGING
    PARTIAL AGGREGATES — full outer join on the group key, coalesced
    sums — instead of recomputing from raw data. This is the algebraic
    core of every incremental MV engine (counts and decimal sums are
    commutative monoids; the delta-side agg is delta-sized, the merge is
    key-cardinality-sized). Equality with the full recompute is the
    oracle: the DuckDB side aggregates the whole table directly, so the
    hash check proves merge-of-partials == recompute exactly."""
    orders = load_table(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_rev"),
        )

    stored = agg(orders.filter(F.col("o_orderkey") % 5 != 0))
    delta = agg(orders.filter(F.col("o_orderkey") % 5 == 0))
    merged = (
        stored.select(
            "o_orderpriority",
            F.col("n_orders").alias("n_a"),
            F.col("_rev").alias("r_a"),
        )
        .join(
            delta.select(
                "o_orderpriority",
                F.col("n_orders").alias("n_b"),
                F.col("_rev").alias("r_b"),
            ),
            "o_orderpriority",
            "full_outer",
        )
        .select(
            "o_orderpriority",
            (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            F.round(
                F.coalesce(F.col("r_a"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("r_b"), F.lit(0).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("total_revenue"),
        )
    )
    return merged


INCREMENTAL_MV_REFRESH_ORDERS_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_revenue
FROM orders GROUP BY o_orderpriority
"""


def table_changes_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC change feed between two table versions — the
    ``table_changes()`` / readChangeFeed surface a lakehouse exposes for
    downstream incremental consumers: every row of the v1→v2 delta tagged
    ``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``
    (updates emit BOTH images, the shape a MERGE-consuming sink needs).

    v2 applies the same deterministic maintenance pass as the snapshot
    diff (delete every 11th key, reprice every surviving 7th +100, clone
    every 13th to key+1e8), but here the feed is derived from the ACTUAL
    persisted versions of a managed table (plans/table.py retention), so
    the query proves version readback + changelog derivation end-to-end.
    Shape: one FULL OUTER key join of the two version reads, then a
    map-side explode of 0-2 change structs per joined row — shuffle is
    the key join only; unchanged rows emit nothing. The oracle derives
    every feed row closed-form from the maintenance rules."""
    root = scratch_dir(sf_dir, "cdc_orders")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root, keep_versions=3)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = table.overwrite(orders)
    after = (
        orders.filter(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    v2 = table.overwrite(after)
    b = table.read(version=v1).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p_before")
    )
    a = table.read(version=v2).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p_after")
    )
    j = b.join(a, "k", "full_outer")
    changes = (
        F.when(
            F.col("p_before").isNull(),
            F.array(F.struct(F.lit("insert").alias("ct"), F.col("p_after").alias("p"))),
        )
        .when(
            F.col("p_after").isNull(),
            F.array(F.struct(F.lit("delete").alias("ct"), F.col("p_before").alias("p"))),
        )
        .when(
            F.col("p_before") != F.col("p_after"),
            F.array(
                F.struct(F.lit("update_preimage").alias("ct"), F.col("p_before").alias("p")),
                F.struct(F.lit("update_postimage").alias("ct"), F.col("p_after").alias("p")),
            ),
        )
        .otherwise(F.array().cast("array<struct<ct:string,p:double>>"))
    )
    return (
        j.select("k", F.explode(changes).alias("c"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("c.ct").alias("change_type"),
            F.col("c.p").alias("o_totalprice"),
            F.lit(2).cast("int").alias("commit_version"),
        )
    )


TABLE_CHANGES_VERSIONS_ORACLE = """
SELECT o_orderkey, 'delete' AS change_type, o_totalprice,
       CAST(2 AS INT) AS commit_version
FROM orders WHERE o_orderkey % 11 = 0
UNION ALL
SELECT o_orderkey + 100000000, 'insert', o_totalprice, 2
FROM orders WHERE o_orderkey % 13 = 0
UNION ALL
SELECT o_orderkey, 'update_preimage', o_totalprice, 2
FROM orders WHERE o_orderkey % 11 != 0 AND o_orderkey % 7 = 0
UNION ALL
SELECT o_orderkey, 'update_postimage', o_totalprice + 100.0, 2
FROM orders WHERE o_orderkey % 11 != 0 AND o_orderkey % 7 = 0
"""


# ---------------------------------------------------------------------------
# Small-file compaction planner — cumulative bin-packing of day "files"
# ---------------------------------------------------------------------------

def compaction_plan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planner: given the per-day order "files" (row counts in
    o_orderdate layout order — the unit a date-partitioned ingest actually
    produces), assign each file to a target-sized output bin by cumulative
    fill: bin = floor(rows_before / target). This is the planning pass a
    lakehouse OPTIMIZE runs before rewriting — the published shape is one
    row per planned output file with its span and fill, so an operator can
    see exactly which small files coalesce and which days split.

    The prefix sum over the day domain uses the partition-local-window +
    chunk-offset stitch (``encoding_advisor_orders`` pattern): date-range
    partition, one window pass per chunk, ≤chunks offset rows — the day
    domain is calendar-scale but the pattern keeps every sort chunk-local
    regardless. Pure integer arithmetic end-to-end; target is sized from
    the table so the plan is scale-free (~8 bins at any SF)."""
    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    tot = files.agg(
        F.sum("n_rows").cast("bigint").alias("t"),
    )
    target = F.greatest(
        F.lit(1).cast("bigint"), F.floor(F.col("t") / 8).cast("bigint")
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = files.repartitionByRange(n_chunks, "day").withColumn(
        "pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = chunked.withColumn(
        "lsum", F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("bigint")
    )
    totals = chunked.groupBy("pid").agg(
        F.sum("n_rows").cast("bigint").alias("csum")
    )
    # pid%1: constant-valued non-foldable partition key — ≤n_chunks rows
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid", F.coalesce(F.sum("csum").over(bw), F.lit(0)).cast("bigint").alias("osum")
    )
    assigned = (
        local.join(offs, "pid")
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_rows",
            F.floor((F.col("lsum") + F.col("osum")) / target)
            .cast("bigint")
            .alias("bin_id"),
        )
    )
    return (
        assigned.groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


COMPACTION_PLAN_ORDERS_ORACLE = """
WITH files AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n_rows) AS BIGINT) AS t FROM files
), assigned AS (
    SELECT day, n_rows,
           CAST(FLOOR(
               CAST(COALESCE(SUM(n_rows) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS DOUBLE)
               / GREATEST(1, FLOOR(t / 8))) AS BIGINT) AS bin_id
    FROM files CROSS JOIN tot
)
SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       MIN(day) AS first_day, MAX(day) AS last_day
FROM assigned GROUP BY bin_id
"""


# ---------------------------------------------------------------------------
# Merge-on-read deletes: equality-delete sidecars vs copy-on-write parity
# ---------------------------------------------------------------------------

def merge_on_read_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion (Iceberg V2 equality deletes / Delta deletion
    vectors): two delete commits land as SIDECARS against the current
    version — an O(keys) metadata write, data files untouched — and reads
    apply them as a broadcast anti-join; ``compact`` then folds the
    sidecars into new data files (minor compaction). The published shape is
    the per-type profile read BOTH ways, phase-labeled: 'mor' (sidecars
    live) must equal 'cow' (after the rewrite) — the oracle computes one
    profile and emits it under both phases, so merge-on-read == copy-on-
    write parity is part of the value hash, not just a pytest claim.

    This is ``gdpr_delete_events``' complement on the delete design axis:
    copy-on-write pays the rewrite at delete time (reads stay pure scans);
    merge-on-read defers it (delete latency O(keys), reads pay the
    anti-join until compaction) — the trade a table service tunes by
    rewrite cadence."""
    root = scratch_dir(sf_dir, "mor_delete_events")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root, keep_versions=3)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table.overwrite(events)
    # delete commit 1: erase every 13th user (an erasure-request batch)
    table.equality_delete(
        events.filter(F.col("user_id") % 13 == 0).select("user_id"),
        ["user_id"],
    )
    # delete commit 2: a later batch, same key spec — sidecars accumulate
    table.equality_delete(
        events.filter(F.col("user_id") % 29 == 0).select("user_id"),
        ["user_id"],
    )

    def profile(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            dec_sum2(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        ).select(F.lit(phase).alias("phase"), "*")

    mor = profile(table.read(), "mor")
    table.compact()
    cow = profile(table.read(), "cow")
    return mor.unionByName(cow)


MERGE_ON_READ_DELETE_EVENTS_ORACLE = """
WITH prof AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS total_value
    FROM events
    WHERE user_id % 13 <> 0 AND user_id % 29 <> 0
    GROUP BY event_type
)
SELECT 'mor' AS phase, * FROM prof
UNION ALL
SELECT 'cow' AS phase, * FROM prof
"""
