"""Driver-checkable schema-evolution and partition-pruning queries.

Schema evolution (SURVEY.md §2.1 S9-S11) mirrors the reference's
schema-sync flow (/root/reference/flows/schema_sync.py:102-155): diff the
stored table against a declared schema, ADD missing columns as typed
NULLs, DROP undeclared ones (never protected keys), CAST drifted types.
On parquet that's a projecting rewrite through ManagedTable's atomic
version swap — here exercised end to end on real fixture data and checked
against a DuckDB oracle that recomputes the declared projection directly.

Partitioned writes are the 100 TB table layout story: data written
partitioned by a low-cardinality derived key means queries filtering on
that key read only matching directories (partition pruning — the scan
lists 1 of N partitions before any row IO). The check writes `orders`
partitioned by order-year, queries one year back, and pytest asserts the
scan's partition count; the oracle recomputes from the raw table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.functions.numeric import dec_sum2
from data_ingestion_pipeline_spark.operators.scratch import (
    build_once,
    scratch_dir,
    sf_tag,
)
from data_ingestion_pipeline_spark.plans.schema_evolution import sync_table_schema
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table


# Declared target: p_container is NEW (appears as typed NULL), p_size is
# CAST int→long, and the stored extra column legacy_note must be DROPPED
# while the protected key p_partkey survives.
_DECLARED = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), False),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_size", T.LongType(), True),
        T.StructField("p_container", T.StringType(), True),
    ]
)


def schema_evolution_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10/S11 end to end: seed a managed table from ``part`` with an
    extra legacy column, sync it to the declared schema (add+drop+cast via
    projecting rewrite, atomic version swap), return the evolved table."""
    root = scratch_dir(sf_dir, "evolution_part")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root)
    seed = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.concat(F.lit("legacy:"), F.col("p_brand")).alias("legacy_note"),
    )
    table.overwrite(seed)
    version = sync_table_schema(table, _DECLARED, protected=["p_partkey"])
    assert version is not None, "schema drift must trigger a rewrite"
    return table.read()


SCHEMA_EVOLUTION_SYNC_ORACLE = """
SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size,
       CAST(NULL AS VARCHAR) AS p_container
FROM part
"""


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Write ``orders`` partitioned by order-year (idempotent per sf_dir);
    returns the dataset path. Separate so tests can inspect the layout."""
    path = scratch_dir(sf_dir, "orders_by_year")

    def build() -> None:
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        orders.write.partitionBy("o_year").mode("overwrite").parquet(path)

    return build_once(path, [os.path.join(sf_dir, "orders.parquet")], build)


def partitioned_orders_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query one year from the partitioned layout: the o_year predicate is
    a partition filter — the scan lists exactly one year directory
    (asserted in pytest via the InMemoryFileIndex partition count)."""
    path = partitioned_orders_path(spark, sf_dir)
    # a plain read, not catalog.read_parquet: o_year is discovered from the
    # directory names, under partition settings the schema memo's key
    # does not carry
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("o_year") == 1995)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dec_sum2(F.col("o_totalprice")).alias("total_value"),
        )
    )


PARTITIONED_ORDERS_YEARLY_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM orders
WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
GROUP BY o_orderpriority
"""


def dpp_ship_year_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning, the join-shaped sibling of
    ``partitioned_orders_yearly``'s static prune: orders per year, but only
    for years that saw any shipment inside a literal ship-date window. The
    year set is NOT statically known (it comes out of a distinct over
    lineitem), so Catalyst cannot fold it into a partition predicate —
    instead the PartitionPruning rule injects a
    ``dynamicpruningexpression(o_year IN dynamicpruning#N)`` partition
    filter on the fact scan, reusing the dim side's broadcast exchange, and
    the scan lists only the surviving year directories at RUNTIME (pinned
    in pytest via the formatted plan). This is the canonical
    fact-join-filtered-dim shape every partitioned 100 TB layout depends
    on: without DPP the fact scan reads all years and the join discards
    them after IO.

    No reference counterpart (the reference has no partitioned layout;
    its Postgres tables are unpartitioned heaps — README.md:36-149 queries
    scan whole tables)."""
    path = partitioned_orders_path(spark, sf_dir)
    # plain read: a partition-discovered layout (see partitioned_orders_yearly)
    fact = spark.read.parquet(path)
    lineitem = load_table(spark, sf_dir, "lineitem")
    ship_years = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("2000-01-01"))
        )
        .select(F.year("l_shipdate").alias("ship_year"))
        .distinct()
    )
    return (
        fact.join(ship_years, fact.o_year == ship_years.ship_year)
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dec_sum2(F.col("o_totalprice")).alias("total_value"),
        )
    )


DPP_SHIP_YEAR_JOIN_ORDERS_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM orders
WHERE EXTRACT(YEAR FROM o_orderdate) IN (
    SELECT DISTINCT EXTRACT(YEAR FROM l_shipdate)
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '2000-01-01'
)
GROUP BY 1
"""


def data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data-quality aspiration (README.md:167-169) as a
    one-pass rule suite over orders + an FK existence check against
    customer — violation counts per named rule."""
    from data_ingestion_pipeline_spark.plans.quality import check_rules, fk_violations

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = {
        "totalprice_positive": F.col("o_totalprice") > 0,
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "orderdate_in_range": (F.col("o_orderdate") >= F.lit("1990-01-01"))
        & (F.col("o_orderdate") < F.lit("2030-01-01")),
    }
    counts = check_rules(orders, rules)
    fk = fk_violations(orders, customer, "o_custkey", "c_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_violations")
    )
    n_orders = orders.count()
    fk_row = fk.select(
        F.lit("custkey_exists").alias("rule"),
        F.lit(n_orders).cast("bigint").alias("n_rows"),
        "n_violations",
        F.round(F.col("n_violations") / n_orders, 6).alias("violation_rate"),
    )
    return counts.unionByName(fk_row)


DATA_QUALITY_ORDERS_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
SELECT 'totalprice_positive' AS rule, n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_totalprice IS NULL OR NOT (o_totalprice > 0)) AS n_violations,
       ROUND((SELECT COUNT(*) FROM orders
              WHERE o_totalprice IS NULL OR NOT (o_totalprice > 0)) * 1.0 / n_rows, 6)
           AS violation_rate
FROM n
UNION ALL
SELECT 'orderkey_not_null', n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey IS NULL),
       ROUND((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) * 1.0 / n_rows, 6)
FROM n
UNION ALL
SELECT 'status_known', n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P')),
       ROUND((SELECT COUNT(*) FROM orders
              WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P'))
             * 1.0 / n_rows, 6)
FROM n
UNION ALL
SELECT 'orderdate_in_range', n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderdate IS NULL
           OR NOT (o_orderdate >= '1990-01-01' AND o_orderdate < '2030-01-01')),
       ROUND((SELECT COUNT(*) FROM orders
              WHERE o_orderdate IS NULL
                 OR NOT (o_orderdate >= '1990-01-01' AND o_orderdate < '2030-01-01'))
             * 1.0 / n_rows, 6)
FROM n
UNION ALL
SELECT 'custkey_exists', n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       ROUND((SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             * 1.0 / n_rows, 6)
FROM n
"""


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big⋈big join over tables bucketed on the join key: SortMergeJoin
    with NO Exchange on either side (asserted in pytest) — write-once
    shuffle, join-many-times-free. Result is layout-independent, so the
    oracle recomputes it from the raw tables. The tables live in a database
    whose LOCATION is under the scratch root, not in the caller's warehouse."""
    from data_ingestion_pipeline_spark.plans.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    db = f"graft_bucketed_{sf_tag(sf_dir)}"
    loc = scratch_dir(sf_dir, "bucketed_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    lt, ot = f"{db}.b_lineitem", f"{db}.b_orders"
    if not (spark.catalog.tableExists(lt) and spark.catalog.tableExists(ot)):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        write_bucketed(li, lt, buckets=8, keys=["l_orderkey"])
        write_bucketed(orders, ot, buckets=8, keys=["o_orderkey"])
    j = read_bucketed(spark, lt).join(
        read_bucketed(spark, ot),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        dec_sum2(F.col("l_quantity") * F.col("l_extendedprice")).alias("gross_value"),
    )


BUCKETED_COLOCATED_JOIN_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(ROUND(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS gross_value
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def compacted_sorted_orders_table(spark: SparkSession, sf_dir: str) -> ManagedTable:
    """Build a ManagedTable exercising the three layout rewrites: v1 =
    fragmented ingest (64 small files, the shape streaming ingestion
    accretes), v2 = compact() bin-packing to ~target-size files, v3 =
    sorted_overwrite() range-clustering on o_orderdate so parquet footers
    carry disjoint min/max stats. Rebuilt on every call: compact and
    sorted_overwrite are the code under test. Separate so pytest can
    inspect versions and footers."""
    root = scratch_dir(sf_dir, "orders_layout")
    shutil.rmtree(root, ignore_errors=True)
    table = ManagedTable(spark, root, keep_versions=3)
    table.overwrite(load_table(spark, sf_dir, "orders").repartition(64))
    table.compact()
    table.sorted_overwrite(["o_orderdate"], num_files=4)
    return table


def compacted_sorted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range query over the range-clustered current version. The
    pushed-down o_orderdate predicate hits disjoint per-file min/max stats,
    so non-matching files are skipped at row-group level (footer disjointness
    asserted in pytest). The result is layout-independent — the oracle
    recomputes from the raw table; time-travel consistency (the fragmented
    v1 snapshot still readable, same cardinality) is asserted here."""
    table = compacted_sorted_orders_table(spark, sf_dir)
    versions = table.versions()
    assert table.read(versions[0]).count() == table.read().count()
    return (
        table.read()
        .filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy(F.month("o_orderdate").cast("int").alias("order_month"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dec_sum2(F.col("o_totalprice")).alias("total_value"),
        )
    )


COMPACTED_SORTED_ORDERS_ORACLE = """
SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
GROUP BY 1
"""


def catalog_database_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 via the session catalog proper: ``CREATE DATABASE`` (explicit
    LOCATION so the warehouse dir of the caller's session doesn't matter) +
    ``saveAsTable`` + ``spark.table`` read-back — the namespace the
    reference creates in Postgres (``flows/schema_sync.py:33-78``), here as
    a real catalog database complementing ManagedTable's versioned roots.
    Oracle recomputes the aggregate straight from ``part``."""
    db = f"graft_catalog_{sf_tag(sf_dir)}"
    loc = scratch_dir(sf_dir, "catalog_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    # Idempotent across fresh sessions: the in-memory catalog forgets the
    # table but its location directory persists — drop both before the
    # managed-table write or saveAsTable raises LOCATION_ALREADY_EXISTS.
    spark.sql(f"DROP TABLE IF EXISTS {db}.brand_summary")
    shutil.rmtree(os.path.join(loc, "brand_summary"), ignore_errors=True)
    summary = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            dec_sum2(F.col("p_retailprice")).alias("total_retail"),
        )
    )
    summary.write.mode("overwrite").saveAsTable(f"{db}.brand_summary")
    return spark.table(f"{db}.brand_summary")


CATALOG_DATABASE_ROUNDTRIP_ORACLE = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_retail
FROM part GROUP BY p_brand
"""
