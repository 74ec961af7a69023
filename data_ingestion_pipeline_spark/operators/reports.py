"""The six report queries from the reference, re-expressed as DataFrame plans.

The reference ships these as raw SQL run through psql (reference
``README.md:36-149``); here each is a first-class DataFrame builder over the
benchmark star schema (mapping in FIXTURES.md §2: part = inventories,
lineitem = orders, p_brand = category, l_quantity = quantity,
l_extendedprice*(1-l_discount) = quantity*amount revenue).

Every builder takes ``(spark, sf_dir)`` and returns a lazy DataFrame whose
column names are stable aliases (oracle contract). Scale notes per query in
the docstrings; the common shape is:

  fact scan (column-pruned, filter-pushed) → broadcast join with dim →
  two-phase hash aggregate (map-side partial sum before the shuffle) →
  sort (range exchange) only where the query semantics demand it.

``part`` is dimension-sized relative to ``lineitem`` at every SF, so joins
broadcast it — no shuffle of the fact table at all; the only exchange is the
aggregate's, keyed by the (low-cardinality) group-by columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum2
from data_ingestion_pipeline_spark.sources.catalog import load_table


def _revenue():
    # The reference computes o.quantity * o.amount (reference README.md:46,
    # :101); the star-schema analog is the TPC-H discounted price. Built lazily:
    # classic PySpark Column construction needs an active SparkContext.
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def revenue_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — total revenue per product, highest first.

    Reference: ``README.md:42-55`` (orders ⋈ inventories → SUM(quantity*amount)
    GROUP BY product → ORDER BY revenue DESC).

    Plan: lineitem scans only (l_partkey, l_extendedprice, l_discount);
    part is broadcast; partial sums computed map-side per partkey before the
    single shuffle on the group keys. Survives 100× scale-up: the shuffle
    volume is O(|part|), not O(|lineitem|).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .groupBy("p_partkey", "p_name")
        .agg(dec_sum2(_revenue()).alias("total_revenue"))
        .orderBy(F.col("total_revenue").desc(), F.col("p_partkey").asc())
    )


REVENUE_PER_PRODUCT_ORACLE = """
    SELECT p_partkey, p_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name
    """


def low_stock(spark: SparkSession, sf_dir: str, threshold: int = 10) -> DataFrame:
    """Q2 — items with stock below a threshold, most-depleted first.

    Reference: ``README.md:60-73`` (filter quantity<10, project, sort asc).
    ``p_size`` plays the stock-level role on the star schema.

    Plan: single scan with the predicate pushed to parquet row-group stats
    and only 5 columns read (check: PushedFilters in .explain). No shuffle
    except the final range exchange for the global sort.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size") < F.lit(threshold))
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy(F.col("p_size").asc(), F.col("p_partkey").asc())
    )


LOW_STOCK_ORACLE = """
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part WHERE p_size < 10
    """


def orders_per_product_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — units sold per product per calendar month.

    Reference: ``README.md:78-93`` (join → GROUP BY product, EXTRACT(MONTH),
    EXTRACT(YEAR) → SUM(quantity) → ORDER BY year desc, month desc, total desc).

    Month/year are computed with built-in date expressions (codegen'd,
    JVM-side) and cast to int on both engine and oracle sides — PG EXTRACT
    returns numeric, DuckDB bigint, Spark int (SURVEY.md §2.2 P7).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .groupBy(
            "p_partkey",
            "p_name",
            F.month("l_shipdate").alias("ship_month"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum("l_quantity").alias("total_quantity"))
        .orderBy(
            F.col("ship_year").desc(),
            F.col("ship_month").desc(),
            F.col("total_quantity").desc(),
            F.col("p_partkey").asc(),
        )
    )


ORDERS_PER_PRODUCT_MONTH_ORACLE = """
    SELECT p_partkey, p_name,
           CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS ship_month,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
           SUM(l_quantity) AS total_quantity
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2, 3, 4
    """


def revenue_per_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — revenue per category (p_brand as the category analog).

    Reference: ``README.md:98-110``. Tiny result (one row per brand) — the
    aggregate shuffle carries only |brands| × partitions partial rows thanks
    to map-side combine.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(dec_sum2(_revenue()).alias("total_revenue"))
        .orderBy(F.col("total_revenue").desc())
    )


REVENUE_PER_CATEGORY_ORACLE = """
    SELECT p_brand,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """


def inventory_status(spark: SparkSession, sf_dir: str, product_key: int = 1) -> DataFrame:
    """Q5 — stock remaining for one product after subtracting units sold.

    Reference: ``README.md:115-130`` (inventories ⟕ orders LEFT JOIN,
    filter one product, SUM over possibly-zero matches → NULL-propagating
    subtraction). The left join keeps products with no sales: SUM over no
    rows is NULL and ``remaining_stock`` stays NULL — semantics preserved
    from the reference (PG behaves identically).

    Plan: the literal key filter is applied to BOTH sides before the join —
    the fact scan gets a pushed-down ``l_partkey = k`` parquet predicate
    (row-group skipping, so at 100 TB only matching row groups are read),
    lineitem is pre-aggregated to at most one row *before* the join, and that
    tiny aggregate is broadcast as the build (right) side of the left join.
    Spark cannot broadcast the left/preserved side of a left-outer join, so
    aggregating first is what keeps this join shuffle-free.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = part.filter(F.col("p_partkey") == F.lit(product_key))
    sold = (
        lineitem.filter(F.col("l_partkey") == F.lit(product_key))
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("total_sold"))
    )
    return (
        one.join(F.broadcast(sold), one.p_partkey == sold.l_partkey, "left")
        .select(
            "p_partkey",
            "p_name",
            F.col("p_size").cast("double").alias("current_stock"),
            "total_sold",
            (F.col("p_size").cast("double") - F.col("total_sold")).alias("remaining_stock"),
        )
    )


INVENTORY_STATUS_ORACLE = """
    SELECT p_partkey, p_name,
           CAST(p_size AS DOUBLE) AS current_stock,
           SUM(l_quantity) AS total_sold,
           CAST(p_size AS DOUBLE) - SUM(l_quantity) AS remaining_stock
    FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
    WHERE p_partkey = 1
    GROUP BY p_partkey, p_name, p_size
    """


def most_sold_per_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 — units sold per product, grouped under category, best-sellers first.

    Reference: ``README.md:135-149``.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(F.sum("l_quantity").alias("total_sold"))
        .orderBy(F.col("total_sold").desc(), F.col("p_partkey").asc())
    )


MOST_SOLD_PER_CATEGORY_ORACLE = """
    SELECT p_brand, p_partkey, p_name, SUM(l_quantity) AS total_sold
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, p_partkey, p_name
    """
