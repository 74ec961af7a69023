"""Classic TPC-H query shapes over the synthetic star schema — the
canonical multi-join benchmark suite, adapted to the columns this corpus
ships (no o_shippriority / partsupp; nations are NATION_k). Round 7 laid
down the five most structurally distinct plans (Q1/Q3/Q5/Q8/Q10); the
round-8 completion tier below adds every remaining shape the schema can
express (Q6/Q7/Q14/Q15/Q18 near-verbatim; Q4/Q12/Q16/Q19/Q22 "-shaped"
adaptations whose docstrings state the column substitution).

These are the five most structurally distinct TPC-H plans and together
they exercise exactly the shapes the rest of the ledger's single-purpose
reports don't combine: full-scan multi-aggregate with a pushed range
predicate (Q1), selective dim-filtered fact-fact join + top-k (Q3), a
six-table join closed by an equality constraint BETWEEN two dimensions
(customer nation = supplier nation, Q5), conditional market-share over a
seven-relation join (Q8), and a returned-items top-k customer report
(Q10).

Scale posture (100 TB): every dimension side (region 5, nation 25,
supplier 100, part 2k, filtered customer ≤ dim) broadcasts — the only
shuffles are the orders⋈lineitem fact-fact hash join on l_orderkey and
the final group-by keys; all date/flag/segment predicates sit directly on
scan columns so parquet row-group pruning and min/max skipping do the
heavy lifting before a single join row materializes. Money aggregates use
the repo-wide exact-decimal discipline (order-independent, oracle-equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum
from data_ingestion_pipeline_spark.plans.join_strategies import broadcast_if_small
from data_ingestion_pipeline_spark.sources.catalog import load_table


def _disc_price() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report — per (returnflag, linestatus)
    sums of quantity / base price / discounted price / charge, the three
    averages, and the row count, under a shipdate cutoff.

    The benchmark's scan-throughput yardstick: ONE pass, ONE shuffle of
    six-cell aggregate states over a 6-group key. The cutoff is a plain
    scan predicate (PushedFilters), and only 7 of 11 lineitem columns are
    read. All four money sums are exact decimal; the averages divide the
    decimal sums by the bigint count (double division, both engines)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1999-12-01"))
    )
    charge = _disc_price() * (F.lit(1.0) + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(dec_sum(F.col("l_quantity")), 2).cast("double").alias("sum_qty"),
        F.round(dec_sum(F.col("l_extendedprice")), 2)
        .cast("double")
        .alias("sum_base_price"),
        F.round(dec_sum(_disc_price(), 38, 12), 2)
        .cast("double")
        .alias("sum_disc_price"),
        F.round(dec_sum(charge, 38, 12), 2).cast("double").alias("sum_charge"),
        dec_sum(F.col("l_quantity")).alias("_sq"),
        dec_sum(F.col("l_extendedprice")).alias("_sp"),
        dec_sum(F.col("l_discount"), 18, 12).alias("_sd"),
        F.count("*").cast("bigint").alias("count_order"),
    )
    n = F.col("count_order").cast("double")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("_sq").cast("double") / n, 6).alias("avg_qty"),
        F.round(F.col("_sp").cast("double") / n, 6).alias("avg_price"),
        F.round(F.col("_sd").cast("double") / n, 6).alias("avg_disc"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


TPCH_Q1_PRICING_SUMMARY_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE)
           AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           * (1.0 + l_tax) AS DECIMAL(38,12))), 2) AS DOUBLE)
           AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 unshipped orders by revenue for one market
    segment — orders placed before a date whose lineitems ship after it
    (o_orderpriority stands in for the schema's missing o_shippriority).

    Plan: the BUILDING customer keys broadcast into the orders scan
    (date predicate pushed), the surviving orders hash-join lineitem on
    l_orderkey (the one fact-fact shuffle), and the head is a bounded
    TakeOrdered with deterministic (revenue, date, key) sort keys — never
    a global sort of the aggregate."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    return (
        # size-gated (round-7 verdict ask #4): the segment-filtered customer
        # map grows with the table — hint only while Catalyst's estimate
        # fits the session ceiling, else fall back to a shuffle join
        orders.join(broadcast_if_small(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(dec_sum(_disc_price(), 38, 12), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


TPCH_Q3_SHIPPING_PRIORITY_ORACLE = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue per nation from LOCAL suppliers — lineitems of
    one region's customers' 1996 orders, counted only when the supplier
    sits in the customer's own nation. The structurally interesting bit
    is the closing equality between two dimension attributes
    (c_nationkey = s_nationkey), which no other ledger join has.

    Plan: region→nation→customer reduce to a broadcast key set; orders
    (date-pushed) pick up c_nationkey map-side; the single fact-fact
    shuffle joins lineitem on l_orderkey; supplier (100 rows) broadcasts
    with the two-column (l_suppkey, nationkey) condition closing the
    cycle — so the 'local' constraint costs zero extra shuffles."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    local_cust = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            cust.c_nationkey == nation.n_nationkey,
        )
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        # size-gated: region-filtered customers (ask #4) — see Q3
        orders.join(broadcast_if_small(local_cust), orders.o_custkey == F.col("c_custkey"))
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(dec_sum(_disc_price(), 38, 12), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


TPCH_Q5_LOCAL_SUPPLIER_VOLUME_ORACLE = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_1's share of AMERICA's ECONOMY-part order volume
    per year — the conditional-aggregate-over-seven-relations shape:
    share(year) = Σ(volume where supplier nation = NATION_1) / Σ(volume).

    Plan: part (type-filtered) and supplier⋈nation broadcast into the
    lineitem scan; orders (date-pushed) joins customer⋈nation⋈region
    broadcast-side to keep only AMERICA buyers; the fact-fact l_orderkey
    shuffle is again the only big exchange. Numerator and denominator are
    both exact decimal sums; the share divides them as doubles."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    s_nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    c_nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    america_cust = cust.join(
        F.broadcast(
            c_nation.join(
                F.broadcast(region), c_nation.n_regionkey == region.r_regionkey
            )
        ),
        cust.c_nationkey == c_nation.n_nationkey,
    ).select("c_custkey")
    vol = _disc_price()
    return (
        # size-gated: region-filtered customers (ask #4) — see Q3
        orders.join(
            broadcast_if_small(america_cust), orders.o_custkey == F.col("c_custkey")
        )
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(s_nation), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                dec_sum(
                    F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                        F.lit(0.0)
                    ),
                    38,
                    12,
                ),
                2,
            )
            .cast("double")
            .alias("nation_volume"),
            F.round(dec_sum(vol, 38, 12), 2).cast("double").alias("total_volume"),
            (
                dec_sum(
                    F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                        F.lit(0.0)
                    ),
                    38,
                    12,
                ).cast("double")
                / dec_sum(vol, 38, 12).cast("double")
            ).alias("_share"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            F.round("_share", 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


TPCH_Q8_MARKET_SHARE_ORACLE = """
SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(ROUND(SUM(CAST(CASE WHEN sn.n_name = 'NATION_1'
                                THEN l_extendedprice * (1.0 - l_discount)
                                ELSE 0.0 END AS DECIMAL(38,12))), 2) AS DOUBLE)
           AS nation_volume,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS total_volume,
       ROUND(CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_1'
                                THEN l_extendedprice * (1.0 - l_discount)
                                ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(38,12))) AS DOUBLE), 6) AS mkt_share
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'AMERICA'
  AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY o_year
"""


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: the 20 customers who lost the most revenue to returns
    in one quarter — returned (l_returnflag='R') lineitems of 1997-Q1
    orders, grouped per customer with their nation.

    Plan: quarter-pushed orders shuffle-join lineitem (returnflag pushed
    to the scan) on l_orderkey; the per-customer aggregate then joins
    customer⋈nation broadcast-side AFTER the group-by, so dimension
    payload columns never ride through the fact shuffle. Head = bounded
    TakeOrdered on (revenue desc, custkey)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(dec_sum(_disc_price(), 38, 12), 2)
            .cast("double")
            .alias("revenue")
        )
    )
    dim = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        # size-gated (ask #4): dim here is ALL customers + nation — at a
        # 100x scale-up both sides are O(customers) and the right plan is
        # a shuffle join on custkey, which the gate degrades to
        per_cust.join(broadcast_if_small(dim), per_cust.o_custkey == dim.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


TPCH_Q10_RETURNED_ITEMS_ORACLE = """
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- round-8 completion tier -------------------------------------------------
# The remaining TPC-H shapes this corpus can express. The schema ships no
# partsupp / l_shipmode / l_commitdate / l_receiptdate / c_phone, so queries
# needing them are either expressed verbatim on the columns that exist
# (Q6/Q14/Q15/Q18) or adapted to an available column that preserves the
# STRUCTURAL point of the query ("-shaped" names; each docstring states the
# substitution). Same scale posture as the header note: dims broadcast
# (size-gated when filtered), predicates sit on scan columns, the only
# fact-fact shuffle is orders against lineitem on l_orderkey.


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting revenue change — one scalar aggregate over a
    triple range predicate (shipdate year, discount band, quantity cap).

    The pure predicate-pushdown yardstick: zero joins, zero group-by
    shuffle (scalar agg partials merge in one reduce), and all three
    predicates land in PushedFilters so parquet min/max skipping prunes
    row groups before a single row deserializes. Reads 4 of 11 columns."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 38, 12), 2
        )
        .cast("double")
        .alias("revenue")
    )


TPCH_Q6_FORECAST_REVENUE_ORACLE = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,12))),
                  2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipped between two nations, both directions, per
    shipment year — the two-role-dimension shape: nation joins TWICE (as
    the supplier's and as the customer's), and the interesting predicate
    is the cross-row disjunction over the PAIR of attached attributes.

    Plan: supplier⋈nation (100×25) broadcasts into the lineitem scan and
    customer⋈nation broadcasts (size-gated) into orders, so both nation
    roles attach map-side; the pair disjunction then filters the single
    orders⋈lineitem fact-fact shuffle's output before the 2×2×year
    group-by. Nation names are this corpus's NATION_k."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        # prune to the two probed nations BEFORE the build side ships —
        # 2/25 of suppliers instead of all of them
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    )
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    orders = load_table(spark, sf_dir, "orders")
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        # size-gated like every filtered dimension: the nation-filtered
        # supplier map still grows with the table at scale
        li.join(broadcast_if_small(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust_n), orders.o_custkey == cust_n.c_custkey)
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(dec_sum(_disc_price(), 38, 12), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_VOLUME_SHIPPING_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def tpch_q4_shaped_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (shaped): order-priority distribution of one quarter's
    orders that had at least one LATE-shipping lineitem. The schema has no
    l_commitdate/l_receiptdate, so "late" is l_shipdate > o_orderdate + 30
    days — preserving Q4's structural point: an EXISTS subquery whose
    predicate compares a fact column against the OUTER row's column,
    planned as a left-semi join (each order counted once no matter how
    many lineitems qualify).

    Plan: the quarter predicate pushes into the orders scan; the semi-join
    ships only (l_orderkey, l_shipdate) from lineitem and the non-equi
    late condition rides the equi-join on l_orderkey, so no second shuffle
    and no row multiplication before the 5-group count."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # timestamp + interval, NOT date_add: date_add truncates the order
    # timestamp to a DATE, which would diverge from the oracle's
    # timestamp arithmetic the moment an order date carries a time part
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SHAPED_PRIORITY_CHECK_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def tpch_q12_shaped_priority_by_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 (shaped): per shipping class, how many HIGH-priority vs
    lower-priority orders it carried in one shipment year. The schema has
    no l_shipmode, so l_returnflag plays the mode column — preserving
    Q12's structural point: a fact-fact join whose AGGREGATE is a pair of
    conditional counts over the OTHER table's attribute (the CASE lives on
    orders columns, the group key on lineitem's).

    Plan: shipdate range pushes into the lineitem scan, only (l_orderkey,
    l_returnflag) survive projection pruning, one l_orderkey shuffle joins
    orders, and the two CASE sums fold map-side into 3-group partials."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high.cast("long")).cast("bigint").alias("high_line_count"),
            F.sum((~high).cast("long")).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


TPCH_Q12_SHAPED_PRIORITY_BY_RETURNFLAG_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion effect — PROMO-typed parts' share of one
    month's discounted revenue, as a single percentage. This corpus's
    p_type is already the categorical ('PROMO' literal), so the shape is
    verbatim: conditional-sum / total-sum over a fact⋈dim join.

    Plan: the month predicate pushes into the lineitem scan; part (2k
    rows, 2 columns after pruning) broadcasts; both sums fold in ONE
    aggregate pass (no self-join, no second scan); the final division is
    a driver-side scalar op on the two partials."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(F.lit(0.0))
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dec_sum(promo, 38, 12).alias("_promo"),
            dec_sum(_disc_price(), 38, 12).alias("_total"),
        )
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("_promo").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


TPCH_Q14_PROMO_REVENUE_ORACLE = """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(38,12))
                     ELSE CAST(0.0 AS DECIMAL(38,12)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(38,12))) AS DOUBLE),
             6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) whose one-quarter shipment revenue
    equals the corpus maximum — the correlated-scalar-max shape (the
    benchmark phrases it as a view consumed twice).

    Plan: ONE revenue aggregate (supplier-grain, 100 groups) feeds both
    consumers: its scalar max broadcasts back onto itself as a 1-row
    cross join (no second scan of lineitem, no global sort, no
    single-partition window), and the supplier dim broadcasts for the
    name attach. Ties all surface, per the spec."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(dec_sum(_disc_price(), 38, 12), 2)
        .cast("double")
        .alias("total_revenue")
    )
    # supplier-grain relation is dim-bounded: pin it so the max pass and
    # the equality filter reuse one materialization. localCheckpoint, not
    # persist (round-8 verdict ask #4): RDD-level blocks, GC-reclaimed
    # with the returned DataFrame — no CacheManager entry accumulating
    # across a long-lived library session
    rev = rev.localCheckpoint(eager=False)
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TPCH_Q15_TOP_SUPPLIER_ORACLE = """
WITH revenue AS (
    SELECT l_suppkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(38,12))), 2) AS DOUBLE)
               AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def tpch_q16_shaped_supplier_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (shaped): how many DISTINCT suppliers have shipped each
    (brand, type, size) of part, for a part subset, excluding a
    blacklisted supplier set. The schema has no partsupp, so the
    part–supplier association is the DISTINCT (l_partkey, l_suppkey)
    pairs observed in lineitem; no s_comment either, so the Q16
    'complaints' blacklist becomes negative-acctbal suppliers —
    preserving both structural points: a NOT-IN anti-join feeding a
    COUNT(DISTINCT) over a composite group key.

    Plan: the pair-distinct collapses lineitem to its association grain
    BEFORE any dim attaches (one shuffle on the pair key, the grain
    count-distinct then rides it); the blacklist (dim-bounded) and part
    broadcast; the filtered-part predicate prunes map-side."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    pairs = li.distinct()
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 14, 23, 45, 19, 3, 36, 9)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


TPCH_Q16_SHAPED_SUPPLIER_DIVERSITY_ORACLE = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 14, 23, 45, 19, 3, 36, 9)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def tpch_q18_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18: customers who placed orders totalling > 300 units — the
    HAVING-subquery-feeds-join shape: an order-grain quantity aggregate
    filters the order set, which then re-joins its own lineitems' total
    plus the customer dim, top-100 by order value.

    Plan: the l_orderkey aggregate IS the driving relation (one fact
    shuffle); its >300 filter drops ~97% of orders before the
    broadcast-gated orders/customer attaches; the head is a bounded
    TakeOrdered on (o_totalprice desc, o_orderkey) — never a global
    sort."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(dec_sum(F.col("l_quantity")), 2)
            .cast("double")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 300.0)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


TPCH_Q18_LARGE_VOLUME_CUSTOMERS_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_qty
    FROM lineitem GROUP BY l_orderkey
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE sum_qty > 300.0
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def tpch_q19_shaped_discounted_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 (shaped): revenue from three brand/size/quantity bands —
    the disjunctive-join-predicate shape: the join condition is an
    OR-of-ANDs mixing build-side (p_brand, p_size) and probe-side
    (l_quantity) columns. The schema has no l_shipinstruct/l_shipmode, so
    those residual conjuncts are dropped; the structural point — a
    disjunction that cannot be pushed to either scan alone but must
    evaluate INSIDE the join — is intact.

    Plan: part broadcasts (3 columns after pruning); Spark keeps
    l_partkey = p_partkey as the equi-key and evaluates the disjunction
    as the join residual, so no cartesian anywhere; the common
    l_quantity <= 30 bound (implied by all three bands) pushes to the
    lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 30.0)
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1.0, 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20.0, 30.0)
        )
    )
    return (
        li.join(F.broadcast(part), (li.l_partkey == part.p_partkey) & band)
        .agg(
            F.round(dec_sum(_disc_price(), 38, 12), 2)
            .cast("double")
            .alias("revenue")
        )
    )


TPCH_Q19_SHAPED_DISCOUNTED_REVENUE_ORACLE = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(38,12))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""


def tpch_q22_shaped_dormant_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 (shaped): per nation, the count and combined balance of
    WELL-FUNDED customers who have gone DORMANT. The schema has no
    c_phone country codes, so the nation dim replaces the substring
    bucketing, and 'dormant' = no order since 1999-01-01 (this corpus's
    customers all have SOME order, so Q22's pure not-exists would be
    empty) — preserving both structural points: a scalar-subquery
    threshold (balance above the positive-balance average) AND a
    NOT-EXISTS anti-join against a date-filtered fact subset.

    Plan: the scalar average broadcasts as a 1-row cross join; recent
    orderers collapse to a distinct custkey set BEFORE the anti-join
    (dim-bounded build side, broadcast-gated); nation attaches
    broadcast-side for the 25-group aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # the average is a THRESHOLD: a plain double avg is fold-order-
    # dependent, and a customer within an ulp of it could classify
    # differently per engine — decimal sum / count is bit-identical
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            dec_sum(F.col("c_acctbal")).cast("double")
            / F.count("*").cast("double")
        ).alias("_avg_bal")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01")))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            broadcast_if_small(recent),
            cust.c_custkey == recent.o_custkey,
            "left_anti",
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(dec_sum(F.col("c_acctbal")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("n_name")
    )


TPCH_Q22_SHAPED_DORMANT_CUSTOMERS_ORACLE = """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS totacctbal
FROM customer c JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
                               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
ORDER BY n_name
"""


# --------------------------------------------------------------------------
# Round-9 completion: the last seven classic shapes (Q2/Q9/Q11/Q13/Q17/Q20/
# Q21), each "-shaped" where the schema lacks partsupp / commit-receipt
# dates / comments — the substitution is stated per docstring. With these
# the suite covers all 22 TPC-H query shapes.
# --------------------------------------------------------------------------


def _region_suppliers(
    spark: SparkSession, sf_dir: str, r_name: str, with_nation_name: bool = False
):
    """The supplier dim restricted to one region via the broadcast
    region->nation chain — shared by the round-9 shaped forms
    (Q2/Q11/Q20/Q21) so the chain cannot drift across them (round-9
    review finding; the round-7 Q5/Q8 forms keep their own inlined
    chains because their plans are benched and plan-pinned as written)."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == r_name
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cols = ("n_nationkey", "n_name") if with_nation_name else ("n_nationkey",)
    return load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(*cols)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )


def tpch_q2_shaped_min_cost_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2 (shaped): for each qualifying part, the supplier(s) in one
    region offering it at the minimum cost — the benchmark's correlated
    scalar-min shape. No partsupp: the part-supplier association is the
    observed DISTINCT (l_partkey, l_suppkey) pairs, and ps_supplycost
    becomes the supplier's minimum observed unit price
    MIN(l_extendedprice / l_quantity); '%BRASS' size-15 becomes
    p_type = 'LARGE', p_size in [10, 20]; region fixed to EUROPE.

    Plan: the per-pair cost aggregate shuffles once on the pair key; the
    per-part min is a second aggregate on that (part-bounded) relation
    joined back by (partkey, cost) equality — never a window over the
    fact table; every dimension (region->nation->supplier chain, filtered
    part) broadcasts. Cost equality on doubles is safe: both sides are
    the SAME computed values (min over a finite set re-matched within it,
    reference Q2's own view-twice idiom)."""
    supp = _region_suppliers(spark, sf_dir, "EUROPE", with_nation_name=True)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    li = load_table(spark, sf_dir, "lineitem")
    pair_cost = (
        li.join(
            F.broadcast(supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
        )
    )
    # pair grain is (filtered parts x region suppliers)-bounded: one
    # materialization feeds the per-part min and the equality join-back
    pair_cost = pair_cost.localCheckpoint(eager=False)
    min_cost = pair_cost.groupBy(F.col("l_partkey").alias("_mk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        pair_cost.join(
            min_cost,
            (F.col("l_partkey") == F.col("_mk"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round("cost", 6).cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


TPCH_Q2_SHAPED_MIN_COST_SUPPLIER_ORACLE = """
WITH eligible AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS cost
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    JOIN part ON l_partkey = p_partkey
               AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
    GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(ROUND(cost, 6) AS DOUBLE) AS supply_cost
FROM eligible e
JOIN supplier ON e.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON e.l_partkey = p_partkey
WHERE e.cost = (SELECT MIN(cost) FROM eligible e2
                WHERE e2.l_partkey = e.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def tpch_q9_shaped_product_type_profit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q9 (shaped): profit per (supplier nation, order year) on a
    part-name subset. No partsupp: ps_supplycost*l_quantity becomes the
    deterministic surrogate (0.6 * p_retailprice) * l_quantity; the color
    filter is p_name LIKE '%red%' (this catalog's names are
    color/adjective + noun).

    Plan: the one fact-fact shuffle is orders<->lineitem on l_orderkey;
    the filtered part, supplier, and nation dims broadcast; profit folds
    in exact decimal per (nation, year). The double profit expression is
    written with the same association order on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    profit = (
        _disc_price()
        - (F.lit(0.6) * F.col("p_retailprice")) * F.col("l_quantity")
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.round(dec_sum(profit, 38, 12), 2)
            .cast("double")
            .alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


TPCH_Q9_SHAPED_PRODUCT_TYPE_PROFIT_ORACLE = """
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(ROUND(SUM(CAST(
           (l_extendedprice * (1.0 - l_discount))
           - (0.6 * p_retailprice) * l_quantity
           AS DECIMAL(38,12))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, YEAR(o_orderdate)
ORDER BY nation, o_year DESC
"""


def tpch_q11_shaped_important_stock(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 (shaped): the parts whose shipped value through one
    REGION's suppliers exceeds a global scalar derived from the whole
    relation — the benchmark's global-scalar HAVING shape. No partsupp:
    ps_supplycost * ps_availqty becomes the shipped value
    SUM(l_extendedprice); GERMANY becomes the EUROPE region (this
    catalog's nations are synthetic NATION_k and too thin at sf0.001 —
    one-region suppliers keep every SF non-empty); the spec's
    0.0001/SF fraction-of-total becomes 1.5x the mean part value (the
    catalog's flat synthetic value distribution leaves nothing above a
    fixed fraction of TOTAL at any SF — above-mean concentration is the
    same "important stock" question with a distribution that answers it).

    Plan: ONE filtered fact aggregate (part grain) feeds both consumers;
    the threshold re-aggregates from the part-grain relation (never a
    second fact scan) and broadcasts back as a 1-row cross join."""
    supp = _region_suppliers(spark, sf_dir, "EUROPE")
    li = load_table(spark, sf_dir, "lineitem")
    value = (
        li.join(
            F.broadcast(supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(
            F.round(dec_sum(F.col("l_extendedprice"), 38, 12), 2)
            .cast("double")
            .alias("part_value")
        )
    )
    # part-grain relation is dim-bounded: one materialization serves the
    # total and the threshold filter (GC-reclaimed, round-8 ask #4 style)
    value = value.localCheckpoint(eager=False)
    total = value.agg(
        (
            F.sum(F.col("part_value").cast("decimal(38,6)")).cast("double")
            / F.count("*").cast("double")
            * F.lit(1.5)
        ).alias("_threshold")
    )
    return (
        value.join(F.broadcast(total), F.col("part_value") > F.col("_threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


TPCH_Q11_SHAPED_IMPORTANT_STOCK_ORACLE = """
WITH value AS (
    SELECT l_partkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,12))), 2)
                AS DOUBLE) AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM value
WHERE part_value > (SELECT CAST(SUM(CAST(part_value AS DECIMAL(38,6)))
                                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1.5
                    FROM value)
ORDER BY part_value DESC, l_partkey
"""


def tpch_q13_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13: the distribution of customers by order count, INCLUDING
    zero-order customers — the benchmark's left-outer + double-aggregate
    shape. The o_comment NOT-LIKE exclusion becomes
    o_orderpriority <> '1-URGENT' (no comment column).

    Plan: orders filter is pushed to the scan; the left outer join
    shuffles customer + filtered orders on custkey; the per-customer
    count then the count-of-counts are two cheap aggregates on
    successively tinier grains."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


TPCH_Q13_CUSTOMER_DISTRIBUTION_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def tpch_q17_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17: weekly-equivalent revenue lost if small-quantity orders
    (below 20% of a part's average order quantity) moved to larger ones —
    the per-part correlated-average shape. p_container has no column here,
    so the part subset is p_brand = 'Brand#3' alone.

    Plan: the per-part average aggregates the brand-filtered lineitem
    once at part grain (equivalent to the spec's per-part correlated
    average because l_partkey determines p_brand — the filter prunes
    whole parts, never lines within a part), broadcasts back onto the
    same filtered scan, and the final sum is a single scalar — no
    correlated per-row subquery ever executes."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    )
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    )
    avg_qty = branded.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg(F.col("l_quantity").cast("double"))).alias("_thr")
    )
    return (
        branded.join(F.broadcast(avg_qty), branded.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity").cast("double") < F.col("_thr"))
        .agg(
            (F.round(dec_sum(F.col("l_extendedprice"), 38, 12), 6) / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
        .select(F.round("avg_yearly", 2).alias("avg_yearly"))
    )


TPCH_Q17_SMALL_QUANTITY_REVENUE_ORACLE = """
WITH branded AS (
    SELECT l_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#3'
),
thr AS (
    SELECT l_partkey AS pk,
           0.2 * AVG(CAST(l_quantity AS DOUBLE)) AS t
    FROM branded GROUP BY l_partkey
)
SELECT CAST(ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,12))), 6)
                       AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM branded JOIN thr ON l_partkey = pk
WHERE CAST(l_quantity AS DOUBLE) < t
"""


def tpch_q20_shaped_promotion_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (shaped): suppliers in one nation who DOMINATED the 1997
    shipments of some promoted-color part — the nested-IN shape. No
    partsupp availqty: "has excess stock" becomes "shipped more than half
    of the part's total 1997 volume" (pair quantity > 0.5 * part total),
    the same inner-aggregate-vs-part-aggregate correlation the original
    expresses; the color subset is p_name LIKE 'red%'; CANADA becomes the
    EUROPE region (synthetic NATION_k nations are too thin at sf0.001).

    Plan: the 1997 + red-part filtered fact aggregates once at pair
    grain; the part-grain total derives from THAT relation (no second
    fact scan); the qualifying pair set semi-joins into the supplier dim.
    Everything after the first aggregate is dim-bounded."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    pair_qty = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("pair_qty"))
    )
    pair_qty = pair_qty.localCheckpoint(eager=False)  # feeds part totals + the filter
    part_qty = pair_qty.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("pair_qty").cast("bigint").alias("part_qty")
    )
    dominant = (
        pair_qty.join(part_qty, pair_qty.l_partkey == F.col("_pk"))
        .filter(
            F.col("pair_qty").cast("double")
            > F.lit(0.5) * F.col("part_qty").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = _region_suppliers(spark, sf_dir, "EUROPE")
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
        .orderBy("s_name")
    )


TPCH_Q20_SHAPED_PROMOTION_SUPPLIERS_ORACLE = """
WITH pair_qty AS (
    SELECT l_partkey, l_suppkey,
           CAST(SUM(l_quantity) AS BIGINT) AS pair_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_partkey, l_suppkey
)
SELECT s_name, s_suppkey
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
WHERE s_suppkey IN (
    SELECT l_suppkey FROM pair_qty p
    WHERE CAST(pair_qty AS DOUBLE) > 0.5 * CAST(
        (SELECT SUM(pair_qty) FROM pair_qty p2
         WHERE p2.l_partkey = p.l_partkey) AS DOUBLE)
)
ORDER BY s_name
"""


def tpch_q21_shaped_waiting_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 (shaped): suppliers in one nation who were the ONLY late
    shipper on a finished multi-supplier order — the benchmark's
    EXISTS + NOT-EXISTS double correlation. No commit/receipt dates:
    "late" becomes l_shipdate > o_orderdate + 60 days; SAUDI ARABIA
    becomes the ASIA region (synthetic NATION_k nations are too thin at
    sf0.001).

    Plan: the late flag derives map-side from the orders join each branch
    already needs; the EXISTS branch is a left-semi on (orderkey,
    other-supplier), the NOT-EXISTS a left-anti on (orderkey,
    other-supplier, late) — both against the SAME checkpointed
    order-grain line relation, so the fact scans once; the count shuffles
    only supplier-grain rows."""
    supp = _region_suppliers(spark, sf_dir, "ASIA")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            "l_linenumber",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
        # all three correlation branches read this order-grain relation;
        # checkpoint so the orders<->lineitem join runs once (GC-reclaimed)
        .localCheckpoint(eager=False)
    )
    l1 = lines.filter(F.col("late")).join(
        F.broadcast(supp.select("s_suppkey", "s_name")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    others = lines.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_suppkey").alias("o_supp"),
        F.col("late").alias("o_late"),
    )
    waiting = (
        l1.join(
            others,
            (l1.l_orderkey == others.o_key) & (l1.l_suppkey != others.o_supp),
            "left_semi",
        )
        .join(
            others.filter(F.col("o_late")),
            (F.col("l_orderkey") == others.o_key)
            & (F.col("l_suppkey") != others.o_supp),
            "left_anti",
        )
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


TPCH_Q21_SHAPED_WAITING_SUPPLIERS_ORACLE = """
WITH lines AS (
    SELECT l_orderkey, l_suppkey, l_linenumber,
           l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lines l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
WHERE l1.late
  AND EXISTS (SELECT 1 FROM lines l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lines l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""
