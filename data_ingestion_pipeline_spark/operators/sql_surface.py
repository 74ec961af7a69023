"""The Spark-SQL query surface — the reference's psql entry point, rebuilt.

The reference ships its six report queries as SQL text the operator runs in
``psql`` (/root/reference/README.md:26-30, :36-149). Here the same SQL runs
through ``spark.sql`` over the catalog's registered views — one set of
relations resolving for BOTH the DataFrame builders (operators/reports.py)
and SQL text, as SURVEY.md §3 requires. Both routes feed the identical
Catalyst pipeline (parse → analyze → optimize → physical plan), so plan
quality is surface-independent; pytest asserts result identity per query.

Spark-SQL dialect notes vs the reference's Postgres text: EXTRACT exists in
Spark SQL but returns different widths across engines, so the canonical
casts from the DataFrame builders are replicated here verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import reports
from data_ingestion_pipeline_spark.sources.catalog import load_table


# Translation of /root/reference/README.md:36-149 onto the star schema —
# text-identical semantics to operators/reports.py's DataFrame builders.
REPORT_SQL: dict[str, str] = {
    "revenue_per_product": """
        SELECT p_partkey, p_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey, p_name
        ORDER BY total_revenue DESC, p_partkey
    """,
    "low_stock": """
        SELECT p_partkey, p_name, p_brand, p_type, p_size
        FROM part WHERE p_size < 10
        ORDER BY p_size, p_partkey
    """,
    "orders_per_product_month": """
        SELECT p_partkey, p_name,
               CAST(MONTH(l_shipdate) AS INT) AS ship_month,
               CAST(YEAR(l_shipdate) AS INT) AS ship_year,
               SUM(l_quantity) AS total_quantity
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey, p_name, MONTH(l_shipdate), YEAR(l_shipdate)
        ORDER BY ship_year DESC, ship_month DESC, total_quantity DESC, p_partkey
    """,
    "revenue_per_category": """
        SELECT p_brand,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY total_revenue DESC
    """,
    "inventory_status": """
        SELECT p_partkey, p_name,
               CAST(p_size AS DOUBLE) AS current_stock,
               SUM(l_quantity) AS total_sold,
               CAST(p_size AS DOUBLE) - SUM(l_quantity) AS remaining_stock
        FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
        WHERE p_partkey = 1
        GROUP BY p_partkey, p_name, p_size
    """,
    "most_sold_per_category": """
        SELECT p_brand, p_partkey, p_name, SUM(l_quantity) AS total_sold
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey, p_name
        ORDER BY total_sold DESC, p_partkey
    """,
}


def _register(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_report_sql(spark: SparkSession, sf_dir: str, report: str) -> DataFrame:
    """Register the needed views and run one report as SQL text."""
    _register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(REPORT_SQL[report])


def revenue_per_product_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 through the SQL-text surface — registered in the driver contract to
    prove both surfaces stay in lock-step (same oracle as the builder form)."""
    return run_report_sql(spark, sf_dir, "revenue_per_product")


REVENUE_PER_PRODUCT_SQL_ORACLE = reports.REVENUE_PER_PRODUCT_ORACLE


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface: orders whose
    value exceeds their customer's average. Catalyst decorrelates this into
    the aggregate-then-join plan you would write by hand (per-customer AVG,
    broadcast/shuffle join back on o_custkey) — no per-row subquery
    execution survives optimization."""
    _register(spark, sf_dir, ("orders",))
    # The per-customer mean is SUM(decimal)/COUNT, not AVG(double): float-sum
    # accumulation order differs between Spark and the DuckDB oracle, and an
    # order straddling ulps of the 1.5×avg boundary would flip row membership
    # (latent per-round flake). Decimal summation is exact → the comparison
    # operand is bitwise-deterministic on both engines.
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.5 * (
            SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*)
            FROM orders i
            WHERE i.o_custkey = o.o_custkey
        )
        """
    )


ORDERS_ABOVE_CUSTOMER_AVG_ORACLE = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders o
WHERE o_totalprice > 1.5 * (
    SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


# Identical text runs on Spark (spark.sql) AND DuckDB: ANSI WITH RECURSIVE
# with UNION ALL over a strictly-shrinking ancestor chain (anc → anc/10),
# so termination is structural — Spark 4's recursion operator doesn't yet
# support UNION-dedup recursion, which rules out cyclic-graph closures but
# not DAG/chain walks like this one.
_RECURSIVE_HIERARCHY_SQL = """
WITH RECURSIVE chain(orderkey, anc, depth) AS (
    SELECT o_orderkey, o_orderkey, 0 FROM orders
    UNION ALL
    SELECT orderkey, CAST(FLOOR(anc / 10) AS BIGINT), depth + 1
    FROM chain WHERE anc >= 10
),
terminal AS (
    SELECT orderkey, anc AS root_digit, depth AS chain_len
    FROM chain WHERE anc < 10
)
SELECT t.root_digit,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(t.chain_len) AS INT) AS max_chain_len,
       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM terminal t JOIN orders o ON o.o_orderkey = t.orderkey
GROUP BY t.root_digit
"""


def recursive_orderkey_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's UnionLoop operator) walking each order key's
    decimal-digit ancestor chain to its root digit, then aggregating per
    root — the hierarchy-walk shape (org charts, bill-of-materials,
    category trees) that plain SQL could not express before recursion
    landed. The oracle is the SAME recursive text executed by DuckDB, so
    the check certifies Spark's recursion operator itself, not a
    hand-unrolled equivalent. Each iteration shrinks every live row's
    ancestor by 10×, so the loop depth is ⌈log₁₀(max key)⌉ — bounded and
    data-independent of row COUNT: at 100 TB the recursion adds ~7 joins,
    each a shuffle on the (small) live frontier."""
    _register(spark, sf_dir, ("orders",))
    return spark.sql(_RECURSIVE_HIERARCHY_SQL)


RECURSIVE_ORDERKEY_HIERARCHY_ORACLE = _RECURSIVE_HIERARCHY_SQL


def udtf_part_type_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (user-defined TABLE function, Spark 3.5+/4 API) through
    a LATERAL join: one input row fans out to one row per word of p_type
    with its position. This is the set-returning extension point — the
    Spark analog of a Postgres SRF — registered over the dim-sized part
    table. It is deliberately NOT the bulk fan-out path: a UDTF evaluates
    row-at-a-time in Python, so corpus-scale explosion stays on the
    codegen'd posexplode route (doc_tokens_exploded); what this certifies
    is that the extension API itself produces engine-correct rows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="p_partkey bigint, pos int, word string")
    class TypeWords:
        def eval(self, p_partkey, p_type):
            for i, w in enumerate(str(p_type).split()):
                yield (p_partkey, i, w)

    spark.udtf.register("type_words", TypeWords)
    _register(spark, sf_dir, ("part",))
    return spark.sql(
        """
        SELECT t.p_partkey, t.pos, t.word
        FROM part, LATERAL type_words(p_partkey, p_type) t
        """
    )


UDTF_PART_TYPE_WORDS_ORACLE = """
WITH t AS (
    SELECT p_partkey, regexp_split_to_array(p_type, ' ') AS toks FROM part
), fanned AS (
    SELECT p_partkey,
           unnest(list_transform(range(1, len(toks) + 1),
                                 i -> struct_pack(pos := i - 1, word := toks[i]))) AS u
    FROM t
)
SELECT p_partkey, CAST(u.pos AS INT) AS pos, u.word AS word FROM fanned
"""


def parameterized_brand_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-marker API): the text contains
    :brand / :max_size markers and values bind server-side as literals —
    the injection-safe surface the reference's f-string DDL lacked
    (flows/schema_sync.py:48,67-74 builds SQL by interpolation; SURVEY.md
    §4.1). Binding as literals (not strings spliced into text) also keeps
    the plan cacheable by structure and the filter pushdown-eligible."""
    _register(spark, sf_dir, ("part",))
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_brand, p_size
        FROM part WHERE p_brand = :brand AND p_size < :max_size
        """,
        args={"brand": "Brand#3", "max_size": 25},
    )


PARAMETERIZED_BRAND_FILTER_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_size
FROM part WHERE p_brand = 'Brand#3' AND p_size < 25
"""


def pandas_udaf_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a pandas grouped-agg UDF (Series → scalar, the
    Arrow-batched UDAF surface): quantity-weighted mean lineitem price per
    order priority. Accumulation uses ``math.fsum`` (exactly-rounded
    summation), so the result is independent of partition/arrival order —
    the same cross-engine float-parity policy as the decimal-sum
    aggregates (functions/numeric.py), just realized on the Python side.
    """
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wmean(price, qty):
        num = math.fsum((price * qty).tolist())
        den = math.fsum(qty.tolist())
        return num / den if den else None

    _wmean.__annotations__ = {
        "price": pd.Series, "qty": pd.Series, "return": float
    }
    wmean = pandas_udf(_wmean, "double")

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(), so the row count is a (trivial) second
    # pandas aggregate
    def _n(qty):
        return len(qty)

    _n.__annotations__ = {"qty": pd.Series, "return": int}
    n_rows = pandas_udf(_n, "long")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        F.broadcast(orders.select("o_orderkey", "o_orderpriority")),
        li.l_orderkey == orders.o_orderkey,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.round(wmean(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias(
            "weighted_avg_price"
        ),
        n_rows(F.col("l_quantity")).alias("n_lineitems"),
    )


PANDAS_UDAF_PRICE_BY_PRIORITY_ORACLE = """
SELECT o_orderpriority,
       ROUND(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(27,12)))
             / SUM(CAST(l_quantity AS DECIMAL(27,12))), 4)::DOUBLE
           AS weighted_avg_price,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def lateral_topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT — the
    top-N-per-key idiom in its SQL form (the DataFrame form is
    ``relational.top_parts_per_brand``'s window rank). Catalyst plans the
    correlated limit as a partitioned rank, so the execution is the same
    shuffle-on-key + per-key top-N as the window route — no per-customer
    re-scan of orders, unlike a naive nested-loop reading of the syntax.
    Restricted to one segment so the surface stays selective."""
    _register(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


LATERAL_TOPN_ORDERS_PER_CUSTOMER_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_mktsegment = 'BUILDING'
"""


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() indicators — the general form
    behind the CUBE/ROLLUP shorthands already registered
    (``order_status_priority_cube``, ``revenue_rollup_brand_size``): three
    chosen granularities in ONE scan, with grouping flags disambiguating
    data NULLs from subtotal NULLs. Spark evaluates this as a single
    expand + aggregate (rows duplicated per matching set at the agg, not
    at the scan), so the cost is sets×groups, never sets×scan."""
    _register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(
        """
        SELECT p_brand, p_size,
               CAST(GROUPING(p_brand) AS INT) AS g_brand,
               CAST(GROUPING(p_size) AS INT) AS g_size,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY GROUPING SETS ((p_brand, p_size), (p_brand), ())
        """
    )


GROUPING_SETS_REVENUE_ORACLE = """
SELECT p_brand, p_size,
       CAST(GROUPING(p_brand) AS INT) AS g_brand,
       CAST(GROUPING(p_size) AS INT) AS g_size,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY GROUPING SETS ((p_brand, p_size), (p_brand), ())
"""


def session_variable_brand_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE/SET VARIABLE) + EXECUTE
    IMMEDIATE with a bound parameter — the stateful-session scripting
    surface: a variable holds the report target, one statement references
    it unqualified, and a dynamically-composed statement binds it
    positionally. Both routes must agree; the output unions them with a
    route tag so the oracle (plain SQL, twice) checks both."""
    _register(spark, sf_dir, ("part", "lineitem"))
    spark.sql("DECLARE OR REPLACE VARIABLE report_brand STRING")
    spark.sql("SET VARIABLE report_brand = 'Brand#1'")
    direct = spark.sql(
        """
        SELECT 'variable' AS route, p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = report_brand
        GROUP BY p_brand
        """
    )
    dynamic = spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT ''immediate'' AS route, p_brand,
                CAST(COUNT(*) AS BIGINT) AS n_lines,
                CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(18,6))), 2) AS DOUBLE)
                    AS total_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = ? GROUP BY p_brand'
        USING report_brand
        """
    )
    return direct.unionByName(dynamic)


SESSION_VARIABLE_BRAND_REPORT_ORACLE = """
SELECT 'variable' AS route, p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1' GROUP BY p_brand
UNION ALL
SELECT 'immediate', p_brand,
       CAST(COUNT(*) AS BIGINT),
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1' GROUP BY p_brand
"""


def sql_scripting_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END, conf-gated): a script DECLAREs a
    variable, computes it from the data (SET with a scalar subquery),
    branches on an IF, and returns the taken branch's result set — the
    procedural control-flow surface stored procedures cover elsewhere.
    The oracle replays the taken branch closed-form (the data makes the
    predicate true deterministically), so the script's variable binding,
    branch selection, and final SELECT all gate on the hash."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    _register(spark, sf_dir, ("part",))
    return spark.sql(
        """
        BEGIN
          DECLARE lo INT DEFAULT 0;
          SET lo = (SELECT CAST(MIN(p_size) AS INT) FROM part);
          IF (SELECT COUNT(*) FROM part WHERE p_size <= lo + 4) > 0 THEN
            SELECT p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n_small,
                   CAST(MIN(p_size) AS INT) AS min_size,
                   CAST(MAX(p_size) AS INT) AS max_size
            FROM part WHERE p_size <= lo + 4 GROUP BY p_brand;
          ELSE
            SELECT 'none' AS p_brand, CAST(0 AS BIGINT) AS n_small,
                   CAST(0 AS INT) AS min_size, CAST(0 AS INT) AS max_size;
          END IF;
        END
        """
    )


SQL_SCRIPTING_SIZE_REPORT_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_small,
       CAST(MIN(p_size) AS INT) AS min_size,
       CAST(MAX(p_size) AS INT) AS max_size
FROM part
WHERE p_size <= (SELECT MIN(p_size) FROM part) + 4
GROUP BY p_brand
"""


def transpose_priority_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4): the per-priority quantile report
    flipped so metrics are rows and priorities are columns — the
    presentation pivot BI layers ask for. transpose() promotes the first
    column's VALUES to column names driver-side (a bounded dim — the
    documented constraint: you transpose reports, not fact tables); the
    value grid must share one type, so the metric columns are all DOUBLE.
    The oracle rebuilds the same grid with conditional aggregation over
    the fixed priority domain."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    pcts = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p95": 0.95}
    q = o.groupBy("o_orderpriority").agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(p)), 2)
            .cast("double")
            .alias(name)
            for name, p in pcts.items()
        ]
    )
    return q.transpose()


TRANSPOSE_PRIORITY_QUANTILES_ORACLE = """
WITH q AS (
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
           ROUND(quantile_cont(o_totalprice, 0.95), 2) AS p95
    FROM orders GROUP BY o_orderpriority
)
SELECT 'p25' AS key,
       CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN p25 END) AS DOUBLE) AS "1-URGENT",
       CAST(MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN p25 END) AS DOUBLE) AS "2-HIGH",
       CAST(MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN p25 END) AS DOUBLE) AS "3-MEDIUM",
       CAST(MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN p25 END) AS DOUBLE) AS "4-NOT SPECIFIED",
       CAST(MAX(CASE WHEN o_orderpriority = '5-LOW' THEN p25 END) AS DOUBLE) AS "5-LOW"
FROM q
UNION ALL
SELECT 'p50',
       CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN p50 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN p50 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN p50 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN p50 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '5-LOW' THEN p50 END) AS DOUBLE)
FROM q
UNION ALL
SELECT 'p75',
       CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN p75 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN p75 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN p75 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN p75 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '5-LOW' THEN p75 END) AS DOUBLE)
FROM q
UNION ALL
SELECT 'p95',
       CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN p95 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN p95 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN p95 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN p95 END) AS DOUBLE),
       CAST(MAX(CASE WHEN o_orderpriority = '5-LOW' THEN p95 END) AS DOUBLE)
FROM q
"""
