"""Inference & concentration statistics — round-7 additions to the
distributional-stats tier: Wilson score intervals (Wilson 1927, the
binomial CI every conversion dashboard should use instead of the normal
approximation), one-way ANOVA (Fisher's F from group moments), Gini /
Lorenz spend concentration, Cook's distance influence diagnostics
(Cook 1977) on the price~quantity regression, and the Hill tail-index
estimator (Hill 1975) for heavy-tailed order values.

Scale shape shared across the tier: one hash-aggregation pass over the
fact table produces group- or dimension-sized moment tables (exact
decimal power sums, the repo-wide parity discipline); everything after —
closed-form F/CI/φ algebra, ranked heads — runs on bounded relations.
The only unpartitioned windows are over the customer dimension (Gini
ranking, the same documented trade as ``customer_spend_deciles``) or
≤k-row TakeOrdered heads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum, dec_sum2
from data_ingestion_pipeline_spark.sources.catalog import load_table


_Z = 1.96  # 95% two-sided


def _oneway_f(g: DataFrame, stat_name: str) -> DataFrame:
    """One-way F fold over a (group, ng, s1, s2) moment table: assembles
    SSB/SSW from the per-group exact-decimal power sums and publishes
    (k, n, <stat_name>, eta_sq) — shared by ``oneway_anova_event_values``
    (raw values) and ``levene_bf_event_values`` (median deviations), whose
    oracles replay this identical algebra.

    Only the scale-free ratios are published: raw SSB/SSW are ~1e10 with a
    ~1e-4 fp-fold wobble (group-level double fold), so pinning them to a
    rounded hash would flake; F and η² carry the same information at
    1e-14 relative error."""
    ngd = F.col("ng").cast("double")
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("s1").alias("gs1"),
        F.sum(F.col("s1") * F.col("s1") / ngd).alias("sum_sq_means"),
        F.sum(F.col("s2") - F.col("s1") * F.col("s1") / ngd).alias("ssw"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("sum_sq_means") - F.col("gs1") * F.col("gs1") / nd
    fstat = (ssb / (kd - F.lit(1.0))) / (F.col("ssw") / (nd - kd))
    return tot.select(
        "k",
        "n",
        F.round(fstat, 6).alias(stat_name),
        F.round(ssb / (ssb + F.col("ssw")), 6).alias("eta_sq"),
    )


def wilson_ci_purchase_rate_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day purchase-rate with the Wilson score interval: for x
    purchases out of n events, center = (p̂ + z²/2n)/(1 + z²/n) and
    half-width = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n). Unlike the Wald
    interval this never leaves [0, 1] and behaves at p̂ → 0 — the
    correct small-sample daily readout.

    One shuffle (day groupBy); the interval is map-side arithmetic on
    two bigints per day."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("x"),
    )
    n, x = F.col("n").cast("double"), F.col("x").cast("double")
    z2 = F.lit(_Z * _Z)
    p = x / n
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return agg.select(
        "day",
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    ).orderBy("day")


WILSON_CI_PURCHASE_RATE_DAILY_ORACLE = """
WITH agg AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM events GROUP BY 1
)
SELECT day, n, x,
       ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
       ROUND((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
              + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
             - 1.96 * SQRT(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                           * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                           / CAST(n AS DOUBLE)
                           + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
                                       * CAST(n AS DOUBLE)))
               / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_lo,
       ROUND((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
              + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
             + 1.96 * SQRT(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                           * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                           / CAST(n AS DOUBLE)
                           + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)
                                       * CAST(n AS DOUBLE)))
               / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_hi
FROM agg ORDER BY day
"""


def oneway_anova_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types: F = MSB/MSW from
    per-group exact decimal power sums — the parametric k-group
    complement to the registered Mann–Whitney/Welch pair — plus η²
    (between-group variance share), the effect size the F alone hides.

    ONE pass over events (per-type n/Σx/Σx²); SSB/SSW assemble from the
    group-count-sized moment table via ``_oneway_f``. No second scan, no
    windows."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("ng"),
        dec_sum(v, 27, 12).cast("double").alias("s1"),
        dec_sum(v * v, 38, 12).cast("double").alias("s2"),
    )
    return _oneway_f(g, "f_stat")


ONEWAY_ANOVA_EVENT_VALUES_ORACLE = """
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS ng,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(ng) AS BIGINT) AS n,
           SUM(s1) AS gs1,
           SUM(s1 * s1 / CAST(ng AS DOUBLE)) AS sum_sq_means,
           SUM(s2 - s1 * s1 / CAST(ng AS DOUBLE)) AS ssw
    FROM g
)
SELECT k, n,
       ROUND(((sum_sq_means - gs1 * gs1 / CAST(n AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1.0))
             / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat,
       ROUND((sum_sq_means - gs1 * gs1 / CAST(n AS DOUBLE))
             / ((sum_sq_means - gs1 * gs1 / CAST(n AS DOUBLE)) + ssw), 6)
           AS eta_sq
FROM tot
"""


def gini_lorenz_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend concentration across the customer base: decile Lorenz points
    (cumulative spend share of the poorest 10%, 20%, …) plus the Gini
    coefficient G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx) over spend ranked
    ascending — the single number 'top decile owns X%' reports compress.

    The rank window runs over the per-customer AGGREGATE (dimension-sized
    — the same documented trade as ``customer_spend_deciles``; facts
    never sort). Rank-weighted sums stay exact: cents-rounded decimal
    spend × bigint rank sums as DECIMAL(38,2)."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(dec_sum(F.col("o_totalprice")), 2).alias("spend")
    )
    w = Window.orderBy(F.asc("spend"), F.asc("o_custkey"))
    ranked = per_cust.select(
        "o_custkey",
        "spend",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )
    tot = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("spend").alias("total_spend"),
        F.sum(F.col("spend") * F.col("rk")).alias("rank_weighted"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("rank_weighted").cast("double")
        - (nd + F.lit(1.0)) * F.col("total_spend").cast("double")
    ) / (nd * F.col("total_spend").cast("double"))
    per_dec = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("spend").alias("dec_spend"),
    )
    cum_w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_dec.withColumn("cum_spend", F.sum("dec_spend").over(cum_w))
        .crossJoin(F.broadcast(tot.select("total_spend", gini.alias("g"))))
        .select(
            "decile",
            "n_customers",
            F.col("dec_spend").cast("double").alias("decile_spend"),
            F.round(
                F.col("cum_spend").cast("double")
                / F.col("total_spend").cast("double"),
                6,
            ).alias("cum_spend_frac"),
            F.round(F.col("g"), 6).alias("gini"),
        )
        .orderBy("decile")
    )


GINI_LORENZ_CUSTOMER_SPEND_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS spend
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT o_custkey, spend,
           CAST(ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS BIGINT) AS rk,
           CAST(NTILE(10) OVER (ORDER BY spend, o_custkey) AS INT) AS decile
    FROM per_cust
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(spend) AS total_spend,
           SUM(spend * rk) AS rank_weighted
    FROM ranked
), per_dec AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
           SUM(spend) AS dec_spend
    FROM ranked GROUP BY decile
)
SELECT decile, n_customers,
       CAST(dec_spend AS DOUBLE) AS decile_spend,
       ROUND(CAST(SUM(dec_spend) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(total_spend AS DOUBLE), 6) AS cum_spend_frac,
       ROUND((2.0 * CAST(rank_weighted AS DOUBLE)
              - (CAST(n AS DOUBLE) + 1.0) * CAST(total_spend AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(total_spend AS DOUBLE)), 6) AS gini
FROM per_dec CROSS JOIN tot
ORDER BY decile
"""


def cooks_distance_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Influence diagnostics on the lineitem price~quantity OLS fit: the
    20 most influential points by Cook's distance Dᵢ =
    eᵢ²·hᵢ/(p·MSE·(1−hᵢ)²) with leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx —
    the 'which rows move the model' follow-up to the registered
    per-group regression report.

    One exact-decimal moment pass (n, Σx, Σy, Σx², Σxy, Σy²) broadcasts;
    residual, leverage, and D are map-side per row; the head is a
    TakeOrdered over (rounded D desc, keys) — no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    base = li.select(
        "l_orderkey", "l_linenumber", x.alias("x"), y.alias("y")
    )
    m = base.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 27, 6).cast("double").alias("sx"),
        dec_sum(F.col("y"), 27, 6).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("x"), 38, 6).cast("double").alias("sxx"),
        dec_sum(F.col("x") * F.col("y"), 38, 6).cast("double").alias("sxy"),
        dec_sum(F.col("y") * F.col("y"), 38, 6).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / nd
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / nd
    slope = sxy_c / sxx_c
    xbar = F.col("sx") / nd
    ybar = F.col("sy") / nd
    sse = syy_c - slope * sxy_c
    mse = sse / (nd - F.lit(2.0))
    j = base.crossJoin(
        F.broadcast(
            m.select(
                "n",
                slope.alias("b"),
                xbar.alias("xbar"),
                ybar.alias("ybar"),
                sxx_c.alias("sxx_c"),
                mse.alias("mse"),
            )
        )
    )
    e = F.col("y") - (F.col("ybar") + F.col("b") * (F.col("x") - F.col("xbar")))
    h = F.lit(1.0) / F.col("n").cast("double") + (
        (F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar"))
    ) / F.col("sxx_c")
    d = (e * e * h) / (
        F.lit(2.0)
        * F.col("mse")
        * (F.lit(1.0) - h)
        * (F.lit(1.0) - h)
    )
    return (
        j.select(
            "l_orderkey",
            "l_linenumber",
            F.col("x").alias("quantity"),
            F.col("y").alias("price"),
            F.round(h, 8).alias("leverage"),
            F.round(d, 8).alias("cooks_d"),
        )
        .orderBy(
            F.desc("cooks_d"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(20)
    )


COOKS_DISTANCE_PRICE_QUANTITY_ORACLE = """
WITH base AS (
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM base
), d AS (
    SELECT n,
           (sxy - sx * sy / CAST(n AS DOUBLE))
               / (sxx - sx * sx / CAST(n AS DOUBLE)) AS b,
           sx / CAST(n AS DOUBLE) AS xbar,
           sy / CAST(n AS DOUBLE) AS ybar,
           sxx - sx * sx / CAST(n AS DOUBLE) AS sxx_c,
           ((syy - sy * sy / CAST(n AS DOUBLE))
            - ((sxy - sx * sy / CAST(n AS DOUBLE))
               / (sxx - sx * sx / CAST(n AS DOUBLE)))
              * (sxy - sx * sy / CAST(n AS DOUBLE)))
           / (CAST(n AS DOUBLE) - 2.0) AS mse
    FROM m
)
SELECT l_orderkey, l_linenumber, x AS quantity, y AS price,
       ROUND(1.0 / CAST(n AS DOUBLE) + (x - xbar) * (x - xbar) / sxx_c, 8)
           AS leverage,
       ROUND(((y - (ybar + b * (x - xbar))) * (y - (ybar + b * (x - xbar)))
              * (1.0 / CAST(n AS DOUBLE) + (x - xbar) * (x - xbar) / sxx_c))
             / (2.0 * mse
                * (1.0 - (1.0 / CAST(n AS DOUBLE)
                          + (x - xbar) * (x - xbar) / sxx_c))
                * (1.0 - (1.0 / CAST(n AS DOUBLE)
                          + (x - xbar) * (x - xbar) / sxx_c))), 8) AS cooks_d
FROM base CROSS JOIN d
ORDER BY cooks_d DESC, l_orderkey, l_linenumber LIMIT 20
"""


def hill_tail_index_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index of order values over the
    k = 100 largest orders: α̂ = 1/mean(ln(x₍ᵢ₎) − ln(x₍ₖ₊₁₎)) — the
    standard answer to 'how heavy is the revenue tail', the distribution
    question Zipf/Benford reports skirt. Also ships the implied tail
    probability exponent check α̂ > 1 (finite mean).

    The k+1 order statistics come from one TakeOrdered (deterministic
    (value desc, key) sort keys — never a global sort); the estimator is
    an aggregate over those 101 rows."""
    orders = load_table(spark, sf_dir, "orders")
    top = (
        orders.select("o_orderkey", F.col("o_totalprice").cast("double").alias("v"))
        .orderBy(F.desc("v"), F.asc("o_orderkey"))
        .limit(101)
    )
    w = Window.orderBy(F.desc("v"), F.asc("o_orderkey"))
    ranked = top.withColumn("rn", F.row_number().over(w))
    xk = ranked.filter(F.col("rn") == 101).select(
        F.col("v").alias("x_threshold")
    )
    return (
        ranked.filter(F.col("rn") <= 100)
        .crossJoin(F.broadcast(xk))
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.first("x_threshold").alias("x_threshold"),
            F.round(
                F.lit(1.0)
                / F.avg(F.log(F.col("v") / F.col("x_threshold"))),
                6,
            ).alias("hill_alpha"),
        )
        .select(
            "k",
            F.round("x_threshold", 2).alias("x_threshold"),
            "hill_alpha",
            (F.col("hill_alpha") > 1.0).alias("finite_mean"),
        )
    )


HILL_TAIL_INDEX_ORDERS_ORACLE = """
WITH top AS (
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v
    FROM orders ORDER BY v DESC, o_orderkey LIMIT 101
), ranked AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, o_orderkey) AS rn FROM top
), xk AS (
    SELECT v AS x_threshold FROM ranked WHERE rn = 101
)
SELECT CAST(COUNT(*) AS BIGINT) AS k,
       ROUND(MIN(x_threshold), 2) AS x_threshold,
       ROUND(1.0 / AVG(LN(v / x_threshold)), 6) AS hill_alpha,
       ROUND(1.0 / AVG(LN(v / x_threshold)), 6) > 1.0 AS finite_mean
FROM ranked CROSS JOIN xk
WHERE rn <= 100
"""


def tukey_hsd_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons after the one-way ANOVA:
    for every unordered event-type pair, the mean difference and the
    studentized-range statistic q = |x̄ᵢ − x̄ⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ))
    (Tukey–Kramer form for unequal group sizes) — the 'WHICH groups
    differ' follow-up the omnibus F cannot answer.

    Same single moment pass as the ANOVA (per-type n/Σx/Σx² in exact
    decimal); MSW assembles on the k-row moment table, and the pairwise
    self-join runs over k(k−1)/2 rows — bounded by the event-type
    cardinality, never by the fact table."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("ng"),
        dec_sum(v, 27, 12).cast("double").alias("s1"),
        dec_sum(v * v, 38, 12).cast("double").alias("s2"),
    )
    ngd = F.col("ng").cast("double")
    msw = g.agg(
        (
            F.sum(F.col("s2") - F.col("s1") * F.col("s1") / ngd)
            / (F.sum("ng").cast("double") - F.count("*").cast("double"))
        ).alias("msw")
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("ng").alias("na"),
        (F.col("s1") / ngd).alias("mean_a"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("ng").alias("nb"),
        (F.col("s1") / ngd).alias("mean_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).crossJoin(
        F.broadcast(msw)
    )
    diff = F.col("mean_a") - F.col("mean_b")
    se = F.sqrt(
        F.col("msw")
        / F.lit(2.0)
        * (
            F.lit(1.0) / F.col("na").cast("double")
            + F.lit(1.0) / F.col("nb").cast("double")
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        F.round(diff, 6).alias("mean_diff"),
        F.round(F.abs(diff) / se, 6).alias("q_stat"),
    ).orderBy("type_a", "type_b")


TUKEY_HSD_EVENT_VALUES_ORACLE = """
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS ng,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
), msw AS (
    SELECT SUM(s2 - s1 * s1 / CAST(ng AS DOUBLE))
           / (CAST(SUM(ng) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)) AS msw
    FROM g
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.ng AS na, b.ng AS nb,
       ROUND(a.s1 / CAST(a.ng AS DOUBLE) - b.s1 / CAST(b.ng AS DOUBLE), 6)
           AS mean_diff,
       ROUND(ABS(a.s1 / CAST(a.ng AS DOUBLE) - b.s1 / CAST(b.ng AS DOUBLE))
             / SQRT(msw / 2.0 * (1.0 / CAST(a.ng AS DOUBLE)
                                 + 1.0 / CAST(b.ng AS DOUBLE))), 6) AS q_stat
FROM g a JOIN g b ON a.event_type < b.event_type
CROSS JOIN msw
ORDER BY type_a, type_b
"""


def levene_bf_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test of variance
    homogeneity across event types — the robust check of the ANOVA's
    equal-variance assumption: one-way F computed on zᵢⱼ = |xᵢⱼ − medⱼ|.

    Two passes by necessity (the median must exist before the deviations
    do): pass 1 is a per-type exact interpolated median (percentile ==
    DuckDB quantile_cont — bitwise-equal double algebra); the ≤k-row
    median table broadcasts back into pass 2's deviation moment
    aggregation. No windows, no fact-side sort — percentile aggregates
    partial-merge like any other agg."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("ng"),
        dec_sum(F.col("z"), 27, 12).cast("double").alias("s1"),
        dec_sum(F.col("z") * F.col("z"), 38, 12).cast("double").alias("s2"),
    )
    return _oneway_f(g, "bf_f")


LEVENE_BF_EVENT_VALUES_ORACLE = """
WITH ev AS (
    SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
), med AS (
    SELECT event_type, quantile_cont(v, 0.5) AS med FROM ev GROUP BY event_type
), z AS (
    SELECT ev.event_type, ABS(v - med) AS z
    FROM ev JOIN med ON ev.event_type = med.event_type
), g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS ng,
           CAST(SUM(CAST(z AS DECIMAL(27,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(z * z AS DECIMAL(38,12))) AS DOUBLE) AS s2
    FROM z GROUP BY event_type
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(ng) AS BIGINT) AS n,
           SUM(s1) AS gs1,
           SUM(s1 * s1 / CAST(ng AS DOUBLE)) AS sum_sq_means,
           SUM(s2 - s1 * s1 / CAST(ng AS DOUBLE)) AS ssw
    FROM g
)
SELECT k, n,
       ROUND(((sum_sq_means - gs1 * gs1 / CAST(n AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1.0))
             / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS bf_f,
       ROUND((sum_sq_means - gs1 * gs1 / CAST(n AS DOUBLE))
             / ((sum_sq_means - gs1 * gs1 / CAST(n AS DOUBLE)) + ssw), 6)
           AS eta_sq
FROM tot
"""


# ---------------------------------------------------------------------------
# Kaplan–Meier survival over user activity lifetimes
# ---------------------------------------------------------------------------

def kaplan_meier_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve (Kaplan & Meier 1958)
    over user activity LIFETIMES — the retention/churn complement of
    ``kaplan_meier_conversion_events`` (which survives "still not
    purchased" after first view): different event (going inactive vs
    purchasing), different censoring (observation-window edge vs
    never-purchased), and the lifetime definition ``logrank_test_
    retention_arms`` tests between arms. Duration = hour boundaries crossed
    between a user's first and last event (hour grain because the
    synthetic corpus spans ~29 days — day grain would collapse to 2–4
    steps); a user whose last event falls within 1 day of the corpus end
    is right-CENSORED (still alive when observation stopped), otherwise
    their lifetime ended (churn event). S(t) steps down only at event
    times: S(t) = Π_{u≤t} (1 − d_u/n_u) with d_u the churns at duration u
    and n_u the at-risk count (everyone with duration ≥ u). Published per
    event time: t_hours, n_at_risk, d_events, n_censored, survival.

    Plan: one user-grain min/max aggregate (the only data-sized shuffle),
    then everything lives at DURATION grain — bounded by the corpus hour
    span, a documented-bounded relation, so the cumulative windows over
    it are single-partition by construction and O(hours). The product
    folds as exp(Σ ln) with a zero-factor flag so a terminal
    everyone-churns step yields exactly 0.0 on both engines instead of
    ln(0) poison. Hour arithmetic is integer boundary counting on
    date_trunc'd microseconds (no epoch doubles; matches DuckDB's
    datediff('hour') crossing semantics); the survival rounds at 6 after
    one exp/ln round-trip — both libm calls are on bit-identical
    doubles."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t_hours"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t_hours")
        .agg(
            F.sum(F.col("churned").cast("long")).cast("bigint").alias("d_events"),
            F.sum((~F.col("churned")).cast("long"))
            .cast("bigint")
            .alias("n_censored"),
        )
    )
    # duration grain ≤ corpus hour span — bounded, so the unpartitioned
    # ordered windows below are O(hours) by construction
    w = Window.orderBy("t_hours").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t_hours").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(
        F.sum(F.col("d_events") + F.col("n_censored")).alias("n_total")
    )
    curve = (
        grain.join(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum(F.col("d_events") + F.col("n_censored")).over(w),
                    F.lit(0),
                )
            ).cast("bigint"),
        )
        .withColumn(
            "factor",
            F.lit(1.0)
            - F.col("d_events").cast("double") / F.col("n_at_risk").cast("double"),
        )
        .withColumn(
            "ln_sum",
            F.sum(
                F.when(F.col("factor") > 0.0, F.log("factor")).otherwise(F.lit(0.0))
            ).over(wc),
        )
        .withColumn(
            "zero_seen",
            F.sum((F.col("factor") <= 0.0).cast("long")).over(wc),
        )
    )
    return (
        curve.filter(F.col("d_events") > 0)
        .select(
            F.col("t_hours").cast("int"),
            "n_at_risk",
            "d_events",
            "n_censored",
            F.when(F.col("zero_seen") > 0, F.lit(0.0))
            .otherwise(F.round(F.exp("ln_sum"), 6))
            .cast("double")
            .alias("survival"),
        )
    )


KAPLAN_MEIER_USER_RETENTION_ORACLE = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t_hours,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(d_events + n_censored) AS n_total FROM grain),
curve AS (
    SELECT t_hours, d_events, n_censored,
           CAST(n_total - COALESCE(SUM(d_events + n_censored) OVER (
                    ORDER BY t_hours
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_at_risk
    FROM grain CROSS JOIN tot
), folded AS (
    SELECT t_hours, d_events, n_censored, n_at_risk,
           1.0 - CAST(d_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
               AS factor
    FROM curve
), s AS (
    SELECT t_hours, d_events, n_censored, n_at_risk,
           SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
               OVER (ORDER BY t_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ln_sum,
           SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zero_seen
    FROM folded
)
SELECT CAST(t_hours AS INTEGER) AS t_hours, n_at_risk, d_events, n_censored,
       CAST(CASE WHEN zero_seen > 0 THEN 0.0
                 ELSE ROUND(EXP(ln_sum), 6) END AS DOUBLE) AS survival
FROM s
WHERE d_events > 0
"""


def logrank_test_retention_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing the survival of the two md5
    experiment arms — the hypothesis test that belongs to
    ``kaplan_meier_user_retention``'s estimator: at every event time t,
    arm A's expected events under H₀ are E_At = d_t·n_At/n_t; the
    statistic is (Σ(d_At−E_At))²/ΣV_t with the hypergeometric variance
    V_t = d_t·(n_At/n_t)·(1−n_At/n_t)·(n_t−d_t)/(n_t−1). Same lifetime
    and censoring definitions as the KM curve; same md5 arm hash as the
    A/B tier (a survival comparison hashing differently from its
    experiment would be meaningless).

    Plan: one user-grain aggregate, then (duration × arm) grain —
    bounded by hours × 2 — with conditional sums replacing a per-arm
    pivot; cumulative at-risk windows run on the bounded duration grain.
    The n_t = 1 terminal stratum contributes zero variance by the
    (n_t−d_t) factor or the explicit guard, matching the textbook
    convention. Flag decided on the ROUNDED χ²."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t"),
            arm_a.alias("is_a"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t")
        .agg(
            F.sum((F.col("churned") & F.col("is_a")).cast("long")).alias("d_a"),
            F.sum((F.col("churned") & ~F.col("is_a")).cast("long")).alias("d_b"),
            F.sum(F.col("is_a").cast("long")).alias("exit_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("exit_b"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = grain.agg(
        F.sum("exit_a").alias("tot_a"), F.sum("exit_b").alias("tot_b")
    )
    at_risk = (
        grain.join(F.broadcast(tot))
        .withColumn(
            "n_a", F.col("tot_a") - F.coalesce(F.sum("exit_a").over(w), F.lit(0))
        )
        .withColumn(
            "n_b", F.col("tot_b") - F.coalesce(F.sum("exit_b").over(w), F.lit(0))
        )
        .filter((F.col("d_a") + F.col("d_b")) > 0)
    )
    d = (F.col("d_a") + F.col("d_b")).cast("double")
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    na = F.col("n_a").cast("double")
    e_a = d * na / n
    v = F.when(
        n > 1.0,
        d * (na / n) * (F.lit(1.0) - na / n) * (n - d) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    s = at_risk.agg(
        F.sum("d_a").cast("bigint").alias("obs_a"),
        F.sum("d_b").cast("bigint").alias("obs_b"),
        F.sum(e_a).alias("_exp_a"),
        F.sum(v).alias("_var"),
    )
    # zero total variance (no events, or every stratum degenerate) means
    # the test is undefined — report 0 / not-significant, never a 0-division
    chi2 = F.when(
        F.col("_var") > 0.0,
        F.round(
            F.pow(F.col("obs_a").cast("double") - F.col("_exp_a"), 2)
            / F.col("_var"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return s.select(
        "obs_a",
        "obs_b",
        F.round(F.col("_exp_a"), 6).alias("exp_a"),
        chi2.cast("double").alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("significant"),
    )


LOGRANK_TEST_RETENTION_ARMS_ORACLE = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t,
           SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                    AND ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS d_a,
           SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                    AND ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS d_b,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS exit_a,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS exit_b
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(exit_a) AS tot_a, SUM(exit_b) AS tot_b FROM grain),
at_risk AS (
    SELECT t, d_a, d_b,
           tot_a - COALESCE(SUM(exit_a) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_a,
           tot_b - COALESCE(SUM(exit_b) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_b
    FROM grain CROSS JOIN tot
), terms AS (
    SELECT d_a, d_b,
           CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
               / CAST(n_a + n_b AS DOUBLE) AS e_a,
           CASE WHEN n_a + n_b > 1 THEN
               CAST(d_a + d_b AS DOUBLE)
               * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1.0 - CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (CAST(n_a + n_b AS DOUBLE) - CAST(d_a + d_b AS DOUBLE))
               / (CAST(n_a + n_b AS DOUBLE) - 1.0)
           ELSE 0.0 END AS v
    FROM at_risk
    WHERE d_a + d_b > 0
), s AS (
    SELECT CAST(SUM(d_a) AS BIGINT) AS obs_a,
           CAST(SUM(d_b) AS BIGINT) AS obs_b,
           SUM(e_a) AS exp_a_raw, SUM(v) AS var_raw
    FROM terms
)
SELECT obs_a, obs_b,
       CAST(ROUND(exp_a_raw, 6) AS DOUBLE) AS exp_a,
       CAST(CASE WHEN var_raw > 0.0
                 THEN ROUND(POWER(CAST(obs_a AS DOUBLE) - exp_a_raw, 2)
                            / var_raw, 6)
                 ELSE 0.0 END AS DOUBLE) AS chi2,
       CASE WHEN var_raw > 0.0
            THEN ROUND(POWER(CAST(obs_a AS DOUBLE) - exp_a_raw, 2)
                       / var_raw, 6)
            ELSE 0.0 END > 3.841459 AS significant
FROM s
"""


def msprt_always_valid_ab_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid A/B monitoring via the mixture SPRT (Johari et al.
    2017, "Peeking at A/B tests"): per day, the cumulative-to-date mean
    difference of event value between the md5 arms feeds the Gaussian
    mixture likelihood ratio Λ_t = √(V_t/(V_t+τ²)) ·
    exp(τ²·Δ_t²/(2V_t(V_t+τ²))), and the always-valid p-value is the
    running min of 1/Λ capped at 1 — the sequential readout a platform
    can peek at daily without inflating false positives (the fixed-n
    Welch readout ``ab_test_session_value`` cannot).

    Plan: ONE pass builds per-(day, arm) decimal moment partials; every
    cumulative (counts, sums, running min) is a window over the bounded
    day grain. V_t uses the pooled cumulative variance; τ² = 1. Λ and p
    round at 6 — the exp/ln-free algebra keeps both engines on
    bit-identical doubles up to the one exp call."""
    ev = load_table(spark, sf_dir, "events")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    v = F.col("value")
    day = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(arm_a.cast("long")).alias("na_d"),
        F.sum((~arm_a).cast("long")).alias("nb_d"),
        dec_sum(F.when(arm_a, v).otherwise(F.lit(0.0)), 27, 12).alias("sa_d"),
        dec_sum(F.when(~arm_a, v).otherwise(F.lit(0.0)), 27, 12).alias("sb_d"),
        dec_sum(F.when(arm_a, v * v).otherwise(F.lit(0.0)), 38, 12).alias(
            "qa_d"
        ),
        dec_sum(F.when(~arm_a, v * v).otherwise(F.lit(0.0)), 38, 12).alias(
            "qb_d"
        ),
    )
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = day.select(
        "day",
        F.sum("na_d").over(wc).alias("n_a"),
        F.sum("nb_d").over(wc).alias("n_b"),
        F.sum("sa_d").over(wc).cast("double").alias("s_a"),
        F.sum("sb_d").over(wc).cast("double").alias("s_b"),
        F.sum("qa_d").over(wc).cast("double").alias("q_a"),
        F.sum("qb_d").over(wc).cast("double").alias("q_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    delta = F.col("s_b") / nb - F.col("s_a") / na
    pooled_var = (
        (F.col("q_a") - F.col("s_a") * F.col("s_a") / na)
        + (F.col("q_b") - F.col("s_b") * F.col("s_b") / nb)
    ) / (na + nb - F.lit(2.0))
    vt = pooled_var * (F.lit(1.0) / na + F.lit(1.0) / nb)
    tau2 = F.lit(1.0)
    # degenerate-prefix guard: with an empty arm or <3 total observations
    # the variance estimate is undefined — no evidence, so Λ = 1 (p = 1)
    # instead of a 0-division Inf/NaN leaking into the running min
    lam = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (vt > 0.0),
        F.sqrt(vt / (vt + tau2))
        * F.exp(tau2 * delta * delta / (F.lit(2.0) * vt * (vt + tau2))),
    ).otherwise(F.lit(1.0))
    scored = cum.select(
        "day",
        F.col("n_a").cast("bigint"),
        F.col("n_b").cast("bigint"),
        F.when((F.col("n_a") >= 1) & (F.col("n_b") >= 1), F.round(delta, 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("mean_diff"),
        F.round(lam, 6).alias("lambda"),
        F.least(F.lit(1.0), F.lit(1.0) / lam).alias("_inv"),
    )
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return scored.select(
        "day",
        "n_a",
        "n_b",
        "mean_diff",
        "lambda",
        F.round(F.min("_inv").over(wp), 6).alias("p_always_valid"),
    )


MSPRT_ALWAYS_VALID_AB_DAILY_ORACLE = """
WITH day AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS na_d,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS nb_d,
           SUM(CAST(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))
                        ::BIGINT % 2 = 0 THEN value ELSE 0.0 END
                    AS DECIMAL(27,12))) AS sa_d,
           SUM(CAST(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))
                        ::BIGINT % 2 <> 0 THEN value ELSE 0.0 END
                    AS DECIMAL(27,12))) AS sb_d,
           SUM(CAST(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))
                        ::BIGINT % 2 = 0 THEN value * value ELSE 0.0 END
                    AS DECIMAL(38,12))) AS qa_d,
           SUM(CAST(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))
                        ::BIGINT % 2 <> 0 THEN value * value ELSE 0.0 END
                    AS DECIMAL(38,12))) AS qb_d
    FROM events GROUP BY 1
), cum AS (
    SELECT day,
           SUM(na_d) OVER w AS n_a, SUM(nb_d) OVER w AS n_b,
           CAST(SUM(sa_d) OVER w AS DOUBLE) AS s_a,
           CAST(SUM(sb_d) OVER w AS DOUBLE) AS s_b,
           CAST(SUM(qa_d) OVER w AS DOUBLE) AS q_a,
           CAST(SUM(qb_d) OVER w AS DOUBLE) AS q_b
    FROM day
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
), scored AS (
    SELECT day, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a >= 1 AND n_b >= 1
                THEN ROUND(s_b / n_b - s_a / n_a, 6) END AS mean_diff,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND vt > 0.0
                THEN ROUND(SQRT(vt / (vt + 1.0))
                 * EXP((s_b / n_b - s_a / n_a) * (s_b / n_b - s_a / n_a)
                       / (2.0 * vt * (vt + 1.0))), 6)
                ELSE 1.0 END AS lambda,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND vt > 0.0
                THEN LEAST(1.0, 1.0 / (SQRT(vt / (vt + 1.0))
                 * EXP((s_b / n_b - s_a / n_a) * (s_b / n_b - s_a / n_a)
                       / (2.0 * vt * (vt + 1.0)))))
                ELSE 1.0 END AS inv
    FROM (
        SELECT *,
               ((q_a - s_a * s_a / n_a) + (q_b - s_b * s_b / n_b))
                   / (n_a + n_b - 2.0)
                   * (1.0 / n_a + 1.0 / n_b) AS vt
        FROM cum
    )
)
SELECT day, n_a, n_b, mean_diff, lambda,
       ROUND(MIN(inv) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW), 6) AS p_always_valid
FROM scored
"""


def jackknife_ratio_metric_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-USER-out jackknife standard error for a ratio metric
    (value per event) per md5-derived experiment arm — the
    clustered-by-user variance the per-event Welch t silently understates
    when events within a user correlate (the delta-method/jackknife move
    every experimentation platform makes for ratio metrics; Efron 1979 /
    Quenouille). For arm sums Sx, Sy over user totals (x_u, y_u), the
    leave-one-out replicates are R_u = (Sx−x_u)/(Sy−y_u) and
    SE² = (n−1)/n · Σ(R_u − mean R)².

    Scale shape: one hash-aggregation to user grain (the resampling
    unit — this is what makes the jackknife O(users), not O(2ⁿ)), arm
    sums broadcast back (2 rows), replicates and their moments in a
    second bounded aggregate. Exactness: user totals and arm sums are
    decimal folds, every replicate is a ratio of identical doubles, the
    replicate moments fold in decimal, and the variance uses the ONE
    fixed expression (n−1)/n·(ΣR² − (ΣR)²/n) with a GREATEST(·,0) guard —
    the computational form cancels catastrophically in theory but both
    engines cancel IDENTICALLY, and DuckDB's sqrt raises on a tiny
    negative where Spark would return NaN, hence the shared guard.

    Degenerate-arm guard: a single-user arm makes the leave-one-out
    denominator sy−y_u exactly 0 (Spark division → NULL, DuckDB IEEE
    double division → Infinity — the engines DIVERGE), so arms are
    filtered to n_users > 1 in BOTH engines; a jackknife over one
    replicate has no variance to report anyway."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    users = (
        ev.select(arm.alias("arm"), "user_id", "value")
        .groupBy("arm", "user_id")
        .agg(
            dec_sum(F.col("value"), 27, 12).cast("double").alias("x"),
            F.count("*").cast("bigint").alias("y"),
        )
    )
    sums = users.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    j = users.join(F.broadcast(sums), "arm").filter(F.col("n_users") > 1)
    r = (F.col("sx") - F.col("x")) / (F.col("sy") - F.col("y")).cast("double")
    stats = (
        j.select("arm", "n_users", "sx", "sy", r.alias("r"))
        .groupBy("arm", "n_users", "sx", "sy")
        .agg(
            dec_sum(F.col("r"), 27, 15).cast("double").alias("sr"),
            dec_sum(F.col("r") * F.col("r"), 38, 15).cast("double").alias("sr2"),
        )
    )
    n = F.col("n_users").cast("double")
    var = (n - F.lit(1.0)) / n * (F.col("sr2") - F.col("sr") * F.col("sr") / n)
    return stats.select(
        "arm",
        "n_users",
        F.round(F.col("sx") / F.col("sy").cast("double"), 6)
        .cast("double")
        .alias("ratio_metric"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)
        .cast("double")
        .alias("jackknife_se"),
    )


JACKKNIFE_RATIO_METRIC_AB_ORACLE = """
WITH users AS (
    SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))
                     AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           user_id,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
), sums AS (
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy
    FROM users GROUP BY arm
), reps AS (
    SELECT u.arm, s.n_users, s.sx, s.sy,
           (s.sx - u.x) / CAST(s.sy - u.y AS DOUBLE) AS r
    FROM users u JOIN sums s ON u.arm = s.arm
    WHERE s.n_users > 1
), stats AS (
    SELECT arm, n_users, sx, sy,
           CAST(SUM(CAST(r AS DECIMAL(27,15))) AS DOUBLE) AS sr,
           CAST(SUM(CAST(r * r AS DECIMAL(38,15))) AS DOUBLE) AS sr2
    FROM reps GROUP BY arm, n_users, sx, sy
)
SELECT arm, n_users,
       CAST(ROUND(sx / CAST(sy AS DOUBLE), 6) AS DOUBLE) AS ratio_metric,
       CAST(ROUND(SQRT(GREATEST(
           (CAST(n_users AS DOUBLE) - 1.0) / CAST(n_users AS DOUBLE)
           * (sr2 - sr * sr / CAST(n_users AS DOUBLE)), 0.0)), 6) AS DOUBLE)
           AS jackknife_se
FROM stats
"""


def poisson_glm_daily_trend(
    spark: SparkSession, sf_dir: str, n_iters: int = 6
) -> DataFrame:
    """Poisson GLM (log link) of the daily event count on a centered day
    index, fitted by IRLS (Nelder & Wedderburn 1972) — the COUNT-family
    member beside the OLS tier (`regression_price_quantity_by_flag`) and
    the nonparametric trend tests (Mann–Kendall/Theil–Sen): the published
    `exp(β₁)` is the multiplicative daily rate ratio, the quantity a
    growth dashboard actually wants for event volumes where OLS residuals
    are heteroscedastic by construction.

    IRLS with a 2-parameter design solves the weighted normal equations
    in CLOSED FORM per iteration (2×2 inverse — no linear-algebra
    library, fully SQL-replayable): with η = β₀+β₁x rounded at 9,
    μ = round(exp(η), 9), weight w = μ, working response
    z = η + (y−μ)/max(μ, 1e−12), the updates are determinant ratios of
    the five decimal-folded sums (Σw, Σwx, Σwx², Σwz, Σwxz). β re-rounds
    at 9 per iteration (the house iterative contract); init
    β₀ = round(ln ȳ, 9), β₁ = 0. Six iterations are far past convergence
    for a 2-parameter fit (Newton-quadratic; pytest pins agreement with a
    python mirror).

    Scale shape: ONE aggregation pass to the calendar-bounded daily
    grain; every iteration is a crossJoin of that ≤days-row relation with
    the 1-row β and a 5-term fold — corpus work does not depend on
    n_iters. Degenerate designs (singular 2×2, e.g. a 1-day corpus)
    yield NULL βs identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    # centered day index: rn over the bounded daily relation (documented
    # bounded unpartitioned window — calendar grain)
    wd = Window.orderBy("day")
    daily = daily.select(
        "day",
        "y",
        (F.row_number().over(wd) - 1).cast("double").alias("rn0"),
    )
    cnt = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    base = daily.crossJoin(F.broadcast(cnt)).select(
        "y",
        (
            F.col("rn0") - (F.col("n").cast("double") - F.lit(1.0)) / F.lit(2.0)
        ).alias("x"),
        "n",
        "sy",
    ).localCheckpoint(eager=False)  # ≤days rows; feeds every IRLS pass
    dims = base.select("n", "sy").distinct()  # 1 row, reads the pinned base
    beta = dims.select(
        F.round(
            F.log(F.col("sy").cast("double") / F.col("n").cast("double")), 9
        ).alias("b0"),
        F.lit(0.0).alias("b1"),
    )
    for _ in range(n_iters):
        j = base.crossJoin(F.broadcast(beta))
        eta = F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
        mu = F.round(F.exp(eta), 9)
        z = eta + (F.col("y").cast("double") - mu) / F.greatest(
            mu, F.lit(1e-12)
        )
        terms = j.select(
            mu.alias("w"),
            (mu * F.col("x")).alias("wx"),
            (mu * F.col("x") * F.col("x")).alias("wxx"),
            (mu * z).alias("wz"),
            (mu * F.col("x") * z).alias("wxz"),
        )
        sums = terms.agg(
            *[
                F.sum(F.col(c).cast("decimal(38,12)")).cast("double").alias(c)
                for c in ["w", "wx", "wxx", "wz", "wxz"]
            ]
        )
        det = F.col("w") * F.col("wxx") - F.col("wx") * F.col("wx")
        beta = sums.select(
            F.when(
                det > F.lit(0.0),
                F.round(
                    (F.col("wxx") * F.col("wz") - F.col("wx") * F.col("wxz"))
                    / det,
                    9,
                ),
            ).alias("b0"),
            F.when(
                det > F.lit(0.0),
                F.round(
                    (F.col("w") * F.col("wxz") - F.col("wx") * F.col("wz"))
                    / det,
                    9,
                ),
            ).alias("b1"),
        )
    meta = dims.select("n")
    return beta.crossJoin(F.broadcast(meta)).select(
        F.col("n").alias("n_days"),
        F.round("b0", 6).cast("double").alias("beta0"),
        F.round("b1", 6).cast("double").alias("beta1"),
        F.round(
            F.when(F.col("b1").isNotNull(), F.exp(F.col("b1"))), 6
        )
        .cast("double")
        .alias("daily_rate_ratio"),
    )


def _poisson_glm_oracle(n_iters: int = 6) -> str:
    head = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
), cnt AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
    FROM daily
), base AS MATERIALIZED (
    SELECT y,
           CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS DOUBLE)
             - (CAST(n AS DOUBLE) - 1.0) / 2.0 AS x,
           n, sy
    FROM daily CROSS JOIN cnt
), b0 AS (
    SELECT ROUND(ln(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS b0,
           0.0 AS b1
    FROM cnt
)"""
    blocks = []
    for m in range(1, n_iters + 1):
        blocks.append(f"""
, s{m} AS (
    SELECT CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS w,
           CAST(SUM(CAST(wx AS DECIMAL(38,12))) AS DOUBLE) AS wx,
           CAST(SUM(CAST(wxx AS DECIMAL(38,12))) AS DOUBLE) AS wxx,
           CAST(SUM(CAST(wz AS DECIMAL(38,12))) AS DOUBLE) AS wz,
           CAST(SUM(CAST(wxz AS DECIMAL(38,12))) AS DOUBLE) AS wxz
    FROM (
        SELECT mu AS w, mu * x AS wx, mu * x * x AS wxx,
               mu * z AS wz, mu * x * z AS wxz
        FROM (
            SELECT x, mu,
                   eta + (CAST(y AS DOUBLE) - mu) / GREATEST(mu, 1e-12) AS z
            FROM (
                SELECT y, x, eta, ROUND(EXP(eta), 9) AS mu
                FROM (
                    SELECT b.y, b.x, ROUND(p.b0 + p.b1 * b.x, 9) AS eta
                    FROM base b CROSS JOIN b{m-1} p
                )
            )
        )
    )
), b{m} AS (
    SELECT CASE WHEN w * wxx - wx * wx > 0.0
                THEN ROUND((wxx * wz - wx * wxz) / (w * wxx - wx * wx), 9)
           END AS b0,
           CASE WHEN w * wxx - wx * wx > 0.0
                THEN ROUND((w * wxz - wx * wz) / (w * wxx - wx * wx), 9)
           END AS b1
    FROM s{m}
)""")
    return (
        head
        + "".join(blocks)
        + f"""
SELECT n AS n_days,
       CAST(ROUND(b0, 6) AS DOUBLE) AS beta0,
       CAST(ROUND(b1, 6) AS DOUBLE) AS beta1,
       CAST(ROUND(CASE WHEN b1 IS NOT NULL THEN EXP(b1) END, 6) AS DOUBLE)
           AS daily_rate_ratio
FROM b{n_iters} CROSS JOIN cnt
"""
    )


POISSON_GLM_DAILY_TREND_ORACLE = _poisson_glm_oracle()


def mcnemar_weekday_weekend_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes (McNemar 1947): does a
    user's purchase propensity differ between weekdays and weekends, with
    each user serving as their own control — the within-subject design the
    two-sample tests in this module (Welch, Mann–Whitney) cannot express
    because their independence assumption breaks when both samples contain
    the same users. Only the DISCORDANT pairs carry signal:
    b = #users purchasing on weekdays but never weekends,
    c = #users purchasing on weekends but never weekdays,
    χ² = (max(|b−c|−1, 0))² / (b+c) — the Edwards continuity-corrected
    form with the standard clamp so b=c reports 0, not 1.

    Exactness: b, c, n are exact integers from ONE hash-aggregation to
    user grain (two MAX-indicator folds — associative, partition-count
    invariant); χ² and the one-term normal tail bound
    p ≤ 2·exp(−χ²/2) (χ²₁ = Z², P(χ²>x) = 2P(Z>√x) ≤ 2e^{−x/2}) are the
    only floats, one fixed expression in both engines. Weekday parity:
    Spark weekday()+1 == DuckDB isodow (1=Mon..7) — neither engine's
    default DOW origin is trusted. NULL χ² when b+c=0 (no discordant
    users) — identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    is_weekend = (F.weekday("ts") + F.lit(1)) >= 6
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (~is_weekend), 1
            ).otherwise(0)
        ).alias("wd"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & is_weekend, 1
            ).otherwise(0)
        ).alias("we"),
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when((F.col("wd") == 1) & (F.col("we") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("wd_only"),
        F.sum(F.when((F.col("wd") == 0) & (F.col("we") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("we_only"),
    )
    b = F.col("wd_only").cast("double")
    c = F.col("we_only").cast("double")
    g = F.greatest(F.abs(b - c) - F.lit(1.0), F.lit(0.0))
    chi2 = F.when(F.col("wd_only") + F.col("we_only") > 0, g * g / (b + c))
    # explicit NULL gate: least()/LEAST() disagree across engines on NULL
    # inputs (Spark ignores them, older DuckDB propagates), so never let a
    # NULL chi2 reach the least()
    p_bound = F.when(
        chi2.isNotNull(),
        F.least(F.lit(1.0), F.lit(2.0) * F.exp(-chi2 / F.lit(2.0))),
    )
    return s.select(
        "n_users",
        "wd_only",
        "we_only",
        F.round(chi2, 6).cast("double").alias("chi2_cc"),
        F.round(p_bound, 6).cast("double").alias("p_tail_bound"),
    )


MCNEMAR_WEEKDAY_WEEKEND_PURCHASE_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' AND isodow(ts) < 6
                    THEN 1 ELSE 0 END) AS wd,
           MAX(CASE WHEN event_type = 'purchase' AND isodow(ts) >= 6
                    THEN 1 ELSE 0 END) AS we
    FROM events GROUP BY user_id
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN wd = 1 AND we = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS wd_only,
           CAST(SUM(CASE WHEN wd = 0 AND we = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS we_only
    FROM per_user
)
SELECT n_users, wd_only, we_only,
       CAST(ROUND(chi2, 6) AS DOUBLE) AS chi2_cc,
       CAST(ROUND(CASE WHEN chi2 IS NOT NULL
                       THEN LEAST(1.0, 2.0 * EXP(-chi2 / 2.0)) END, 6)
            AS DOUBLE) AS p_tail_bound
FROM (
    SELECT n_users, wd_only, we_only,
           CASE WHEN wd_only + we_only > 0 THEN
               GREATEST(ABS(CAST(wd_only AS DOUBLE)
                            - CAST(we_only AS DOUBLE)) - 1.0, 0.0)
               * GREATEST(ABS(CAST(wd_only AS DOUBLE)
                              - CAST(we_only AS DOUBLE)) - 1.0, 0.0)
               / (CAST(wd_only AS DOUBLE) + CAST(we_only AS DOUBLE))
           END AS chi2
    FROM s
)
"""


def eb_shrunk_purchase_rate_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-user purchase
    rates — the James-Stein-flavored fix for ranking entities with few
    observations: raw rates k/n are pulled toward a beta prior FITTED
    FROM THE CORPUS by method of moments (Robbins 1956's empirical Bayes;
    the standard moment fit α+β = m(1−m)/v − 1, α = m·(α+β)), and each
    user reports (k+α)/(n+α+β). A user with 3 events no longer outranks
    the corpus on a fluke purchase; a user with 90 keeps their own rate.

    Scale shape: one hash-aggregation to user grain, a one-row moment
    aggregate over it (Σp, Σp² decimal folds), the fitted prior broadcast
    back — two bounded passes, output at user grain. Exactness: raw rates
    are bigint-ratio doubles, the moment sums fold in decimal, and every
    derived scalar (m, v, concentration, α) is ONE fixed expression over
    identical doubles; the shrunken rate is a plain double ratio rounded
    at 6. No logarithms anywhere.

    Moment-fit preconditions, guarded IDENTICALLY in both engines: the
    fit needs variance (v > 0 — all-equal rates give a degenerate prior;
    unguarded, Spark division yields NULL where DuckDB yields Infinity)
    and UNDERdispersion (v < m(1−m), the beta-binomial regime — an
    overdispersed corpus makes the concentration negative and shrunk
    rates silently leave the [raw, m] interval). Outside either
    precondition both engines report NULL shrunk rates — an explicit
    "prior unfittable" signal, never a silently wrong shrinkage. The
    fixture corpus satisfies both (pytest asserts c0 > 0)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    up = u.select("user_id", "n", "k", p.alias("p"))
    mom = up.agg(
        F.count("*").cast("bigint").alias("c"),
        dec_sum(F.col("p"), 27, 15).cast("double").alias("sp"),
        dec_sum(F.col("p") * F.col("p"), 38, 15).cast("double").alias("sp2"),
    )
    cD = F.col("c").cast("double")
    m = F.col("sp") / cD
    v = F.col("sp2") / cD - m * m
    conc_raw = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    conc = F.when((v > F.lit(0.0)) & (conc_raw > F.lit(0.0)), conc_raw)
    prior = mom.select(
        m.alias("m"), conc.alias("c0"), (m * conc).alias("alpha")
    )
    out = up.crossJoin(F.broadcast(prior))
    shrunk = (F.col("k").cast("double") + F.col("alpha")) / (
        F.col("n").cast("double") + F.col("c0")
    )
    return out.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("k").alias("n_purchases"),
        F.round(F.col("p"), 6).cast("double").alias("raw_rate"),
        F.round(shrunk, 6).cast("double").alias("shrunk_rate"),
    )


EB_SHRUNK_PURCHASE_RATE_USERS_ORACLE = """
WITH u AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM events GROUP BY user_id
), up AS (
    SELECT user_id, n, k, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM u
), mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(CAST(p AS DECIMAL(27,15))) AS DOUBLE) AS sp,
           CAST(SUM(CAST(p * p AS DECIMAL(38,15))) AS DOUBLE) AS sp2
    FROM up
), prior AS (
    -- v/concentration guards mirror the Spark side: NULL c0 (and NULL
    -- shrunk rates) when the moment fit has no variance or the corpus is
    -- overdispersed, identical in both engines
    SELECT m,
           CASE WHEN v > 0.0 AND m * (1.0 - m) / v - 1.0 > 0.0
                THEN m * (1.0 - m) / v - 1.0 END AS c0
    FROM (
        SELECT sp / CAST(c AS DOUBLE) AS m,
               sp2 / CAST(c AS DOUBLE)
                 - (sp / CAST(c AS DOUBLE)) * (sp / CAST(c AS DOUBLE)) AS v
        FROM mom
    )
)
SELECT user_id, n AS n_events, k AS n_purchases,
       CAST(ROUND(p, 6) AS DOUBLE) AS raw_rate,
       CAST(ROUND((CAST(k AS DOUBLE) + m * c0)
                  / (CAST(n AS DOUBLE) + c0), 6) AS DOUBLE) AS shrunk_rate
FROM up CROSS JOIN prior
"""


def cox_ph_retention_arms(
    spark: SparkSession, sf_dir: str, n_iters: int = 4
) -> DataFrame:
    """Cox proportional-hazards fit (Cox 1972) of churn hazard on the md5
    experiment arm — the EFFECT-SIZE companion to
    ``logrank_test_retention_arms``: the log-rank test says WHETHER the
    arms' survival differs; the Cox partial likelihood says BY HOW MUCH,
    as a hazard ratio exp(β) with a standard error. Same lifetime,
    censoring, and arm-hash definitions as the KM/log-rank tier (a
    hazard ratio hashed differently from its test would be meaningless).

    With a single binary covariate (x=1 ⇔ arm B) and Breslow tie
    handling, the per-event-time risk-set sums collapse to closed form:
    at event time t with n_a/n_b at risk and d_a/d_b events,
    S₀ = n_a + n_b·e^β, S₁ = n_b·e^β, so the Newton score and
    information are U(β) = Σ_t [d_b − d·μ_t] and I(β) = Σ_t d·μ_t(1−μ_t)
    where μ_t = S₁/S₀ — the partial likelihood is concave, so
    β ← β + U/I from β₀ = 0 converges quadratically (4 iterations is far
    past convergence for one parameter; pytest pins a python mirror).

    Scale shape: the corpus-∝ work is ONE user-grain aggregate (the
    log-rank grain builder); the (duration × arm) event-time relation is
    bounded by lifetime hours and pinned once, and every Newton
    iteration is a crossJoin of that bounded relation with the 1-row β
    plus two decimal folds — iteration count never touches the corpus.
    Exactness: the house iterative contract (e^β rounds at 9, β
    re-rounds at 9 per step, folds in DECIMAL(38,12)); a non-positive
    information (no events, or a single-arm corpus) yields NULL β/SE
    identically in both engines. Reference behavior: the survival tier's
    estimator/test pair (README.md queries) extended with the effect
    size every retention experiment actually reports."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t"),
            arm_a.alias("is_a"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t")
        .agg(
            F.sum((F.col("churned") & F.col("is_a")).cast("long")).alias("d_a"),
            F.sum((F.col("churned") & ~F.col("is_a")).cast("long")).alias("d_b"),
            F.sum(F.col("is_a").cast("long")).alias("exit_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("exit_b"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = grain.agg(
        F.sum("exit_a").alias("tot_a"), F.sum("exit_b").alias("tot_b")
    )
    at_risk = (
        grain.join(F.broadcast(tot))
        .withColumn(
            "n_a", F.col("tot_a") - F.coalesce(F.sum("exit_a").over(w), F.lit(0))
        )
        .withColumn(
            "n_b", F.col("tot_b") - F.coalesce(F.sum("exit_b").over(w), F.lit(0))
        )
        .filter((F.col("d_a") + F.col("d_b")) > 0)
        .select("t", "d_a", "d_b", "n_a", "n_b")
        .localCheckpoint(eager=False)  # ≤lifetime-hours rows; feeds every pass
    )

    def _fold(beta: DataFrame) -> DataFrame:
        """One (b, Σu, Σi) fold of the pinned event-time relation at β."""
        j = at_risk.crossJoin(F.broadcast(beta))
        e = F.round(F.exp(F.col("b")), 9)
        mu = (
            F.col("n_b").cast("double")
            * e
            / (F.col("n_a").cast("double") + F.col("n_b").cast("double") * e)
        )
        d = (F.col("d_a") + F.col("d_b")).cast("double")
        u_t = F.col("d_b").cast("double") - d * mu
        i_t = d * mu * (F.lit(1.0) - mu)
        return (
            j.select(F.col("b"), u_t.alias("u"), i_t.alias("i"))
            .groupBy("b")
            .agg(
                F.sum(F.col("u").cast("decimal(38,12)"))
                .cast("double")
                .alias("su"),
                F.sum(F.col("i").cast("decimal(38,12)"))
                .cast("double")
                .alias("si"),
            )
        )

    beta = spark.range(1).select(F.lit(0.0).alias("b"))
    for _ in range(n_iters):
        s = _fold(beta)
        beta = s.select(
            F.when(
                F.col("si") > F.lit(0.0),
                F.round(F.col("b") + F.col("su") / F.col("si"), 9),
            ).alias("b")
        )
    final = _fold(beta)  # information at the converged β, for the SE
    n_events = at_risk.agg(
        F.sum(F.col("d_a") + F.col("d_b")).cast("bigint").alias("n_events")
    )
    se = F.when(F.col("si") > F.lit(0.0), F.lit(1.0) / F.sqrt(F.col("si")))
    z = F.when(F.col("si") > F.lit(0.0), F.col("b") * F.sqrt(F.col("si")))
    return final.crossJoin(F.broadcast(n_events)).select(
        "n_events",
        F.round(F.col("b"), 6).cast("double").alias("log_hazard_ratio"),
        F.round(F.exp(F.col("b")), 6).cast("double").alias("hazard_ratio"),
        F.round(se, 6).cast("double").alias("se"),
        F.round(z, 6).cast("double").alias("z"),
    )


def _cox_ph_oracle(n_iters: int = 4) -> str:
    """Unrolled-iteration replay of ``cox_ph_retention_arms`` — the
    Poisson-GLM oracle pattern over the log-rank oracle's risk-set CTEs:
    each Newton step is one fold of the bounded event-time relation at
    the previous β, with the identical e^β/β round-at-9 contract and
    DECIMAL(38,12) fold."""
    head = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t,
           SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                    AND ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS d_a,
           SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                    AND ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS d_b,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS exit_a,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS exit_b
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(exit_a) AS tot_a, SUM(exit_b) AS tot_b FROM grain),
at_risk AS MATERIALIZED (
    SELECT t, d_a, d_b,
           tot_a - COALESCE(SUM(exit_a) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_a,
           tot_b - COALESCE(SUM(exit_b) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_b
    FROM grain CROSS JOIN tot
), risk AS MATERIALIZED (
    -- event-time filter OUTSIDE the at-risk window CTE: WHERE runs before
    -- window functions, so filtering inside would drop zero-event rows'
    -- exits from the cumulative at-risk counts (the Spark side filters
    -- AFTER its window too)
    SELECT t, d_a, d_b, n_a, n_b FROM at_risk WHERE d_a + d_b > 0
), b0c AS (SELECT 0.0 AS b)"""
    fold = """
, s{m} AS (
    SELECT b,
           CAST(SUM(CAST(d_b - d * mu AS DECIMAL(38,12))) AS DOUBLE) AS su,
           CAST(SUM(CAST(d * mu * (1.0 - mu) AS DECIMAL(38,12))) AS DOUBLE)
               AS si
    FROM (
        SELECT p.b,
               CAST(g.d_b AS DOUBLE) AS d_b,
               CAST(g.d_a + g.d_b AS DOUBLE) AS d,
               CAST(g.n_b AS DOUBLE) * ROUND(EXP(p.b), 9)
                 / (CAST(g.n_a AS DOUBLE)
                    + CAST(g.n_b AS DOUBLE) * ROUND(EXP(p.b), 9)) AS mu
        FROM risk g CROSS JOIN {prev} p
    ) GROUP BY b
)"""
    blocks = []
    prev = "b0c"
    for m in range(1, n_iters + 1):
        blocks.append(fold.format(m=m, prev=prev))
        blocks.append(f"""
, b{m}c AS (
    SELECT CASE WHEN si > 0.0 THEN ROUND(b + su / si, 9) END AS b FROM s{m}
)""")
        prev = f"b{m}c"
    blocks.append(fold.format(m=n_iters + 1, prev=prev))
    return (
        head
        + "".join(blocks)
        + f"""
SELECT CAST(ne.n_events AS BIGINT) AS n_events,
       CAST(ROUND(f.b, 6) AS DOUBLE) AS log_hazard_ratio,
       CAST(ROUND(CASE WHEN f.b IS NOT NULL THEN EXP(f.b) END, 6) AS DOUBLE)
           AS hazard_ratio,
       CAST(ROUND(CASE WHEN f.si > 0.0 THEN 1.0 / SQRT(f.si) END, 6)
            AS DOUBLE) AS se,
       CAST(ROUND(CASE WHEN f.si > 0.0 THEN f.b * SQRT(f.si) END, 6)
            AS DOUBLE) AS z
FROM s{n_iters + 1} f
CROSS JOIN (SELECT SUM(d_a + d_b) AS n_events FROM risk) ne
"""
    )


COX_PH_RETENTION_ARMS_ORACLE = _cox_ph_oracle()


def cmh_test_arm_purchase_by_cohort(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran–Mantel–Haenszel test (Mantel & Haenszel 1959) of the
    arm → conversion association STRATIFIED by each user's first-seen
    (ISO year, ISO week) — the confounder-adjusted sibling of the experimentation
    tier's marginal tests: when assignment imbalance drifts across
    signup cohorts (the srm_check failure mode), the pooled 2×2 test
    confounds cohort with arm, while CMH aggregates per-stratum
    hypergeometric evidence. Unit = user (each user sits in exactly one
    stratum, so strata are independent); exposure = the tier's md5 arm;
    outcome = converted ever. Publishes the continuity-corrected χ²
    (the classic CMH form) and the Mantel–Haenszel pooled odds ratio
    OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ).

    Scale shape: ONE hash-aggregation to user grain, one to the bounded
    (ISO-week) stratum grain, one bounded fold — no windows over facts.
    Exactness: stratum cells are exact bigints; E/V/OR terms are single
    fixed double expressions folded in DECIMAL(38,12); strata with
    n ≤ 1 contribute zero variance (the log-rank guard); zero total
    variance or a zero OR denominator yields NULL identically in both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    # stratum = (ISO year, ISO week) of first-seen ts, packed as one int:
    # a bare weekofyear would collapse same-week cohorts from different
    # years (and late-Dec/early-Jan ISO spillover) into one stratum
    users = ev.groupBy("user_id").agg(
        (
            F.expr("extract(YEAROFWEEK FROM min(ts))") * 100
            + F.weekofyear(F.min("ts"))
        )
        .cast("int")
        .alias("cohort_week"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv"),
    )
    u = users.select(
        "cohort_week", arm_a.alias("is_a"), F.col("conv")
    )
    strata = u.groupBy("cohort_week").agg(
        F.sum((F.col("is_a").cast("long")) * F.col("conv")).cast("bigint").alias("a"),
        F.sum(F.col("is_a").cast("long") * (1 - F.col("conv"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("is_a").cast("long")) * F.col("conv")).cast("bigint").alias("c"),
        F.sum((1 - F.col("is_a").cast("long")) * (1 - F.col("conv"))).cast("bigint").alias("d"),
    )
    n1 = (F.col("a") + F.col("b")).cast("double")  # arm A row total
    n0 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")  # converter col total
    m0 = (F.col("b") + F.col("d")).cast("double")
    nn = n1 + n0
    e_a = n1 * m1 / nn
    v_a = F.when(
        nn > F.lit(1.0),
        n1 * n0 * m1 * m0 / (nn * nn * (nn - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    s = strata.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("obs_a"),
        F.sum(e_a.cast("decimal(38,12)")).cast("double").alias("exp_a"),
        F.sum(v_a.cast("decimal(38,12)")).cast("double").alias("var_a"),
        F.sum(
            (F.col("a").cast("double") * F.col("d").cast("double") / nn)
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("or_num"),
        F.sum(
            (F.col("b").cast("double") * F.col("c").cast("double") / nn)
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("or_den"),
    )
    dev = F.abs(F.col("obs_a").cast("double") - F.col("exp_a"))
    chi2 = F.when(
        F.col("var_a") > F.lit(0.0),
        F.round(
            F.pow(F.greatest(dev - F.lit(0.5), F.lit(0.0)), 2) / F.col("var_a"),
            6,
        ),
    )
    or_mh = F.when(
        F.col("or_den") > F.lit(0.0),
        F.round(F.col("or_num") / F.col("or_den"), 6),
    )
    return s.select(
        "n_strata",
        "obs_a",
        F.round(F.col("exp_a"), 6).cast("double").alias("exp_a"),
        chi2.cast("double").alias("chi2_cmh"),
        or_mh.cast("double").alias("odds_ratio_mh"),
        (F.coalesce(chi2, F.lit(0.0)) > F.lit(3.841459)).alias("significant"),
    )


CMH_TEST_ARM_PURCHASE_BY_COHORT_ORACLE = """
WITH users AS (
    SELECT user_id,
           CAST(isoyear(MIN(ts)) * 100 + weekofyear(MIN(ts)) AS INT)
               AS cohort_week,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
           CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                     % 2 = 0 THEN 1 ELSE 0 END AS is_a
    FROM events GROUP BY user_id
), strata AS (
    SELECT cohort_week,
           CAST(SUM(is_a * conv) AS BIGINT) AS a,
           CAST(SUM(is_a * (1 - conv)) AS BIGINT) AS b,
           CAST(SUM((1 - is_a) * conv) AS BIGINT) AS c,
           CAST(SUM((1 - is_a) * (1 - conv)) AS BIGINT) AS d
    FROM users GROUP BY cohort_week
), terms AS (
    SELECT a,
           CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
             / CAST(a + b + c + d AS DOUBLE) AS e_a,
           CASE WHEN a + b + c + d > 1 THEN
               CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
               * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
               / (CAST(a + b + c + d AS DOUBLE)
                  * CAST(a + b + c + d AS DOUBLE)
                  * (CAST(a + b + c + d AS DOUBLE) - 1.0))
           ELSE 0.0 END AS v_a,
           CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
             / CAST(a + b + c + d AS DOUBLE) AS or_num,
           CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
             / CAST(a + b + c + d AS DOUBLE) AS or_den
    FROM strata
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(a) AS BIGINT) AS obs_a,
           CAST(SUM(CAST(e_a AS DECIMAL(38,12))) AS DOUBLE) AS exp_a,
           CAST(SUM(CAST(v_a AS DECIMAL(38,12))) AS DOUBLE) AS var_a,
           CAST(SUM(CAST(or_num AS DECIMAL(38,12))) AS DOUBLE) AS or_num,
           CAST(SUM(CAST(or_den AS DECIMAL(38,12))) AS DOUBLE) AS or_den
    FROM terms
)
SELECT n_strata, obs_a,
       CAST(ROUND(exp_a, 6) AS DOUBLE) AS exp_a,
       CAST(ROUND(CASE WHEN var_a > 0.0
            THEN POWER(GREATEST(ABS(CAST(obs_a AS DOUBLE) - exp_a) - 0.5,
                                0.0), 2) / var_a END, 6) AS DOUBLE)
           AS chi2_cmh,
       CAST(ROUND(CASE WHEN or_den > 0.0 THEN or_num / or_den END, 6)
            AS DOUBLE) AS odds_ratio_mh,
       COALESCE(CASE WHEN var_a > 0.0
            THEN ROUND(POWER(GREATEST(ABS(CAST(obs_a AS DOUBLE) - exp_a)
                                      - 0.5, 0.0), 2) / var_a, 6) END, 0.0)
           > 3.841459 AS significant
FROM s
"""


def qini_uplift_curve_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini / uplift curve (Radcliffe 2007) of a deterministic targeting
    score evaluated against the md5 experiment arms — the
    targeting-evaluation readout the experimentation tier's average
    effects can't give: rank users by a score (here the observable
    activity proxy: non-purchase event count, ties by user_id), cut into
    ntile deciles, and per cumulative head report the incremental
    conversions Qini(k) = C_t − C_c·N_t/N_c and the cumulative uplift
    C_t/N_t − C_c/N_c. A score that targets persuadables shows early
    Qini lift; a useless score tracks the diagonal.

    Scale shape: ONE hash-aggregation to user grain; the only global
    sort is the decile ntile over that aggregated relation (the
    ``customer_spend_deciles`` documented trade — never over facts);
    cumulatives run on the bounded 10-row decile grain. Exactness: all
    cells are exact bigints; uplift/Qini are single fixed double
    expressions over them, rounded at 6; zero cumulative arm
    populations yield NULL identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    treated = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    users = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") != "purchase").cast("long"))
        .cast("bigint")
        .alias("score"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv"),
    )
    wd = Window.orderBy(F.col("score").desc(), F.col("user_id").asc())
    dec = users.select(
        treated.alias("t"),
        "conv",
        F.ntile(10).over(wd).cast("int").alias("decile"),
    )
    per = dec.groupBy("decile").agg(
        F.sum(F.col("t").cast("long")).cast("bigint").alias("n_t"),
        F.sum((~F.col("t")).cast("long")).cast("bigint").alias("n_c"),
        F.sum(F.col("t").cast("long") * F.col("conv")).cast("bigint").alias("c_t"),
        F.sum((~F.col("t")).cast("long") * F.col("conv")).cast("bigint").alias("c_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "decile",
        "n_t",
        "n_c",
        F.sum("n_t").over(wc).cast("bigint").alias("nt"),
        F.sum("n_c").over(wc).cast("bigint").alias("nc"),
        F.sum("c_t").over(wc).cast("bigint").alias("ct"),
        F.sum("c_c").over(wc).cast("bigint").alias("cc"),
    )
    ntD = F.col("nt").cast("double")
    ncD = F.col("nc").cast("double")
    uplift = F.when(
        (F.col("nt") > 0) & (F.col("nc") > 0),
        F.round(
            F.col("ct").cast("double") / ntD - F.col("cc").cast("double") / ncD,
            6,
        ),
    )
    qini = F.when(
        F.col("nc") > 0,
        F.round(
            F.col("ct").cast("double") - F.col("cc").cast("double") * ntD / ncD,
            6,
        ),
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        F.col("ct").alias("cum_conv_treated"),
        F.col("cc").alias("cum_conv_control"),
        uplift.cast("double").alias("cum_uplift"),
        qini.cast("double").alias("qini"),
    )


QINI_UPLIFT_CURVE_USERS_ORACLE = """
WITH users AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS score,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
           ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2 = 0
               AS t
    FROM events GROUP BY user_id
), dec AS (
    SELECT t, conv,
           CAST(NTILE(10) OVER (ORDER BY score DESC, user_id ASC) AS INT)
               AS decile
    FROM users
), per AS (
    SELECT decile,
           CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(SUM(CASE WHEN t THEN conv ELSE 0 END) AS BIGINT) AS c_t,
           CAST(SUM(CASE WHEN NOT t THEN conv ELSE 0 END) AS BIGINT) AS c_c
    FROM dec GROUP BY decile
), cum AS (
    SELECT decile, n_t, n_c,
           CAST(SUM(n_t) OVER w AS BIGINT) AS nt,
           CAST(SUM(n_c) OVER w AS BIGINT) AS nc,
           CAST(SUM(c_t) OVER w AS BIGINT) AS ct,
           CAST(SUM(c_c) OVER w AS BIGINT) AS cc
    FROM per
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
)
SELECT decile, n_t, n_c,
       ct AS cum_conv_treated,
       cc AS cum_conv_control,
       CAST(ROUND(CASE WHEN nt > 0 AND nc > 0
            THEN CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
                 - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE) END, 6) AS DOUBLE)
           AS cum_uplift,
       CAST(ROUND(CASE WHEN nc > 0
            THEN CAST(ct AS DOUBLE)
                 - CAST(cc AS DOUBLE) * CAST(nt AS DOUBLE)
                   / CAST(nc AS DOUBLE) END, 6) AS DOUBLE) AS qini
FROM cum
"""


def huber_regression_price_quantity(
    spark: SparkSession, sf_dir: str, n_iters: int = 3
) -> DataFrame:
    """Per-returnflag Huber M-estimator regression (Huber 1964) of
    extendedprice on quantity by IRLS — the robust sibling of
    ``regression_price_quantity_by_flag``'s OLS and
    ``cooks_distance_price_quantity``'s influence diagnostics: OLS
    chases the very outliers Cook's distance flags, while Huber's ψ
    downweights residuals past δ = 1.345·(1.4826·MAD) and keeps
    everything inside quadratic. β initializes from the closed-form
    OLS fit; each IRLS step solves the 2×2 weighted normal equations
    in closed form (the Poisson-GLM contract: β re-rounds at 9, folds
    in DECIMAL(38,12), no linear-algebra library, fully
    SQL-replayable). Published per flag: both slopes (OLS vs Huber — 
    the robustness gap IS the finding), the Huber intercept, δ, and the
    share of downweighted rows at the converged fit.

    Scale shape: the per-iteration work is ONE join of the pinned
    3-column fact projection to the ≤|flags|-row broadcast parameter
    map plus one hash-aggregation — n_iters is FIXED at 3 (the house
    bounded-iteration policy; pytest pins a python IRLS mirror and that
    step 4 is a 6dp no-op on the fixture). The scale estimate is two
    exact-percentile passes (the ``robust_outliers_mad`` idiom, med/MAD
    rounded at 6 before use — both engines see bitwise-equal δ); the GK
    sketch is the registered 100 TB quantile path. Degenerate groups
    (zero MAD or singular normal equations) publish NULL fits
    identically in both engines."""
    # Round-11 adjudication (BASELINE.md §r11): the 10-11 s local cost is
    # NOT scan-bound — persist(MEMORY_AND_DISK) of this projection,
    # collect-driven literal params (no joins/broadcasts/checkpoints at
    # all), and double-vs-decimal folds each measured within noise of the
    # shipped shape. The floor is pass count × (per-iteration janino
    # codegen, ~1 s/unique plan since every IRLS step bakes new β
    # literals, + small-data stage overhead) — fixed costs that amortize
    # to nothing against a cluster-scale scan. The persist stays: it
    # spares 6 redundant fact-scans at scale and bench/driver sessions
    # clearCache() per query, so nothing leaks.
    from pyspark import StorageLevel

    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    # fan the 3-column projection BEFORE the persist: the single-file
    # fixture scans as ~3 partitions, so without it every IRLS pass's
    # decimal-fold aggregation (the CPU-dense part — BigDecimal per term
    # past precision 18) runs on 3 of 32 cores. Measured r11: the bare
    # dec38 5-sum pass goes 1.98 s → 0.74 s at 32 partitions; on a real
    # cluster the scan already splits and fan_out is a no-op.
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("y"), 38, 12).cast("double").alias("sxy"),
        dec_sum(F.col("x") * F.col("x"), 38, 12).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    det0 = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    b1_0 = F.round(
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / det0, 9
    )
    # r12: b0 comes from a CHAINED select over the same aggregate (the LAD
    # shape), not a self-join of agg — the join form referenced the corpus
    # OLS fold twice and Spark replays duplicated subtrees per reference
    # (0 ReusedExchange, r11 census). Values identical: b0 uses the same
    # rounded b1.
    ols = agg.select(
        "l_returnflag",
        "n",
        F.when(det0 > F.lit(0.0), b1_0).alias("b1"),
        "sx",
        "sy",
    ).select(
        "l_returnflag",
        "n",
        "b1",
        F.round(
            (F.col("sy") - F.col("b1") * F.col("sx")) / F.col("n").cast("double"),
            9,
        ).alias("b0"),
        # ≤|flags| rows with the corpus OLS fold in the lineage and THREE
        # transitive references (params + med's r0 + mad's r0): pinned
        # EAGER so the fold runs once before the med/MAD branches fan out
    ).localCheckpoint()
    resid = F.col("y") - F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
    r0 = li.join(F.broadcast(ols), "l_returnflag").select(
        "l_returnflag", resid.alias("r")
    )
    med = r0.groupBy("l_returnflag").agg(
        F.round(F.percentile("r", F.lit(0.5)), 6).alias("med")
    )
    mad = (
        r0.join(F.broadcast(med), "l_returnflag")
        .select("l_returnflag", F.abs(F.col("r") - F.col("med")).alias("adev"))
        .groupBy("l_returnflag")
        .agg(F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad"))
    )
    params = (
        ols.join(F.broadcast(mad), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            F.col("b1").alias("ols_slope"),
            "b0",
            "b1",
            F.when(
                F.col("mad") > F.lit(0.0),
                F.round(F.lit(1.345) * F.lit(1.4826) * F.col("mad"), 6),
            ).alias("delta"),
        )
    )

    def _weights(j: DataFrame):
        r = F.col("y") - F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
        w = F.when(F.abs(r) <= F.col("delta"), F.lit(1.0)).otherwise(
            F.col("delta") / F.abs(r)
        )
        return r, w

    for _ in range(n_iters):
        j = li.join(F.broadcast(params), "l_returnflag")
        _, w = _weights(j)
        sums = j.select(
            "l_returnflag",
            "n",
            "ols_slope",
            "delta",
            w.alias("w"),
            (w * F.col("x")).alias("wx"),
            (w * F.col("x") * F.col("x")).alias("wxx"),
            (w * F.col("y")).alias("wy"),
            (w * F.col("x") * F.col("y")).alias("wxy"),
        ).groupBy("l_returnflag", "n", "ols_slope", "delta").agg(
            *[
                F.sum(F.col(c).cast("decimal(38,12)")).cast("double").alias(c)
                for c in ["w", "wx", "wxx", "wy", "wxy"]
            ]
        )
        det = F.col("w") * F.col("wxx") - F.col("wx") * F.col("wx")
        b1n = F.when(
            det > F.lit(0.0),
            F.round(
                (F.col("w") * F.col("wxy") - F.col("wx") * F.col("wy")) / det,
                9,
            ),
        )
        # r12: chained select (the LAD shape) instead of the sums self-join
        # — the join form folded the corpus weighted sums TWICE per
        # iteration (duplicate-subtree replay). Values identical.
        params = sums.select(
            "l_returnflag",
            "n",
            "ols_slope",
            "delta",
            b1n.alias("b1"),
            "w",
            "wx",
            "wy",
        ).select(
            "l_returnflag",
            "n",
            "ols_slope",
            "delta",
            "b1",
            F.round(
                (F.col("wy") - F.col("b1") * F.col("wx")) / F.col("w"), 9
            ).alias("b0"),
        ).localCheckpoint(eager=False)
        # ≤|flags| rows — without the pin, iteration m's plan replays
        # folds 1..m−1 over the corpus (measured 16.8 s → see BASELINE)
    jf = li.join(F.broadcast(params), "l_returnflag")
    _, wf = _weights(jf)
    return (
        jf.select("l_returnflag", "n", "ols_slope", "delta", "b0", "b1",
                  (wf < F.lit(1.0)).cast("long").alias("dw"))
        .groupBy("l_returnflag", "n", "ols_slope", "delta", "b0", "b1")
        .agg(F.sum("dw").cast("bigint").alias("n_dw"))
        .select(
            "l_returnflag",
            "n",
            F.round(F.col("ols_slope"), 6).cast("double").alias("ols_slope"),
            F.round(F.col("b1"), 6).cast("double").alias("huber_slope"),
            F.round(F.col("b0"), 6).cast("double").alias("huber_intercept"),
            F.col("delta").cast("double").alias("delta"),
            F.round(
                F.col("n_dw").cast("double") / F.col("n").cast("double"), 6
            )
            .cast("double")
            .alias("pct_downweighted"),
        )
    )


def _huber_oracle(n_iters: int = 3) -> str:
    head = """
WITH base AS MATERIALIZED (
    SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
), agg AS (
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
    FROM base GROUP BY l_returnflag
), ols AS MATERIALIZED (
    SELECT l_returnflag, n, b1,
           ROUND((sy - b1 * sx) / CAST(n AS DOUBLE), 9) AS b0
    FROM (
        SELECT *,
               CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0
                    THEN ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                               / (CAST(n AS DOUBLE) * sxx - sx * sx), 9)
               END AS b1
        FROM agg
    )
), r0 AS MATERIALIZED (
    SELECT b.l_returnflag,
           b.y - ROUND(o.b0 + o.b1 * b.x, 9) AS r
    FROM base b JOIN ols o ON b.l_returnflag = o.l_returnflag
), med AS (
    SELECT l_returnflag, ROUND(quantile_cont(r, 0.5), 6) AS med
    FROM r0 GROUP BY l_returnflag
), mad AS (
    SELECT d.l_returnflag, ROUND(quantile_cont(d.adev, 0.5), 6) AS mad
    FROM (SELECT r0.l_returnflag, ABS(r0.r - m.med) AS adev
          FROM r0 JOIN med m ON r0.l_returnflag = m.l_returnflag) d
    GROUP BY d.l_returnflag
), p0 AS (
    SELECT o.l_returnflag, o.n, o.b1 AS ols_slope, o.b0, o.b1,
           CASE WHEN m.mad > 0.0
                THEN ROUND(1.345 * 1.4826 * m.mad, 6) END AS delta
    FROM ols o JOIN mad m ON o.l_returnflag = m.l_returnflag
)"""
    fold = """
, s{m} AS (
    SELECT l_returnflag, n, ols_slope, delta,
           CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS w,
           CAST(SUM(CAST(w * x AS DECIMAL(38,12))) AS DOUBLE) AS wx,
           CAST(SUM(CAST(w * x * x AS DECIMAL(38,12))) AS DOUBLE) AS wxx,
           CAST(SUM(CAST(w * y AS DECIMAL(38,12))) AS DOUBLE) AS wy,
           CAST(SUM(CAST(w * x * y AS DECIMAL(38,12))) AS DOUBLE) AS wxy
    FROM (
        SELECT p.l_returnflag, p.n, p.ols_slope, p.delta, b.x, b.y,
               CASE WHEN ABS(b.y - ROUND(p.b0 + p.b1 * b.x, 9)) <= p.delta
                    THEN 1.0
                    ELSE p.delta / ABS(b.y - ROUND(p.b0 + p.b1 * b.x, 9))
               END AS w
        FROM base b JOIN p{prev} p ON b.l_returnflag = p.l_returnflag
    ) GROUP BY l_returnflag, n, ols_slope, delta
), p{m} AS MATERIALIZED (
    SELECT l_returnflag, n, ols_slope, delta, b1,
           ROUND((wy - b1 * wx) / w, 9) AS b0
    FROM (
        SELECT *,
               CASE WHEN w * wxx - wx * wx > 0.0
                    THEN ROUND((w * wxy - wx * wy) / (w * wxx - wx * wx), 9)
               END AS b1
        FROM s{m}
    )
)"""
    blocks = []
    for m in range(1, n_iters + 1):
        blocks.append(fold.format(m=m, prev=m - 1))
    return (
        head
        + "".join(blocks)
        + f"""
SELECT f.l_returnflag, f.n,
       CAST(ROUND(f.ols_slope, 6) AS DOUBLE) AS ols_slope,
       CAST(ROUND(f.b1, 6) AS DOUBLE) AS huber_slope,
       CAST(ROUND(f.b0, 6) AS DOUBLE) AS huber_intercept,
       CAST(f.delta AS DOUBLE) AS delta,
       CAST(ROUND(CAST(SUM(CASE WHEN
            CASE WHEN ABS(b.y - ROUND(f.b0 + f.b1 * b.x, 9)) <= f.delta
                 THEN 1.0
                 ELSE f.delta / ABS(b.y - ROUND(f.b0 + f.b1 * b.x, 9)) END
            < 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(f.n AS DOUBLE), 6) AS DOUBLE) AS pct_downweighted
FROM base b JOIN p{n_iters} f ON b.l_returnflag = f.l_returnflag
GROUP BY f.l_returnflag, f.n, f.ols_slope, f.b1, f.b0, f.delta
"""
    )


HUBER_REGRESSION_PRICE_QUANTITY_ORACLE = _huber_oracle()


def fisher_exact_region_priority_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fisher's EXACT test (Fisher 1935) of EUROPE-region customers vs
    1-URGENT order priority — the small-sample-exact sibling of the
    asymptotic χ²/CMH tier, made to work at data scale: the
    hypergeometric tail needs ln-factorials up to n = |orders|, so the
    ln-factorial table is built as a DISTRIBUTED two-phase prefix sum
    (per-block partitioned cumsum + bounded block-offset scan — never an
    unpartitioned window over a corpus-sized relation), and the support
    sum Σ_{k: P(k) ≤ P(obs)} P(k) runs over the ≤min(row,col)-sized
    support relation with four equi-joins into the table.

    Exactness: each ln rounds at 9 (the house ln9 idiom), prefix sums
    fold in DECIMAL(27,12) (exact, order-free — both engines see
    bitwise-equal lfact values), every ln-probability is ONE fixed ±
    chain over them, the tail-membership comparison happens on
    9-rounded lnp (so the boundary term cannot flip between engines),
    and each exp(lnp) is cut to DECIMAL(38,15) before the tail fold —
    probabilities below 1e-15 vanish identically in both engines.
    Bounded collect: the four 2×2 cells (scalar thresholds, the
    PageRank-n policy) to size the support range."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    j = orders.join(
        F.broadcast(dim.select("c_custkey", "r_name")),
        orders.o_custkey == F.col("c_custkey"),
    )
    eu = (F.col("r_name") == "EUROPE").cast("long")
    ur = (F.col("o_orderpriority") == "1-URGENT").cast("long")
    cells = j.agg(
        F.sum(eu * ur).cast("bigint").alias("a"),
        F.sum(eu * (1 - ur)).cast("bigint").alias("b"),
        F.sum((1 - eu) * ur).cast("bigint").alias("c"),
        F.sum((1 - eu) * (1 - ur)).cast("bigint").alias("d"),
    ).collect()[0]  # bounded collect: 4 scalar cells size the support
    a, b, c, d = cells["a"], cells["b"], cells["c"], cells["d"]
    n, r1, c1 = a + b + c + d, a + b, a + c
    k_lo, k_hi = max(0, r1 + c1 - n), min(r1, c1)

    blk_sz = 65536
    base = spark.range(n + 1).select(
        F.col("id").alias("i"),
        F.when(F.col("id") >= 2, F.round(F.log(F.col("id").cast("double")), 9))
        .otherwise(F.lit(0.0))
        .alias("t"),
        F.floor(F.col("id") / F.lit(blk_sz)).alias("blk"),
    )
    win_in = (
        Window.partitionBy("blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = base.select(
        "i",
        "blk",
        F.sum(F.col("t").cast("decimal(27,12)")).over(win_in).alias("w"),
    )
    woff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    # block count is n/65536 + 1 — a bounded relation for the offset scan
    off = (
        base.groupBy("blk")
        .agg(F.sum(F.col("t").cast("decimal(27,12)")).alias("bt"))
        .select(
            "blk",
            F.coalesce(
                F.sum("bt").over(woff), F.lit(0).cast("decimal(37,12)")
            ).alias("off"),
        )
    )
    lf = (
        within.join(F.broadcast(off), "blk")
        .select("i", (F.col("w") + F.col("off")).cast("double").alias("lf"))
        .localCheckpoint(eager=False)  # five consumers below
    )

    def lf_at(ident: int, name: str) -> DataFrame:
        return lf.filter(F.col("i") == ident).select(F.col("lf").alias(name))

    const = (
        lf_at(r1, "lf_r1")
        .crossJoin(F.broadcast(lf_at(n - r1, "lf_nr1")))
        .crossJoin(F.broadcast(lf_at(c1, "lf_c1")))
        .crossJoin(F.broadcast(lf_at(n - c1, "lf_nc1")))
        .crossJoin(F.broadcast(lf_at(n, "lf_n")))
    )
    ks = spark.range(k_lo, k_hi + 1).select(F.col("id").alias("k"))
    kl = (
        ks.join(lf.select(F.col("i").alias("k"), F.col("lf").alias("lf_k")), "k")
        .join(
            lf.select(
                (F.lit(r1) - F.col("i")).alias("k"), F.col("lf").alias("lf_r1k")
            ),
            "k",
        )
        .join(
            lf.select(
                (F.lit(c1) - F.col("i")).alias("k"), F.col("lf").alias("lf_c1k")
            ),
            "k",
        )
        .join(
            lf.select(
                (F.col("i") - F.lit(n - r1 - c1)).alias("k"),
                F.col("lf").alias("lf_rest"),
            ),
            "k",
        )
        .crossJoin(F.broadcast(const))
    )
    lnp = F.round(
        F.col("lf_r1")
        - F.col("lf_k")
        - F.col("lf_r1k")
        + F.col("lf_nr1")
        - F.col("lf_c1k")
        - F.col("lf_rest")
        + F.col("lf_c1")
        + F.col("lf_nc1")
        - F.col("lf_n"),
        9,
    )
    scored = kl.select("k", lnp.alias("lnp")).localCheckpoint(eager=False)
    obs = scored.filter(F.col("k") == a).select(
        F.col("lnp").alias("lnp_obs")
    )
    tail = (
        scored.crossJoin(F.broadcast(obs))
        .filter(F.col("lnp") <= F.col("lnp_obs"))
        .agg(
            F.round(
                F.sum(F.exp(F.col("lnp")).cast("decimal(38,15)")).cast(
                    "double"
                ),
                9,
            ).alias("p_two_sided")
        )
    )
    or_ = (
        F.round(
            F.lit(float(a)) * F.lit(float(d)) / (F.lit(float(b)) * F.lit(float(c))),
            6,
        )
        if b > 0 and c > 0
        else F.lit(None).cast("double")
    )
    return tail.select(
        F.lit(a).cast("bigint").alias("a"),
        F.lit(b).cast("bigint").alias("b"),
        F.lit(c).cast("bigint").alias("c"),
        F.lit(d).cast("bigint").alias("d"),
        F.col("p_two_sided").cast("double"),
        or_.alias("odds_ratio"),
        # coalesce to false: the oracle's `... IS NOT NULL AND ... < 0.05`
        # yields FALSE (not NULL) when p is NULL, so both engines must
        # agree in the degenerate branch too (unreachable today — the tail
        # sum always includes k=a — but the contract stays symmetric)
        F.coalesce(
            F.col("p_two_sided") < F.lit(0.05), F.lit(False)
        ).alias("significant"),
    )


FISHER_EXACT_REGION_PRIORITY_ORDERS_ORACLE = """
WITH cells AS (
    SELECT CAST(SUM(eu * ur) AS BIGINT) AS a,
           CAST(SUM(eu * (1 - ur)) AS BIGINT) AS b,
           CAST(SUM((1 - eu) * ur) AS BIGINT) AS c,
           CAST(SUM((1 - eu) * (1 - ur)) AS BIGINT) AS d
    FROM (
        SELECT CASE WHEN r.r_name = 'EUROPE' THEN 1 ELSE 0 END AS eu,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS ur
        FROM orders o
        JOIN customer cu ON o.o_custkey = cu.c_custkey
        JOIN nation na ON cu.c_nationkey = na.n_nationkey
        JOIN region r ON na.n_regionkey = r.r_regionkey
    )
), dims AS (
    SELECT a, b, c, d, a + b + c + d AS n, a + b AS r1, a + c AS c1 FROM cells
), dom AS MATERIALIZED (
    -- the 0..n integer domain WITHOUT a table-function subquery (range()
    -- takes constants only): row_number over orders gives 1..n, plus 0
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS i
    FROM orders
    UNION ALL SELECT 0
), lf AS MATERIALIZED (
    SELECT i,
           CAST(SUM(CAST(CASE WHEN i >= 2
                              THEN ROUND(ln(CAST(i AS DOUBLE)), 9)
                              ELSE 0.0 END AS DECIMAL(27,12)))
                OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS DOUBLE) AS lf
    FROM dom
), scored AS MATERIALIZED (
    SELECT k.i AS k,
           ROUND(  fr1.lf - fk.lf - fr1k.lf
                 + fnr1.lf - fc1k.lf - frest.lf
                 + fc1.lf + fnc1.lf - fn.lf, 9) AS lnp
    FROM dom k
    CROSS JOIN dims
    JOIN lf fk ON fk.i = k.i
    JOIN lf fr1k ON fr1k.i = dims.r1 - k.i
    JOIN lf fc1k ON fc1k.i = dims.c1 - k.i
    JOIN lf frest ON frest.i = dims.n - dims.r1 - dims.c1 + k.i
    JOIN lf fr1 ON fr1.i = dims.r1
    JOIN lf fnr1 ON fnr1.i = dims.n - dims.r1
    JOIN lf fc1 ON fc1.i = dims.c1
    JOIN lf fnc1 ON fnc1.i = dims.n - dims.c1
    JOIN lf fn ON fn.i = dims.n
    WHERE k.i >= GREATEST(0, dims.r1 + dims.c1 - dims.n)
      AND k.i <= LEAST(dims.r1, dims.c1)
)
SELECT dims.a, dims.b, dims.c, dims.d,
       CAST(ROUND((SELECT CAST(SUM(CAST(EXP(s.lnp) AS DECIMAL(38,15)))
                               AS DOUBLE)
                   FROM scored s
                   WHERE s.lnp <= (SELECT lnp FROM scored
                                   WHERE k = dims.a)), 9) AS DOUBLE)
           AS p_two_sided,
       CAST(CASE WHEN dims.b > 0 AND dims.c > 0
            THEN ROUND(CAST(dims.a AS DOUBLE) * CAST(dims.d AS DOUBLE)
                       / (CAST(dims.b AS DOUBLE) * CAST(dims.c AS DOUBLE)),
                       6) END AS DOUBLE) AS odds_ratio,
       (SELECT CAST(SUM(CAST(EXP(s.lnp) AS DECIMAL(38,15))) AS DOUBLE)
        FROM scored s
        WHERE s.lnp <= (SELECT lnp FROM scored WHERE k = dims.a))
           IS NOT NULL
       AND ROUND((SELECT CAST(SUM(CAST(EXP(s.lnp) AS DECIMAL(38,15)))
                              AS DOUBLE)
                  FROM scored s
                  WHERE s.lnp <= (SELECT lnp FROM scored
                                  WHERE k = dims.a)), 9) < 0.05
           AS significant
FROM dims
"""


def poisson_dispersion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion test (Fisher 1950's variance test) on the
    daily event counts — the VALIDITY check for the Poisson GLM tier
    (``poisson_glm_daily_trend`` models counts as Poisson; this test
    says whether the equidispersion assumption survives contact with the
    data): D = Σ(y−ȳ)²/ȳ is χ²(n−1) under Poisson, and the dispersion
    ratio D/(n−1) reads directly as the overdispersion factor a
    negative-binomial refit would need. Publishes D, the ratio, and the
    normal-approximation z = √(2D) − √(2(n−1)−1) (Fisher's own
    square-root approximation, good past n≈30).

    Scale shape: ONE aggregation to the calendar-bounded daily grain,
    one bounded fold of exact bigint moments (Σy, Σy² — D's numerator
    expands to Σy² − (Σy)²/n in exact integers over doubles). n < 2
    yields NULL identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nD = F.col("n").cast("double")
    syD = F.col("sy").cast("double")
    mean = syD / nD
    d_stat = (F.col("syy").cast("double") - syD * syD / nD) / mean
    valid = (F.col("n") > 1) & (F.col("sy") > 0)
    z = F.sqrt(F.lit(2.0) * d_stat) - F.sqrt(
        F.lit(2.0) * (nD - F.lit(1.0)) - F.lit(1.0)
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.round(mean, 6).cast("double").alias("mean_daily"),
        F.when(valid, F.round(d_stat, 6)).cast("double").alias("dispersion_d"),
        F.when(valid, F.round(d_stat / (nD - F.lit(1.0)), 6))
        .cast("double")
        .alias("dispersion_ratio"),
        F.when(valid, F.round(z, 6)).cast("double").alias("z"),
        (F.coalesce(F.when(valid, z), F.lit(0.0)) > F.lit(1.644854)).alias(
            "overdispersed"
        ),
    )


POISSON_DISPERSION_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM daily
)
SELECT n AS n_days,
       CAST(ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE)
           AS mean_daily,
       CAST(ROUND(CASE WHEN n > 1 AND sy > 0 THEN
            (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             / CAST(n AS DOUBLE))
            / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) END, 6) AS DOUBLE)
           AS dispersion_d,
       CAST(ROUND(CASE WHEN n > 1 AND sy > 0 THEN
            ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
              / CAST(n AS DOUBLE))
             / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
            / (CAST(n AS DOUBLE) - 1.0) END, 6) AS DOUBLE)
           AS dispersion_ratio,
       CAST(ROUND(CASE WHEN n > 1 AND sy > 0 THEN
            SQRT(2.0 * ((CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
            - SQRT(2.0 * (CAST(n AS DOUBLE) - 1.0) - 1.0) END, 6) AS DOUBLE)
           AS z,
       COALESCE(CASE WHEN n > 1 AND sy > 0 THEN
            SQRT(2.0 * ((CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
            - SQRT(2.0 * (CAST(n AS DOUBLE) - 1.0) - 1.0) END, 0.0)
           > 1.644854 AS overdispersed
FROM s
"""


def nelson_aalen_hazard_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator (Nelson 1972, Aalen 1978)
    over the retention lifetimes — the fourth member of the survival
    quartet (KM estimates survival, log-rank tests it, Cox sizes it;
    Nelson–Aalen estimates the cumulative HAZARD Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ,
    the quantity whose slope is the instantaneous churn rate and whose
    exp(−Ĥ) is the Fleming–Harrington survival alternative). Same
    lifetime/censoring definitions and (duration × arm)-free grain as
    the KM curve; variance by the standard Σ dᵢ/nᵢ² (Klein & Moeschberger
    form without tie correction, stated in the oracle too).

    Scale shape: the log-rank grain builder (one user-grain aggregate,
    cumulative at-risk windows on the bounded duration grain); the
    cumulative hazard is one more window over that bounded relation.
    Exactness: dᵢ/nᵢ are exact bigint ratios; the cumulative sums fold
    in DECIMAL(38,15)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.col("churned").cast("long")).cast("bigint").alias("d"),
            F.count("*").cast("bigint").alias("exits"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = grain.agg(F.sum("exits").cast("bigint").alias("n_tot"))
    at_risk = (
        grain.join(F.broadcast(tot))
        .withColumn(
            "n", F.col("n_tot") - F.coalesce(F.sum("exits").over(w), F.lit(0))
        )
        .filter(F.col("d") > 0)
    )
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    h_term = F.col("d").cast("double") / F.col("n").cast("double")
    v_term = F.col("d").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return at_risk.select(
        "t",
        "d",
        "n",
        F.round(
            F.sum(h_term.cast("decimal(38,15)")).over(wc).cast("double"), 6
        )
        .cast("double")
        .alias("cum_hazard"),
        F.round(
            F.sum(v_term.cast("decimal(38,15)")).over(wc).cast("double"), 6
        )
        .cast("double")
        .alias("hazard_var"),
    )


NELSON_AALEN_HAZARD_RETENTION_ORACLE = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS exits
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT CAST(SUM(exits) AS BIGINT) AS n_tot FROM grain),
at_risk AS (
    SELECT t, d,
           n_tot - COALESCE(SUM(exits) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n
    FROM grain CROSS JOIN tot
)
SELECT t, d, CAST(n AS BIGINT) AS n,
       CAST(ROUND(CAST(SUM(CAST(CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
                                AS DECIMAL(38,15)))
                       OVER wc AS DOUBLE), 6) AS DOUBLE) AS cum_hazard,
       CAST(ROUND(CAST(SUM(CAST(CAST(d AS DOUBLE)
                                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                                AS DECIMAL(38,15)))
                       OVER wc AS DOUBLE), 6) AS DOUBLE) AS hazard_var
FROM at_risk
WHERE d > 0
WINDOW wc AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def lad_regression_price_quantity(
    spark: SparkSession, sf_dir: str, n_iters: int = 3
) -> DataFrame:
    """Per-returnflag LAD (median / L1) regression of extendedprice on
    quantity by iteratively-reweighted least squares — the third rung of
    the robustness ladder (OLS `regression_price_quantity_by_flag` is
    the mean fit Cook's outliers drag, Huber downweights past δ, LAD
    minimizes Σ|r| and ignores outlier MAGNITUDE entirely; the slope is
    the conditional-median trend). IRLS for L1 uses w = 1/max(|r|, ε)
    with ε = 1e−6 (the standard smoothing that keeps the reweighted
    normal equations defined at zero residuals); β initializes from
    the closed-form OLS fit and takes three closed-form 2×2 weighted
    solves under the round-at-9 contract — the exact Huber scaffolding
    with a different ψ, and the same unrolled-CTE oracle shape.

    Scale shape: per iteration ONE join of the 3-column pruned fact
    scan (deliberately unpinned — the Huber measurement) to the
    ≤|flags|-row broadcast parameter map plus one decimal-fold hash
    aggregation; no percentile passes at all (LAD needs no scale
    estimate). Published per flag: the OLS and LAD slopes (their gap is
    the finding), the LAD intercept, and the mean absolute residual at
    the converged fit."""
    # persisted for the 5 IRLS passes — same adjudication as Huber's
    # comment (BASELINE.md §r11): local cost is codegen+stage floor, not
    # scans; persist spares redundant fact-scans at cluster scale and
    # bench/driver sessions clearCache() per query
    from pyspark import StorageLevel

    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    # fan BEFORE the persist — same rationale and measurement as Huber's
    # comment above: 5 decimal-fold passes on a 3-partition cached
    # relation serialize onto 3 of 32 cores; no-op on a real cluster.
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("y"), 38, 12).cast("double").alias("sxy"),
        dec_sum(F.col("x") * F.col("x"), 38, 12).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    det0 = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    b1_0 = F.round((nd * F.col("sxy") - F.col("sx") * F.col("sy")) / det0, 9)
    params = agg.select(
        "l_returnflag",
        "n",
        F.when(det0 > F.lit(0.0), b1_0).alias("b1"),
        "sx",
        "sy",
    ).select(
        "l_returnflag",
        "n",
        F.col("b1").alias("ols_slope"),
        "b1",
        F.round((F.col("sy") - F.col("b1") * F.col("sx")) / nd, 9).alias("b0"),
    )
    eps = F.lit(1e-6)
    for _ in range(n_iters):
        j = li.join(F.broadcast(params), "l_returnflag")
        r = F.col("y") - F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
        w = F.lit(1.0) / F.greatest(F.abs(r), eps)
        sums = j.select(
            "l_returnflag",
            "n",
            "ols_slope",
            w.alias("w"),
            (w * F.col("x")).alias("wx"),
            (w * F.col("x") * F.col("x")).alias("wxx"),
            (w * F.col("y")).alias("wy"),
            (w * F.col("x") * F.col("y")).alias("wxy"),
        ).groupBy("l_returnflag", "n", "ols_slope").agg(
            *[
                F.sum(F.col(c).cast("decimal(38,9)")).cast("double").alias(c)
                for c in ["w", "wx", "wxx", "wy", "wxy"]
            ]
        )
        det = F.col("w") * F.col("wxx") - F.col("wx") * F.col("wx")
        b1n = F.when(
            det > F.lit(0.0),
            F.round(
                (F.col("w") * F.col("wxy") - F.col("wx") * F.col("wy")) / det,
                9,
            ),
        )
        params = (
            sums.select(
                "l_returnflag", "n", "ols_slope", b1n.alias("b1"), "w", "wx", "wy"
            )
            .select(
                "l_returnflag",
                "n",
                "ols_slope",
                "b1",
                F.round(
                    (F.col("wy") - F.col("b1") * F.col("wx")) / F.col("w"), 9
                ).alias("b0"),
            )
            .localCheckpoint(eager=False)  # ≤|flags| rows; cuts fold replay
        )
    jf = li.join(F.broadcast(params), "l_returnflag")
    rf = F.col("y") - F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
    return (
        jf.select("l_returnflag", "n", "ols_slope", "b0", "b1", F.abs(rf).alias("ar"))
        .groupBy("l_returnflag", "n", "ols_slope", "b0", "b1")
        .agg(dec_sum(F.col("ar"), 38, 9).cast("double").alias("sar"))
        .select(
            "l_returnflag",
            "n",
            F.round(F.col("ols_slope"), 6).cast("double").alias("ols_slope"),
            F.round(F.col("b1"), 6).cast("double").alias("lad_slope"),
            F.round(F.col("b0"), 6).cast("double").alias("lad_intercept"),
            F.round(F.col("sar") / F.col("n").cast("double"), 6)
            .cast("double")
            .alias("mean_abs_residual"),
        )
    )


def _lad_oracle(n_iters: int = 3) -> str:
    head = """
WITH base AS MATERIALIZED (
    SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
), agg AS (
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
    FROM base GROUP BY l_returnflag
), p0 AS (
    SELECT l_returnflag, n, b1 AS ols_slope, b1,
           ROUND((sy - b1 * sx) / CAST(n AS DOUBLE), 9) AS b0
    FROM (
        SELECT *,
               CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0
                    THEN ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                               / (CAST(n AS DOUBLE) * sxx - sx * sx), 9)
               END AS b1
        FROM agg
    )
)"""
    fold = """
, s{m} AS (
    SELECT l_returnflag, n, ols_slope,
           CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS w,
           CAST(SUM(CAST(w * x AS DECIMAL(38,9))) AS DOUBLE) AS wx,
           CAST(SUM(CAST(w * x * x AS DECIMAL(38,9))) AS DOUBLE) AS wxx,
           CAST(SUM(CAST(w * y AS DECIMAL(38,9))) AS DOUBLE) AS wy,
           CAST(SUM(CAST(w * x * y AS DECIMAL(38,9))) AS DOUBLE) AS wxy
    FROM (
        SELECT p.l_returnflag, p.n, p.ols_slope, b.x, b.y,
               1.0 / GREATEST(ABS(b.y - ROUND(p.b0 + p.b1 * b.x, 9)), 1e-6)
                   AS w
        FROM base b JOIN p{prev} p ON b.l_returnflag = p.l_returnflag
    ) GROUP BY l_returnflag, n, ols_slope
), p{m} AS MATERIALIZED (
    SELECT l_returnflag, n, ols_slope, b1,
           ROUND((wy - b1 * wx) / w, 9) AS b0
    FROM (
        SELECT *,
               CASE WHEN w * wxx - wx * wx > 0.0
                    THEN ROUND((w * wxy - wx * wy) / (w * wxx - wx * wx), 9)
               END AS b1
        FROM s{m}
    )
)"""
    blocks = []
    for m in range(1, n_iters + 1):
        blocks.append(fold.format(m=m, prev=m - 1))
    return (
        head
        + "".join(blocks)
        + f"""
SELECT f.l_returnflag, f.n,
       CAST(ROUND(f.ols_slope, 6) AS DOUBLE) AS ols_slope,
       CAST(ROUND(f.b1, 6) AS DOUBLE) AS lad_slope,
       CAST(ROUND(f.b0, 6) AS DOUBLE) AS lad_intercept,
       CAST(ROUND(CAST(SUM(CAST(ABS(b.y - ROUND(f.b0 + f.b1 * b.x, 9))
                                AS DECIMAL(38,9))) AS DOUBLE)
                  / CAST(f.n AS DOUBLE), 6) AS DOUBLE) AS mean_abs_residual
FROM base b JOIN p{n_iters} f ON b.l_returnflag = f.l_returnflag
GROUP BY f.l_returnflag, f.n, f.ols_slope, f.b1, f.b0
"""
    )


LAD_REGRESSION_PRICE_QUANTITY_ORACLE = _lad_oracle()


def theil_atkinson_customer_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil T and Atkinson(ε=1) inequality indices over per-customer
    total spend — the decomposable/welfare-grounded companions to
    ``gini_lorenz_customer_spend``'s rank-based Gini (Theil 1967;
    Atkinson 1970): T = (1/n)Σ(xᵢ/μ)ln(xᵢ/μ) (0 = perfect equality,
    ln n = one customer holds everything) and A₁ = 1 − G/μ with G the
    geometric mean — "the share of total spend society would give up to
    equalize it" under log utility.

    Scale shape: one hash-aggregation to customer grain, one bounded
    fold — and unlike Gini's ntile, NO window at all, so this pair is
    also the 100 TB-clean inequality path. Exactness: spends are
    positive decimal(18,6)-exact money sums; ln rounds at 9 (the house
    idiom), both folds in DECIMAL(38,15); the final indices are fixed
    double expressions rounded at 6."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        dec_sum2(F.col("o_totalprice")).alias("x")
    )
    s = spend.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 38, 6).cast("double").alias("sx"),
        F.sum(
            (F.col("x") * F.round(F.log("x"), 9)).cast("decimal(38,15)")
        )
        .cast("double")
        .alias("sxlnx"),
        F.sum(F.round(F.log("x"), 9).cast("decimal(38,15)"))
        .cast("double")
        .alias("slnx"),
    )
    nD = F.col("n").cast("double")
    mu = F.col("sx") / nD
    # T = Σ x·ln x / (n·μ) − ln μ  (algebraic form of (1/n)Σ(x/μ)ln(x/μ))
    theil = F.col("sxlnx") / (nD * mu) - F.round(F.log(mu), 9)
    atkinson = F.lit(1.0) - F.exp(F.col("slnx") / nD) / mu
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(mu, 6).cast("double").alias("mean_spend"),
        F.round(theil, 6).cast("double").alias("theil_t"),
        F.round(atkinson, 6).cast("double").alias("atkinson_1"),
    )


THEIL_ATKINSON_CUSTOMER_SPEND_ORACLE = """
WITH spend AS (
    SELECT o_custkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS x
    FROM orders GROUP BY o_custkey
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(x * ROUND(ln(x), 9) AS DECIMAL(38,15))) AS DOUBLE)
               AS sxlnx,
           CAST(SUM(CAST(ROUND(ln(x), 9) AS DECIMAL(38,15))) AS DOUBLE)
               AS slnx
    FROM spend
)
SELECT n AS n_customers,
       CAST(ROUND(sx / CAST(n AS DOUBLE), 6) AS DOUBLE) AS mean_spend,
       CAST(ROUND(sxlnx / (CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE)))
                  - ROUND(ln(sx / CAST(n AS DOUBLE)), 9), 6) AS DOUBLE)
           AS theil_t,
       CAST(ROUND(1.0 - EXP(slnx / CAST(n AS DOUBLE))
                        / (sx / CAST(n AS DOUBLE)), 6) AS DOUBLE)
           AS atkinson_1
FROM s
"""


def partial_corr_purchase_view_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order partial correlation of daily purchase and view counts
    CONTROLLING for total daily volume — the confound-removed version of
    the raw daily correlation (on a growing site, purchases and views
    correlate because EVERYTHING correlates with traffic;
    r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) asks whether they
    co-move BEYOND the shared volume trend). Complements
    ``rolling_corr_purchase_view_14d`` (time-local raw) and
    ``spearman_daily_purchase_view`` (rank-based raw).

    Scale shape: ONE aggregation to the calendar-bounded daily grain,
    one bounded moment fold (all sums exact bigints), closed-form
    algebra. Degenerate variances or |r|=1 controls yield NULL
    identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("x"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("bigint")
        .alias("y"),
        F.count("*").cast("bigint").alias("z"),
    )
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            F.sum(expr).cast("bigint").alias(name)
            for name, expr in [
                ("sx", F.col("x")),
                ("sy", F.col("y")),
                ("sz", F.col("z")),
                ("sxx", F.col("x") * F.col("x")),
                ("syy", F.col("y") * F.col("y")),
                ("szz", F.col("z") * F.col("z")),
                ("sxy", F.col("x") * F.col("y")),
                ("sxz", F.col("x") * F.col("z")),
                ("syz", F.col("y") * F.col("z")),
            ]
        ],
    )
    nD = F.col("n").cast("double")

    def r(sab, sa, sb, saa, sbb):
        num = nD * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ).cast("double")
        da = nD * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(
            sa
        ).cast("double")
        db = nD * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(
            sb
        ).cast("double")
        return F.when((da > 0) & (db > 0), num / F.sqrt(da * db))

    rxy = r("sxy", "sx", "sy", "sxx", "syy")
    rxz = r("sxz", "sx", "sz", "sxx", "szz")
    ryz = r("syz", "sy", "sz", "syy", "szz")
    den = (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    partial = F.when(den > F.lit(0.0), (rxy - rxz * ryz) / F.sqrt(den))
    return s.select(
        F.col("n").alias("n_days"),
        F.round(rxy, 6).cast("double").alias("r_purchase_view"),
        F.round(rxz, 6).cast("double").alias("r_purchase_volume"),
        F.round(ryz, 6).cast("double").alias("r_view_volume"),
        F.round(partial, 6).cast("double").alias("partial_r_given_volume"),
    )


PARTIAL_CORR_PURCHASE_VIEW_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS y,
           CAST(COUNT(*) AS BIGINT) AS z
    FROM events GROUP BY 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(z) AS BIGINT) AS sz,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(z * z) AS BIGINT) AS szz,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * z) AS BIGINT) AS sxz,
           CAST(SUM(y * z) AS BIGINT) AS syz
    FROM daily
), rs AS (
    SELECT n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS rxy,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                     - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                     / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                               - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
           END AS rxz,
           CASE WHEN CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                     - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) > 0
                THEN (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                     / SQRT((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                               - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
           END AS ryz
    FROM s
)
SELECT n AS n_days,
       CAST(ROUND(rxy, 6) AS DOUBLE) AS r_purchase_view,
       CAST(ROUND(rxz, 6) AS DOUBLE) AS r_purchase_volume,
       CAST(ROUND(ryz, 6) AS DOUBLE) AS r_view_volume,
       CAST(ROUND(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0
            THEN (rxy - rxz * ryz)
                 / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END, 6)
            AS DOUBLE) AS partial_r_given_volume
FROM rs
"""


def tost_equivalence_ab_value(
    spark: SparkSession, sf_dir: str, rel_margin: float = 0.05
) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) on per-user mean event
    value between the md5 arms — the test the A/B tier is missing:
    `ab_test_session_value`'s Welch t can only FAIL to find a
    difference; TOST can positively CONCLUDE "the arms are the same to
    within ±δ" (two one-sided tests against δ = 5% of the pooled mean,
    both must reject at α=0.05 → z > 1.644854 — the large-sample normal
    form, justified by user-grain n in the thousands). The readout every
    do-no-harm launch review actually needs.

    Scale shape: one hash-aggregation to user grain (the jackknife's
    clustering-correct unit), one bounded moment fold per arm, closed
    algebra. Exactness: user means are bigint-ratio doubles, moments
    fold in decimal, z's are fixed expressions rounded at 6; degenerate
    variance or single-user arms yield NULL identically."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    users = (
        ev.select(arm.alias("arm"), "user_id", "value")
        .groupBy("arm", "user_id")
        .agg(
            (
                dec_sum(F.col("value"), 27, 12).cast("double")
                / F.count("*").cast("double")
            ).alias("m")
        )
    )
    s = users.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("m"), 38, 15).cast("double").alias("sm"),
        dec_sum(F.col("m") * F.col("m"), 38, 15).cast("double").alias("smm"),
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("na"), F.col("sm").alias("sma"), F.col("smm").alias("smma")
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("nb"), F.col("sm").alias("smb"), F.col("smm").alias("smmb")
    )
    j = a.crossJoin(F.broadcast(b))
    naD = F.col("na").cast("double")
    nbD = F.col("nb").cast("double")
    ma = F.col("sma") / naD
    mb = F.col("smb") / nbD
    va = (F.col("smma") - F.col("sma") * F.col("sma") / naD) / (naD - F.lit(1.0))
    vb = (F.col("smmb") - F.col("smb") * F.col("smb") / nbD) / (nbD - F.lit(1.0))
    se = F.sqrt(va / naD + vb / nbD)
    delta = mb - ma
    pooled = (F.col("sma") + F.col("smb")) / (naD + nbD)
    margin = F.lit(rel_margin) * pooled
    valid = (F.col("na") > 1) & (F.col("nb") > 1)
    z_low = F.when(valid & (se > 0), (delta + margin) / se)
    z_high = F.when(valid & (se > 0), (margin - delta) / se)
    zc = F.lit(1.644854)
    return j.select(
        "na",
        "nb",
        F.round(ma, 6).cast("double").alias("mean_a"),
        F.round(mb, 6).cast("double").alias("mean_b"),
        F.round(delta, 6).cast("double").alias("delta"),
        F.round(margin, 6).cast("double").alias("margin"),
        F.round(z_low, 6).cast("double").alias("z_lower"),
        F.round(z_high, 6).cast("double").alias("z_upper"),
        ((F.coalesce(z_low, F.lit(0.0)) > zc)
         & (F.coalesce(z_high, F.lit(0.0)) > zc)).alias("equivalent"),
    )


TOST_EQUIVALENCE_AB_VALUE_ORACLE = """
WITH users AS (
    SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                     % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
           user_id,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1, 2
), s AS (
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS sm,
           CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS smm
    FROM users GROUP BY arm
), j AS (
    SELECT a.n AS na, a.sm AS sma, a.smm AS smma,
           b.n AS nb, b.sm AS smb, b.smm AS smmb
    FROM (SELECT * FROM s WHERE arm = 'A') a
    CROSS JOIN (SELECT * FROM s WHERE arm = 'B') b
), c AS (
    SELECT na, nb,
           sma / CAST(na AS DOUBLE) AS ma,
           smb / CAST(nb AS DOUBLE) AS mb,
           smb / CAST(nb AS DOUBLE) - sma / CAST(na AS DOUBLE) AS delta,
           0.05 * ((sma + smb) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
               AS margin,
           CASE WHEN na > 1 AND nb > 1 THEN
               SQRT(((smma - sma * sma / CAST(na AS DOUBLE))
                     / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE)
                    + ((smmb - smb * smb / CAST(nb AS DOUBLE))
                       / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE))
           END AS se
    FROM j
)
SELECT na, nb,
       CAST(ROUND(ma, 6) AS DOUBLE) AS mean_a,
       CAST(ROUND(mb, 6) AS DOUBLE) AS mean_b,
       CAST(ROUND(delta, 6) AS DOUBLE) AS delta,
       CAST(ROUND(margin, 6) AS DOUBLE) AS margin,
       CAST(ROUND(CASE WHEN se > 0 THEN (delta + margin) / se END, 6)
            AS DOUBLE) AS z_lower,
       CAST(ROUND(CASE WHEN se > 0 THEN (margin - delta) / se END, 6)
            AS DOUBLE) AS z_upper,
       COALESCE(CASE WHEN se > 0 THEN (delta + margin) / se END, 0.0)
           > 1.644854
       AND COALESCE(CASE WHEN se > 0 THEN (margin - delta) / se END, 0.0)
           > 1.644854 AS equivalent
FROM c
"""


# --------------------------------------------------------------------------
# round 11: resampling-based AB inference (deterministic md5 draws)
# --------------------------------------------------------------------------

def randomization_test_ab_value(
    spark: SparkSession, sf_dir: str, n_draws: int = 200
) -> DataFrame:
    """Monte-Carlo randomization test (Fisher 1935; Dwass 1957's sampled
    variant) of the arm effect on per-user mean event value — the
    assumption-free sibling of the tier's Welch/Mann–Whitney readouts:
    instead of a distributional reference, the null is built by
    RE-ASSIGNING arms B times (pseudo-arm b = md5(user:b) parity — the
    house deterministic-draw idiom, so both engines replay the identical
    draw sequence) and asking how often |mean_A − mean_B| under a fake
    assignment beats the observed one. p = (1 + #{|Δ_b| ≥ |Δ_obs|}) /
    (B + 1), the add-one Monte-Carlo estimator that is exact-level by
    construction.

    Scale shape: ONE hash-aggregation to user grain, then a B-way
    explode of the ≤users-row relation (B = 200 fixed — the resample
    grain is B·users, linear, shuffled once to the (b, arm) grain);
    never a per-event resample. Exactness: user metrics fold in decimal
    and round at 9; per-draw arm sums fold in DECIMAL(38,9); Δ_b rounds
    at 9 before the comparison; the counter is exact ints."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.round(
            dec_sum(F.col("value"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("v")
    )
    arm_obs = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % 2
        == 0
    )
    obs = users.select(arm_obs.alias("a"), "v").groupBy().agg(
        F.sum(F.when(F.col("a"), F.col("v")).cast("decimal(38,9)"))
        .cast("double")
        .alias("sa"),
        F.sum(F.when(F.col("a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("a"), F.col("v")).cast("decimal(38,9)"))
        .cast("double")
        .alias("sb"),
        F.sum(F.when(~F.col("a"), 1).otherwise(0)).cast("bigint").alias("nb"),
    )
    d_obs = F.round(
        F.col("sa") / F.col("na").cast("double")
        - F.col("sb") / F.col("nb").cast("double"),
        9,
    )
    obs1 = obs.select(
        d_obs.alias("diff_obs"), F.lit(1).alias("one")
    )
    drawn = users.select(
        "user_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(n_draws - 1))).alias("b"),
    ).select(
        "b",
        "v",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0
        ).alias("a"),
    )
    per_draw = drawn.groupBy("b").agg(
        F.sum(F.when(F.col("a"), F.col("v")).cast("decimal(38,9)"))
        .cast("double")
        .alias("sa"),
        F.sum(F.when(F.col("a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("a"), F.col("v")).cast("decimal(38,9)"))
        .cast("double")
        .alias("sb"),
        F.sum(F.when(~F.col("a"), 1).otherwise(0)).cast("bigint").alias("nb"),
    )
    d_b = F.round(
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.col("sa") / F.col("na").cast("double")
            - F.col("sb") / F.col("nb").cast("double"),
        ),
        9,
    )
    tail = (
        per_draw.select(d_b.alias("d"), F.lit(1).alias("one"))
        .join(F.broadcast(obs1), "one")
        .groupBy("diff_obs")
        .agg(
            F.count("*").cast("bigint").alias("n_draws"),
            F.sum(
                (F.abs(F.col("d")) >= F.abs(F.col("diff_obs"))).cast("long")
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
    )
    return tail.select(
        F.col("n_draws"),
        F.col("n_extreme"),
        F.round(F.col("diff_obs"), 6).cast("double").alias("diff_obs"),
        F.round(
            (F.col("n_extreme") + 1).cast("double")
            / (F.col("n_draws") + 1).cast("double"),
            6,
        )
        .cast("double")
        .alias("p_mc"),
    )


RANDOMIZATION_TEST_AB_VALUE_ORACLE = """
WITH users AS (
    SELECT user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS v
    FROM events GROUP BY user_id
), obs AS (
    SELECT ROUND(
        CAST(SUM(CASE WHEN a THEN CAST(v AS DECIMAL(38,9)) END) AS DOUBLE)
          / CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE)
        - CAST(SUM(CASE WHEN NOT a THEN CAST(v AS DECIMAL(38,9)) END)
               AS DOUBLE)
          / CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE), 9)
        AS diff_obs
    FROM (
        SELECT v,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2 = 0
                   AS a
        FROM users
    )
), per_draw AS (
    SELECT b,
           ROUND(CASE WHEN SUM(CASE WHEN a THEN 1 ELSE 0 END) > 0
                       AND SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) > 0
               THEN CAST(SUM(CASE WHEN a THEN CAST(v AS DECIMAL(38,9)) END)
                         AS DOUBLE)
                    / CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE)
                    - CAST(SUM(CASE WHEN NOT a
                                    THEN CAST(v AS DECIMAL(38,9)) END)
                           AS DOUBLE)
                      / CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END)
                             AS DOUBLE)
               END, 9) AS d
    FROM (
        SELECT r.range AS b, u.v,
               ('0x' || substr(md5(u.user_id::VARCHAR || ':'
                                   || r.range::VARCHAR), 1, 6))::BIGINT
                   % 2 = 0 AS a
        FROM users u CROSS JOIN range(0, 200) r
    )
    GROUP BY b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_draws,
       CAST(SUM(CASE WHEN ABS(d) >= ABS(diff_obs) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       CAST(ROUND(ANY_VALUE(diff_obs), 6) AS DOUBLE) AS diff_obs,
       CAST(ROUND((SUM(CASE WHEN ABS(d) >= ABS(diff_obs) THEN 1 ELSE 0 END)
                   + 1.0) / (COUNT(*) + 1.0), 6) AS DOUBLE) AS p_mc
FROM per_draw CROSS JOIN obs
"""


def hodges_lehmann_purchase_view_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hodges–Lehmann shift estimator (Hodges & Lehmann 1963) between
    the purchase and view daily mean values — the EFFECT-SIZE companion
    to ``mann_whitney_purchase_view_values``: the U test says the two
    distributions differ; HL says BY HOW MUCH, as the median of all
    pairwise differences (median-unbiased, 29%-breakdown robust, the
    estimator tied to the Wilcoxon family). Computed on the
    calendar-bounded DAILY grain (the Mann–Whitney runs at event grain;
    a pairwise difference set over raw events is O(n₁n₂) in the corpus
    and does not scale, so the registered estimator uses the bounded
    day-grain series — documented trade, days² ≈ 10⁵ pairs at any SF).

    Exactness: daily means fold in decimal and round at 9; the pairwise
    difference relation is exact algebra over those; the HL point is
    ONE exact interpolated percentile over the bounded pair relation,
    rounded at 6. Scale shape: one hash-aggregation to (day, type),
    one bounded days×days self-join (broadcast), one percentile over
    ≤days² rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.round(
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("m")
    )
    px = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("day_p"), F.col("m").alias("mp")
    )
    vx = daily.filter(F.col("event_type") == "view").select(
        F.col("day").alias("day_v"), F.col("m").alias("mv")
    )
    pairs = px.crossJoin(F.broadcast(vx)).select(
        (F.col("mp") - F.col("mv")).alias("d")
    )
    np_ = px.agg(F.count("*").cast("bigint").alias("n_days_purchase"))
    nv_ = vx.agg(F.count("*").cast("bigint").alias("n_days_view"))
    hl = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.percentile("d", F.lit(0.5)), 6)
        .cast("double")
        .alias("hl_shift"),
    )
    return hl.crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(nv_)).select(
        "n_days_purchase", "n_days_view", "n_pairs", "hl_shift"
    )


HODGES_LEHMANN_PURCHASE_VIEW_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS m
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1, 2
), px AS (SELECT day, m FROM daily WHERE event_type = 'purchase'),
vx AS (SELECT day, m FROM daily WHERE event_type = 'view'),
pairs AS (
    SELECT px.m - vx.m AS d FROM px CROSS JOIN vx
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM px) AS n_days_purchase,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM vx) AS n_days_view,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(quantile_cont(d, 0.5), 6) AS DOUBLE) AS hl_shift
FROM pairs
"""


def breusch_pagan_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test (Breusch & Pagan 1979;
    Koenker 1981's studentized form) on the pooled price~quantity OLS —
    the residual-VARIANCE diagnostic the robustness ladder
    (OLS/Huber/LAD slopes) presumes: regress the squared residuals on
    the regressor; BP = n·R² of that auxiliary fit, χ²(1) under
    homoscedasticity. A significant BP says the OLS standard errors are
    unreliable and the Huber/LAD fits are not optional.

    Exactness: the OLS fit is the closed-form 5-sum with β re-rounded
    at 9 (the regression-ladder contract); squared residuals are exact
    algebra over those; the auxiliary R² = sxy_c²/(sxx_c·syy_c) comes
    from one more decimal-folded 5-sum; BP is one double expression
    rounded at 6 against the shared 3.841459 literal. Scale shape: TWO
    corpus passes total (fit sums, then residual sums) — no joins, no
    iteration."""
    from pyspark import StorageLevel

    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    # fan + pin the 2-column projection: the single-row-group fixture scans
    # as ONE task, so both decimal-fold passes (fit sums, residual sums —
    # BigDecimal per term past precision 18) would serialize onto 1 of 32
    # cores. Same measured rationale as the regression ladder (LAD/Huber):
    # bare dec38 fold 1.98 s → 0.74 s at 32 partitions; no-op on a real
    # cluster where the scan already splits. Decimal folds are exact, so
    # partitioning cannot change the result; bench/driver clearCache() per
    # query, so the pin never leaks.
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    agg = li.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("y"), 38, 12).cast("double").alias("sxy"),
        dec_sum(F.col("x") * F.col("x"), 38, 12).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    det0 = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    b1 = F.round((nd * F.col("sxy") - F.col("sx") * F.col("sy")) / det0, 9)
    params = agg.select(
        "n",
        F.when(det0 > F.lit(0.0), b1).alias("b1"),
        "sx",
        "sy",
    ).select(
        "n",
        "b1",
        F.round((F.col("sy") - F.col("b1") * F.col("sx")) / nd, 9).alias("b0"),
    )
    j = li.crossJoin(F.broadcast(params))
    r = F.col("y") - F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
    u = r * r
    aux = j.select("n", F.col("x"), u.alias("u")).agg(
        F.max("n").alias("n"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("ax"),
        dec_sum(F.col("u"), 38, 9).cast("double").alias("au"),
        dec_sum(F.col("x") * F.col("u"), 38, 9).cast("double").alias("axu"),
        dec_sum(F.col("x") * F.col("x"), 38, 12).cast("double").alias("axx"),
        dec_sum(F.col("u") * F.col("u"), 38, 6).cast("double").alias("auu"),
    )
    nD = F.col("n").cast("double")
    sxy_c = F.col("axu") - F.col("ax") * F.col("au") / nD
    sxx_c = F.col("axx") - F.col("ax") * F.col("ax") / nD
    syy_c = F.col("auu") - F.col("au") * F.col("au") / nD
    r2 = F.when(
        (sxx_c > F.lit(0.0)) & (syy_c > F.lit(0.0)),
        sxy_c * sxy_c / (sxx_c * syy_c),
    )
    bp = F.round(nD * r2, 6)
    return aux.select(
        F.col("n").alias("n_rows"),
        F.round(r2, 6).cast("double").alias("aux_r2"),
        bp.cast("double").alias("bp_stat"),
        F.coalesce(bp > F.lit(3.841459), F.lit(False)).alias(
            "heteroscedastic"
        ),
    )


BREUSCH_PAGAN_PRICE_QUANTITY_ORACLE = """
WITH base AS (
    SELECT CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
    FROM base
), params AS (
    SELECT n, b1,
           ROUND((sy - b1 * sx) / CAST(n AS DOUBLE), 9) AS b0
    FROM (
        SELECT *,
               CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0
                    THEN ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                               / (CAST(n AS DOUBLE) * sxx - sx * sx), 9)
               END AS b1
        FROM agg
    )
), aux AS (
    SELECT MAX(n) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS ax,
           CAST(SUM(CAST(u AS DECIMAL(38,9))) AS DOUBLE) AS au,
           CAST(SUM(CAST(x * u AS DECIMAL(38,9))) AS DOUBLE) AS axu,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS axx,
           CAST(SUM(CAST(u * u AS DECIMAL(38,6))) AS DOUBLE) AS auu
    FROM (
        SELECT n, x,
               (y - ROUND(b0 + b1 * x, 9)) * (y - ROUND(b0 + b1 * x, 9)) AS u
        FROM base CROSS JOIN params
    )
), c AS (
    SELECT n,
           axu - ax * au / CAST(n AS DOUBLE) AS sxy_c,
           axx - ax * ax / CAST(n AS DOUBLE) AS sxx_c,
           auu - au * au / CAST(n AS DOUBLE) AS syy_c
    FROM aux
)
SELECT n AS n_rows,
       CAST(ROUND(CASE WHEN sxx_c > 0.0 AND syy_c > 0.0
            THEN sxy_c * sxy_c / (sxx_c * syy_c) END, 6) AS DOUBLE) AS aux_r2,
       CAST(ROUND(CASE WHEN sxx_c > 0.0 AND syy_c > 0.0
            THEN CAST(n AS DOUBLE) * sxy_c * sxy_c / (sxx_c * syy_c) END, 6)
            AS DOUBLE) AS bp_stat,
       COALESCE(ROUND(CASE WHEN sxx_c > 0.0 AND syy_c > 0.0
            THEN CAST(n AS DOUBLE) * sxy_c * sxy_c / (sxx_c * syy_c) END, 6)
            > 3.841459, FALSE) AS heteroscedastic
FROM c
"""


def welch_anova_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951) across event
    types — the classic F in ``oneway_anova_event_values`` assumes equal
    group variances (exactly what ``levene_bf_event_values`` tests and
    ``breusch_pagan`` monitors on the regression side); Welch's F*
    weights each group by n_g/s²_g and stays calibrated when variances
    differ, the recommended default in the methods literature. Publishes
    F*, df1 = k−1, the Welch–Satterthwaite df2, and the asymptotic
    verdict (df2 is in the thousands here, where F(df1, df2) ≈
    χ²(df1)/df1 — documented; the shared χ² literal table divides by
    df1).

    Exactness: per-group n/Σx/Σx² fold in decimal; means and variances
    are fixed double ratios rounded at 9; every downstream scalar (w_g,
    the weighted grand mean, the A/B sums) folds k-bounded DECIMAL(38,12)
    terms and rounds at 6. Scale shape: ONE corpus pass to group grain,
    then k-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("value"), 38, 12).cast("double").alias("s1"),
        dec_sum(F.col("value") * F.col("value"), 38, 12)
        .cast("double")
        .alias("s2"),
    )
    nd = F.col("n").cast("double")
    m = F.round(F.col("s1") / nd, 9)
    v = F.round(
        (F.col("s2") - F.col("s1") * F.col("s1") / nd) / (nd - F.lit(1.0)), 9
    )
    gg = g.select("event_type", "n", m.alias("m"), v.alias("v")).filter(
        (F.col("n") > 1) & (F.col("v") > 0.0)
    )
    w = F.col("n").cast("double") / F.col("v")
    ws = gg.select(
        "n",
        "m",
        "v",
        w.alias("w"),
        (w * F.col("m")).alias("wm"),
    )
    tot = ws.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("w").cast("decimal(38,12)")).cast("double").alias("sw"),
        F.sum(F.col("wm").cast("decimal(38,12)")).cast("double").alias("swm"),
        F.lit(1).alias("one"),
    )
    j = ws.withColumn("one", F.lit(1)).join(F.broadcast(tot), "one")
    xbar = F.col("swm") / F.col("sw")
    a_t = F.col("w") * (F.col("m") - xbar) * (F.col("m") - xbar)
    b_t = (
        (F.lit(1.0) - F.col("w") / F.col("sw"))
        * (F.lit(1.0) - F.col("w") / F.col("sw"))
        / (F.col("n").cast("double") - F.lit(1.0))
    )
    s = j.groupBy("k", "sw", "swm").agg(
        F.sum(a_t.cast("decimal(38,12)")).cast("double").alias("a"),
        F.sum(b_t.cast("decimal(38,12)")).cast("double").alias("b"),
    )
    kd = F.col("k").cast("double")
    fstat = (F.col("a") / (kd - F.lit(1.0))) / (
        F.lit(1.0)
        + F.lit(2.0) * (kd - F.lit(2.0)) / (kd * kd - F.lit(1.0)) * F.col("b")
    )
    df2 = (kd * kd - F.lit(1.0)) / (F.lit(3.0) * F.col("b"))
    df1 = (F.col("k") - 1).cast("int")
    from data_ingestion_pipeline_spark.operators.analytics_checks import (
        _chi2_crit_case_spark,
    )

    crit = _chi2_crit_case_spark(df1) / (kd - F.lit(1.0))
    return s.select(
        F.col("k").alias("k_groups"),
        df1.alias("df1"),
        F.round(df2, 6).cast("double").alias("df2"),
        F.round(fstat, 6).cast("double").alias("f_welch"),
        F.coalesce(F.round(fstat, 6) > crit, F.lit(False)).alias(
            "significant"
        ),
    )


WELCH_ANOVA_EVENT_VALUES_ORACLE = """
WITH g AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
), gg AS (
    SELECT event_type, n,
           ROUND(s1 / CAST(n AS DOUBLE), 9) AS m,
           ROUND((s2 - s1 * s1 / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS v
    FROM g
    WHERE n > 1
      AND ROUND((s2 - s1 * s1 / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0), 9) > 0.0
), ws AS (
    SELECT n, m, v, CAST(n AS DOUBLE) / v AS w,
           CAST(n AS DOUBLE) / v * m AS wm
    FROM gg
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS sw,
           CAST(SUM(CAST(wm AS DECIMAL(38,12))) AS DOUBLE) AS swm
    FROM ws
), s AS (
    SELECT k, sw, swm,
           CAST(SUM(CAST(w * (m - swm / sw) * (m - swm / sw)
                    AS DECIMAL(38,12))) AS DOUBLE) AS a,
           CAST(SUM(CAST((1.0 - w / sw) * (1.0 - w / sw)
                         / (CAST(n AS DOUBLE) - 1.0)
                    AS DECIMAL(38,12))) AS DOUBLE) AS b
    FROM ws CROSS JOIN tot
    GROUP BY k, sw, swm
)
SELECT k AS k_groups, CAST(k - 1 AS INT) AS df1,
       CAST(ROUND((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                  / (3.0 * b), 6) AS DOUBLE) AS df2,
       CAST(ROUND((a / (CAST(k AS DOUBLE) - 1.0))
                  / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                     / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) * b),
                  6) AS DOUBLE) AS f_welch,
       COALESCE(ROUND((a / (CAST(k AS DOUBLE) - 1.0))
                  / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                     / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) * b), 6)
            > (CASE WHEN k - 1 = 1 THEN 3.841459 WHEN k - 1 = 2 THEN 5.991465
                    WHEN k - 1 = 3 THEN 7.814728 WHEN k - 1 = 4 THEN 9.487729
                    WHEN k - 1 = 5 THEN 11.070498 WHEN k - 1 = 6 THEN 12.591587
                    WHEN k - 1 = 7 THEN 14.06714 WHEN k - 1 = 8 THEN 15.507313
                    WHEN k - 1 = 9 THEN 16.918978 WHEN k - 1 = 10 THEN 18.307038
               END) / (CAST(k AS DOUBLE) - 1.0), FALSE) AS significant
FROM s
"""


def bartlett_test_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test (Bartlett 1937) of equal variances across event
    types — the PARAMETRIC sibling of ``levene_bf_event_values``: more
    powerful under normality (it compares log variances directly), and
    the classic pre-check before a pooled-variance ANOVA. T =
    [(N−k)·ln(s²_p) − Σ(n_g−1)·ln(s²_g)] / C with the standard
    correction C = 1 + (Σ1/(n_g−1) − 1/(N−k)) / (3(k−1)), χ²(k−1)
    under H₀.

    Exactness: group variances are fixed double ratios of decimal folds
    rounded at 9; every ln rounds at 9 (the MI idiom); T is one double
    expression rounded at 6 against the shared χ² literal table. Scale
    shape: ONE corpus pass to group grain, k-row algebra after."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("value"), 38, 12).cast("double").alias("s1"),
        dec_sum(F.col("value") * F.col("value"), 38, 12)
        .cast("double")
        .alias("s2"),
    )
    nd = F.col("n").cast("double")
    v = F.round(
        (F.col("s2") - F.col("s1") * F.col("s1") / nd) / (nd - F.lit(1.0)), 9
    )
    gg = g.select("n", v.alias("v")).filter(
        (F.col("n") > 1) & (F.col("v") > 0.0)
    )
    tot = gg.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(
            ((F.col("n").cast("double") - F.lit(1.0)) * F.col("v")).cast(
                "decimal(38,9)"
            )
        )
        .cast("double")
        .alias("ssw"),
        F.sum(
            (
                (F.col("n").cast("double") - F.lit(1.0))
                * F.round(F.log(F.col("v")), 9)
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("slnv"),
        F.sum(
            (F.lit(1.0) / (F.col("n").cast("double") - F.lit(1.0))).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sinv"),
    )
    kd = F.col("k").cast("double")
    nmk = F.col("nn").cast("double") - kd
    sp2 = F.col("ssw") / nmk
    t_raw = nmk * F.round(F.log(sp2), 9) - F.col("slnv")
    c = F.lit(1.0) + (F.col("sinv") - F.lit(1.0) / nmk) / (
        F.lit(3.0) * (kd - F.lit(1.0))
    )
    t = F.round(t_raw / c, 6)
    df1 = (F.col("k") - 1).cast("int")
    from data_ingestion_pipeline_spark.operators.analytics_checks import (
        _chi2_crit_case_spark,
    )

    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n"),
        df1.alias("df"),
        t.cast("double").alias("bartlett_t"),
        F.coalesce(t > _chi2_crit_case_spark(df1), F.lit(False)).alias(
            "significant"
        ),
    )


BARTLETT_TEST_EVENT_VALUES_ORACLE = """
WITH g AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
), gg AS (
    SELECT n,
           ROUND((s2 - s1 * s1 / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS v
    FROM g
    WHERE n > 1
      AND ROUND((s2 - s1 * s1 / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0), 9) > 0.0
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(n) AS BIGINT) AS nn,
           CAST(SUM(CAST((CAST(n AS DOUBLE) - 1.0) * v AS DECIMAL(38,9)))
                AS DOUBLE) AS ssw,
           CAST(SUM(CAST((CAST(n AS DOUBLE) - 1.0) * ROUND(LN(v), 9)
                    AS DECIMAL(38,12))) AS DOUBLE) AS slnv,
           CAST(SUM(CAST(1.0 / (CAST(n AS DOUBLE) - 1.0) AS DECIMAL(38,12)))
                AS DOUBLE) AS sinv
    FROM gg
)
SELECT k AS k_groups, nn AS n, CAST(k - 1 AS INT) AS df,
       CAST(ROUND(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
                   * ROUND(LN(ssw / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))), 9)
                   - slnv)
                  / (1.0 + (sinv - 1.0 / (CAST(nn AS DOUBLE)
                                          - CAST(k AS DOUBLE)))
                     / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6) AS DOUBLE)
           AS bartlett_t,
       COALESCE(ROUND(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
                   * ROUND(LN(ssw / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))), 9)
                   - slnv)
                  / (1.0 + (sinv - 1.0 / (CAST(nn AS DOUBLE)
                                          - CAST(k AS DOUBLE)))
                     / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
            > (CASE WHEN k - 1 = 1 THEN 3.841459 WHEN k - 1 = 2 THEN 5.991465
                    WHEN k - 1 = 3 THEN 7.814728 WHEN k - 1 = 4 THEN 9.487729
                    WHEN k - 1 = 5 THEN 11.070498 WHEN k - 1 = 6 THEN 12.591587
                    WHEN k - 1 = 7 THEN 14.06714 WHEN k - 1 = 8 THEN 15.507313
                    WHEN k - 1 = 9 THEN 16.918978 WHEN k - 1 = 10 THEN 18.307038
               END), FALSE) AS significant
FROM tot
"""


def rmst_user_retention(
    spark: SparkSession, sf_dir: str, tau_hours: int = 336
) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013's preferred
    summary; Irwin 1949) over the user-activity Kaplan–Meier curve —
    the EFFECT-SIZE the survival tier still lacked as a single number:
    Cox gives a hazard RATIO (model-dependent), the log-rank a verdict;
    RMST(τ) = ∫₀^τ S(t)dt is "expected active hours in the first τ
    hours", model-free and defined even under crossing hazards. τ = 336
    hours (14 days) — inside the observation window at every SF.

    Construction: the exact ``kaplan_meier_user_retention`` curve
    (identical grain, censoring rule and exp/ln product fold), then the
    step-function integral Σ S(t_{i−1})·(min(t_i,τ) − min(t_{i−1},τ))
    + S(t_last)·(τ − min(t_last,τ)) via one lag window over the
    bounded event-time grain; survival values round at 6 BEFORE the
    integral (both engines integrate bitwise-equal steps) and the area
    folds in DECIMAL(38,12), rounded at 6. Scale shape: one user-grain
    aggregate, then everything at the bounded duration grain."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t_hours"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t_hours")
        .agg(
            F.sum(F.col("churned").cast("long")).cast("bigint").alias("d_events"),
            F.sum((~F.col("churned")).cast("long"))
            .cast("bigint")
            .alias("n_censored"),
        )
    )
    w = Window.orderBy("t_hours").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t_hours").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(
        F.sum(F.col("d_events") + F.col("n_censored")).alias("n_total")
    )
    curve = (
        grain.join(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum(F.col("d_events") + F.col("n_censored")).over(w),
                    F.lit(0),
                )
            ).cast("bigint"),
        )
        .withColumn(
            "factor",
            F.lit(1.0)
            - F.col("d_events").cast("double") / F.col("n_at_risk").cast("double"),
        )
        .withColumn(
            "ln_sum",
            F.sum(
                F.when(F.col("factor") > 0.0, F.log("factor")).otherwise(F.lit(0.0))
            ).over(wc),
        )
        .withColumn(
            "zero_seen",
            F.sum((F.col("factor") <= 0.0).cast("long")).over(wc),
        )
    )
    steps = curve.filter(F.col("d_events") > 0).select(
        F.col("t_hours").cast("double").alias("t"),
        F.when(F.col("zero_seen") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp("ln_sum"), 6))
        .alias("s"),
    )
    tau = F.lit(float(tau_hours))
    wl = Window.orderBy("t")
    lagged = steps.select(
        "t",
        "s",
        F.coalesce(F.lag("t").over(wl), F.lit(0.0)).alias("t_prev"),
        F.coalesce(F.lag("s").over(wl), F.lit(1.0)).alias("s_prev"),
        F.max("t").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("t_max"),
    )
    seg = F.col("s_prev") * (
        F.least(F.col("t"), tau) - F.least(F.col("t_prev"), tau)
    )
    tail = F.when(
        F.col("t") == F.col("t_max"),
        F.col("s") * F.greatest(tau - F.least(F.col("t"), tau), F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    out = lagged.agg(
        F.count("*").cast("bigint").alias("n_event_times"),
        F.round(
            F.sum((seg + tail).cast("decimal(38,12)")).cast("double"), 6
        ).alias("rmst_hours"),
    )
    return out.select(
        F.lit(tau_hours).cast("int").alias("tau_hours"),
        "n_event_times",
        F.col("rmst_hours").cast("double"),
        F.round(F.col("rmst_hours") / F.lit(24.0), 6)
        .cast("double")
        .alias("rmst_days"),
    )


RMST_USER_RETENTION_ORACLE = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t_hours,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(d_events + n_censored) AS n_total FROM grain),
curve AS (
    SELECT t_hours, d_events, n_censored,
           CAST(n_total - COALESCE(SUM(d_events + n_censored) OVER (
                    ORDER BY t_hours
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_at_risk
    FROM grain CROSS JOIN tot
), folded AS (
    SELECT t_hours, d_events,
           1.0 - CAST(d_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
               AS factor
    FROM curve
), s AS (
    SELECT t_hours, d_events,
           SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
               OVER (ORDER BY t_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ln_sum,
           SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zero_seen
    FROM folded
), steps AS (
    SELECT CAST(t_hours AS DOUBLE) AS t,
           CASE WHEN zero_seen > 0 THEN 0.0
                ELSE ROUND(EXP(ln_sum), 6) END AS sv
    FROM s WHERE d_events > 0
), lagged AS (
    SELECT t, sv,
           COALESCE(LAG(t) OVER (ORDER BY t), 0.0) AS t_prev,
           COALESCE(LAG(sv) OVER (ORDER BY t), 1.0) AS s_prev,
           MAX(t) OVER () AS t_max
    FROM steps
)
SELECT CAST(336 AS INT) AS tau_hours,
       CAST(COUNT(*) AS BIGINT) AS n_event_times,
       CAST(ROUND(CAST(SUM(CAST(
            s_prev * (LEAST(t, 336.0) - LEAST(t_prev, 336.0))
            + CASE WHEN t = t_max
                   THEN sv * GREATEST(336.0 - LEAST(t, 336.0), 0.0)
                   ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE), 6)
            AS DOUBLE) AS rmst_hours,
       CAST(ROUND(ROUND(CAST(SUM(CAST(
            s_prev * (LEAST(t, 336.0) - LEAST(t_prev, 336.0))
            + CASE WHEN t = t_max
                   THEN sv * GREATEST(336.0 - LEAST(t, 336.0), 0.0)
                   ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE), 6) / 24.0, 6)
            AS DOUBLE) AS rmst_days
FROM lagged
"""


def white_test_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """White's heteroscedasticity test (White 1980) on the pooled
    price~quantity OLS — the FORM-FREE upgrade of
    ``breusch_pagan_price_quantity``: BP's auxiliary regression is
    linear in x, so variance rising-then-falling in quantity (or any
    even pattern) is invisible to it; White regresses the squared
    residual on x AND x², catching any second-order variance shape,
    LM = n·R² against χ²(2) (5.991465). Reading BP and White together
    separates "variance drifts with x" from "variance curves in x".

    Exactness: stage 1 is the shared closed-form OLS with β rounded at
    9 (the regression-ladder contract); stage 2 solves the 3-regressor
    auxiliary fit by Cramer's rule over ten exact-decimal power sums
    (the ``adf_test_daily_values`` machinery) — never a per-row
    residual pass for R²: ESS = b'X'y − (Σu)²/n. LM rounds at 6.
    Scale shape: TWO corpus passes (fit sums, then auxiliary sums),
    no joins, no iteration."""
    from pyspark import StorageLevel

    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    # fan + pin, same rationale and measurement as breusch_pagan above:
    # TWO decimal-dense corpus passes (the auxiliary pass folds TEN
    # dec38 power sums) on a single-row-group scan otherwise run on 1 of
    # 32 cores; exact folds are partition-invariant, cache cleared per
    # query, no-op on a real cluster.
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    agg = li.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("y"), 38, 12).cast("double").alias("sxy"),
        dec_sum(F.col("x") * F.col("x"), 38, 12).cast("double").alias("sxx"),
    )
    nd0 = F.col("n").cast("double")
    det_fit = nd0 * F.col("sxx") - F.col("sx") * F.col("sx")
    b1 = F.round(
        (nd0 * F.col("sxy") - F.col("sx") * F.col("sy")) / det_fit, 9
    )
    params = agg.select(
        "n",
        F.when(det_fit > F.lit(0.0), b1).alias("b1"),
        "sx",
        "sy",
    ).select(
        "n",
        "b1",
        F.round((F.col("sy") - F.col("b1") * F.col("sx")) / nd0, 9).alias(
            "b0"
        ),
    )
    j = li.crossJoin(F.broadcast(params))
    r = F.col("y") - F.round(F.col("b0") + F.col("b1") * F.col("x"), 9)
    rows = j.select(
        (r * r).alias("w"),
        F.col("x").alias("u"),
        (F.col("x") * F.col("x")).alias("v"),
    )
    a = rows.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("u"), 27, 12).cast("double").alias("su"),
        dec_sum(F.col("v"), 38, 12).cast("double").alias("sv"),
        dec_sum(F.col("w"), 38, 9).cast("double").alias("sw"),
        dec_sum(F.col("u") * F.col("u"), 38, 12).cast("double").alias("suu"),
        dec_sum(F.col("v") * F.col("v"), 38, 9).cast("double").alias("svv"),
        dec_sum(F.col("u") * F.col("v"), 38, 12).cast("double").alias("suv"),
        dec_sum(F.col("u") * F.col("w"), 38, 6).cast("double").alias("suw"),
        dec_sum(F.col("v") * F.col("w"), 38, 6).cast("double").alias("svw"),
        dec_sum(F.col("w") * F.col("w"), 38, 6).cast("double").alias("sww"),
    )
    nd = F.col("n").cast("double")
    det = (
        nd * (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv"))
        - F.col("su") * (F.col("su") * F.col("svv") - F.col("suv") * F.col("sv"))
        + F.col("sv") * (F.col("su") * F.col("suv") - F.col("suu") * F.col("sv"))
    )
    det0 = (
        F.col("sw") * (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv"))
        - F.col("su") * (F.col("suw") * F.col("svv") - F.col("suv") * F.col("svw"))
        + F.col("sv") * (F.col("suw") * F.col("suv") - F.col("suu") * F.col("svw"))
    )
    detu = (
        nd * (F.col("suw") * F.col("svv") - F.col("suv") * F.col("svw"))
        - F.col("sw") * (F.col("su") * F.col("svv") - F.col("suv") * F.col("sv"))
        + F.col("sv") * (F.col("su") * F.col("svw") - F.col("suw") * F.col("sv"))
    )
    detv = (
        nd * (F.col("suu") * F.col("svw") - F.col("suw") * F.col("suv"))
        - F.col("su") * (F.col("su") * F.col("svw") - F.col("suw") * F.col("sv"))
        + F.col("sw") * (F.col("su") * F.col("suv") - F.col("suu") * F.col("sv"))
    )
    m = a.select(
        "*",
        det.alias("det"),
        det0.alias("d0"),
        detu.alias("du"),
        detv.alias("dv"),
    ).filter(F.col("det") > 0.0)
    p = m.select(
        "*",
        F.round(F.col("d0") / F.col("det"), 9).alias("c0"),
        F.round(F.col("du") / F.col("det"), 9).alias("cu"),
        F.round(F.col("dv") / F.col("det"), 9).alias("cv"),
    )
    ess = (
        F.col("c0") * F.col("sw")
        + F.col("cu") * F.col("suw")
        + F.col("cv") * F.col("svw")
        - F.col("sw") * F.col("sw") / nd
    )
    tss = F.col("sww") - F.col("sw") * F.col("sw") / nd
    r2 = ess / tss
    lm = F.round(nd * r2, 6)
    return p.select(
        F.col("n").alias("n_rows"),
        F.round(r2, 6).cast("double").alias("aux_r2"),
        lm.cast("double").alias("white_stat"),
        (lm > F.lit(5.991465)).alias("heteroscedastic"),
    )


WHITE_TEST_PRICE_QUANTITY_ORACLE = """
WITH base AS (
    SELECT CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
    FROM base
), params AS (
    SELECT n, b1,
           ROUND((sy - b1 * sx) / CAST(n AS DOUBLE), 9) AS b0
    FROM (
        SELECT *,
               CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0
                    THEN ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                               / (CAST(n AS DOUBLE) * sxx - sx * sx), 9)
               END AS b1
        FROM agg
    )
), rows_ AS (
    SELECT (y - ROUND(b0 + b1 * x, 9)) * (y - ROUND(b0 + b1 * x, 9)) AS w,
           x AS u,
           x * x AS v
    FROM base CROSS JOIN params
), a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(u AS DECIMAL(27,12))) AS DOUBLE) AS su,
           CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv,
           CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS sw,
           CAST(SUM(CAST(u * u AS DECIMAL(38,12))) AS DOUBLE) AS suu,
           CAST(SUM(CAST(v * v AS DECIMAL(38,9))) AS DOUBLE) AS svv,
           CAST(SUM(CAST(u * v AS DECIMAL(38,12))) AS DOUBLE) AS suv,
           CAST(SUM(CAST(u * w AS DECIMAL(38,6))) AS DOUBLE) AS suw,
           CAST(SUM(CAST(v * w AS DECIMAL(38,6))) AS DOUBLE) AS svw,
           CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE) AS sww
    FROM rows_
), m AS (
    SELECT *,
           CAST(n AS DOUBLE) * (suu * svv - suv * suv)
           - su * (su * svv - suv * sv)
           + sv * (su * suv - suu * sv) AS det,
           sw * (suu * svv - suv * suv)
           - su * (suw * svv - suv * svw)
           + sv * (suw * suv - suu * svw) AS d0,
           CAST(n AS DOUBLE) * (suw * svv - suv * svw)
           - sw * (su * svv - suv * sv)
           + sv * (su * svw - suw * sv) AS du,
           CAST(n AS DOUBLE) * (suu * svw - suw * suv)
           - su * (su * svw - suw * sv)
           + sw * (su * suv - suu * sv) AS dv
    FROM a
), p AS (
    SELECT *,
           ROUND(d0 / det, 9) AS c0,
           ROUND(du / det, 9) AS cu,
           ROUND(dv / det, 9) AS cv
    FROM m WHERE det > 0.0
)
SELECT n AS n_rows,
       CAST(ROUND((c0 * sw + cu * suw + cv * svw
                   - sw * sw / CAST(n AS DOUBLE))
                  / (sww - sw * sw / CAST(n AS DOUBLE)), 6) AS DOUBLE)
           AS aux_r2,
       CAST(ROUND(CAST(n AS DOUBLE)
                  * ((c0 * sw + cu * suw + cv * svw
                      - sw * sw / CAST(n AS DOUBLE))
                     / (sww - sw * sw / CAST(n AS DOUBLE))), 6) AS DOUBLE)
           AS white_stat,
       ROUND(CAST(n AS DOUBLE)
             * ((c0 * sw + cu * suw + cv * svw
                 - sw * sw / CAST(n AS DOUBLE))
                / (sww - sw * sw / CAST(n AS DOUBLE))), 6) > 5.991465
           AS heteroscedastic
FROM p
"""


def fleming_harrington_test_retention_arms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fleming–Harrington G^ρ weighted log-rank test (ρ=1, the
    Peto–Peto/early-difference member) between the two md5 experiment
    arms — the WEIGHTED companion of ``logrank_test_retention_arms``:
    plain log-rank weights every event time equally and so is most
    powerful for proportional hazards; G^1 weights each time by the
    pooled left-limit survival Ŝ(t−), concentrating power on EARLY
    hazard differences (onboarding-churn experiments) where most users
    are still at risk. Same lifetimes, censoring, and arm hash as the
    KM/log-rank tier; χ² = (Σw_t(d_At−E_At))²/(Σw_t²V_t) on one df.

    Exactness: the pooled KM left limit folds as the KM exp(Σln)
    construction with the zero-factor guard and rounds at 9 before
    weighting; per-time terms round at 12 into DECIMAL(38,12) folds
    (float-order-free); χ² rounds at 6. Scale shape: one user-grain
    aggregate, then bounded duration-grain windows (documented class),
    one fold."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t"),
            arm_a.alias("is_a"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t")
        .agg(
            F.sum((F.col("churned") & F.col("is_a")).cast("long")).alias("d_a"),
            F.sum((F.col("churned") & ~F.col("is_a")).cast("long")).alias("d_b"),
            F.sum(F.col("is_a").cast("long")).alias("exit_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("exit_b"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot = grain.agg(
        F.sum("exit_a").alias("tot_a"), F.sum("exit_b").alias("tot_b")
    )
    at_risk = (
        grain.join(F.broadcast(tot))
        .withColumn(
            "n_a", F.col("tot_a") - F.coalesce(F.sum("exit_a").over(w), F.lit(0))
        )
        .withColumn(
            "n_b", F.col("tot_b") - F.coalesce(F.sum("exit_b").over(w), F.lit(0))
        )
        .filter((F.col("d_a") + F.col("d_b")) > 0)
    )
    d = (F.col("d_a") + F.col("d_b")).cast("double")
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    factor = F.lit(1.0) - d / n
    # pooled KM LEFT limit: survival strictly before t (rows-1 window)
    we = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    weighted = (
        at_risk.withColumn(
            "ln_prev",
            F.coalesce(
                F.sum(
                    F.when(factor > 0.0, F.log(factor)).otherwise(F.lit(0.0))
                ).over(we),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "zero_prev",
            F.coalesce(
                F.sum((factor <= 0.0).cast("long")).over(we), F.lit(0)
            ),
        )
        .withColumn(
            "wt",
            F.when(F.col("zero_prev") > 0, F.lit(0.0)).otherwise(
                F.round(F.exp("ln_prev"), 9)
            ),
        )
    )
    na = F.col("n_a").cast("double")
    e_a = d * na / n
    v = F.when(
        n > 1.0,
        d * (na / n) * (F.lit(1.0) - na / n) * (n - d) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    s = weighted.agg(
        F.sum("d_a").cast("bigint").alias("obs_a"),
        F.sum("d_b").cast("bigint").alias("obs_b"),
        F.sum(
            F.round(
                F.col("wt") * (F.col("d_a").cast("double") - e_a), 12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("_num"),
        F.sum(
            F.round(F.col("wt") * F.col("wt") * v, 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("_var"),
    )
    chi2 = F.when(
        F.col("_var") > 0.0,
        F.round(F.col("_num") * F.col("_num") / F.col("_var"), 6),
    ).otherwise(F.lit(0.0))
    return s.select(
        "obs_a",
        "obs_b",
        F.round(F.col("_num"), 6).cast("double").alias("weighted_diff_a"),
        chi2.cast("double").alias("chi2_fh"),
        (chi2 > F.lit(3.841459)).alias("significant"),
    )


FLEMING_HARRINGTON_TEST_RETENTION_ARMS_ORACLE = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t,
           SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                    AND ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS d_a,
           SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                    AND ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS d_b,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 = 0 THEN 1 ELSE 0 END) AS exit_a,
           SUM(CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT
                        % 2 <> 0 THEN 1 ELSE 0 END) AS exit_b
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(exit_a) AS tot_a, SUM(exit_b) AS tot_b FROM grain),
at_risk AS (
    SELECT t, d_a, d_b,
           tot_a - COALESCE(SUM(exit_a) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_a,
           tot_b - COALESCE(SUM(exit_b) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n_b
    FROM grain CROSS JOIN tot
), ev_rows AS (
    SELECT t, d_a, d_b, n_a, n_b,
           1.0 - CAST(d_a + d_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
               AS factor
    FROM at_risk WHERE d_a + d_b > 0
), weighted AS (
    SELECT t, d_a, d_b, n_a, n_b,
           CASE WHEN COALESCE(SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) > 0
                THEN 0.0
                ELSE ROUND(EXP(COALESCE(
                    SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
                    OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0.0)), 9)
           END AS wt
    FROM ev_rows
), terms AS (
    SELECT d_a, d_b,
           ROUND(wt * (CAST(d_a AS DOUBLE)
                       - CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE)), 12) AS num_t,
           ROUND(wt * wt
                 * CASE WHEN n_a + n_b > 1 THEN
                       CAST(d_a + d_b AS DOUBLE)
                       * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                       * (1.0 - CAST(n_a AS DOUBLE)
                                / CAST(n_a + n_b AS DOUBLE))
                       * (CAST(n_a + n_b AS DOUBLE)
                          - CAST(d_a + d_b AS DOUBLE))
                       / (CAST(n_a + n_b AS DOUBLE) - 1.0)
                   ELSE 0.0 END, 12) AS var_t
    FROM weighted
), s AS (
    SELECT CAST(SUM(d_a) AS BIGINT) AS obs_a,
           CAST(SUM(d_b) AS BIGINT) AS obs_b,
           CAST(SUM(CAST(num_t AS DECIMAL(38,12))) AS DOUBLE) AS num_s,
           CAST(SUM(CAST(var_t AS DECIMAL(38,12))) AS DOUBLE) AS var_s
    FROM terms
)
SELECT obs_a, obs_b,
       CAST(ROUND(num_s, 6) AS DOUBLE) AS weighted_diff_a,
       CAST(CASE WHEN var_s > 0.0
                 THEN ROUND(num_s * num_s / var_s, 6)
                 ELSE 0.0 END AS DOUBLE) AS chi2_fh,
       CASE WHEN var_s > 0.0
            THEN ROUND(num_s * num_s / var_s, 6)
            ELSE 0.0 END > 3.841459 AS significant
FROM s
"""


_LIFE_TABLE_W = 6  # actuarial interval width (hours): lifetimes
# concentrate near the corpus span, so a fine grain keeps a real table


def life_table_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actuarial life table (Berkson–Gage) of user retention over fixed
    6-hour intervals — the INTERVAL-grouped member of the survival
    tier: KM steps at exact event times (unbiased but jagged), the life
    table buckets lifetimes into fixed periods and applies the
    actuarial half-censoring correction n_eff = n − c/2 (withdrawals
    count half an interval at risk), the form reported in cohort
    retention dashboards. Publishes per interval: entries, events,
    withdrawals, effective exposure, conditional survival, and the
    cumulative curve S_k = Π(1−q_j).

    Exactness: counts integer; n_eff is an exact .5-grain double; the
    product folds as the KM exp(Σln) construction with the zero-factor
    guard; q and S round at 6. Scale shape: one user-grain aggregate,
    then interval grain ≤ span/48 — bounded windows (documented
    class)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            F.floor(hours / F.lit(_LIFE_TABLE_W)).cast("bigint").alias("k"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.col("churned").cast("long")).cast("bigint").alias("d"),
            F.sum((~F.col("churned")).cast("long")).cast("bigint").alias("c"),
        )
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    n_enter = (
        F.col("n_total")
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
    ).cast("bigint")
    curve = (
        grain.join(F.broadcast(total))
        .withColumn("n_enter", n_enter)
        .withColumn(
            "n_eff",
            F.col("n_enter").cast("double")
            - F.col("c").cast("double") / F.lit(2.0),
        )
        .withColumn(
            "factor",
            F.when(
                F.col("n_eff") > 0.0,
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_eff"),
            ).otherwise(F.lit(1.0)),
        )
        .withColumn(
            "ln_sum",
            F.sum(
                F.when(F.col("factor") > 0.0, F.log("factor")).otherwise(
                    F.lit(0.0)
                )
            ).over(wc),
        )
        .withColumn(
            "zero_seen", F.sum((F.col("factor") <= 0.0).cast("long")).over(wc)
        )
    )
    return curve.select(
        F.col("k").cast("int").alias("interval"),
        (F.col("k") * _LIFE_TABLE_W).cast("int").alias("t_start_hours"),
        "n_enter",
        F.col("d").alias("d_events"),
        F.col("c").alias("n_withdrawn"),
        F.col("n_eff").cast("double").alias("n_effective"),
        F.round(F.lit(1.0) - F.col("factor"), 6)
        .cast("double")
        .alias("cond_hazard"),
        F.when(F.col("zero_seen") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp("ln_sum"), 6))
        .cast("double")
        .alias("cum_survival"),
    )


LIFE_TABLE_RETENTION_ORACLE = f"""
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT CAST(FLOOR(datediff('hour', first_ts, last_ts)
                      / {_LIFE_TABLE_W}) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(d + c) AS n_total FROM grain),
curve AS (
    SELECT k, d, c,
           CAST(n_total - COALESCE(SUM(d + c) OVER (
                    ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_enter
    FROM grain CROSS JOIN tot
), eff AS (
    SELECT k, d, c, n_enter,
           CAST(n_enter AS DOUBLE) - CAST(c AS DOUBLE) / 2.0 AS n_eff
    FROM curve
), fac AS (
    SELECT k, d, c, n_enter, n_eff,
           CASE WHEN n_eff > 0.0
                THEN 1.0 - CAST(d AS DOUBLE) / n_eff
                ELSE 1.0 END AS factor
    FROM eff
), s AS (
    SELECT k, d, c, n_enter, n_eff, factor,
           SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
               OVER (ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ln_sum,
           SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
               OVER (ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zero_seen
    FROM fac
)
SELECT CAST(k AS INTEGER) AS interval,
       CAST(k * {_LIFE_TABLE_W} AS INTEGER) AS t_start_hours,
       n_enter, d AS d_events, c AS n_withdrawn,
       CAST(n_eff AS DOUBLE) AS n_effective,
       CAST(ROUND(1.0 - factor, 6) AS DOUBLE) AS cond_hazard,
       CAST(CASE WHEN zero_seen > 0 THEN 0.0
                 ELSE ROUND(EXP(ln_sum), 6) END AS DOUBLE) AS cum_survival
FROM s
"""


def competing_risks_cif_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aalen–Johansen cumulative incidence functions under COMPETING
    exit causes: a churned user's lifetime ends either in a
    purchase-exit (their final event was a purchase — left satisfied)
    or an other-exit (abandoned mid-journey); 1−KM over-counts each
    cause's risk because a user removed by one cause can no longer
    experience the other, the classic competing-risks bias. CIF_k(t) =
    Σ_{u≤t} Ŝ(u−)·d_k(u)/n(u) with the ALL-cause KM left limit Ŝ —
    published per event time with both CIFs, and the identity
    CIF₁+CIF₂ = 1−Ŝ holds exactly (pinned by the mirror test). Same
    lifetimes/censoring as the KM tier; the last event breaks ts ties
    deterministically by event-type.

    Exactness: per-time (d₁, d₂, n) are exact bigints; Ŝ(u−) folds as
    the KM exp(Σln) construction with the zero guard and rounds at 9;
    CIF increments round at 12 into decimal cumulative sums; outputs
    round at 6. Scale shape: one user-grain aggregate (window keyed BY
    user for the last event), then bounded duration-grain windows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    wl = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_type").desc()
    )
    per_user = (
        ev.withColumn("rn", F.row_number().over(wl))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
                "last_type"
            ),
        )
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    churned = F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t"),
            (churned & (F.col("last_type") == "purchase"))
            .cast("long")
            .alias("c1"),
            (churned & (F.col("last_type") != "purchase"))
            .cast("long")
            .alias("c2"),
            (~churned).cast("long").alias("cc"),
        )
        .groupBy("t")
        .agg(
            F.sum("c1").cast("bigint").alias("d1"),
            F.sum("c2").cast("bigint").alias("d2"),
            F.sum("cc").cast("bigint").alias("c"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(
        F.sum(F.col("d1") + F.col("d2") + F.col("c")).alias("n_total")
    )
    curve = (
        grain.join(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum(F.col("d1") + F.col("d2") + F.col("c")).over(w),
                    F.lit(0),
                )
            ).cast("bigint"),
        )
        .withColumn(
            "factor",
            F.lit(1.0)
            - (F.col("d1") + F.col("d2")).cast("double")
            / F.col("n_at_risk").cast("double"),
        )
        .withColumn(
            "ln_prev",
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("factor") > 0.0, F.log("factor")
                    ).otherwise(F.lit(0.0))
                ).over(w),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "zero_prev",
            F.coalesce(
                F.sum((F.col("factor") <= 0.0).cast("long")).over(w),
                F.lit(0),
            ),
        )
        .withColumn(
            "s_prev",
            F.when(F.col("zero_prev") > 0, F.lit(0.0)).otherwise(
                F.round(F.exp("ln_prev"), 9)
            ),
        )
        .withColumn(
            "cif1",
            F.sum(
                F.round(
                    F.col("s_prev")
                    * F.col("d1").cast("double")
                    / F.col("n_at_risk").cast("double"),
                    12,
                ).cast("decimal(27,12)")
            ).over(wc),
        )
        .withColumn(
            "cif2",
            F.sum(
                F.round(
                    F.col("s_prev")
                    * F.col("d2").cast("double")
                    / F.col("n_at_risk").cast("double"),
                    12,
                ).cast("decimal(27,12)")
            ).over(wc),
        )
        .withColumn(
            "ln_cur",
            F.sum(
                F.when(F.col("factor") > 0.0, F.log("factor")).otherwise(
                    F.lit(0.0)
                )
            ).over(wc),
        )
        .withColumn(
            "zero_cur",
            F.sum((F.col("factor") <= 0.0).cast("long")).over(wc),
        )
    )
    return (
        curve.filter(F.col("d1") + F.col("d2") > 0)
        .select(
            F.col("t").cast("int").alias("t_hours"),
            "n_at_risk",
            F.col("d1").alias("d_purchase_exit"),
            F.col("d2").alias("d_other_exit"),
            F.round(F.col("cif1").cast("double"), 6)
            .cast("double")
            .alias("cif_purchase"),
            F.round(F.col("cif2").cast("double"), 6)
            .cast("double")
            .alias("cif_other"),
            F.when(F.col("zero_cur") > 0, F.lit(0.0))
            .otherwise(F.round(F.exp("ln_cur"), 6))
            .cast("double")
            .alias("km_overall"),
        )
    )


COMPETING_RISKS_CIF_RETENTION_ORACLE = """
WITH ev AS (
    SELECT user_id, ts, event_type FROM events
), lastt AS (
    SELECT user_id, ts, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_type DESC) AS rn
    FROM ev
), per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS last_type
    FROM lastt GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM ev),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                          AND last_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                          AND last_type <> 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(d1 + d2 + c) AS n_total FROM grain),
curve AS (
    SELECT t, d1, d2, c,
           CAST(n_total - COALESCE(SUM(d1 + d2 + c) OVER (
                    ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_at_risk
    FROM grain CROSS JOIN tot
), fac AS (
    SELECT *,
           1.0 - CAST(d1 + d2 AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
               AS factor
    FROM curve
), sp AS (
    SELECT *,
           CASE WHEN COALESCE(SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) > 0
                THEN 0.0
                ELSE ROUND(EXP(COALESCE(
                    SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
                    OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0.0)), 9)
           END AS s_prev,
           SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ln_cur,
           SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zero_cur
    FROM fac
), cif AS (
    SELECT *,
           SUM(CAST(ROUND(s_prev * CAST(d1 AS DOUBLE)
                          / CAST(n_at_risk AS DOUBLE), 12)
                    AS DECIMAL(27,12)))
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cif1,
           SUM(CAST(ROUND(s_prev * CAST(d2 AS DOUBLE)
                          / CAST(n_at_risk AS DOUBLE), 12)
                    AS DECIMAL(27,12)))
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cif2
    FROM sp
)
SELECT CAST(t AS INTEGER) AS t_hours, n_at_risk,
       d1 AS d_purchase_exit, d2 AS d_other_exit,
       CAST(ROUND(CAST(cif1 AS DOUBLE), 6) AS DOUBLE) AS cif_purchase,
       CAST(ROUND(CAST(cif2 AS DOUBLE), 6) AS DOUBLE) AS cif_other,
       CAST(CASE WHEN zero_cur > 0 THEN 0.0
                 ELSE ROUND(EXP(ln_cur), 6) END AS DOUBLE) AS km_overall
FROM cif
WHERE d1 + d2 > 0
"""


def hotelling_t2_weekpart_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hotelling's T² two-sample test (Hotelling 1931) comparing the
    JOINT daily (purchase $, view $) mean vector between weekday and
    weekend days — the MULTIVARIATE member of the two-sample family:
    running ``welch_ttest_purchase_view_daily``-style tests per metric
    ignores their correlation and inflates the family error; T² =
    n₁n₂/(n₁+n₂)·d'S_p⁻¹d tests both means at once through the pooled
    covariance, catching joint shifts a per-metric scan dilutes. The
    verdict reads the F form F = (n−p−1)/(p(n−2))·T² against the
    asymptotic χ²(2)/2-grade 5% point (dfs published; n is in the
    hundreds, where F(2, n−3) ≈ χ²(2)/2 to the 3rd decimal —
    documented).

    Exactness: per-group sums and cross-products fold in decimal;
    means and (co)variances round at 9; the 2×2 inverse is the closed
    adjugate over one determinant; T²/F round at 6. Scale shape: one
    daily aggregation, two group folds, constant algebra."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(F.lit(0.0)),
            27,
            12,
        )
        .cast("double")
        .alias("x"),
        dec_sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            27,
            12,
        )
        .cast("double")
        .alias("y"),
    ).withColumn("wk", (F.weekday("day") >= 5).cast("int"))
    g = daily.groupBy("wk").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 38, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("x"), 38, 9).cast("double").alias("sxx"),
        dec_sum(F.col("y") * F.col("y"), 38, 9).cast("double").alias("syy"),
        dec_sum(F.col("x") * F.col("y"), 38, 9).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.round(F.col("sx") / nd, 9)
    my = F.round(F.col("sy") / nd, 9)
    cxx = F.round(F.col("sxx") - F.col("sx") * F.col("sx") / nd, 9)
    cyy = F.round(F.col("syy") - F.col("sy") * F.col("sy") / nd, 9)
    cxy = F.round(F.col("sxy") - F.col("sx") * F.col("sy") / nd, 9)
    stats = g.select(
        "wk", "n", mx.alias("mx"), my.alias("my"),
        cxx.alias("cxx"), cyy.alias("cyy"), cxy.alias("cxy"),
    )
    a = stats.filter(F.col("wk") == 0).select(
        F.col("n").alias("n1"), F.col("mx").alias("mx1"),
        F.col("my").alias("my1"), F.col("cxx").alias("cxx1"),
        F.col("cyy").alias("cyy1"), F.col("cxy").alias("cxy1"),
        F.lit(1).alias("one"),
    )
    b = stats.filter(F.col("wk") == 1).select(
        F.col("n").alias("n2"), F.col("mx").alias("mx2"),
        F.col("my").alias("my2"), F.col("cxx").alias("cxx2"),
        F.col("cyy").alias("cyy2"), F.col("cxy").alias("cxy2"),
        F.lit(1).alias("one"),
    )
    j = a.join(F.broadcast(b), "one")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    sxx = (F.col("cxx1") + F.col("cxx2")) / (n1 + n2 - 2.0)
    syy = (F.col("cyy1") + F.col("cyy2")) / (n1 + n2 - 2.0)
    sxy = (F.col("cxy1") + F.col("cxy2")) / (n1 + n2 - 2.0)
    det = sxx * syy - sxy * sxy
    dx = F.col("mx1") - F.col("mx2")
    dy = F.col("my1") - F.col("my2")
    quad = (dx * (syy * dx - sxy * dy) + dy * (sxx * dy - sxy * dx)) / det
    t2 = F.round(n1 * n2 / (n1 + n2) * quad, 6)
    f = F.round(
        (n1 + n2 - 3.0) / (2.0 * (n1 + n2 - 2.0)) * t2, 6
    )
    return j.select(
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        t2.cast("double").alias("t2_stat"),
        f.cast("double").alias("f_stat"),
        F.lit(2).cast("int").alias("df1"),
        (F.col("n1") + F.col("n2") - 3).cast("bigint").alias("df2"),
        (t2 > F.lit(5.991465)).alias("significant_chi2"),
    )


HOTELLING_T2_WEEKPART_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS x,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS y
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
), keyed AS (
    SELECT x, y, CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS wk
    FROM daily
), g AS (
    SELECT wk, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy
    FROM keyed GROUP BY wk
), stats AS (
    SELECT wk, n,
           ROUND(sx / CAST(n AS DOUBLE), 9) AS mx,
           ROUND(sy / CAST(n AS DOUBLE), 9) AS my,
           ROUND(sxx - sx * sx / CAST(n AS DOUBLE), 9) AS cxx,
           ROUND(syy - sy * sy / CAST(n AS DOUBLE), 9) AS cyy,
           ROUND(sxy - sx * sy / CAST(n AS DOUBLE), 9) AS cxy
    FROM g
), j AS (
    SELECT a.n AS n1, a.mx AS mx1, a.my AS my1,
           a.cxx AS cxx1, a.cyy AS cyy1, a.cxy AS cxy1,
           b.n AS n2, b.mx AS mx2, b.my AS my2,
           b.cxx AS cxx2, b.cyy AS cyy2, b.cxy AS cxy2
    FROM (SELECT * FROM stats WHERE wk = 0) a
    CROSS JOIN (SELECT * FROM stats WHERE wk = 1) b
), alg AS (
    SELECT n1, n2,
           ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 * (((mx1 - mx2)
                     * (((cyy1 + cyy2) / (CAST(n1 AS DOUBLE)
                                          + CAST(n2 AS DOUBLE) - 2.0))
                          * (mx1 - mx2)
                        - ((cxy1 + cxy2) / (CAST(n1 AS DOUBLE)
                                            + CAST(n2 AS DOUBLE) - 2.0))
                          * (my1 - my2))
                     + (my1 - my2)
                       * (((cxx1 + cxx2) / (CAST(n1 AS DOUBLE)
                                            + CAST(n2 AS DOUBLE) - 2.0))
                            * (my1 - my2)
                          - ((cxy1 + cxy2) / (CAST(n1 AS DOUBLE)
                                              + CAST(n2 AS DOUBLE) - 2.0))
                            * (mx1 - mx2)))
                    / (((cxx1 + cxx2) / (CAST(n1 AS DOUBLE)
                                         + CAST(n2 AS DOUBLE) - 2.0))
                       * ((cyy1 + cyy2) / (CAST(n1 AS DOUBLE)
                                           + CAST(n2 AS DOUBLE) - 2.0))
                       - ((cxy1 + cxy2) / (CAST(n1 AS DOUBLE)
                                           + CAST(n2 AS DOUBLE) - 2.0))
                         * ((cxy1 + cxy2) / (CAST(n1 AS DOUBLE)
                                             + CAST(n2 AS DOUBLE) - 2.0)))),
                 6) AS t2
    FROM j
)
SELECT n1 AS n_weekday, n2 AS n_weekend,
       CAST(t2 AS DOUBLE) AS t2_stat,
       CAST(ROUND((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 3.0)
                  / (2.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
                  * t2, 6) AS DOUBLE) AS f_stat,
       CAST(2 AS INT) AS df1,
       CAST(n1 + n2 - 3 AS BIGINT) AS df2,
       t2 > 5.991465 AS significant_chi2
FROM alg
"""


def mahalanobis_outliers_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 bivariate Mahalanobis outliers over (quantity, extended
    price) — the MULTIVARIATE member of the outlier family:
    ``robust_outliers_mad``/``event_value_outliers`` read one column at
    a time and miss points that are unremarkable marginally but
    IMPOSSIBLE jointly (tiny quantity at a huge price); d² =
    (v−μ)'Σ⁻¹(v−μ) whitens by the 2×2 covariance so the correlated
    price~quantity ridge doesn't drown the off-ridge anomalies, and
    under normality d² ~ χ²(2), giving the 13.815511 (99.9%) flag.

    Exactness: μ/Σ come from one decimal 5-sum fold rounded at 9; d²
    is one fixed double expression per row (closed 2×2 adjugate
    inverse) rounded at 6; the top-10 is TakeOrdered on (d² desc,
    orderkey, linenumber) — fully deterministic under ties. Scale
    shape: two corpus passes (moments, then score+top-k), no joins
    beyond the 1-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    s = li.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("x"), 38, 9).cast("double").alias("sxx"),
        dec_sum(F.col("y") * F.col("y"), 38, 6).cast("double").alias("syy"),
        dec_sum(F.col("x") * F.col("y"), 38, 9).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    p = s.select(
        F.round(F.col("sx") / nd, 9).alias("mx"),
        F.round(F.col("sy") / nd, 9).alias("my"),
        F.round((F.col("sxx") - F.col("sx") * F.col("sx") / nd) / (nd - 1.0), 9).alias("cxx"),
        F.round((F.col("syy") - F.col("sy") * F.col("sy") / nd) / (nd - 1.0), 9).alias("cyy"),
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / nd) / (nd - 1.0), 9).alias("cxy"),
        F.lit(1).alias("one"),
    )
    j = li.withColumn("one", F.lit(1)).join(F.broadcast(p), "one")
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    det = F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    d2 = F.round(
        (
            dx * (F.col("cyy") * dx - F.col("cxy") * dy)
            + dy * (F.col("cxx") * dy - F.col("cxy") * dx)
        )
        / det,
        6,
    )
    return (
        j.select(
            "l_orderkey",
            "l_linenumber",
            F.col("x").alias("quantity"),
            F.col("y").alias("price"),
            d2.cast("double").alias("mahalanobis_d2"),
        )
        .orderBy(
            F.col("mahalanobis_d2").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(10)
        .withColumn(
            "outlier_999", F.col("mahalanobis_d2") > F.lit(13.815511)
        )
    )


MAHALANOBIS_OUTLIERS_LINEITEM_ORACLE = """
WITH base AS (
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y
    FROM lineitem
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy
    FROM base
), p AS (
    SELECT ROUND(sx / CAST(n AS DOUBLE), 9) AS mx,
           ROUND(sy / CAST(n AS DOUBLE), 9) AS my,
           ROUND((sxx - sx * sx / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS cxx,
           ROUND((syy - sy * sy / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS cyy,
           ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS cxy
    FROM s
), scored AS (
    SELECT l_orderkey, l_linenumber, x AS quantity, y AS price,
           ROUND(((x - mx) * (cyy * (x - mx) - cxy * (y - my))
                  + (y - my) * (cxx * (y - my) - cxy * (x - mx)))
                 / (cxx * cyy - cxy * cxy), 6) AS mahalanobis_d2
    FROM base CROSS JOIN p
)
SELECT l_orderkey, l_linenumber, quantity, price,
       CAST(mahalanobis_d2 AS DOUBLE) AS mahalanobis_d2,
       mahalanobis_d2 > 13.815511 AS outlier_999
FROM scored
ORDER BY mahalanobis_d2 DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 10
"""


def cronbach_alpha_event_types_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cronbach's α (Cronbach 1951) treating the 5 event types as scale
    ITEMS and users as subjects (per-user dollar totals per type) —
    the RELIABILITY member next to ``cohens_kappa_quality_flags`` (two
    raters, categorical) and ``kendalls_w_weekday_event_types`` (many
    judges, ranks): α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) asks whether the
    per-type engagement signals cohere into one "activity" construct
    (α→1) or measure unrelated things (α→0); the item-dropped α
    column is the standard item-diagnostic.

    Exactness: the user×item matrix folds from ONE facts pass (missing
    cells are true zeros); per-item and total-score variances come
    from decimal power sums rounded at 9; α rounds at 6. Item-dropped
    variance uses the identity σ²(T−i) = σ²_T + σ²ᵢ − 2cov(T,i) from
    the same sums — no second pass. Scale shape: one user-grain
    pivot-free fold, k-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("user_id", "event_type").agg(
        dec_sum(F.col("value"), 27, 12).cast("double").alias("v")
    )
    types = [r[0] for r in cells.select("event_type").distinct().orderBy("event_type").collect()]
    wide = cells.groupBy("user_id").pivot("event_type", types).agg(
        F.first("v")
    )
    for t in types:
        wide = wide.withColumn(t, F.coalesce(F.col(t), F.lit(0.0)))
    tot = wide.withColumn(
        "total", sum(F.col(t) for t in types)
    )
    aggs = [F.count("*").cast("bigint").alias("n")]
    for t in types:
        aggs.append(dec_sum(F.col(t), 38, 12).cast("double").alias(f"s_{t}"))
        aggs.append(
            dec_sum(F.col(t) * F.col(t), 38, 9)
            .cast("double")
            .alias(f"ss_{t}")
        )
        aggs.append(
            dec_sum(F.col(t) * F.col("total"), 38, 9)
            .cast("double")
            .alias(f"st_{t}")
        )
    aggs.append(dec_sum(F.col("total"), 38, 12).cast("double").alias("s_tot"))
    aggs.append(
        dec_sum(F.col("total") * F.col("total"), 38, 9)
        .cast("double")
        .alias("ss_tot")
    )
    s = tot.agg(*aggs)
    nd = F.col("n").cast("double")

    def var(ss, sm):
        return F.round((ss - sm * sm / nd) / (nd - 1.0), 9)

    def cov(sp, sa, sb):
        return F.round((sp - sa * sb / nd) / (nd - 1.0), 9)

    var_tot = var(F.col("ss_tot"), F.col("s_tot"))
    sum_var_items = None
    for t in types:
        v = var(F.col(f"ss_{t}"), F.col(f"s_{t}"))
        sum_var_items = v if sum_var_items is None else sum_var_items + v
    k = float(len(types))
    alpha = F.round(
        F.lit(k) / F.lit(k - 1.0) * (F.lit(1.0) - sum_var_items / var_tot), 6
    )
    base = s.select(
        "n",
        F.lit(int(k)).cast("int").alias("k_items"),
        alpha.alias("alpha"),
        var_tot.alias("vt"),
        *[var(F.col(f"ss_{t}"), F.col(f"s_{t}")).alias(f"v_{t}") for t in types],
        *[
            cov(F.col(f"st_{t}"), F.col(f"s_{t}"), F.col("s_tot")).alias(
                f"c_{t}"
            )
            for t in types
        ],
    )
    rows = []
    for t in types:
        # dropped-item variance: var(T - i) = vT + vi - 2 cov(T, i)
        vd = F.col("vt") + F.col(f"v_{t}") - 2.0 * F.col(f"c_{t}")
        others = [u for u in types if u != t]
        sv = None
        for u in others:
            sv = F.col(f"v_{u}") if sv is None else sv + F.col(f"v_{u}")
        km1 = float(len(others))
        a_drop = F.round(
            F.lit(km1) / F.lit(km1 - 1.0) * (F.lit(1.0) - sv / vd), 6
        )
        rows.append(
            base.select(
                F.lit(t).alias("item"),
                "n",
                "k_items",
                F.col("alpha").cast("double").alias("alpha"),
                a_drop.cast("double").alias("alpha_if_dropped"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("item")


def _cronbach_oracle() -> str:
    types = ["click", "error", "purchase", "signup", "view"]
    k = len(types)
    cols = ",\n           ".join(
        f"COALESCE(SUM(CASE WHEN event_type = '{t}' THEN"
        f" CAST(value AS DECIMAL(27,12)) END), 0) AS v_{t}"
        for t in types
    )
    sums = []
    for t in types:
        sums.append(
            f"CAST(SUM(CAST(v_{t} AS DECIMAL(38,12))) AS DOUBLE) AS s_{t}"
        )
        sums.append(
            f"CAST(SUM(CAST(v_{t} * v_{t} AS DECIMAL(38,9))) AS DOUBLE)"
            f" AS ss_{t}"
        )
        sums.append(
            f"CAST(SUM(CAST(v_{t} * total AS DECIMAL(38,9))) AS DOUBLE)"
            f" AS st_{t}"
        )
    # total adds the DOUBLE-cast items left-to-right — the exact order
    # Spark's python sum() builds — NOT a decimal sum cast once (ULP risk)
    total_expr = " + ".join(f"CAST(v_{t} AS DOUBLE)" for t in types)
    var = (
        lambda ss, sm: f"ROUND(({ss} - {sm} * {sm} / CAST(n AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) - 1.0), 9)"
    )
    sum_vi = " + ".join(var(f"ss_{t}", f"s_{t}") for t in types)
    joined_sums = ",\n           ".join(sums)
    pieces = []
    for t in types:
        others = [u for u in types if u != t]
        sv = " + ".join(var(f"ss_{u}", f"s_{u}") for u in others)
        vd = (
            f"({var('ss_tot', 's_tot')} + {var(f'ss_{t}', f's_{t}')}"
            f" - 2.0 * ROUND((st_{t} - s_{t} * s_tot / CAST(n AS DOUBLE))"
            f" / (CAST(n AS DOUBLE) - 1.0), 9))"
        )
        km1 = float(k - 1)
        pieces.append(f"""
SELECT '{t}' AS item, n, CAST({k} AS INT) AS k_items,
       CAST(ROUND({float(k)} / {float(k - 1)}
                  * (1.0 - ({sum_vi}) / {var('ss_tot', 's_tot')}), 6)
            AS DOUBLE) AS alpha,
       CAST(ROUND({km1} / {km1 - 1.0} * (1.0 - ({sv}) / {vd}), 6)
            AS DOUBLE) AS alpha_if_dropped
FROM s""")
    return f"""
WITH wide AS (
    SELECT user_id,
           {cols}
    FROM events GROUP BY user_id
), tot AS (
    SELECT *, {total_expr} AS total,
           {", ".join(f"CAST(v_{t} AS DOUBLE) AS d_{t}" for t in types)}
    FROM wide
), cast_ AS (
    SELECT user_id, total,
           {", ".join(f"d_{t} AS v_{t}" for t in types)}
    FROM tot
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {joined_sums},
           CAST(SUM(CAST(total AS DECIMAL(38,12))) AS DOUBLE) AS s_tot,
           CAST(SUM(CAST(total * total AS DECIMAL(38,9))) AS DOUBLE)
               AS ss_tot
    FROM cast_
)
{chr(10).join("UNION ALL" + piece if i else piece for i, piece in enumerate(pieces))}
ORDER BY item
"""


CRONBACH_ALPHA_EVENT_TYPES_USERS_ORACLE = _cronbach_oracle()


def odds_ratio_ci_priority_status_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Odds ratio with Woolf's logit 95% CI for the 2×2 of
    high-priority (1-URGENT/2-HIGH) × fulfilled (status F) orders —
    the EFFECT-SIZE companion the 2×2 test family lacks:
    ``fisher_exact_region_priority_orders`` and
    ``mcnemar_weekday_weekend_purchase`` emit p-values, but a rollout
    decision needs the magnitude and its interval; OR = ad/bc with
    se(ln OR) = √(1/a+1/b+1/c+1/d) (Woolf 1955), CI = exp(ln OR ±
    1.96·se). The Haldane–Anscombe +0.5 correction applies on BOTH
    engines when any cell is empty.

    Exactness: the four cells are exact bigints from one pass;
    ln/exp ride the house libm policy on bit-identical doubles; OR and
    bounds round at 6. Scale shape: one grouped count, constant
    algebra."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.agg(
        F.sum(
            (
                (F.substring("o_orderpriority", 1, 1) <= "2")
                & (F.col("o_orderstatus") == "F")
            ).cast("long")
        )
        .cast("bigint")
        .alias("a"),
        F.sum(
            (
                (F.substring("o_orderpriority", 1, 1) <= "2")
                & (F.col("o_orderstatus") != "F")
            ).cast("long")
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            (
                (F.substring("o_orderpriority", 1, 1) > "2")
                & (F.col("o_orderstatus") == "F")
            ).cast("long")
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            (
                (F.substring("o_orderpriority", 1, 1) > "2")
                & (F.col("o_orderstatus") != "F")
            ).cast("long")
        )
        .cast("bigint")
        .alias("d"),
    )
    anyz = (
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0)
    )
    corr = F.when(anyz, F.lit(0.5)).otherwise(F.lit(0.0))
    ad = F.col("a").cast("double") + corr
    bd = F.col("b").cast("double") + corr
    cd = F.col("c").cast("double") + corr
    dd = F.col("d").cast("double") + corr
    lor = F.log(ad * dd / (bd * cd))
    se = F.sqrt(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd)
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.round(F.exp(lor), 6).cast("double").alias("odds_ratio"),
        F.round(F.exp(lor - 1.959964 * se), 6)
        .cast("double")
        .alias("ci_low"),
        F.round(F.exp(lor + 1.959964 * se), 6)
        .cast("double")
        .alias("ci_high"),
        (
            (F.round(F.exp(lor - 1.959964 * se), 6) > 1.0)
            | (F.round(F.exp(lor + 1.959964 * se), 6) < 1.0)
        ).alias("significant"),
    )


ODDS_RATIO_CI_PRIORITY_STATUS_ORDERS_ORACLE = """
WITH cells AS (
    SELECT CAST(SUM(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) <= '2'
                          AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
           CAST(SUM(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) <= '2'
                          AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
           CAST(SUM(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) > '2'
                          AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS c,
           CAST(SUM(CASE WHEN SUBSTRING(o_orderpriority, 1, 1) > '2'
                          AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS d
    FROM orders
), adj AS (
    SELECT a, b, c, d,
           CAST(a AS DOUBLE) + corr AS ad,
           CAST(b AS DOUBLE) + corr AS bd,
           CAST(c AS DOUBLE) + corr AS cd,
           CAST(d AS DOUBLE) + corr AS dd
    FROM (
        SELECT *, CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                       THEN 0.5 ELSE 0.0 END AS corr
        FROM cells
    )
)
SELECT a, b, c, d,
       CAST(ROUND(EXP(ln(ad * dd / (bd * cd))), 6) AS DOUBLE) AS odds_ratio,
       CAST(ROUND(EXP(ln(ad * dd / (bd * cd))
                      - 1.959964 * SQRT(1.0 / ad + 1.0 / bd
                                        + 1.0 / cd + 1.0 / dd)), 6)
            AS DOUBLE) AS ci_low,
       CAST(ROUND(EXP(ln(ad * dd / (bd * cd))
                      + 1.959964 * SQRT(1.0 / ad + 1.0 / bd
                                        + 1.0 / cd + 1.0 / dd)), 6)
            AS DOUBLE) AS ci_high,
       ROUND(EXP(ln(ad * dd / (bd * cd))
                 - 1.959964 * SQRT(1.0 / ad + 1.0 / bd
                                   + 1.0 / cd + 1.0 / dd)), 6) > 1.0
       OR ROUND(EXP(ln(ad * dd / (bd * cd))
                    + 1.959964 * SQRT(1.0 / ad + 1.0 / bd
                                      + 1.0 / cd + 1.0 / dd)), 6) < 1.0
           AS significant
FROM adj
"""


def box_m_test_weekpart_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box's M test (Box 1949) for equality of the weekday/weekend
    covariance matrices of the daily (purchase $, view $) vector — the
    ASSUMPTION CHECK ``hotelling_t2_weekpart_daily`` rests on: T²
    pools the two covariances; if they differ, its level is wrong (the
    multivariate Behrens–Fisher problem). M = (n−2)ln|S_p| −
    Σ(nᵢ−1)ln|Sᵢ| with Box's χ² scaling (1−c)M on p(p+1)/2 = 3 df,
    c = (2p²+3p−1)/(6(p+1)(k−1))·(Σ1/(nᵢ−1) − 1/(n−2)).

    Exactness: the same decimal 6-sum group folds as Hotelling with
    entries rounded at 9; determinants are closed 2×2 forms; ln rides
    the house libm policy; M/χ² round at 6. Scale shape: one daily
    aggregation, two group folds, constant algebra."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(F.lit(0.0)),
            27,
            12,
        )
        .cast("double")
        .alias("x"),
        dec_sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            27,
            12,
        )
        .cast("double")
        .alias("y"),
    ).withColumn("wk", (F.weekday("day") >= 5).cast("int"))
    g = daily.groupBy("wk").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 38, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("x"), 38, 9).cast("double").alias("sxx"),
        dec_sum(F.col("y") * F.col("y"), 38, 9).cast("double").alias("syy"),
        dec_sum(F.col("x") * F.col("y"), 38, 9).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    st = g.select(
        "wk",
        "n",
        F.round((F.col("sxx") - F.col("sx") * F.col("sx") / nd) / (nd - 1.0), 9).alias("cxx"),
        F.round((F.col("syy") - F.col("sy") * F.col("sy") / nd) / (nd - 1.0), 9).alias("cyy"),
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / nd) / (nd - 1.0), 9).alias("cxy"),
    )
    a = st.filter(F.col("wk") == 0).select(
        F.col("n").alias("n1"), F.col("cxx").alias("cxx1"),
        F.col("cyy").alias("cyy1"), F.col("cxy").alias("cxy1"),
        F.lit(1).alias("one"),
    )
    b = st.filter(F.col("wk") == 1).select(
        F.col("n").alias("n2"), F.col("cxx").alias("cxx2"),
        F.col("cyy").alias("cyy2"), F.col("cxy").alias("cxy2"),
        F.lit(1).alias("one"),
    )
    j = a.join(F.broadcast(b), "one")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    pxx = ((n1 - 1.0) * F.col("cxx1") + (n2 - 1.0) * F.col("cxx2")) / (
        n1 + n2 - 2.0
    )
    pyy = ((n1 - 1.0) * F.col("cyy1") + (n2 - 1.0) * F.col("cyy2")) / (
        n1 + n2 - 2.0
    )
    pxy = ((n1 - 1.0) * F.col("cxy1") + (n2 - 1.0) * F.col("cxy2")) / (
        n1 + n2 - 2.0
    )
    det1 = F.col("cxx1") * F.col("cyy1") - F.col("cxy1") * F.col("cxy1")
    det2 = F.col("cxx2") * F.col("cyy2") - F.col("cxy2") * F.col("cxy2")
    detp = pxx * pyy - pxy * pxy
    m = (
        (n1 + n2 - 2.0) * F.log(detp)
        - (n1 - 1.0) * F.log(det1)
        - (n2 - 1.0) * F.log(det2)
    )
    c = (
        F.lit(13.0 / 18.0)
        * (
            1.0 / (n1 - 1.0)
            + 1.0 / (n2 - 1.0)
            - 1.0 / (n1 + n2 - 2.0)
        )
    )
    chi2 = F.round(m * (F.lit(1.0) - c), 6)
    return j.select(
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        F.round(m, 6).cast("double").alias("box_m"),
        chi2.cast("double").alias("chi2"),
        F.lit(3).cast("int").alias("df"),
        (chi2 > F.lit(7.814728)).alias("covariances_differ"),
    )


BOX_M_TEST_WEEKPART_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS x,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS y
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
), keyed AS (
    SELECT x, y, CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS wk
    FROM daily
), g AS (
    SELECT wk, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy
    FROM keyed GROUP BY wk
), st AS (
    SELECT wk, n,
           ROUND((sxx - sx * sx / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS cxx,
           ROUND((syy - sy * sy / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS cyy,
           ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 9) AS cxy
    FROM g
), j AS (
    SELECT a.n AS n1, a.cxx AS cxx1, a.cyy AS cyy1, a.cxy AS cxy1,
           b.n AS n2, b.cxx AS cxx2, b.cyy AS cyy2, b.cxy AS cxy2
    FROM (SELECT * FROM st WHERE wk = 0) a
    CROSS JOIN (SELECT * FROM st WHERE wk = 1) b
), alg AS (
    SELECT n1, n2,
           (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)
           * ln((((CAST(n1 AS DOUBLE) - 1.0) * cxx1
                  + (CAST(n2 AS DOUBLE) - 1.0) * cxx2)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
                * (((CAST(n1 AS DOUBLE) - 1.0) * cyy1
                    + (CAST(n2 AS DOUBLE) - 1.0) * cyy2)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
                - (((CAST(n1 AS DOUBLE) - 1.0) * cxy1
                    + (CAST(n2 AS DOUBLE) - 1.0) * cxy2)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
                  * (((CAST(n1 AS DOUBLE) - 1.0) * cxy1
                      + (CAST(n2 AS DOUBLE) - 1.0) * cxy2)
                     / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))
           - (CAST(n1 AS DOUBLE) - 1.0) * ln(cxx1 * cyy1 - cxy1 * cxy1)
           - (CAST(n2 AS DOUBLE) - 1.0) * ln(cxx2 * cyy2 - cxy2 * cxy2)
               AS m,
           (13.0 / 18.0) * (1.0 / (CAST(n1 AS DOUBLE) - 1.0)
                            + 1.0 / (CAST(n2 AS DOUBLE) - 1.0)
                            - 1.0 / (CAST(n1 AS DOUBLE)
                                     + CAST(n2 AS DOUBLE) - 2.0)) AS c
    FROM j
)
SELECT n1 AS n_weekday, n2 AS n_weekend,
       CAST(ROUND(m, 6) AS DOUBLE) AS box_m,
       CAST(ROUND(m * (1.0 - c), 6) AS DOUBLE) AS chi2,
       CAST(3 AS INT) AS df,
       ROUND(m * (1.0 - c), 6) > 7.814728 AS covariances_differ
FROM alg
"""


def mardia_normality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mardia's multivariate skewness/kurtosis normality test (Mardia
    1970) on the daily (purchase $, view $) vector — the NORMALITY
    check the parametric multivariate pair assumes
    (``hotelling_t2_weekpart_daily``/``box_m_test_weekpart_daily`` are
    both likelihood-ratio-grade under MVN): b₁,₂ = n⁻²ΣᵢΣⱼ dᵢⱼ³ over
    the Mahalanobis ANGLES dᵢⱼ = (vᵢ−μ)'S⁻¹(vⱼ−μ) and b₂,₂ = n⁻¹Σdᵢᵢ²,
    with A = n·b₁/6 ~ χ²(4) and z = (b₂−p(p+2))/√(8p(p+2)/n). The
    univariate ``dagostino_k2_daily_values`` can pass while the JOINT
    tails are wrong — Mardia reads the joint.

    Exactness: μ and the ML covariance (÷n) round at 9; dᵢⱼ is a fixed
    closed-adjugate double per pair; cubes round at 12 into
    DECIMAL(38,12) folds; A/z round at 6. Scale shape: the pair
    relation is days² over the CALENDAR-bounded aggregate (the
    mann-kendall pair class — days don't grow with corpus scale), via
    a broadcast nested-loop, never a fact-grain pair join."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(F.lit(0.0)),
            27,
            12,
        )
        .cast("double")
        .alias("x"),
        dec_sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            27,
            12,
        )
        .cast("double")
        .alias("y"),
    )
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 38, 12).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("x"), 38, 9).cast("double").alias("sxx"),
        dec_sum(F.col("y") * F.col("y"), 38, 9).cast("double").alias("syy"),
        dec_sum(F.col("x") * F.col("y"), 38, 9).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    p = s.select(
        "n",
        F.round(F.col("sx") / nd, 9).alias("mx"),
        F.round(F.col("sy") / nd, 9).alias("my"),
        F.round((F.col("sxx") - F.col("sx") * F.col("sx") / nd) / nd, 9).alias("cxx"),
        F.round((F.col("syy") - F.col("sy") * F.col("sy") / nd) / nd, 9).alias("cyy"),
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / nd) / nd, 9).alias("cxy"),
        F.lit(1).alias("one"),
    )
    cent = (
        daily.withColumn("one", F.lit(1))
        .join(F.broadcast(p), "one")
        .select(
            "day",
            "n",
            "cxx",
            "cyy",
            "cxy",
            (F.col("x") - F.col("mx")).alias("u"),
            (F.col("y") - F.col("my")).alias("w"),
        )
        .localCheckpoint(eager=False)  # both pair sides + diag read it
    )
    a = cent.select(
        F.col("u").alias("ua"), F.col("w").alias("wa"),
        "n", "cxx", "cyy", "cxy",
    )
    b = cent.select(F.col("u").alias("ub"), F.col("w").alias("wb"))
    det = F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    dij = (
        F.col("ua") * (F.col("cyy") * F.col("ub") - F.col("cxy") * F.col("wb"))
        + F.col("wa")
        * (F.col("cxx") * F.col("wb") - F.col("cxy") * F.col("ub"))
    ) / det
    b1 = (
        a.join(F.broadcast(b))
        .select(F.round(dij * dij * dij, 12).alias("d3"), "n")
        .groupBy("n")
        .agg(
            F.sum(F.col("d3").cast("decimal(38,12)"))
            .cast("double")
            .alias("sum_d3")
        )
    )
    dii = (
        F.col("u") * (F.col("cyy") * F.col("u") - F.col("cxy") * F.col("w"))
        + F.col("w") * (F.col("cxx") * F.col("w") - F.col("cxy") * F.col("u"))
    ) / (F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy"))
    b2 = cent.select(
        F.round(dii * dii, 12).alias("d2"), F.lit(1).alias("one")
    ).groupBy("one").agg(
        F.sum(F.col("d2").cast("decimal(38,12)")).cast("double").alias("sum_d2")
    )
    j = b1.withColumn("one", F.lit(1)).join(F.broadcast(b2), "one")
    ndd = F.col("n").cast("double")
    b1v = F.col("sum_d3") / (ndd * ndd)
    b2v = F.col("sum_d2") / ndd
    skew_a = F.round(ndd * b1v / 6.0, 6)
    kurt_z = F.round((b2v - 8.0) / F.sqrt(64.0 / ndd), 6)
    return j.select(
        F.col("n").alias("n_days"),
        F.round(b1v, 6).cast("double").alias("mardia_b1"),
        F.round(b2v, 6).cast("double").alias("mardia_b2"),
        skew_a.cast("double").alias("skew_chi2"),
        kurt_z.cast("double").alias("kurt_z"),
        (
            (skew_a > F.lit(9.487729)) | (F.abs(kurt_z) > F.lit(1.959964))
        ).alias("non_normal"),
    )


MARDIA_NORMALITY_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS x,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS y
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy
    FROM daily
), p AS (
    SELECT n,
           ROUND(sx / CAST(n AS DOUBLE), 9) AS mx,
           ROUND(sy / CAST(n AS DOUBLE), 9) AS my,
           ROUND((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 9)
               AS cxx,
           ROUND((syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 9)
               AS cyy,
           ROUND((sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 9)
               AS cxy
    FROM s
), cent AS (
    SELECT day, n, cxx, cyy, cxy, x - mx AS u, y - my AS w
    FROM daily CROSS JOIN p
), b1 AS (
    SELECT a.n,
           CAST(SUM(CAST(ROUND(
               ((a.u * (a.cyy * b.u - a.cxy * b.w)
                 + a.w * (a.cxx * b.w - a.cxy * b.u))
                / (a.cxx * a.cyy - a.cxy * a.cxy))
               * ((a.u * (a.cyy * b.u - a.cxy * b.w)
                   + a.w * (a.cxx * b.w - a.cxy * b.u))
                  / (a.cxx * a.cyy - a.cxy * a.cxy))
               * ((a.u * (a.cyy * b.u - a.cxy * b.w)
                   + a.w * (a.cxx * b.w - a.cxy * b.u))
                  / (a.cxx * a.cyy - a.cxy * a.cxy)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS sum_d3
    FROM cent a CROSS JOIN cent b
    GROUP BY a.n
), b2 AS (
    SELECT CAST(SUM(CAST(ROUND(
               ((u * (cyy * u - cxy * w) + w * (cxx * w - cxy * u))
                / (cxx * cyy - cxy * cxy))
               * ((u * (cyy * u - cxy * w) + w * (cxx * w - cxy * u))
                  / (cxx * cyy - cxy * cxy)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS sum_d2
    FROM cent
)
SELECT n AS n_days,
       CAST(ROUND(sum_d3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
            AS DOUBLE) AS mardia_b1,
       CAST(ROUND(sum_d2 / CAST(n AS DOUBLE), 6) AS DOUBLE) AS mardia_b2,
       CAST(ROUND(CAST(n AS DOUBLE)
                  * (sum_d3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  / 6.0, 6) AS DOUBLE) AS skew_chi2,
       CAST(ROUND((sum_d2 / CAST(n AS DOUBLE) - 8.0)
                  / SQRT(64.0 / CAST(n AS DOUBLE)), 6) AS DOUBLE) AS kurt_z,
       ROUND(CAST(n AS DOUBLE)
             * (sum_d3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 6.0, 6)
           > 9.487729
       OR ABS(ROUND((sum_d2 / CAST(n AS DOUBLE) - 8.0)
                    / SQRT(64.0 / CAST(n AS DOUBLE)), 6)) > 1.959964
           AS non_normal
FROM b1 CROSS JOIN b2
"""


def greenwood_km_ci_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan–Meier curve with Greenwood standard errors and log-log
    95% confidence bands (Greenwood 1926; Kalbfleisch–Prentice cloglog
    transform) — the UNCERTAINTY layer the survival tier's point
    estimates lack: ``kaplan_meier_user_retention`` publishes Ŝ(t)
    alone; decisions need the band, and the cloglog form keeps it
    inside (0,1) where the naive ±1.96·se band escapes. Per event
    time: Ŝ, se via Greenwood's cumulative Σd/(n(n−d)), and
    Ŝ^exp(±1.96·√Σ/|ln Ŝ|). Same lifetimes/censoring as the KM tier.

    Exactness: the Greenwood sum accumulates per-time terms rounded at
    12 in a DECIMAL(27,12) cumulative window; Ŝ folds as the KM
    exp(Σln) construction; bands round at 6 with the degenerate Ŝ=1 /
    Ŝ=0 rows NULLed identically on both engines (ln Ŝ = 0 pole).
    Scale shape: one user-grain aggregate, bounded duration-grain
    windows (documented class)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    end = ev.agg(F.max("ts").alias("end_ts"))
    hours = (
        (
            F.unix_micros(F.date_trunc("hour", F.col("last_ts")))
            - F.unix_micros(F.date_trunc("hour", F.col("first_ts")))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    grain = (
        per_user.join(F.broadcast(end))
        .select(
            hours.alias("t"),
            (
                F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 1 DAYS")
            ).alias("churned"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.col("churned").cast("long")).cast("bigint").alias("d"),
            F.sum((~F.col("churned")).cast("long")).cast("bigint").alias("c"),
        )
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    curve = (
        grain.join(F.broadcast(total))
        .withColumn(
            "n",
            (
                F.col("n_total")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
            ).cast("bigint"),
        )
        .withColumn(
            "factor",
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("n").cast("double"),
        )
        .withColumn(
            "ln_sum",
            F.sum(
                F.when(F.col("factor") > 0.0, F.log("factor")).otherwise(
                    F.lit(0.0)
                )
            ).over(wc),
        )
        .withColumn(
            "zero_seen", F.sum((F.col("factor") <= 0.0).cast("long")).over(wc)
        )
        .withColumn(
            "gw",
            F.sum(
                F.round(
                    F.when(
                        F.col("n") > F.col("d"),
                        F.col("d").cast("double")
                        / (
                            F.col("n").cast("double")
                            * (F.col("n") - F.col("d")).cast("double")
                        ),
                    ).otherwise(F.lit(0.0)),
                    12,
                ).cast("decimal(27,12)")
            ).over(wc),
        )
    )
    s_hat = F.when(F.col("zero_seen") > 0, F.lit(0.0)).otherwise(
        F.round(F.exp("ln_sum"), 9)
    )
    scored = curve.filter(F.col("d") > 0).select(
        F.col("t").cast("int").alias("t_hours"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        s_hat.alias("s"),
        F.col("gw").cast("double").alias("gw_sum"),
    )
    se = F.round(F.col("s") * F.sqrt(F.col("gw_sum")), 6)
    se_theta = F.sqrt(F.col("gw_sum")) / F.abs(F.log(F.col("s")))
    # s^q as EXP(ln s · q): POWER carries the documented sub-ULP
    # cross-engine parity risk (the Mood precedent)
    lo = F.round(
        F.exp(F.log(F.col("s")) * F.exp(F.lit(1.959964) * se_theta)), 6
    )
    hi = F.round(
        F.exp(F.log(F.col("s")) * F.exp(F.lit(-1.959964) * se_theta)), 6
    )
    degen = (F.col("s") <= 0.0) | (F.col("s") >= 1.0)
    return scored.select(
        "t_hours",
        "n_at_risk",
        "d_events",
        F.round(F.col("s"), 6).cast("double").alias("survival"),
        F.when(degen, F.lit(None)).otherwise(se).cast("double").alias(
            "greenwood_se"
        ),
        F.when(degen, F.lit(None)).otherwise(lo).cast("double").alias(
            "ci_low"
        ),
        F.when(degen, F.lit(None)).otherwise(hi).cast("double").alias(
            "ci_high"
        ),
    )


GREENWOOD_KM_CI_RETENTION_ORACLE = """
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts FROM events
    GROUP BY user_id
), ends AS (SELECT MAX(ts) AS end_ts FROM events),
grain AS (
    SELECT datediff('hour', first_ts, last_ts) AS t,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(SUM(CASE WHEN last_ts < end_ts - INTERVAL 1 DAY
                         THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM per_user CROSS JOIN ends
    GROUP BY 1
), tot AS (SELECT SUM(d + c) AS n_total FROM grain),
curve AS (
    SELECT t, d, c,
           CAST(n_total - COALESCE(SUM(d + c) OVER (
                    ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n
    FROM grain CROSS JOIN tot
), fac AS (
    SELECT *,
           1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS factor
    FROM curve
), sums AS (
    SELECT t, d, n,
           SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ln_sum,
           SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS zero_seen,
           CAST(SUM(CAST(ROUND(CASE WHEN n > d
                    THEN CAST(d AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n - d AS DOUBLE))
                    ELSE 0.0 END, 12) AS DECIMAL(27,12)))
               OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS gw
    FROM fac
), scored AS (
    SELECT CAST(t AS INTEGER) AS t_hours, n AS n_at_risk, d AS d_events,
           CASE WHEN zero_seen > 0 THEN 0.0
                ELSE ROUND(EXP(ln_sum), 9) END AS s,
           gw AS gw_sum
    FROM sums
    WHERE d > 0
)
SELECT t_hours, n_at_risk, d_events,
       CAST(ROUND(s, 6) AS DOUBLE) AS survival,
       CAST(CASE WHEN s <= 0.0 OR s >= 1.0 THEN NULL
                 ELSE ROUND(s * SQRT(gw_sum), 6) END AS DOUBLE)
           AS greenwood_se,
       CAST(CASE WHEN s <= 0.0 OR s >= 1.0 THEN NULL
                 ELSE ROUND(EXP(ln(s) * EXP(1.959964
                      * (SQRT(gw_sum) / ABS(ln(s))))), 6) END AS DOUBLE)
           AS ci_low,
       CAST(CASE WHEN s <= 0.0 OR s >= 1.0 THEN NULL
                 ELSE ROUND(EXP(ln(s) * EXP(-1.959964
                      * (SQRT(gw_sum) / ABS(ln(s))))), 6) END AS DOUBLE)
           AS ci_high
FROM scored
"""
