"""Time-series diagnostics over the events stream.

The reference's temporal surface is calendar extraction feeding GROUP BY
(``flows/transformations.py`` month/year splits); a pipeline monitoring
its own ingest volumes needs the next tier: autocorrelation structure,
rolling anomaly scores, seasonal-naive forecast error, and changepoint
detection. Each query here is that tier over the daily event series,
Spark-first and oracle-checked.

Cross-engine determinism: the house rule (``functions/numeric.py``). Every
daily total is an exact decimal sum; every derived statistic combines the
resulting bitwise-identical doubles with the same expression structure the
DuckDB oracle uses. The CUSUM query extends the rule to a nonlinear
recurrence: ``s_t = max(0, s_{t-1} + d_t)`` is rewritten as
``prefix_t - min(0, min_{j<=t} prefix_j)`` (a standard identity), which
turns a sequential fold into two exact decimal window aggregates — so the
"iterative" statistic needs no iteration, no UDF, and no float ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum
from data_ingestion_pipeline_spark.sources.catalog import load_table


def _daily(spark: SparkSession, sf_dir: str, by_type: bool) -> DataFrame:
    """Daily exact-decimal value totals (optionally per event_type).

    One shuffle on the grouping key; the decimal sum is mergeable so the
    map-side partial aggregation still applies. ``x`` is the decimal total
    cast to double — bitwise-identical across engines.

    The by_type=False variant is localCheckpoint-PINNED: nearly every
    daily-series test references it through several branches (moment
    passes, lag windows, residual re-joins), and unpinned each branch
    replayed the corpus day-aggregation — cochrane_orcutt ran it ~6×
    (24 parquet-scan refs, r11 census). The relation is day-grain
    (calendar-bounded), the pin is lineage-only, and no caller filters
    it by a literal, so no scan pushdown is lost. by_type=True stays
    unpinned: its callers may filter on event_type, which must keep
    reaching the parquet scan."""
    ev = load_table(spark, sf_dir, "events")
    keys = (["event_type"] if by_type else []) + ["day"]
    out = (
        ev.select(
            *(["event_type"] if by_type else []),
            F.col("ts").cast("date").alias("day"),
            F.col("value"),
        )
        .groupBy(*keys)
        .agg(dec_sum(F.col("value"), 27, 12).alias("xd"))
        .withColumn("x", F.col("xd").cast("double"))
    )
    return out if by_type else out.localCheckpoint()


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily ingest-volume series
# ---------------------------------------------------------------------------

def _lag_pearson(spark: SparkSession, daily: DataFrame, max_lag: int) -> DataFrame:
    """Per-lag Pearson r of the (x_t, x_{t+lag}) pairs for lag = 1..max_lag,
    from exact decimal power sums — the shared ACF estimator behind both
    ``autocorr_daily_value`` and ``ar2_yule_walker_daily`` (their oracles
    replay this identical algebra, so the two must never drift apart).

    The lag pairing is a self-join of the *aggregated* day series (one row
    per day — never the fact table); the lag grid broadcasts. Returns
    (lag, n, r) with r UNROUNDED so callers pick their own precision."""
    lags = spark.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = daily.select(F.col("day").alias("day2"), F.col("x").alias("y"))
    pairs = daily.crossJoin(F.broadcast(lags)).join(
        b, F.date_add(F.col("day"), F.col("lag")) == F.col("day2")
    )
    x, y = F.col("x"), F.col("y")
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(x, 38, 12).cast("double").alias("sx"),
        dec_sum(y, 38, 12).cast("double").alias("sy"),
        dec_sum(x * y, 38, 12).cast("double").alias("sxy"),
        dec_sum(x * x, 38, 12).cast("double").alias("sxx"),
        dec_sum(y * y, 38, 12).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select("lag", "n", (cov_n / F.sqrt(varx_n * vary_n)).alias("r"))


def autocorr_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..7 of the global daily value series: Pearson r between
    (x_t, x_{t+lag}) pairs, from exact decimal power sums.

    The daily series is tiny relative to the event table (one row per day),
    so the lag pairing is a self-join of the *aggregated* series — the
    shuffle-heavy step is the single daily groupBy; everything after runs
    on ~days×7 rows. The lag grid broadcasts.
    """
    daily = _daily(spark, sf_dir, by_type=False)
    return _lag_pearson(spark, daily, 7).select(
        "lag",
        "n",
        F.round(F.col("r"), 6).cast("double").alias("acf"),
    )


def ar2_yule_walker_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit of the daily value series by Yule–Walker in correlation
    form — φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²), φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²) — with the
    one-step forecast x̂ = x̄ + φ₁(x_T−x̄) + φ₂(x_{T−1}−x̄): the
    autoregression the registered Holt/Theil–Sen forecasters don't cover
    (they model trend; AR models serial dependence). ρ₁, ρ₂ are the
    lag-pair Pearson correlations (``autocorr_daily_value``'s estimator,
    stated so the oracle replays the identical algebra).

    Everything after the one daily groupBy runs on the day-series
    relation: the lag pairing is ``_lag_pearson`` (shared with
    ``autocorr_daily_value`` — no window over the corpus), the
    last-two-days head is a 2-row TakeOrdered, and the fit is closed-form
    scalar algebra."""
    daily = _daily(spark, sf_dir, by_type=False)
    x = F.col("x")
    rs = _lag_pearson(spark, daily, 2).select("lag", "r")
    rho = (
        rs.groupBy()
        .pivot("lag", [1, 2])
        .agg(F.first("r"))
        .select(F.col("1").alias("r1"), F.col("2").alias("r2"))
    )
    stats = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        (dec_sum(x, 38, 12).cast("double") / F.count("*")).alias("mu"),
    )
    last2 = (
        daily.orderBy(F.desc("day"))
        .limit(2)
        .agg(
            F.max_by("x", "day").alias("xt"),
            F.min_by("x", "day").alias("xtm1"),
        )
    )
    j = rho.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(last2))
    one = F.lit(1.0)
    phi1 = F.col("r1") * (one - F.col("r2")) / (one - F.col("r1") * F.col("r1"))
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        one - F.col("r1") * F.col("r1")
    )
    fc = (
        F.col("mu")
        + phi1 * (F.col("xt") - F.col("mu"))
        + phi2 * (F.col("xtm1") - F.col("mu"))
    )
    return j.select(
        "n_days",
        F.round(F.col("r1"), 6).alias("rho1"),
        F.round(F.col("r2"), 6).alias("rho2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(fc, 2).alias("forecast_next"),
    )


AR2_YULE_WALKER_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), lags AS (SELECT CAST(unnest(range(1, 3)) AS INT) AS lag),
pairs AS (
    SELECT l.lag, a.x AS x, b.x AS y
    FROM daily a CROSS JOIN lags l
    JOIN daily b ON b.day = a.day + l.lag
), s AS (
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM pairs GROUP BY lag
), rho AS (
    SELECT
        MAX(CASE WHEN lag = 1 THEN
            (CAST(n AS DOUBLE) * sxy - sx * sy)
            / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                   * (CAST(n AS DOUBLE) * syy - sy * sy)) END) AS r1,
        MAX(CASE WHEN lag = 2 THEN
            (CAST(n AS DOUBLE) * sxy - sx * sy)
            / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                   * (CAST(n AS DOUBLE) * syy - sy * sy)) END) AS r2
    FROM s
), stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu
    FROM daily
), last2 AS (
    SELECT max_by(x, day) AS xt, min_by(x, day) AS xtm1
    FROM (SELECT day, x FROM daily ORDER BY day DESC LIMIT 2)
)
SELECT n_days,
       ROUND(r1, 6) AS rho1,
       ROUND(r2, 6) AS rho2,
       ROUND(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) AS phi1,
       ROUND((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi2,
       ROUND(mu + (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * (xt - mu)
                + ((r2 - r1 * r1) / (1.0 - r1 * r1)) * (xtm1 - mu), 2)
           AS forecast_next
FROM rho CROSS JOIN stats CROSS JOIN last2
"""


AUTOCORR_DAILY_VALUE_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), lags AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS lag),
pairs AS (
    SELECT l.lag, a.x AS x, b.x AS y
    FROM daily a CROSS JOIN lags l
    JOIN daily b ON b.day = a.day + l.lag
), s AS (
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM pairs GROUP BY lag
)
SELECT lag, n,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE)
           AS acf
FROM s
"""


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection (trailing-window, current day excluded)
# ---------------------------------------------------------------------------

def rolling_zscore_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily totals scored against their own trailing 7-day window
    (current day excluded, so an anomaly can't suppress itself). The z-score
    is derived from frame-local exact decimal power sums:
    ``z = (m·x − Σx) / sqrt(m·Σx² − (Σx)²)`` — algebraically identical to
    (x − mean)/σ_pop but built only from order-independent aggregates.

    Scale shape: one shuffle to the daily grain, then a bounded ROWS frame
    per event_type — window state is 7 rows regardless of history length.
    """
    daily = _daily(spark, sf_dir, by_type=True)
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    x = F.col("x")
    m = F.count("x").over(w).cast("double")
    sx = F.sum(x.cast("decimal(38,12)")).over(w).cast("double")
    sxx = F.sum((x * x).cast("decimal(38,12)")).over(w).cast("double")
    var_n = m * sxx - sx * sx
    z = (m * x - sx) / F.sqrt(var_n)
    return (
        daily.select(
            "event_type",
            "day",
            x,
            m.alias("m"),
            sx.alias("sx"),
            var_n.alias("var_n"),
            z.alias("z_raw"),
        )
        .filter((F.col("m") >= 5) & (F.col("var_n") > 0))
        .select(
            "event_type",
            "day",
            F.round(F.col("z_raw"), 6).cast("double").alias("zscore"),
            (F.abs(F.col("z_raw")) > F.lit(2.0)).alias("is_anomaly"),
        )
    )


ROLLING_ZSCORE_ANOMALY_DAILY_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
), framed AS (
    SELECT event_type, day, x,
           CAST(COUNT(x) OVER w AS DOUBLE) AS m,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sx,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxx
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day,
       CAST(ROUND((m * x - sx) / SQRT(m * sxx - sx * sx), 6) AS DOUBLE)
           AS zscore,
       ABS((m * x - sx) / SQRT(m * sxx - sx * sx)) > 2.0 AS is_anomaly
FROM framed
WHERE m >= 5 AND m * sxx - sx * sx > 0
"""


# ---------------------------------------------------------------------------
# Rolling correlation between the purchase and view daily series
# ---------------------------------------------------------------------------

def rolling_corr_purchase_view_14d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-14-day Pearson correlation between the daily purchase and
    view totals — the co-movement monitor that flags decoupling (e.g. a
    tracking break sends views flat while purchases keep their rhythm).
    Full-window semantics: a row is emitted only once 14 days of history
    exist, and variance-degenerate frames are excluded.

    The series is day-grain (one row per day after one shuffle to the
    daily aggregate), so the series window runs on the TINY relation —
    same posture as ``autocorr_daily_value``/``rolling_zscore``: never a
    window over the raw event stream. All frame sums are exact decimal;
    the correlation is derived from order-independent power sums and
    rounded identically on both engines."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            dec_sum(
                F.when(F.col("event_type") == "purchase", F.col("value")), 27, 12
            )
            .cast("double")
            .alias("x"),
            dec_sum(
                F.when(F.col("event_type") == "view", F.col("value")), 27, 12
            )
            .cast("double")
            .alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    x, y = F.col("x"), F.col("y")
    m = F.count("x").over(w).cast("double")
    sx = F.sum(x.cast("decimal(38,12)")).over(w).cast("double")
    sy = F.sum(y.cast("decimal(38,12)")).over(w).cast("double")
    sxy = F.sum((x * y).cast("decimal(38,12)")).over(w).cast("double")
    sxx = F.sum((x * x).cast("decimal(38,12)")).over(w).cast("double")
    syy = F.sum((y * y).cast("decimal(38,12)")).over(w).cast("double")
    cov_n = m * sxy - sx * sy
    varx_n = m * sxx - sx * sx
    vary_n = m * syy - sy * sy
    return (
        daily.select(
            "day",
            m.alias("m"),
            cov_n.alias("cov_n"),
            varx_n.alias("varx_n"),
            vary_n.alias("vary_n"),
        )
        .filter(
            (F.col("m") == 14) & (F.col("varx_n") > 0) & (F.col("vary_n") > 0)
        )
        .select(
            "day",
            F.round(
                F.col("cov_n") / F.sqrt(F.col("varx_n") * F.col("vary_n")), 6
            )
            .cast("double")
            .alias("corr_14d"),
        )
    )


ROLLING_CORR_PURCHASE_VIEW_14D_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(27,12)) END) AS DOUBLE) AS x,
           CAST(SUM(CASE WHEN event_type = 'view'
                    THEN CAST(value AS DECIMAL(27,12)) END) AS DOUBLE) AS y
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
    HAVING x IS NOT NULL AND y IS NOT NULL
), framed AS (
    SELECT day,
           CAST(COUNT(x) OVER w AS DOUBLE) AS m,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS syy
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT day,
       CAST(ROUND((m * sxy - sx * sy)
                  / SQRT((m * sxx - sx * sx) * (m * syy - sy * sy)), 6)
            AS DOUBLE) AS corr_14d
FROM framed
WHERE m = 14 AND m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
"""


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (weekly seasonality, MAPE)
# ---------------------------------------------------------------------------

def seasonal_naive_mape_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the simplest seasonal forecaster — predict today's per-type
    volume with the value from 7 days ago — reported as MAPE per event_type.
    The forecast pairing is a calendar join (day = day−7), NOT a row-offset
    LAG, so gaps in the series drop the pair instead of silently pairing
    non-adjacent weeks. Per-day APE terms are exact-identical doubles; the
    MAPE mean sums them in decimal.
    """
    daily = _daily(spark, sf_dir, by_type=True)
    fc = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("fday"),
        F.col("x").alias("f"),
    )
    pairs = daily.join(
        fc,
        (F.col("event_type") == F.col("et2"))
        & (F.col("day") == F.date_add(F.col("fday"), 7)),
    )
    ape = F.abs(F.col("x") - F.col("f")) / F.col("x")
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(
            dec_sum(ape, 18, 12).cast("double")
            / F.count("*").cast("double")
            * 100.0,
            6,
        )
        .cast("double")
        .alias("mape_pct"),
    )


SEASONAL_NAIVE_MAPE_EVENTS_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
)
SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(ROUND(CAST(SUM(CAST(ABS(a.x - b.x) / a.x AS DECIMAL(18,12)))
                       AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) * 100.0, 6) AS DOUBLE) AS mape_pct
FROM daily a
JOIN daily b ON b.event_type = a.event_type AND a.day = b.day + 7
GROUP BY a.event_type
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint score via the prefix-min identity (no fold, no UDF)
# ---------------------------------------------------------------------------

def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper CUSUM of each event_type's daily series against its own mean:
    ``s_t = max(0, s_{t-1} + (x_t − mean))``, peak value + peak day.

    The recurrence is nonlinear, but ``s_t = prefix_t − min(0, min_{j≤t}
    prefix_j)`` where ``prefix`` is the running sum of deviations — so the
    whole statistic is two cumulative window aggregates over EXACT decimal
    deviations (cast from bitwise-identical doubles), never a sequential
    float fold. Two passes over the daily grain: one global mean per type
    (broadcast back), one ordered cumulative window. State per partition is
    O(1); no driver-side iteration.
    """
    daily = _daily(spark, sf_dir, by_type=True)
    means = daily.groupBy(F.col("event_type").alias("et2")).agg(
        (F.sum("xd").cast("double") / F.count("*").cast("double")).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    dev = (
        daily.join(F.broadcast(means), F.col("event_type") == F.col("et2"))
        .withColumn("d", (F.col("x") - F.col("mu")).cast("decimal(27,12)"))
    )
    cum = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_s = (
        dev.withColumn("prefix", F.sum("d").over(cum))
        .withColumn("minp", F.min(F.col("prefix")).over(cum))
        .withColumn(
            "s",
            F.col("prefix")
            - F.least(F.col("minp"), F.lit(0).cast("decimal(27,12)")),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("day").asc()
    )
    return (
        with_s.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.round(F.col("s").cast("double"), 6).alias("peak_cusum"),
            F.col("day").alias("peak_day"),
            "n_days",
        )
    )


CUSUM_CHANGEPOINT_DAILY_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(27,12))) AS xd
    FROM events GROUP BY 1, 2
), means AS (
    SELECT event_type,
           CAST(SUM(xd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily GROUP BY event_type
), dev AS (
    SELECT d.event_type, d.day, m.n_days,
           CAST(CAST(d.xd AS DOUBLE) - m.mu AS DECIMAL(27,12)) AS dd
    FROM daily d JOIN means m USING (event_type)
), cum1 AS (
    SELECT event_type, day, n_days,
           SUM(dd) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix
    FROM dev
), cum AS (
    SELECT event_type, day, n_days, prefix,
           MIN(prefix) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS minp
    FROM cum1
), scored AS (
    SELECT event_type, day, n_days,
           prefix - LEAST(minp, CAST(0 AS DECIMAL(27,12))) AS s,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY prefix - LEAST(minp, CAST(0 AS DECIMAL(27,12))) DESC,
                                       day ASC) AS rn
    FROM cum
)
SELECT event_type,
       CAST(ROUND(CAST(s AS DOUBLE), 6) AS DOUBLE) AS peak_cusum,
       day AS peak_day, n_days
FROM scored WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Additive seasonal decomposition of the daily series
# ---------------------------------------------------------------------------

def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition of the daily value series into trend +
    weekly seasonal + residual — the classical-decomposition pass behind
    every "is this dip seasonality or an incident?" triage. Trend is the
    centered 7-point moving average over the observed-day sequence (ROWS
    frame, defined only where the full 7-point frame exists); the seasonal
    component is the per-ISO-weekday mean of the detrended series (simple
    dow-means variant, not center-adjusted); residual is what remains.

    Exactness: the 7-point trend sums the daily DECIMAL totals in the
    window (order-free), divides by 7.0 once; detrended values are then
    bitwise-identical doubles whose per-dow mean uses the decimal-fold /
    count structure on both engines. The ordered window runs over the
    DAILY aggregate — calendar-scale (≤ a few thousand rows at any SF),
    the documented domain-bounded window class, kept on WindowExec's
    partitioned path via the constant non-foldable key."""
    daily = _daily(spark, sf_dir, by_type=False)
    # month(day)%1: constant-valued non-foldable partition key — the
    # ordered frames below see the calendar-scale daily series in one
    # group without WindowExec's no-partition path
    w7 = (
        Window.partitionBy(F.month("day") % 1)
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    with_trend = daily.select(
        "day",
        "x",
        (F.sum("xd").over(w7).cast("double") / F.lit(7.0)).alias("trend"),
        F.count("*").over(w7).alias("w_n"),
    ).filter(F.col("w_n") == 7)
    det = with_trend.withColumn("det", F.col("x") - F.col("trend")).withColumn(
        "dow", (F.weekday("day") + F.lit(1)).cast("int")
    )
    wd = Window.partitionBy("dow")
    seasonal = (
        dec_sum(F.col("det"), 27, 12).over(wd).cast("double")
        / F.count("*").over(wd).cast("double")
    )
    out = det.withColumn("seasonal", seasonal)
    return out.select(
        "day",
        F.round("x", 6).cast("double").alias("value"),
        F.round("trend", 6).cast("double").alias("trend"),
        F.round("seasonal", 6).cast("double").alias("seasonal"),
        F.round(F.col("det") - F.col("seasonal"), 6)
        .cast("double")
        .alias("residual"),
    )


SEASONAL_DECOMPOSE_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(27,12))) AS xd,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), with_trend AS (
    SELECT day, x,
           CAST(SUM(xd) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7.0
               AS trend,
           COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_n
    FROM daily
), det AS (
    SELECT day, x, trend, x - trend AS det,
           CAST(isodow(day) AS INT) AS dow
    FROM with_trend WHERE w_n = 7
), seas AS (
    SELECT day, x, trend, det,
           CAST(SUM(CAST(det AS DECIMAL(27,12))) OVER (PARTITION BY dow)
                AS DOUBLE)
           / CAST(COUNT(*) OVER (PARTITION BY dow) AS DOUBLE) AS seasonal
    FROM det
)
SELECT day,
       CAST(ROUND(x, 6) AS DOUBLE) AS value,
       CAST(ROUND(trend, 6) AS DOUBLE) AS trend,
       CAST(ROUND(seasonal, 6) AS DOUBLE) AS seasonal,
       CAST(ROUND(det - seasonal, 6) AS DOUBLE) AS residual
FROM seas
"""


# ---------------------------------------------------------------------------
# Population Stability Index — the scorecard-monitoring drift metric
# ---------------------------------------------------------------------------

def psi_value_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    observed date range (value distribution over fixed-width buckets) —
    the credit-scorecard drift metric ops teams page on (rule of thumb:
    <0.1 stable, 0.1–0.25 watch, >0.25 shifted), complementing
    ``js_divergence_event_types_weekpart``'s bounded symmetric view with
    the industry-standard unbounded one. PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over
    the shared bucket grid; empty cells take the standard ε=1e-6 floor so
    the log stays finite on both engines.

    Determinism: p, q are exact bigint ratios (or the ε literal); each
    ln(p/q) rounds to 9 decimals before multiplying the exact (p−q); the
    per-bucket terms fold in decimal. Split-point parity: Spark and
    DuckDB both compute day > min_day + floor((max−min)/2) from the same
    integer day span. Scale: one fact aggregate to (bucket × half); the
    rest is bucket-count sized."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    base = ev.crossJoin(F.broadcast(span)).select(
        F.floor(F.col("value") / 50.0).cast("bigint").alias("bucket"),
        (
            F.datediff(F.to_date("ts"), F.col("d0"))
            > F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2)
        )
        .cast("int")
        .alias("is_cur"),
    )
    cells = base.groupBy("bucket").agg(
        F.sum(F.lit(1) - F.col("is_cur")).cast("bigint").alias("c_ref"),
        F.sum("is_cur").cast("bigint").alias("c_cur"),
    )
    tot = Window.partitionBy(F.col("bucket") % 1)
    eps = F.lit(1e-6)
    p = F.greatest(
        eps,
        F.col("c_ref").cast("double") / F.sum("c_ref").over(tot).cast("double"),
    )
    q = F.greatest(
        eps,
        F.col("c_cur").cast("double") / F.sum("c_cur").over(tot).cast("double"),
    )
    term = (p - q) * F.round(F.log(p / q), 9)
    terms = cells.select(F.col("bucket"), term.alias("t"))
    return terms.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.round(dec_sum(F.col("t"), 27, 12), 6).cast("double").alias("psi"),
        (F.round(dec_sum(F.col("t"), 27, 12), 6) > 0.25).alias("shifted"),
    )


PSI_VALUE_DRIFT_HALVES_ORACLE = """
WITH span AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
    FROM events
), base AS (
    SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           CASE WHEN datediff('day', d0, CAST(ts AS DATE))
                     > FLOOR(datediff('day', d0, d1) / 2)
                THEN 1 ELSE 0 END AS is_cur
    FROM events CROSS JOIN span
), cells AS (
    SELECT bucket,
           CAST(SUM(1 - is_cur) AS BIGINT) AS c_ref,
           CAST(SUM(is_cur) AS BIGINT) AS c_cur
    FROM base GROUP BY bucket
), terms AS (
    SELECT bucket,
           (GREATEST(1e-6, CAST(c_ref AS DOUBLE) / SUM(CAST(c_ref AS DOUBLE)) OVER ())
            - GREATEST(1e-6, CAST(c_cur AS DOUBLE) / SUM(CAST(c_cur AS DOUBLE)) OVER ()))
           * ROUND(ln(
               GREATEST(1e-6, CAST(c_ref AS DOUBLE) / SUM(CAST(c_ref AS DOUBLE)) OVER ())
               / GREATEST(1e-6, CAST(c_cur AS DOUBLE) / SUM(CAST(c_cur AS DOUBLE)) OVER ())
             ), 9) AS t
    FROM cells
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(ROUND(SUM(CAST(t AS DECIMAL(27,12))), 6) AS DOUBLE) AS psi,
       ROUND(SUM(CAST(t AS DECIMAL(27,12))), 6) > 0.25 AS shifted
FROM terms
"""


# ---------------------------------------------------------------------------
# Durbin-Watson — residual autocorrelation of the daily trend fit
# ---------------------------------------------------------------------------

def durbin_watson_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the residuals from an OLS linear trend
    on the daily value series — the lag-1 serial-correlation diagnostic
    that says whether the trend fit's errors are independent (DW≈2) or
    the series needs an autoregressive term (DW→0) — the missing check
    between ``theil_sen_daily_trend`` (slope) and
    ``autocorr_daily_value`` (raw ACF): DW tests the RESIDUALS.

    OLS (slope, intercept) comes from exact decimal power sums over
    (day-index, value); residuals are then deterministic doubles; DW =
    Σ(eₜ−eₜ₋₁)²/Σeₜ² folds both quadratic forms in decimal. The lag runs
    over the calendar-scale daily aggregate (domain-bounded window on the
    partitioned path). Day indices are exact integer datediffs from the
    min day, so both engines fit the identical design matrix."""
    daily = _daily(spark, sf_dir, by_type=False)
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("double").alias("t"),
        "x",
        "day",
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(F.col("t"), 27, 12).cast("double").alias("st"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("t") * F.col("x"), 38, 12).cast("double").alias("stx"),
        dec_sum(F.col("t") * F.col("t"), 38, 12).cast("double").alias("stt"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    icept = (F.col("sx") - slope * F.col("st")) / F.col("n")
    params = s.select(
        F.round(slope, 9).alias("b1"), F.round(icept, 9).alias("b0")
    )
    resid = pts.crossJoin(F.broadcast(params)).select(
        "day",
        (F.col("x") - (F.col("b0") + F.col("b1") * F.col("t"))).alias("e"),
    )
    # month(day)%1: constant non-foldable key — calendar-scale series in
    # one partitioned-window group (see seasonal_decompose_daily)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    lagged = resid.select(
        "e", F.lag("e").over(w).alias("e_prev")
    )
    diff = F.col("e") - F.col("e_prev")
    out = lagged.agg(
        F.count("*").cast("bigint").alias("n_days"),
        dec_sum(
            F.when(F.col("e_prev").isNotNull(), diff * diff).otherwise(
                F.lit(0.0)
            ),
            38,
            12,
        )
        .cast("double")
        .alias("num"),
        dec_sum(F.col("e") * F.col("e"), 38, 12).cast("double").alias("den"),
    )
    dw = F.col("num") / F.col("den")
    return out.select(
        "n_days",
        F.round(dw, 6).cast("double").alias("durbin_watson"),
        (dw < 1.0).alias("strong_positive_autocorr"),
    )


DURBIN_WATSON_DAILY_TREND_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), d0 AS (
    SELECT MIN(day) AS d0 FROM daily
), pts AS (
    SELECT CAST(datediff('day', d0, day) AS DOUBLE) AS t, x, day
    FROM daily CROSS JOIN d0
), s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(t AS DECIMAL(27,12))) AS DOUBLE) AS st,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(t * x AS DECIMAL(38,12))) AS DOUBLE) AS stx,
           CAST(SUM(CAST(t * t AS DECIMAL(38,12))) AS DOUBLE) AS stt
    FROM pts
), params AS (
    SELECT ROUND((n * stx - st * sx) / (n * stt - st * st), 9) AS b1,
           ROUND((sx - ((n * stx - st * sx) / (n * stt - st * st)) * st) / n, 9)
               AS b0
    FROM s
), resid AS (
    SELECT day, x - (b0 + b1 * t) AS e
    FROM pts CROSS JOIN params
), lagged AS (
    SELECT e, LAG(e) OVER (ORDER BY day) AS e_prev FROM resid
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CAST(CASE WHEN e_prev IS NOT NULL
                              THEN (e - e_prev) * (e - e_prev)
                              ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS num,
           CAST(SUM(CAST(e * e AS DECIMAL(38,12))) AS DOUBLE) AS den
    FROM lagged
)
SELECT n_days,
       CAST(ROUND(num / den, 6) AS DOUBLE) AS durbin_watson,
       num / den < 1.0 AS strong_positive_autocorr
FROM agg
"""


# ---------------------------------------------------------------------------
# Holt's linear trend — double exponential smoothing as a sequential fold
# ---------------------------------------------------------------------------

def holt_linear_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of the daily
    value series with 1- and 7-day-ahead forecasts — the capacity-planning
    forecast ``seasonal_naive_mape_events`` benchmarks against, and a
    recurrence (level AND trend each depend on both previous states) that
    no window algebra expresses. Following the ``ewma_user_value``
    precedent, the fold runs as a higher-order ``aggregate`` over the
    time-ordered series with a 2-element [level, trend] array accumulator
    — both engines fold left in index order with the SAME lambda (α=0.5,
    β=0.3, init level=x₁ / trend=0), so the IEEE op chain is identical
    and no decimal trick is needed for parity.

    The series is the DAILY aggregate (calendar-scale — the documented
    domain-bounded class): one exact-decimal groupBy over the facts, then
    a single-row array fold. The 100 TB shape carries [level, trend]
    chunk-to-chunk exactly like the streaming stateful fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: F.array(s.x, F.lit(0.0)),
        ).alias("pairs")
    )
    a = F.lit(0.5)
    g = F.lit(0.3)

    def step(acc, p):
        l_, b = F.element_at(acc, 1), F.element_at(acc, 2)
        x = F.element_at(p, 1)
        lnew = a * x + (F.lit(1.0) - a) * (l_ + b)
        bnew = g * ((a * x + (F.lit(1.0) - a) * (l_ + b)) - l_) + (
            F.lit(1.0) - g
        ) * b
        return F.array(lnew, bnew)

    folded = F.aggregate(
        F.slice(
            F.col("pairs"), 2, F.greatest(F.size("pairs") - 1, F.lit(0))
        ),
        F.element_at(F.col("pairs"), 1),
        step,
    )
    out = series.select(
        F.size("pairs").cast("bigint").alias("n_days"),
        F.element_at(folded, 1).alias("level"),
        F.element_at(folded, 2).alias("trend"),
    )
    return out.select(
        "n_days",
        F.round("level", 6).cast("double").alias("level"),
        F.round("trend", 6).cast("double").alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6)
        .cast("double")
        .alias("forecast_1d"),
        F.round(F.col("level") + F.lit(7.0) * F.col("trend"), 6)
        .cast("double")
        .alias("forecast_7d"),
    )


HOLT_LINEAR_DAILY_FORECAST_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT list_transform(list(x ORDER BY day),
                          x -> [x, CAST(0.0 AS DOUBLE)]) AS pairs
    FROM daily
), folded AS (
    SELECT len(pairs) AS n_days,
           list_reduce(pairs,
               (acc, p) -> [
                   0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
                   0.3 * ((0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]))
                          - acc[1]) + (1.0 - 0.3) * acc[2]
               ]) AS lb
    FROM series
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(ROUND(lb[1], 6) AS DOUBLE) AS level,
       CAST(ROUND(lb[2], 6) AS DOUBLE) AS trend,
       CAST(ROUND(lb[1] + lb[2], 6) AS DOUBLE) AS forecast_1d,
       CAST(ROUND(lb[1] + 7.0 * lb[2], 6) AS DOUBLE) AS forecast_7d
FROM folded
"""


# ---------------------------------------------------------------------------
# Split-conformal prediction interval on the Holt 1-step forecast
# ---------------------------------------------------------------------------

def conformal_forecast_interval_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al.; Lei et al. 2018)
    around ``holt_linear_daily_forecast``'s 1-step-ahead forecast: replay
    the smoother through the history, collect every 1-step-ahead absolute
    residual |xₜ − (levelₜ₋₁ + trendₜ₋₁)|, and take the ⌈0.9·m⌉-th order
    statistic as the distribution-free 90% margin — the finite-sample
    coverage guarantee a point forecast lacks, with NO normality
    assumption (contrast the z-based bands everywhere else).

    Cross-engine recipe: the per-cutoff prefix state reuses the Holt fold
    (reduce of the pair list's prefix — identical IEEE chain on both
    engines); the margin is an EXACT order statistic of the rounded
    residuals (element_at of the sorted array — no interpolation to
    diverge on). The replay is O(days²) lambda ops over the CALENDAR-
    bounded daily series inside one row — the documented domain-bounded
    class (≈13M flops at a decade of days), never touching the fact
    table after the daily aggregate."""
    daily = _daily(spark, sf_dir, by_type=False)
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s.x,
        ).alias("vals")
    )
    a = F.lit(0.5)
    g = F.lit(0.3)

    def step(acc, p):
        l_, b = F.element_at(acc, 1), F.element_at(acc, 2)
        x = F.element_at(p, 1)
        lnew = a * x + (F.lit(1.0) - a) * (l_ + b)
        bnew = g * ((a * x + (F.lit(1.0) - a) * (l_ + b)) - l_) + (
            F.lit(1.0) - g
        ) * b
        return F.array(lnew, bnew)

    pairs = F.transform(F.col("vals"), lambda x: F.array(x, F.lit(0.0)))

    def fold_prefix(k_minus_1):
        # fold over vals[1..k-1]: init = pair 1, elements = pairs 2..k-1
        return F.aggregate(
            F.slice(pairs, F.lit(2), k_minus_1 - F.lit(1)),
            F.element_at(pairs, 1),
            step,
        )

    resid = F.transform(
        F.sequence(F.lit(3), F.size("vals")),
        lambda t: F.round(
            F.abs(
                F.element_at(F.col("vals"), t)
                - (
                    F.element_at(fold_prefix(t - F.lit(1)), 1)
                    + F.element_at(fold_prefix(t - F.lit(1)), 2)
                )
            ),
            9,
        ),
    )
    final = F.aggregate(
        F.slice(pairs, 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(pairs, 1),
        step,
    )
    staged = series.select(
        F.size("vals").cast("bigint").alias("n_days"),
        F.array_sort(resid).alias("sr"),
        (F.element_at(final, 1) + F.element_at(final, 2)).alias("fc"),
    )
    m = F.size("sr")
    q_idx = F.ceil(F.lit(0.9) * m).cast("int")
    q = F.element_at("sr", q_idx)
    return staged.select(
        "n_days",
        m.cast("bigint").alias("n_eval"),
        F.round(q, 6).cast("double").alias("q90_abs_resid"),
        F.round("fc", 6).cast("double").alias("forecast_1d"),
        F.round(F.col("fc") - q, 6).cast("double").alias("pi_lo"),
        F.round(F.col("fc") + q, 6).cast("double").alias("pi_hi"),
    )


CONFORMAL_FORECAST_INTERVAL_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT list(x ORDER BY day) AS vals FROM daily
), pairsrc AS (
    SELECT vals,
           list_transform(vals, x -> [x, CAST(0.0 AS DOUBLE)]) AS pairs
    FROM series
), staged AS (
    SELECT len(vals) AS n_days,
           list_sort(list_transform(range(3, len(vals) + 1), t ->
               ROUND(ABS(vals[t]
                   - (list_reduce(pairs[1:t-1],
                        (acc, p) -> [
                            0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
                            0.3 * ((0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]))
                                   - acc[1]) + (1.0 - 0.3) * acc[2]
                        ])[1]
                      + list_reduce(pairs[1:t-1],
                        (acc, p) -> [
                            0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
                            0.3 * ((0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]))
                                   - acc[1]) + (1.0 - 0.3) * acc[2]
                        ])[2])), 9))) AS sr,
           list_reduce(pairs,
               (acc, p) -> [
                   0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
                   0.3 * ((0.5 * p[1] + (1.0 - 0.5) * (acc[1] + acc[2]))
                          - acc[1]) + (1.0 - 0.3) * acc[2]
               ]) AS lb
    FROM pairsrc
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(len(sr) AS BIGINT) AS n_eval,
       CAST(ROUND(sr[CAST(CEIL(0.9 * len(sr)) AS INT)], 6) AS DOUBLE)
           AS q90_abs_resid,
       CAST(ROUND(lb[1] + lb[2], 6) AS DOUBLE) AS forecast_1d,
       CAST(ROUND(lb[1] + lb[2] - sr[CAST(CEIL(0.9 * len(sr)) AS INT)], 6)
            AS DOUBLE) AS pi_lo,
       CAST(ROUND(lb[1] + lb[2] + sr[CAST(CEIL(0.9 * len(sr)) AS INT)], 6)
            AS DOUBLE) AS pi_hi
FROM staged
"""


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (triple exponential)
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.3
_HW_BETA = 0.1
_HW_GAMMA = 0.2
_HW_SEASON = 7  # day-of-week cycle


def holt_winters_seasonal_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (triple exponential) of
    the daily value series with a 7-day cycle — the seasonal upgrade of
    ``holt_linear_daily_forecast`` for series where
    ``seasonal_decompose_daily`` shows a real day-of-week component.
    Level, trend AND a 7-slot seasonal vector all recurse on each other,
    so (like Holt) no window algebra expresses it; the fold carries a
    9-element [level, trend, s₁..s₇] array accumulator where the seasonal
    queue ROTATES — the head is always the seasonal index of the
    incoming day, and the freshly-updated seasonal re-enters at the tail.
    That rotation avoids positional list surgery inside the lambda (no
    indexed transform — just a literal 9-slot rebuild), which keeps the
    Spark and DuckDB lambdas structurally identical.

    Init is the classic first-cycle recipe: level = mean of days 1..7,
    trend = 0, s_j = x_j − level; the fold consumes days 8..n. Forecasts:
    h-step = level + h·trend + s_{(n+h) mod 7}, read straight off the
    rotated queue (slot 3 is tomorrow's seasonal, slot 9 is day n+7's).

    Cross-engine: the series is the exact-decimal daily aggregate; both
    engines fold left in day order with the SAME IEEE lambda (DuckDB's
    ``list_reduce`` folds single-element-wrapped tails prepended with the
    init state — its reduce has no init parameter), so parity needs no
    decimal trick; outputs round to 6. Calendar-scale series (the
    documented domain-bounded class): one shuffle for the daily groupBy,
    then a single-row array fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s.x,
        ).alias("xs")
    )
    m = _HW_SEASON
    a, b, g = F.lit(_HW_ALPHA), F.lit(_HW_BETA), F.lit(_HW_GAMMA)
    xs = F.col("xs")
    l0 = sum(
        [F.element_at(xs, i) for i in range(2, m + 1)],
        F.element_at(xs, 1),
    ) / F.lit(float(m))
    init = F.array(
        l0, F.lit(0.0), *[F.element_at(xs, i) - l0 for i in range(1, m + 1)]
    )

    def step(acc, x):
        l_, tr = F.element_at(acc, 1), F.element_at(acc, 2)
        s_old = F.element_at(acc, 3)
        lnew = a * (x - s_old) + (F.lit(1.0) - a) * (l_ + tr)
        bnew = (
            b * ((a * (x - s_old) + (F.lit(1.0) - a) * (l_ + tr)) - l_)
            + (F.lit(1.0) - b) * tr
        )
        snew = (
            g * (x - (a * (x - s_old) + (F.lit(1.0) - a) * (l_ + tr)))
            + (F.lit(1.0) - g) * s_old
        )
        return F.array(
            lnew,
            bnew,
            *[F.element_at(acc, i) for i in range(4, m + 3)],
            snew,
        )

    folded = F.aggregate(
        F.slice(xs, m + 1, F.greatest(F.size(xs) - m, F.lit(0))),
        init,
        step,
    )
    out = series.select(
        F.size("xs").cast("bigint").alias("n_days"),
        folded.alias("st"),
    )
    st = F.col("st")
    return out.select(
        "n_days",
        F.round(F.element_at(st, 1), 6).alias("level"),
        F.round(F.element_at(st, 2), 6).alias("trend"),
        F.round(F.element_at(st, 3), 6).alias("s_next"),
        F.round(
            F.element_at(st, 1) + F.element_at(st, 2) + F.element_at(st, 3), 6
        ).alias("forecast_1d"),
        F.round(
            F.element_at(st, 1)
            + F.lit(7.0) * F.element_at(st, 2)
            + F.element_at(st, 2 + m),
            6,
        ).alias("forecast_7d"),
    )


def _hw_oracle() -> str:
    m = _HW_SEASON
    a, b, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA
    l0 = "((" + " + ".join(f"xs[{i}]" for i in range(1, m + 1)) + f") / {float(m)!r})"
    init = (
        "[" + l0 + ", 0.0, "
        + ", ".join(f"xs[{i}] - {l0}" for i in range(1, m + 1))
        + "]"
    )
    lnew = f"{a!r} * (p[1] - acc[3]) + {1.0 - a!r} * (acc[1] + acc[2])"
    lam = (
        f"[{lnew}, "
        f"{b!r} * (({lnew}) - acc[1]) + {1.0 - b!r} * acc[2], "
        + ", ".join(f"acc[{i}]" for i in range(4, m + 3))
        + f", {g!r} * (p[1] - ({lnew})) + {1.0 - g!r} * acc[3]]"
    )
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT list(x ORDER BY day) AS xs FROM daily
), folded AS (
    SELECT len(xs) AS n_days,
           list_reduce(
               list_prepend(CAST({init} AS DOUBLE[]),
                            list_transform(xs[{m + 1}:], x -> [x])),
               (acc, p) -> {lam}) AS st
    FROM series
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(ROUND(st[1], 6) AS DOUBLE) AS level,
       CAST(ROUND(st[2], 6) AS DOUBLE) AS trend,
       CAST(ROUND(st[3], 6) AS DOUBLE) AS s_next,
       CAST(ROUND(st[1] + st[2] + st[3], 6) AS DOUBLE) AS forecast_1d,
       CAST(ROUND(st[1] + 7.0 * st[2] + st[{2 + m}], 6) AS DOUBLE)
           AS forecast_7d
FROM folded
"""


HOLT_WINTERS_SEASONAL_DAILY_ORACLE = _hw_oracle()


def binseg_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary segmentation (Scott & Knott 1974; the first
    step of the standard binseg changepoint recursion) over the daily
    event-count series — the LOCATION estimate that complements the
    sequential detector (``cusum_changepoint_daily``) and the monotone
    tests (Mann–Kendall/Theil–Sen): the split k* maximizes the
    between-segment sum of squares G(k) = S_k²/k + (S_D−S_k)²/(D−k)
    − S_D²/D (the SSE reduction of a one-break mean model), ties broken
    by the earliest day. Publishes the split day, segment means, the
    gain, and the F statistic G/(SSE_within/(D−2)).

    Scale shape: ONE aggregation to the calendar-bounded daily grain;
    prefix sums are one window over that bounded relation (documented
    bounded unpartitioned window), the argmax one ranked head.
    Exactness: daily counts are bigints, so every prefix sum is EXACT —
    the gain is a fixed double expression over exact integers, identical
    in both engines; D < 3 (no interior split) yields an empty result in
    both engines rather than a degenerate division."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    wd = Window.orderBy("day")
    wc = wd.rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.row_number().over(wd).cast("bigint").alias("k"),
        F.sum("y").over(wc).cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).over(wc).cast("bigint").alias("q"),
    )
    tot = pre.groupBy().agg(
        F.max("k").alias("d"),
        F.max("s").alias("sd"),
        F.max("q").alias("qd"),
    )
    j = pre.join(F.broadcast(tot)).filter(
        (F.col("k") < F.col("d")) & (F.col("d") >= 3)
    )
    kD = F.col("k").cast("double")
    dD = F.col("d").cast("double")
    sD = F.col("s").cast("double")
    sdD = F.col("sd").cast("double")
    gain = (
        sD * sD / kD
        + (sdD - sD) * (sdD - sD) / (dD - kD)
        - sdD * sdD / dD
    )
    scored = j.select("day", "k", "d", "s", "sd", "qd", gain.alias("g"))
    ranked = scored.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("g").desc(), F.col("k").asc()))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    sse_w = (
        F.col("qd").cast("double")
        - sdD * sdD / dD
        - F.col("g")
    )
    f_stat = F.when(
        (F.col("d") > 2) & (sse_w > F.lit(0.0)),
        F.round(F.col("g") / (sse_w / (dD - F.lit(2.0))), 6),
    )
    return ranked.select(
        F.col("d").alias("n_days"),
        F.col("day").alias("split_day"),
        F.col("k").alias("split_pos"),
        F.round(sD / kD, 6).cast("double").alias("left_mean"),
        F.round((sdD - sD) / (dD - kD), 6).cast("double").alias("right_mean"),
        F.round(F.col("g"), 6).cast("double").alias("gain"),
        f_stat.cast("double").alias("f_stat"),
    )


BINSEG_CHANGEPOINT_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
), pre AS (
    SELECT day,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
           CAST(SUM(y) OVER w AS BIGINT) AS s,
           CAST(SUM(y * y) OVER w AS BIGINT) AS q
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
), tot AS (
    SELECT MAX(k) AS d, MAX(s) AS sd, MAX(q) AS qd FROM pre
), ranked AS (
    SELECT day, k, d, s, sd, qd,
           CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(k AS DOUBLE)
             + (CAST(sd AS DOUBLE) - CAST(s AS DOUBLE))
               * (CAST(sd AS DOUBLE) - CAST(s AS DOUBLE))
               / (CAST(d AS DOUBLE) - CAST(k AS DOUBLE))
             - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(d AS DOUBLE)
               AS g,
           ROW_NUMBER() OVER (
               ORDER BY CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(k AS DOUBLE)
                        + (CAST(sd AS DOUBLE) - CAST(s AS DOUBLE))
                          * (CAST(sd AS DOUBLE) - CAST(s AS DOUBLE))
                          / (CAST(d AS DOUBLE) - CAST(k AS DOUBLE))
                        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
                          / CAST(d AS DOUBLE) DESC,
                        k ASC) AS rn
    FROM pre CROSS JOIN tot
    WHERE k < d AND d >= 3
)
SELECT d AS n_days, day AS split_day, k AS split_pos,
       CAST(ROUND(CAST(s AS DOUBLE) / CAST(k AS DOUBLE), 6) AS DOUBLE)
           AS left_mean,
       CAST(ROUND((CAST(sd AS DOUBLE) - CAST(s AS DOUBLE))
                  / (CAST(d AS DOUBLE) - CAST(k AS DOUBLE)), 6) AS DOUBLE)
           AS right_mean,
       CAST(ROUND(g, 6) AS DOUBLE) AS gain,
       CAST(ROUND(CASE WHEN d > 2 AND
                 CAST(qd AS DOUBLE)
                 - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(d AS DOUBLE)
                 - g > 0.0
            THEN g / ((CAST(qd AS DOUBLE)
                       - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
                         / CAST(d AS DOUBLE) - g)
                      / (CAST(d AS DOUBLE) - 2.0)) END, 6) AS DOUBLE)
           AS f_stat
FROM ranked WHERE rn = 1
"""


def periodogram_daily_events(
    spark: SparkSession, sf_dir: str, max_k: int = 14
) -> DataFrame:
    """Discrete-Fourier periodogram of the mean-centered daily event
    counts for harmonics k = 1..min(max_k, ⌊D/2⌋) — the frequency-domain
    member the time-series tier lacks (autocorrelation and
    Holt–Winters ASSUME a period; the periodogram FINDS it):
    P(k) = (a_k² + b_k²)·2/D with a_k = Σ_d y'_d·cos(2πkd/D),
    b_k = Σ_d y'_d·sin(2πkd/D), published with each harmonic's implied
    period D/k and its share of total spectral power. A weekly cycle
    shows up as mass at period ≈ 7.

    Scale shape: ONE aggregation to the calendar-bounded daily grain;
    the (day × k) trig grain is D·max_k rows — still calendar-bounded —
    and folds per harmonic in one hash aggregation. Cross-engine float
    policy: the angle is ONE fixed expression over exact integers and
    the 16-digit 2π literal, cos/sin round at 9 BEFORE the product (the
    ln9 idiom extended to trig — JVM and libm transcendentals agree to
    ≥12 digits, so 9-rounding pins them bitwise), products fold in
    DECIMAL(38,15), and the power/share algebra is fixed-shape doubles
    rounded at 6."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    wd = Window.orderBy("day")
    idx = daily.select(
        (F.row_number().over(wd) - 1).cast("bigint").alias("d"), "y"
    )
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    base = idx.join(F.broadcast(tot)).select(
        "d",
        (
            F.col("y").cast("double")
            - F.col("sy").cast("double") / F.col("n").cast("double")
        ).alias("yc"),
        "n",
    )
    ks = spark.range(1, max_k + 1).select(F.col("id").cast("bigint").alias("k"))
    two_pi = F.lit(6.283185307179586)
    g = base.crossJoin(F.broadcast(ks)).filter(
        F.col("k") <= F.col("n") / F.lit(2)
    )
    ang = two_pi * F.col("k").cast("double") * F.col("d").cast("double") / F.col(
        "n"
    ).cast("double")
    terms = g.select(
        "k",
        "n",
        (F.col("yc") * F.round(F.cos(ang), 9)).alias("ac"),
        (F.col("yc") * F.round(F.sin(ang), 9)).alias("bs"),
        (F.col("yc") * F.col("yc")).alias("y2"),
    )
    per_k = terms.groupBy("k", "n").agg(
        F.sum(F.col("ac").cast("decimal(38,15)")).cast("double").alias("a"),
        F.sum(F.col("bs").cast("decimal(38,15)")).cast("double").alias("b"),
        F.sum(F.col("y2").cast("decimal(38,15)")).cast("double").alias("ss"),
    )
    nD = F.col("n").cast("double")
    power = (
        (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
        * F.lit(2.0)
        / nD
    )
    return per_k.select(
        "k",
        F.round(nD / F.col("k").cast("double"), 6)
        .cast("double")
        .alias("period_days"),
        F.round(power, 6).cast("double").alias("power"),
        F.when(
            F.col("ss") > F.lit(0.0),
            F.round(power / (F.lit(2.0) * F.col("ss")), 6),
        )
        .cast("double")
        .alias("power_share"),
    )


PERIODOGRAM_DAILY_EVENTS_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS d, y
    FROM daily
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
    FROM idx
), base AS (
    SELECT d,
           CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS yc,
           n
    FROM idx CROSS JOIN tot
), ks AS (SELECT CAST(r.range AS BIGINT) AS k FROM range(1, 15) r),
terms AS (
    SELECT k, n,
           yc * ROUND(COS(6.283185307179586 * CAST(k AS DOUBLE)
                          * CAST(d AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS ac,
           yc * ROUND(SIN(6.283185307179586 * CAST(k AS DOUBLE)
                          * CAST(d AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS bs,
           yc * yc AS y2
    FROM base CROSS JOIN ks
    WHERE k <= n / 2
), per_k AS (
    SELECT k, n,
           CAST(SUM(CAST(ac AS DECIMAL(38,15))) AS DOUBLE) AS a,
           CAST(SUM(CAST(bs AS DECIMAL(38,15))) AS DOUBLE) AS b,
           CAST(SUM(CAST(y2 AS DECIMAL(38,15))) AS DOUBLE) AS ss
    FROM terms GROUP BY k, n
)
SELECT k,
       CAST(ROUND(CAST(n AS DOUBLE) / CAST(k AS DOUBLE), 6) AS DOUBLE)
           AS period_days,
       CAST(ROUND((a * a + b * b) * 2.0 / CAST(n AS DOUBLE), 6) AS DOUBLE)
           AS power,
       CAST(ROUND(CASE WHEN ss > 0.0
            THEN (a * a + b * b) * 2.0 / CAST(n AS DOUBLE) / (2.0 * ss)
            END, 6) AS DOUBLE) AS power_share
FROM per_k
"""


def jarque_bera_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test (Jarque & Bera 1980) of the daily mean
    event value — the distributional-assumption check for every Gaussian
    tool downstream (Welch/CUPED/mSPRT all lean on CLT normality of
    daily aggregates): JB = n/6·(S² + K²/4) from the exact central
    moments, where S is skewness and K excess kurtosis; JB ~ χ²(2)
    under normality (5% critical 5.991465).

    Scale shape: one aggregation to the calendar-bounded daily grain,
    one bounded raw-moment fold (Σm, Σm², Σm³, Σm⁴ in decimal), central
    moments by the fixed binomial-expansion expressions — identical
    shapes in both engines; n < 4 or zero variance yields NULL."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("m"), 38, 15).cast("double").alias("s1"),
        dec_sum(F.col("m") * F.col("m"), 38, 15).cast("double").alias("s2"),
        dec_sum(F.col("m") * F.col("m") * F.col("m"), 38, 15)
        .cast("double")
        .alias("s3"),
        dec_sum(F.col("m") * F.col("m") * F.col("m") * F.col("m"), 38, 15)
        .cast("double")
        .alias("s4"),
    )
    nD = F.col("n").cast("double")
    mu = F.col("s1") / nD
    m2 = F.col("s2") / nD - mu * mu
    m3 = F.col("s3") / nD - F.lit(3.0) * mu * (F.col("s2") / nD) + F.lit(
        2.0
    ) * mu * mu * mu
    m4 = (
        F.col("s4") / nD
        - F.lit(4.0) * mu * (F.col("s3") / nD)
        + F.lit(6.0) * mu * mu * (F.col("s2") / nD)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    valid = (F.col("n") >= 4) & (m2 > F.lit(0.0))
    skew = F.when(valid, m3 / F.sqrt(m2 * m2 * m2))
    kurt = F.when(valid, m4 / (m2 * m2) - F.lit(3.0))
    jb = F.when(
        valid, nD / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0))
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.round(skew, 6).cast("double").alias("skewness"),
        F.round(kurt, 6).cast("double").alias("excess_kurtosis"),
        F.round(jb, 6).cast("double").alias("jarque_bera"),
        (F.coalesce(jb, F.lit(0.0)) > F.lit(5.991465)).alias("non_normal"),
    )


JARQUE_BERA_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(m * m * m AS DECIMAL(38,15))) AS DOUBLE) AS s3,
           CAST(SUM(CAST(m * m * m * m AS DECIMAL(38,15))) AS DOUBLE) AS s4
    FROM daily
), c AS (
    SELECT n,
           CASE WHEN n >= 4 AND
                s2 / CAST(n AS DOUBLE)
                - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) > 0.0
           THEN (s3 / CAST(n AS DOUBLE)
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
                 + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)))
                / SQRT((s2 / CAST(n AS DOUBLE)
                        - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                       * (s2 / CAST(n AS DOUBLE)
                          - (s1 / CAST(n AS DOUBLE))
                            * (s1 / CAST(n AS DOUBLE)))
                       * (s2 / CAST(n AS DOUBLE)
                          - (s1 / CAST(n AS DOUBLE))
                            * (s1 / CAST(n AS DOUBLE))))
           END AS skew,
           CASE WHEN n >= 4 AND
                s2 / CAST(n AS DOUBLE)
                - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) > 0.0
           THEN (s4 / CAST(n AS DOUBLE)
                 - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
                 + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s2 / CAST(n AS DOUBLE))
                 - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                / ((s2 / CAST(n AS DOUBLE)
                    - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))
                   * (s2 / CAST(n AS DOUBLE)
                      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))))
                - 3.0
           END AS kurt
    FROM s
)
SELECT n AS n_days,
       CAST(ROUND(skew, 6) AS DOUBLE) AS skewness,
       CAST(ROUND(kurt, 6) AS DOUBLE) AS excess_kurtosis,
       CAST(ROUND(CAST(n AS DOUBLE) / 6.0
                  * (skew * skew + kurt * kurt / 4.0), 6) AS DOUBLE)
           AS jarque_bera,
       COALESCE(CAST(n AS DOUBLE) / 6.0
                * (skew * skew + kurt * kurt / 4.0), 0.0) > 5.991465
           AS non_normal
FROM c
"""


def ljung_box_daily_values(
    spark: SparkSession, sf_dir: str, max_lag: int = 7
) -> DataFrame:
    """Ljung–Box portmanteau test (Ljung & Box 1978) of the daily mean
    event value to lag 7 — "is this series white noise at all?", the
    gate question before fitting AR/Holt/seasonal models (the
    `durbin_watson` sibling generalized past lag 1):
    Q = n(n+2)·Σ_{k≤7} r_k²/(n−k), χ²(7) under independence (5%
    critical 14.067140). Autocorrelations use the standard
    biased-denominator estimator r_k = Σ(yₜ−ȳ)(yₜ₊ₖ−ȳ)/Σ(yₜ−ȳ)².

    Scale shape: one aggregation to the calendar-bounded daily grain,
    the lag join is a (day × 7)-bounded self-equi-join on the day
    index, one bounded fold per lag. Exactness: centered products fold
    in decimal; r_k are fixed double ratios rounded at 9 before
    squaring (the iterative contract applied at the lag boundary)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    wd = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wd).cast("bigint").alias("i"), "m"
    ).localCheckpoint(eager=False)  # both sides of the lag join + moments
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("m"), 38, 15).cast("double").alias("sm"),
        dec_sum(F.col("m") * F.col("m"), 38, 15).cast("double").alias("smm"),
    )
    ks = spark.range(1, max_lag + 1).select(F.col("id").cast("bigint").alias("k"))
    lhs = idx.select(F.col("i").alias("ia"), F.col("m").alias("xa"))
    rhs = idx.select(F.col("i").alias("ib"), F.col("m").alias("xb"))
    pairs = (
        lhs.crossJoin(F.broadcast(ks))
        .join(rhs, F.col("ib") == F.col("ia") + F.col("k"))
        .crossJoin(F.broadcast(tot))
    )
    mu = F.col("sm") / F.col("n").cast("double")
    num = pairs.groupBy("k", "n", "sm", "smm").agg(
        F.sum(
            ((F.col("xa") - mu) * (F.col("xb") - mu)).cast("decimal(38,15)")
        )
        .cast("double")
        .alias("ck")
    )
    nD = F.col("n").cast("double")
    denom = F.col("smm") - F.col("sm") * F.col("sm") / nD
    rk = F.round(F.col("ck") / denom, 9)
    terms = num.select(
        "k", "n", (rk * rk / (nD - F.col("k").cast("double"))).alias("t"), rk.alias("rk")
    )
    q = terms.groupBy("n").agg(
        F.sum(F.col("t").cast("decimal(38,15)")).cast("double").alias("st"),
        F.max(F.abs(F.col("rk"))).alias("max_abs_r"),
    )
    qstat = nD * (nD + F.lit(2.0)) * F.col("st")
    return q.select(
        F.col("n").alias("n_days"),
        F.round(F.col("max_abs_r"), 6).cast("double").alias("max_abs_autocorr"),
        F.round(qstat, 6).cast("double").alias("ljung_box_q"),
        (qstat > F.lit(14.067140)).alias("autocorrelated"),
    )


LJUNG_BOX_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, m
    FROM daily
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS sm,
           CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS smm
    FROM idx
), ks AS (SELECT CAST(r.range AS BIGINT) AS k FROM range(1, 8) r),
num AS (
    SELECT ks.k, tot.n, tot.sm, tot.smm,
           CAST(SUM(CAST((a.m - tot.sm / CAST(tot.n AS DOUBLE))
                         * (b.m - tot.sm / CAST(tot.n AS DOUBLE))
                         AS DECIMAL(38,15))) AS DOUBLE) AS ck
    FROM idx a
    CROSS JOIN ks
    JOIN idx b ON b.i = a.i + ks.k
    CROSS JOIN tot
    GROUP BY ks.k, tot.n, tot.sm, tot.smm
), terms AS (
    SELECT k, n,
           ROUND(ck / (smm - sm * sm / CAST(n AS DOUBLE)), 9) AS rk
    FROM num
), q AS (
    SELECT n,
           CAST(SUM(CAST(rk * rk / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                         AS DECIMAL(38,15))) AS DOUBLE) AS st,
           MAX(ABS(rk)) AS max_abs_r
    FROM terms GROUP BY n
)
SELECT n AS n_days,
       CAST(ROUND(max_abs_r, 6) AS DOUBLE) AS max_abs_autocorr,
       CAST(ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * st, 6)
            AS DOUBLE) AS ljung_box_q,
       CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * st > 14.067140
           AS autocorrelated
FROM q
"""


def runs_test_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test (1940) on the signs of day-over-day
    changes of the daily mean value — the distribution-free randomness
    check beside Ljung–Box's correlation-based one (LB sees LINEAR
    dependence; the runs test sees any sign-pattern structure, e.g.
    momentum or strict alternation): with n₊ ups and n₋ downs in R
    runs, E[R] = 2n₊n₋/n + 1, V[R] = (E[R]−1)(E[R]−2)/(n−1), and
    z = (R − E[R])/√V[R] is standard normal under randomness. Zero
    changes are dropped (the classic convention, stated here and in the
    oracle).

    Scale shape: one aggregation to the calendar-bounded daily grain,
    one lag() over it, two bounded folds (the run count is a
    sign-change sum — never a sequential fold). All counts are exact
    integers; z is one fixed expression."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    wd = Window.orderBy("day")
    signs = daily.select(
        "day", (F.col("m") - F.lag("m").over(wd)).alias("d")
    ).filter(F.col("d").isNotNull() & (F.col("d") != 0)).select(
        "day", F.signum("d").cast("int").alias("s")
    )
    wd2 = Window.orderBy("day")
    runs = signs.select(
        "s", (F.col("s") != F.lag("s").over(wd2)).cast("long").alias("chg")
    )
    agg = runs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("s") > 0).cast("long")).cast("bigint").alias("n_up"),
        F.sum((F.col("s") < 0).cast("long")).cast("bigint").alias("n_down"),
        (F.coalesce(F.sum("chg"), F.lit(0)) + F.lit(1)).cast("bigint").alias("r"),
    )
    nD = F.col("n").cast("double")
    er = (
        F.lit(2.0)
        * F.col("n_up").cast("double")
        * F.col("n_down").cast("double")
        / nD
        + F.lit(1.0)
    )
    vr = (er - F.lit(1.0)) * (er - F.lit(2.0)) / (nD - F.lit(1.0))
    valid = (F.col("n") > 1) & (F.col("n_up") > 0) & (F.col("n_down") > 0)
    z = F.when(valid & (vr > F.lit(0.0)), (F.col("r").cast("double") - er) / F.sqrt(vr))
    return agg.select(
        F.col("n").alias("n_changes"),
        "n_up",
        "n_down",
        F.col("r").alias("n_runs"),
        F.round(er, 6).cast("double").alias("expected_runs"),
        F.round(z, 6).cast("double").alias("z"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > F.lit(1.959964)).alias("non_random"),
    )


RUNS_TEST_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1
), diffs AS (
    SELECT day, m - LAG(m) OVER (ORDER BY day) AS d FROM daily
), signs AS (
    SELECT day, CAST(SIGN(d) AS INT) AS s
    FROM diffs WHERE d IS NOT NULL AND d <> 0
), runs AS (
    SELECT s,
           CASE WHEN s <> LAG(s) OVER (ORDER BY day) THEN 1 ELSE 0 END AS chg
    FROM signs
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
           CAST(COALESCE(SUM(chg), 0) + 1 AS BIGINT) AS r
    FROM runs
), c AS (
    SELECT n, n_up, n_down, r,
           2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
             / CAST(n AS DOUBLE) + 1.0 AS er
    FROM agg
)
SELECT n AS n_changes, n_up, n_down, r AS n_runs,
       CAST(ROUND(er, 6) AS DOUBLE) AS expected_runs,
       CAST(ROUND(CASE WHEN n > 1 AND n_up > 0 AND n_down > 0
                 AND (er - 1.0) * (er - 2.0) / (CAST(n AS DOUBLE) - 1.0) > 0.0
            THEN (CAST(r AS DOUBLE) - er)
                 / SQRT((er - 1.0) * (er - 2.0) / (CAST(n AS DOUBLE) - 1.0))
            END, 6) AS DOUBLE) AS z,
       ABS(COALESCE(CASE WHEN n > 1 AND n_up > 0 AND n_down > 0
                 AND (er - 1.0) * (er - 2.0) / (CAST(n AS DOUBLE) - 1.0) > 0.0
            THEN (CAST(r AS DOUBLE) - er)
                 / SQRT((er - 1.0) * (er - 2.0) / (CAST(n AS DOUBLE) - 1.0))
            END, 0.0)) > 1.959964 AS non_random
FROM c
"""


def newey_west_daily_trend(
    spark: SparkSession, sf_dir: str, max_lag: int = 7
) -> DataFrame:
    """Newey–West HAC standard error (1987, Bartlett kernel to lag 7)
    for the OLS slope of the daily mean value on the day index — the
    autocorrelation-robust inference the plain OLS se gets WRONG exactly
    when ``durbin_watson``/``ljung_box`` fire: the long-run variance of
    the moment series g_t = x'_t·e_t replaces the iid one, so the
    published t-statistic stays honest under serially-correlated
    residuals. S = γ₀ + 2Σ_k w_k γ_k with w_k = 1 − k/(L+1);
    se(β₁) = √(n·S)/Σx'², the standard scalar-regressor HAC form.

    Scale shape: one aggregation to the calendar-bounded daily grain;
    residuals from the closed-form OLS fit; the lag autocovariances of
    g_t are a (day × 7)-bounded self-join (the ljung_box shape). All
    folds decimal; residuals and γ_k round at 9 (the iterative-contract
    boundary)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("y")
    )
    wd = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wd).cast("bigint").alias("i"), "y"
    )
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("i").cast("double"), 38, 6).cast("double").alias("si"),
        dec_sum(F.col("y"), 38, 15).cast("double").alias("sy"),
        dec_sum(F.col("i").cast("double") * F.col("y"), 38, 15)
        .cast("double")
        .alias("siy"),
        dec_sum(F.col("i").cast("double") * F.col("i").cast("double"), 38, 6)
        .cast("double")
        .alias("sii"),
    )
    nD = F.col("n").cast("double")
    det = nD * F.col("sii") - F.col("si") * F.col("si")
    b1 = F.round((nD * F.col("siy") - F.col("si") * F.col("sy")) / det, 9)
    fit = tot.select(
        "n",
        "si",
        "sii",
        b1.alias("b1"),
        F.round((F.col("sy") - b1 * F.col("si")) / nD, 9).alias("b0"),
    )
    g = (
        idx.crossJoin(F.broadcast(fit))
        .select(
            "i",
            "n",
            "si",
            "sii",
            "b1",
            (
                (
                    F.col("i").cast("double")
                    - F.col("si") / F.col("n").cast("double")
                )
                * F.round(
                    F.col("y")
                    - (F.col("b0") + F.col("b1") * F.col("i").cast("double")),
                    9,
                )
            ).alias("g"),
        )
        .localCheckpoint(eager=False)  # gamma_0 fold + 7-lag self-join
    )
    g0 = g.groupBy("n", "si", "sii", "b1").agg(
        F.sum((F.col("g") * F.col("g")).cast("decimal(38,15)"))
        .cast("double")
        .alias("c0")
    )
    ks = spark.range(1, max_lag + 1).select(F.col("id").cast("bigint").alias("k"))
    lag_j = (
        g.select(F.col("i").alias("ia"), F.col("g").alias("ga"))
        .crossJoin(F.broadcast(ks))
        .join(
            g.select(F.col("i").alias("ib"), F.col("g").alias("gb")),
            F.col("ib") == F.col("ia") + F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum((F.col("ga") * F.col("gb")).cast("decimal(38,15)"))
            .cast("double")
            .alias("ck")
        )
    )
    wk = F.lit(1.0) - F.col("k").cast("double") / F.lit(float(max_lag + 1))
    ssum = lag_j.agg(
        F.sum((F.lit(2.0) * wk * F.col("ck")).cast("decimal(38,15)"))
        .cast("double")
        .alias("ctail")
    )
    j = g0.crossJoin(F.broadcast(ssum))
    nD2 = F.col("n").cast("double")
    sxx = F.col("sii") - F.col("si") * F.col("si") / nD2
    s_lr = (F.col("c0") + F.coalesce(F.col("ctail"), F.lit(0.0))) / nD2
    se = F.when(sxx > F.lit(0.0), F.sqrt(nD2 * s_lr) / sxx)
    return j.select(
        F.col("n").alias("n_days"),
        F.round(F.col("b1"), 6).cast("double").alias("slope_per_day"),
        F.round(se, 6).cast("double").alias("hac_se"),
        F.round(F.col("b1") / se, 6).cast("double").alias("t_hac"),
    )


def _newey_west_oracle(max_lag: int = 7) -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, y
    FROM daily
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(i AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
               AS si,
           CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(CAST(i AS DOUBLE) * y AS DECIMAL(38,15)))
                AS DOUBLE) AS siy,
           CAST(SUM(CAST(CAST(i AS DOUBLE) * CAST(i AS DOUBLE)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sii
    FROM idx
), fit AS (
    SELECT n, si, sii, b1,
           ROUND((sy - b1 * si) / CAST(n AS DOUBLE), 9) AS b0
    FROM (
        SELECT *,
               ROUND((CAST(n AS DOUBLE) * siy - si * sy)
                     / (CAST(n AS DOUBLE) * sii - si * si), 9) AS b1
        FROM tot
    )
), g AS MATERIALIZED (
    SELECT i, n, si, sii, b1,
           (CAST(i AS DOUBLE) - si / CAST(n AS DOUBLE))
             * ROUND(y - (b0 + b1 * CAST(i AS DOUBLE)), 9) AS g
    FROM idx CROSS JOIN fit
), g0 AS (
    SELECT n, si, sii, b1,
           CAST(SUM(CAST(g * g AS DECIMAL(38,15))) AS DOUBLE) AS c0
    FROM g GROUP BY n, si, sii, b1
), ks AS (SELECT CAST(r.range AS BIGINT) AS k FROM range(1, {max_lag + 1}) r),
lags AS (
    SELECT ks.k,
           CAST(SUM(CAST(a.g * b.g AS DECIMAL(38,15))) AS DOUBLE) AS ck
    FROM g a CROSS JOIN ks JOIN g b ON b.i = a.i + ks.k
    GROUP BY ks.k
), stail AS (
    SELECT CAST(SUM(CAST(2.0 * (1.0 - CAST(k AS DOUBLE) / {float(max_lag + 1)})
                         * ck AS DECIMAL(38,15))) AS DOUBLE) AS ctail
    FROM lags
)
SELECT g0.n AS n_days,
       CAST(ROUND(g0.b1, 6) AS DOUBLE) AS slope_per_day,
       CAST(ROUND(CASE WHEN g0.sii - g0.si * g0.si / CAST(g0.n AS DOUBLE) > 0.0
            THEN SQRT(CAST(g0.n AS DOUBLE)
                      * ((g0.c0 + COALESCE(s.ctail, 0.0))
                         / CAST(g0.n AS DOUBLE)))
                 / (g0.sii - g0.si * g0.si / CAST(g0.n AS DOUBLE)) END, 6)
            AS DOUBLE) AS hac_se,
       CAST(ROUND(g0.b1 / (CASE WHEN g0.sii - g0.si * g0.si
                                     / CAST(g0.n AS DOUBLE) > 0.0
            THEN SQRT(CAST(g0.n AS DOUBLE)
                      * ((g0.c0 + COALESCE(s.ctail, 0.0))
                         / CAST(g0.n AS DOUBLE)))
                 / (g0.sii - g0.si * g0.si / CAST(g0.n AS DOUBLE)) END), 6)
            AS DOUBLE) AS t_hac
FROM g0 CROSS JOIN stail s
"""


NEWEY_WEST_DAILY_TREND_ORACLE = _newey_west_oracle()


# --------------------------------------------------------------------------
# round 11: PACF via Durbin–Levinson
# --------------------------------------------------------------------------

def _durbin_levinson_stages(p: int) -> list[list[tuple[str, str]]]:
    """Staged Durbin–Levinson recursion as SQL expression strings over
    columns r1..rp — the SAME strings evaluate in Spark (F.expr) and in
    the DuckDB oracle (chained CTEs), so cross-engine parity holds by
    construction. Stage k yields phi_k_k first, then the updated
    phi_k_j (j<k) which reference it; each coefficient re-rounds at 9
    (the iterative contract applied per recursion level). A zero
    innovation denominator yields NULL (propagates to all deeper lags)
    identically in both engines."""
    stages: list[list[tuple[str, str]]] = [[("phi_1_1", "ROUND(r1, 9)")]]
    for k in range(2, p + 1):
        num_terms = " + ".join(
            f"phi_{k-1}_{j} * r{k-j}" for j in range(1, k)
        )
        den_terms = " + ".join(f"phi_{k-1}_{j} * r{j}" for j in range(1, k))
        den = f"(1.0 - ({den_terms}))"
        head = [(
            f"phi_{k}_{k}",
            f"CASE WHEN ABS({den}) > 0.0 THEN "
            f"ROUND((r{k} - ({num_terms})) / {den}, 9) END",
        )]
        tail = [
            (
                f"phi_{k}_{j}",
                f"ROUND(phi_{k-1}_{j} - phi_{k}_{k} * phi_{k-1}_{k-j}, 9)",
            )
            for j in range(1, k)
        ]
        stages.append(head)
        stages.append(tail)
    return stages


_PACF_MAX_LAG = 4


def pacf_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function of the daily mean event value to
    lag 4 via the Durbin–Levinson recursion (Durbin 1960) — the AR-order
    diagnostic ``ljung_box_daily_values`` motivates: Ljung–Box says the
    series is not white noise; the PACF says WHICH AR(p) would absorb it
    (the last lag whose partial autocorrelation clears the ±1.96/√n
    band). Autocorrelations are the same biased-denominator estimator
    the Ljung–Box shares (r_k = c_k/c_0); the recursion solves the
    Yule–Walker system without any matrix inverse, staged as fixed
    scalar expressions.

    Exactness: the r_k construction is the Ljung–Box one (centered
    products folded in DECIMAL(38,15), r_k rounded at 9); the DL stages
    are literally the SAME expression strings evaluated by both engines
    (``_durbin_levinson_stages``), re-rounding at 9 per level; the
    significance band uses the shared 1.959964 literal. Scale shape:
    one aggregation to the calendar-bounded daily grain, a (day × 4)
    bounded lag self-join, then pure scalar algebra on ONE row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    wd = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(wd).cast("bigint").alias("i"), "m"
    ).localCheckpoint(eager=False)
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("m"), 38, 15).cast("double").alias("sm"),
        dec_sum(F.col("m") * F.col("m"), 38, 15).cast("double").alias("smm"),
    )
    ks = spark.range(1, _PACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    lhs = idx.select(F.col("i").alias("ia"), F.col("m").alias("xa"))
    rhs = idx.select(F.col("i").alias("ib"), F.col("m").alias("xb"))
    pairs = (
        lhs.crossJoin(F.broadcast(ks))
        .join(rhs, F.col("ib") == F.col("ia") + F.col("k"))
        .crossJoin(F.broadcast(tot))
    )
    mu = F.col("sm") / F.col("n").cast("double")
    num = pairs.groupBy("k", "n", "sm", "smm").agg(
        F.sum(
            ((F.col("xa") - mu) * (F.col("xb") - mu)).cast("decimal(38,15)")
        )
        .cast("double")
        .alias("ck")
    )
    nD = F.col("n").cast("double")
    denom = F.col("smm") - F.col("sm") * F.col("sm") / nD
    rk = F.round(F.col("ck") / denom, 9)
    # pivot the ≤4 lag rows into ONE row of r1..r4 scalars
    row = num.select("k", "n", rk.alias("rk")).groupBy("n").agg(
        *[
            F.max(F.when(F.col("k") == i, F.col("rk"))).alias(f"r{i}")
            for i in range(1, _PACF_MAX_LAG + 1)
        ]
    )
    for stage in _durbin_levinson_stages(_PACF_MAX_LAG):
        row = row.select("*", *[F.expr(e).alias(c) for c, e in stage])
    stack_args = ", ".join(
        f"{i}, phi_{i}_{i}" for i in range(1, _PACF_MAX_LAG + 1)
    )
    out = row.select(
        F.col("n").alias("n_days"),
        F.expr(
            f"stack({_PACF_MAX_LAG}, {stack_args}) AS (lag, pacf_raw)"
        ),
    )
    band = F.lit(1.959964) / F.sqrt(F.col("n_days").cast("double"))
    return out.select(
        "n_days",
        F.col("lag").cast("int"),
        F.round(F.col("pacf_raw"), 6).cast("double").alias("pacf"),
        F.coalesce(
            F.abs(F.round(F.col("pacf_raw"), 6)) > band, F.lit(False)
        ).alias("significant"),
    )


def _pacf_oracle(p: int = _PACF_MAX_LAG) -> str:
    ctes = []
    prev = "rrow"
    i = 0
    for stage in _durbin_levinson_stages(p):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage)
        name = f"dl{i}"
        ctes.append(f"{name} AS (SELECT *, {cols} FROM {prev})")
        prev = name
        i += 1
    unions = "\n    UNION ALL ".join(
        f"SELECT n, {i} AS lag, phi_{i}_{i} AS pacf_raw FROM {prev}"
        for i in range(1, p + 1)
    )
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, m
    FROM daily
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS sm,
           CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS smm
    FROM idx
), ks AS (SELECT CAST(r.range AS BIGINT) AS k FROM range(1, {p + 1}) r),
num AS (
    SELECT ks.k, tot.n,
           CAST(SUM(CAST((a.m - tot.sm / CAST(tot.n AS DOUBLE))
                         * (b.m - tot.sm / CAST(tot.n AS DOUBLE))
                    AS DECIMAL(38,15))) AS DOUBLE) AS ck,
           ANY_VALUE(tot.smm - tot.sm * tot.sm / CAST(tot.n AS DOUBLE))
               AS c0
    FROM idx a CROSS JOIN ks JOIN idx b ON b.i = a.i + ks.k
    CROSS JOIN tot
    GROUP BY ks.k, tot.n
), rrow AS (
    SELECT n,
           {", ".join(f"MAX(CASE WHEN k = {i} THEN ROUND(ck / c0, 9) END) AS r{i}" for i in range(1, p + 1))}
    FROM num GROUP BY n
), {", ".join(ctes)}
SELECT n AS n_days, CAST(lag AS INT) AS lag,
       CAST(ROUND(pacf_raw, 6) AS DOUBLE) AS pacf,
       COALESCE(ABS(ROUND(pacf_raw, 6))
                > 1.959964 / SQRT(CAST(n AS DOUBLE)), FALSE) AS significant
FROM ({unions})
"""


PACF_DAILY_VALUES_ORACLE = _pacf_oracle()


def ccf_purchase_view_daily(
    spark: SparkSession, sf_dir: str, max_lag: int = 3
) -> DataFrame:
    """Cross-correlation function between the purchase and view daily
    mean values at lags −3..+3 — the LEAD/LAG structure
    ``partial_corr_purchase_view_daily`` (contemporaneous) and the ACF
    tier (single-series) cannot see: r_xy(k) correlates x_t (purchase)
    with y_{t+k} (view); positive-lag peaks mean purchases LEAD views,
    negative-lag peaks the reverse — the first diagnostic before any
    transfer-function or Granger story. Normalization is the standard
    cross-correlation estimator r(k) = Σ(x_t−x̄)(y_{t+k}−ȳ) /
    √(Σ(x−x̄)²·Σ(y−ȳ)²) over the common-day-indexed series.

    Exactness: daily means fold in decimal; moments and lagged products
    fold in DECIMAL(38,15); each r(k) is one fixed double expression
    rounded at 6. Scale shape: one aggregation to the calendar-bounded
    (day, type) grain, a (day × 7)-bounded lag self-join on the shared
    day index, bounded folds — the Ljung–Box shape with two series."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    px = daily.filter(F.col("event_type") == "purchase").select("day", F.col("m").alias("x"))
    vx = daily.filter(F.col("event_type") == "view").select("day", F.col("m").alias("y"))
    both = px.join(vx, "day")
    wd = Window.orderBy("day")
    idx = both.select(
        F.row_number().over(wd).cast("bigint").alias("i"), "x", "y"
    ).localCheckpoint(eager=False)
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 38, 15).cast("double").alias("sx"),
        dec_sum(F.col("y"), 38, 15).cast("double").alias("sy"),
        dec_sum(F.col("x") * F.col("x"), 38, 15).cast("double").alias("sxx"),
        dec_sum(F.col("y") * F.col("y"), 38, 15).cast("double").alias("syy"),
    )
    ks = spark.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("y").alias("yb"))
    pairs = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("ib") == F.col("ia") + F.col("k"))
        .crossJoin(F.broadcast(tot))
    )
    nD = F.col("n").cast("double")
    mx = F.col("sx") / nD
    my = F.col("sy") / nD
    num = pairs.groupBy("k", "n", "sx", "sy", "sxx", "syy").agg(
        F.sum(((F.col("xa") - mx) * (F.col("yb") - my)).cast("decimal(38,15)"))
        .cast("double")
        .alias("ck")
    )
    den = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / nD)
        * (F.col("syy") - F.col("sy") * F.col("sy") / nD)
    )
    return num.select(
        F.col("n").alias("n_days"),
        F.col("k").cast("int").alias("lag"),
        F.round(F.col("ck") / den, 6).cast("double").alias("ccf"),
    )


CCF_PURCHASE_VIEW_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1, 2
), both_s AS (
    SELECT p.day, p.m AS x, v.m AS y
    FROM (SELECT day, m FROM daily WHERE event_type = 'purchase') p
    JOIN (SELECT day, m FROM daily WHERE event_type = 'view') v
      USING (day)
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x, y
    FROM both_s
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) AS syy
    FROM idx
), ks AS (SELECT CAST(r.range AS BIGINT) AS k FROM range(-3, 4) r),
num AS (
    SELECT ks.k, tot.n, tot.sx, tot.sy, tot.sxx, tot.syy,
           CAST(SUM(CAST((a.x - tot.sx / CAST(tot.n AS DOUBLE))
                         * (b.y - tot.sy / CAST(tot.n AS DOUBLE))
                    AS DECIMAL(38,15))) AS DOUBLE) AS ck
    FROM idx a CROSS JOIN ks JOIN idx b ON b.i = a.i + ks.k
    CROSS JOIN tot
    GROUP BY ks.k, tot.n, tot.sx, tot.sy, tot.sxx, tot.syy
)
SELECT n AS n_days, CAST(k AS INT) AS lag,
       CAST(ROUND(ck / SQRT((sxx - sx * sx / CAST(n AS DOUBLE))
                            * (syy - sy * sy / CAST(n AS DOUBLE))), 6)
            AS DOUBLE) AS ccf
FROM num
"""


def granger_lag1_view_to_purchase_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lag-1 Granger-causality test of "do yesterday's VIEWS predict
    today's PURCHASES beyond yesterday's purchases?" — computed as the
    PARTIAL correlation of (y_t, x_{t−1}) given y_{t−1} (for a single
    added regressor the partial-correlation t-test and the
    restricted-vs-full regression F-test are the SAME test: F = t²),
    which keeps the whole statistic in closed 2×2 form instead of a
    3×3 normal-equation solve. y = purchase daily mean, x = view daily
    mean on the common day index.

    Exactness: the three pairwise correlations fold centered products
    in DECIMAL(38,15) and round at 9; r_partial, t and F = t² are fixed
    double expressions rounded at 6; `significant` uses the asymptotic
    F(1,∞) = χ²(1) critical 3.841459 (documented asymptotic — at the
    daily grain n−3 > 300, where the exact F(1, n−3) critical differs
    in the third decimal). Scale shape: one (day, type) aggregation,
    one lag-1 self-join on the day index, one bounded fold."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    px = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("m").alias("y")
    )
    vx = daily.filter(F.col("event_type") == "view").select(
        "day", F.col("m").alias("x")
    )
    both = px.join(vx, "day")
    wd = Window.orderBy("day")
    idx = both.select(
        F.row_number().over(wd).cast("bigint").alias("i"), "x", "y"
    ).localCheckpoint(eager=False)
    cur = idx.select(F.col("i").alias("ic"), F.col("y").alias("yt"))
    prev = idx.select(
        (F.col("i") + 1).alias("ic"),
        F.col("y").alias("yl"),
        F.col("x").alias("xl"),
    )
    tri = cur.join(prev, "ic")
    s = tri.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            dec_sum(c, 38, 15).cast("double").alias(a)
            for c, a in [
                (F.col("yt"), "s1"),
                (F.col("yl"), "s2"),
                (F.col("xl"), "s3"),
                (F.col("yt") * F.col("yt"), "s11"),
                (F.col("yl") * F.col("yl"), "s22"),
                (F.col("xl") * F.col("xl"), "s33"),
                (F.col("yt") * F.col("yl"), "s12"),
                (F.col("yt") * F.col("xl"), "s13"),
                (F.col("yl") * F.col("xl"), "s23"),
            ]
        ],
    )
    nD = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        return F.round(
            (F.col(sab) - F.col(sa) * F.col(sb) / nD)
            / F.sqrt(
                (F.col(saa) - F.col(sa) * F.col(sa) / nD)
                * (F.col(sbb) - F.col(sb) * F.col(sb) / nD)
            ),
            9,
        )

    r13 = corr("s13", "s1", "s3", "s11", "s33")  # y_t vs x_{t-1}
    r12 = corr("s12", "s1", "s2", "s11", "s22")  # y_t vs y_{t-1}
    r23 = corr("s23", "s2", "s3", "s22", "s33")  # y_{t-1} vs x_{t-1}
    rp = (r13 - r12 * r23) / F.sqrt(
        (F.lit(1.0) - r12 * r12) * (F.lit(1.0) - r23 * r23)
    )
    fstat = (
        rp * rp * (nD - F.lit(3.0)) / (F.lit(1.0) - rp * rp)
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.round(rp, 6).cast("double").alias("r_partial"),
        F.round(fstat, 6).cast("double").alias("f_stat"),
        (F.round(fstat, 6) > F.lit(3.841459)).alias("granger_causal"),
    )


GRANGER_LAG1_VIEW_TO_PURCHASE_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1, 2
), both_s AS (
    SELECT p.day, p.m AS y, v.m AS x
    FROM (SELECT day, m FROM daily WHERE event_type = 'purchase') p
    JOIN (SELECT day, m FROM daily WHERE event_type = 'view') v
      USING (day)
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x, y
    FROM both_s
), tri AS (
    SELECT c.y AS yt, p.y AS yl, p.x AS xl
    FROM idx c JOIN idx p ON c.i = p.i + 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(yt AS DECIMAL(38,15))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(yl AS DECIMAL(38,15))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(xl AS DECIMAL(38,15))) AS DOUBLE) AS s3,
           CAST(SUM(CAST(yt * yt AS DECIMAL(38,15))) AS DOUBLE) AS s11,
           CAST(SUM(CAST(yl * yl AS DECIMAL(38,15))) AS DOUBLE) AS s22,
           CAST(SUM(CAST(xl * xl AS DECIMAL(38,15))) AS DOUBLE) AS s33,
           CAST(SUM(CAST(yt * yl AS DECIMAL(38,15))) AS DOUBLE) AS s12,
           CAST(SUM(CAST(yt * xl AS DECIMAL(38,15))) AS DOUBLE) AS s13,
           CAST(SUM(CAST(yl * xl AS DECIMAL(38,15))) AS DOUBLE) AS s23
    FROM tri
), r AS (
    SELECT n,
           ROUND((s13 - s1 * s3 / CAST(n AS DOUBLE))
                 / SQRT((s11 - s1 * s1 / CAST(n AS DOUBLE))
                        * (s33 - s3 * s3 / CAST(n AS DOUBLE))), 9) AS r13,
           ROUND((s12 - s1 * s2 / CAST(n AS DOUBLE))
                 / SQRT((s11 - s1 * s1 / CAST(n AS DOUBLE))
                        * (s22 - s2 * s2 / CAST(n AS DOUBLE))), 9) AS r12,
           ROUND((s23 - s2 * s3 / CAST(n AS DOUBLE))
                 / SQRT((s22 - s2 * s2 / CAST(n AS DOUBLE))
                        * (s33 - s3 * s3 / CAST(n AS DOUBLE))), 9) AS r23
    FROM s
), rp AS (
    SELECT n,
           (r13 - r12 * r23)
             / SQRT((1.0 - r12 * r12) * (1.0 - r23 * r23)) AS rp
    FROM r
)
SELECT n AS n_days,
       CAST(ROUND(rp, 6) AS DOUBLE) AS r_partial,
       CAST(ROUND(rp * rp * (CAST(n AS DOUBLE) - 3.0) / (1.0 - rp * rp), 6)
            AS DOUBLE) AS f_stat,
       ROUND(rp * rp * (CAST(n AS DOUBLE) - 3.0) / (1.0 - rp * rp), 6)
           > 3.841459 AS granger_causal
FROM rp
"""


def chow_test_daily_midpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test (Chow 1960) for a structural break in the daily-mean
    trend at the series midpoint — the CONFIRMATORY companion to
    ``binseg_changepoint_daily`` (binseg SEARCHES for the break; Chow
    TESTS a hypothesized one): fit the OLS line mean~day_index on each
    half and pooled, F = ((SSR_p − SSR_1 − SSR_2)/2) /
    ((SSR_1 + SSR_2)/(n − 4)). The midpoint split is deterministic
    (⌈n/2⌉ days in the first segment), so both engines test the same
    hypothesis.

    Exactness: per-segment 5-sums fold in DECIMAL(38,15); each SSR is
    the closed form syy_c − sxy_c²/sxx_c over identical doubles; F is
    one fixed expression rounded at 6; `significant` uses the
    asymptotic 2F ~ χ²(2) critical 5.991465 (documented — at n−4 > 300
    the exact F(2, n−4) critical differs past the second decimal).
    Scale shape: one daily aggregation, one bounded window for the day
    index, one grouped fold at segment grain (2 rows)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    )
    wd = Window.orderBy("day")
    nrow = daily.agg(
        F.count("*").cast("bigint").alias("n"), F.lit(1).alias("one")
    )
    idx = (
        daily.select(
            F.row_number().over(wd).cast("bigint").alias("i"), "m"
        )
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nrow), "one")
        .select(
            "i",
            "m",
            F.col("i").cast("double").alias("x"),
            (F.col("i") <= (F.col("n") + 1) / 2).cast("int").alias("seg"),
            "n",
        )
        .localCheckpoint(eager=False)  # ≤days rows; segs + pooled both read it
    )

    def sums(df, keys):
        return df.groupBy(*keys).agg(
            F.count("*").cast("bigint").alias("c"),
            dec_sum(F.col("x"), 38, 15).cast("double").alias("sx"),
            dec_sum(F.col("m"), 38, 15).cast("double").alias("sy"),
            dec_sum(F.col("x") * F.col("m"), 38, 15).cast("double").alias("sxy"),
            dec_sum(F.col("x") * F.col("x"), 38, 15).cast("double").alias("sxx"),
            dec_sum(F.col("m") * F.col("m"), 38, 15).cast("double").alias("syy"),
        )

    cd = F.col("c").cast("double")
    ssr = (
        F.col("syy")
        - F.col("sy") * F.col("sy") / cd
        - (F.col("sxy") - F.col("sx") * F.col("sy") / cd)
        * (F.col("sxy") - F.col("sx") * F.col("sy") / cd)
        / (F.col("sxx") - F.col("sx") * F.col("sx") / cd)
    )
    segs = sums(idx, ["seg"]).select(
        F.col("c"), ssr.alias("ssr")
    )
    seg_tot = segs.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("ssr").cast("decimal(38,12)")).cast("double").alias("ssr_12"),
        F.lit(1).alias("one"),
    )
    pooled = sums(idx.withColumn("g", F.lit(1)), ["g"]).select(
        ssr.alias("ssr_p"), F.lit(1).alias("one")
    )
    j = seg_tot.join(F.broadcast(pooled), "one")
    nD = F.col("n").cast("double")
    fstat = ((F.col("ssr_p") - F.col("ssr_12")) / F.lit(2.0)) / (
        F.col("ssr_12") / (nD - F.lit(4.0))
    )
    return j.select(
        F.col("n").alias("n_days"),
        F.round(F.col("ssr_p"), 6).cast("double").alias("ssr_pooled"),
        F.round(F.col("ssr_12"), 6).cast("double").alias("ssr_segments"),
        F.round(fstat, 6).cast("double").alias("f_stat"),
        (F.lit(2.0) * F.round(fstat, 6) > F.lit(5.991465)).alias(
            "structural_break"
        ),
    )


CHOW_TEST_DAILY_MIDPOINT_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1
), nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, m,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS x,
           CASE WHEN CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
                     <= (n + 1) / 2 THEN 1 ELSE 0 END AS seg
    FROM daily CROSS JOIN nrow
), seg_sums AS (
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * m AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS syy
    FROM idx GROUP BY seg
), seg_ssr AS (
    SELECT c,
           syy - sy * sy / CAST(c AS DOUBLE)
           - (sxy - sx * sy / CAST(c AS DOUBLE))
             * (sxy - sx * sy / CAST(c AS DOUBLE))
             / (sxx - sx * sx / CAST(c AS DOUBLE)) AS ssr
    FROM seg_sums
), seg_tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CAST(ssr AS DECIMAL(38,12))) AS DOUBLE) AS ssr_12
    FROM seg_ssr
), pooled_sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * m AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) AS syy
    FROM idx
), pooled AS (
    SELECT syy - sy * sy / CAST(c AS DOUBLE)
           - (sxy - sx * sy / CAST(c AS DOUBLE))
             * (sxy - sx * sy / CAST(c AS DOUBLE))
             / (sxx - sx * sx / CAST(c AS DOUBLE)) AS ssr_p
    FROM pooled_sums
)
SELECT n AS n_days,
       CAST(ROUND(ssr_p, 6) AS DOUBLE) AS ssr_pooled,
       CAST(ROUND(ssr_12, 6) AS DOUBLE) AS ssr_segments,
       CAST(ROUND(((ssr_p - ssr_12) / 2.0)
                  / (ssr_12 / (CAST(n AS DOUBLE) - 4.0)), 6) AS DOUBLE)
           AS f_stat,
       2.0 * ROUND(((ssr_p - ssr_12) / 2.0)
                   / (ssr_12 / (CAST(n AS DOUBLE) - 4.0)), 6) > 5.991465
           AS structural_break
FROM seg_tot CROSS JOIN pooled
"""


def _rhu(x: float, nd: int) -> float:
    """Driver-side HALF_UP decimal round matching Spark/DuckDB ROUND on
    doubles (python's round() is banker's — half-EVEN — and would diverge
    on exact decimal halves). Decimal(repr(x)) mirrors the shortest
    round-trip representation both engines round from."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP))


def gmm2_em_daily_values(
    spark: SparkSession, sf_dir: str, n_iters: int = 3
) -> DataFrame:
    """Two-component Gaussian-mixture EM (Dempster–Laird–Rubin 1977) on
    the daily mean event values — the SOFT clustering family the
    inventory's k-means (hard EM) cannot express: responsibilities
    weight every day by both components, so overlapping regimes (a
    high-value and a low-value operating mode) are separated without a
    hard threshold; the published separation d = |μ₁−μ₂|/√((σ₁²+σ₂²)/2)
    reads directly as "how bimodal is the daily series".

    Determinism contract (the poisson_glm / fisher exp precedent — JVM
    and DuckDB libm exp/ln/sqrt agree bitwise on identical rounded
    inputs, proven across 3 SFs by those queries): the log-density gap
    Δ re-rounds at 9, the prior/scale factor A at 9, responsibilities
    r = 1/(1 + A·exp(Δ)) at 9; each M-step sum folds in
    DECIMAL(38,12) and every new parameter re-rounds at 9 — so all
    three iterations are bitwise-replayable in SQL. Initialization is
    deterministic: μ at the exact 25th/75th percentiles (rounded 6),
    shared variance at the series variance (rounded 9), w₁ = 0.5.
    n_iters is FIXED at 3 (the house bounded-iteration policy).

    Scale shape: the E-step relation is the calendar-bounded daily
    grain crossed with ONE broadcast parameter row; each iteration is
    one bounded fold; parameters live in a ≤1-row driver dict (the
    bounded-collect idiom — at 100 TB the daily grain is still ≤ tens
    of thousands of rows)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double")
        ).alias("m")
    ).localCheckpoint(eager=False)  # every E-step reads it
    init = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.percentile("m", F.lit(0.25)), 6).alias("mu1"),
        F.round(F.percentile("m", F.lit(0.75)), 6).alias("mu2"),
        dec_sum(F.col("m"), 38, 15).cast("double").alias("sm"),
        dec_sum(F.col("m") * F.col("m"), 38, 15).cast("double").alias("smm"),
    ).collect()[0]  # bounded collect: 5 scalars
    n = init["n"]
    v0 = _rhu((init["smm"] - init["sm"] * init["sm"] / n) / n, 9)
    if not v0 > 0.0:
        # degenerate constant series: publish NULL fit identically to the
        # oracle's CASE guard
        return spark.createDataFrame(
            [(n, None, None, None, None, None, None)],
            "n_days bigint, w1 double, mu1 double, mu2 double, "
            "var1 double, var2 double, separation double",
        )
    w1, mu1, mu2, v1, v2 = 0.5, init["mu1"], init["mu2"], v0, v0
    for _ in range(n_iters):
        import math

        a = _rhu((1.0 - w1) / w1 * math.sqrt(v1) / math.sqrt(v2), 9)
        x = F.col("m")
        delta = F.round(
            (x - F.lit(mu1)) * (x - F.lit(mu1)) / F.lit(2.0 * v1)
            - (x - F.lit(mu2)) * (x - F.lit(mu2)) / F.lit(2.0 * v2),
            9,
        )
        r = F.round(
            F.lit(1.0) / (F.lit(1.0) + F.lit(a) * F.exp(delta)), 9
        )
        sums = daily.select(
            r.alias("r"),
            (r * x).alias("rx"),
            (r * x * x).alias("rxx"),
            ((F.lit(1.0) - r) * x).alias("qx"),
            ((F.lit(1.0) - r) * x * x).alias("qxx"),
        ).agg(
            *[
                F.sum(F.col(c).cast("decimal(38,12)")).cast("double").alias(c)
                for c in ["r", "rx", "rxx", "qx", "qxx"]
            ]
        ).collect()[0]  # bounded collect: 5 scalars per iteration
        n1 = sums["r"]
        n2 = n - n1
        if not (n1 > 0.0 and n2 > 0.0):
            # unreachable while v > 0 (r is strictly inside (0,1) before
            # rounding, and a whole series rounding to one side needs
            # |delta| > 20); fail LOUDLY rather than silently diverging
            # from the oracle's unguarded arithmetic
            raise ValueError("gmm2_em: a component emptied — degenerate fit")
        mu1 = _rhu(sums["rx"] / n1, 9)
        mu2 = _rhu(sums["qx"] / n2, 9)
        v1 = _rhu(max(sums["rxx"] / n1 - mu1 * mu1, 1e-12), 9)
        v2 = _rhu(max(sums["qxx"] / n2 - mu2 * mu2, 1e-12), 9)
        w1 = _rhu(n1 / n, 9)
    import math

    sep = _rhu(abs(mu1 - mu2) / math.sqrt((v1 + v2) / 2.0), 6)
    return spark.createDataFrame(
        [(
            n,
            _rhu(w1, 6),
            _rhu(mu1, 6),
            _rhu(mu2, 6),
            _rhu(v1, 6),
            _rhu(v2, 6),
            sep,
        )],
        "n_days bigint, w1 double, mu1 double, mu2 double, "
        "var1 double, var2 double, separation double",
    )


def _gmm2_oracle(n_iters: int = 3) -> str:
    head = """
WITH daily AS MATERIALIZED (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM events GROUP BY 1
), p0 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           0.5 AS w1,
           ROUND(quantile_cont(m, 0.25), 6) AS mu1,
           ROUND(quantile_cont(m, 0.75), 6) AS mu2,
           ROUND((CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE)
                  - CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE)
                    * CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE))
                 / CAST(COUNT(*) AS DOUBLE), 9) AS v1,
           ROUND((CAST(SUM(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE)
                  - CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE)
                    * CAST(SUM(CAST(m AS DECIMAL(38,15))) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE))
                 / CAST(COUNT(*) AS DOUBLE), 9) AS v2
    FROM daily
)"""
    step = """
, s{m} AS (
    SELECT p.n, p.w1, p.mu1, p.mu2, p.v1, p.v2,
           CAST(SUM(CAST(r AS DECIMAL(38,12))) AS DOUBLE) AS sr,
           CAST(SUM(CAST(r * m AS DECIMAL(38,12))) AS DOUBLE) AS srx,
           CAST(SUM(CAST(r * m * m AS DECIMAL(38,12))) AS DOUBLE) AS srxx,
           CAST(SUM(CAST((1.0 - r) * m AS DECIMAL(38,12))) AS DOUBLE) AS sqx,
           CAST(SUM(CAST((1.0 - r) * m * m AS DECIMAL(38,12))) AS DOUBLE)
               AS sqxx
    FROM (
        SELECT d.m, p.*,
               ROUND(1.0 / (1.0
                   + ROUND((1.0 - p.w1) / p.w1 * SQRT(p.v1) / SQRT(p.v2), 9)
                     * EXP(ROUND((d.m - p.mu1) * (d.m - p.mu1) / (2.0 * p.v1)
                                 - (d.m - p.mu2) * (d.m - p.mu2)
                                   / (2.0 * p.v2), 9))), 9) AS r
        FROM daily d CROSS JOIN p{prev} p
    ) t, p{prev} p
    GROUP BY p.n, p.w1, p.mu1, p.mu2, p.v1, p.v2
), p{m} AS (
    SELECT n,
           ROUND(sr / CAST(n AS DOUBLE), 9) AS w1,
           ROUND(srx / sr, 9) AS mu1,
           ROUND(sqx / (CAST(n AS DOUBLE) - sr), 9) AS mu2,
           ROUND(GREATEST(srxx / sr - ROUND(srx / sr, 9)
                          * ROUND(srx / sr, 9), 1e-12), 9) AS v1,
           ROUND(GREATEST(sqxx / (CAST(n AS DOUBLE) - sr)
                          - ROUND(sqx / (CAST(n AS DOUBLE) - sr), 9)
                            * ROUND(sqx / (CAST(n AS DOUBLE) - sr), 9),
                          1e-12), 9) AS v2
    FROM s{m}
)"""
    body = head
    for m in range(1, n_iters + 1):
        body += step.format(m=m, prev=m - 1)
    body += f"""
SELECT p0.n AS n_days,
       CAST(CASE WHEN p0.v1 > 0.0 THEN ROUND(pf.w1, 6) END AS DOUBLE) AS w1,
       CAST(CASE WHEN p0.v1 > 0.0 THEN ROUND(pf.mu1, 6) END AS DOUBLE) AS mu1,
       CAST(CASE WHEN p0.v1 > 0.0 THEN ROUND(pf.mu2, 6) END AS DOUBLE) AS mu2,
       CAST(CASE WHEN p0.v1 > 0.0 THEN ROUND(pf.v1, 6) END AS DOUBLE) AS var1,
       CAST(CASE WHEN p0.v1 > 0.0 THEN ROUND(pf.v2, 6) END AS DOUBLE) AS var2,
       CAST(CASE WHEN p0.v1 > 0.0 THEN
            ROUND(ABS(pf.mu1 - pf.mu2) / SQRT((pf.v1 + pf.v2) / 2.0), 6)
            END AS DOUBLE) AS separation
FROM p{n_iters} pf CROSS JOIN p0
"""
    return body


GMM2_EM_DAILY_VALUES_ORACLE = _gmm2_oracle()


def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test (Pettitt 1979) on the daily mean values —
    the RANK-based changepoint the parametric pair can't give:
    ``binseg_changepoint_daily`` finds the best MEAN-shift split and
    ``chow_test_daily_midpoint`` tests a hypothesized one, both reading
    magnitudes; Pettitt's U_t = Σ_{i≤t}Σ_{j>t} sign(x_i − x_j) is a
    Mann–Whitney sweep over every split — outlier-immune, and its
    K = max|U_t| carries the classic closed-form tail bound
    p ≈ 2·exp(−6K²/(n³+n²)).

    Exactness: EVERYTHING integer until the final p — per-day
    V_t = #less − #greater = 2·cum_before + ties − n comes from the
    value-grain doubled-rank construction, U_t is a prefix sum of V_t
    (the recurrence U_t = U_{t−1} + V_t), K and the argmax day are
    exact; exp rounds at 9 on a round-at-9 argument (the fisher/GLM exp
    parity precedent). Scale shape: one aggregation to the
    calendar-bounded daily grain, bounded day-grain windows (documented
    class), one fold."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            dec_sum(F.col("value"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("m")
    )
    nn = daily.agg(
        F.count("*").cast("bigint").alias("n"), F.lit(1).alias("one")
    )
    # value-grain ranks over the bounded daily series
    gv = daily.groupBy("m").agg(F.count("*").cast("bigint").alias("t"))
    wv = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    ranked = gv.select(
        "m",
        "t",
        F.coalesce(F.sum("t").over(wv), F.lit(0)).cast("bigint").alias("cb"),
    )
    v = (
        daily.join(ranked, "m")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
        .select(
            "day",
            (2 * F.col("cb") + F.col("t") - F.col("n"))
            .cast("bigint")
            .alias("v"),
            "n",
        )
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    u = v.select(
        "day", "n", F.sum("v").over(wd).cast("bigint").alias("u")
    )
    best = u.orderBy(F.abs(F.col("u")).desc(), F.col("day").asc()).limit(1)
    nD = F.col("n").cast("double")
    k = F.abs(F.col("u")).cast("double")
    p = F.round(
        F.lit(2.0)
        * F.exp(
            F.round(
                F.lit(-6.0) * k * k / (nD * nD * nD + nD * nD), 9
            )
        ),
        6,
    )
    return best.select(
        F.col("n").alias("n_days"),
        F.col("day").alias("change_day"),
        F.col("u").alias("u_at_change"),
        F.abs(F.col("u")).cast("bigint").alias("k_stat"),
        F.least(p, F.lit(1.0)).cast("double").alias("p_approx"),
        (F.least(p, F.lit(1.0)) < F.lit(0.05)).alias("significant"),
    )


PETTITT_CHANGEPOINT_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS m
    FROM events GROUP BY 1
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
gv AS (
    SELECT m, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY m
), ranked AS (
    SELECT m, t,
           CAST(COALESCE(SUM(t) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb
    FROM gv
), v AS (
    SELECT d.day, CAST(2 * r.cb + r.t - nn.n AS BIGINT) AS v, nn.n
    FROM daily d JOIN ranked r USING (m) CROSS JOIN nn
), u AS (
    SELECT day, n,
           CAST(SUM(v) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS u
    FROM v
), best AS (
    SELECT * FROM u ORDER BY ABS(u) DESC, day ASC LIMIT 1
)
SELECT n AS n_days, day AS change_day, u AS u_at_change,
       CAST(ABS(u) AS BIGINT) AS k_stat,
       CAST(LEAST(ROUND(2.0 * EXP(ROUND(
            -6.0 * CAST(ABS(u) AS DOUBLE) * CAST(ABS(u) AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9)), 6), 1.0)
            AS DOUBLE) AS p_approx,
       LEAST(ROUND(2.0 * EXP(ROUND(
            -6.0 * CAST(ABS(u) AS DOUBLE) * CAST(ABS(u) AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9)), 6), 1.0)
           < 0.05 AS significant
FROM best
"""


def adf_test_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Dickey–Fuller unit-root test (constant, one lagged
    difference) on the daily value series — the STATIONARITY gate the
    trend/forecast tier presumes: Δx_t = α + ρ·x_{t−1} + γ·Δx_{t−1} + ε,
    τ = ρ̂/se(ρ̂); a unit root (τ above the Dickey–Fuller −2.86 point)
    says ``holt_linear_daily_forecast``/``ar2_yule_walker_daily`` are
    modeling a random walk and differencing must come first.
    ``mann_kendall_daily_trend`` asks "is there a trend?"; ADF asks the
    complementary "does the level even revert?".

    Exactness: the 3-regressor OLS is solved in closed form by Cramer's
    rule over ten exact-decimal power sums (never a per-row residual
    pass — SSR = Σy² − b'X'y); coefficients round at 9, τ at 6, and
    se(ρ̂) uses the exact cofactor n·Svv − Sv² of X'X. Scale shape: one
    aggregation to the calendar-bounded daily grain, one bounded
    day-grain lag window (documented class), one 10-sum fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    lagged = daily.select(
        "day",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    rows = lagged.select(
        (F.col("x") - F.col("x1")).alias("y"),
        F.col("x1").alias("u"),
        (F.col("x1") - F.col("x2")).alias("v"),
    )
    s = rows.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("u"), 38, 12).cast("double").alias("su"),
        dec_sum(F.col("v"), 38, 12).cast("double").alias("sv"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("u") * F.col("u"), 38, 9).cast("double").alias("suu"),
        dec_sum(F.col("v") * F.col("v"), 38, 9).cast("double").alias("svv"),
        dec_sum(F.col("u") * F.col("v"), 38, 9).cast("double").alias("suv"),
        dec_sum(F.col("u") * F.col("y"), 38, 9).cast("double").alias("suy"),
        dec_sum(F.col("v") * F.col("y"), 38, 9).cast("double").alias("svy"),
        dec_sum(F.col("y") * F.col("y"), 38, 9).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    det = (
        nd * (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv"))
        - F.col("su") * (F.col("su") * F.col("svv") - F.col("suv") * F.col("sv"))
        + F.col("sv") * (F.col("su") * F.col("suv") - F.col("suu") * F.col("sv"))
    )
    det0 = (
        F.col("sy") * (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv"))
        - F.col("su") * (F.col("suy") * F.col("svv") - F.col("suv") * F.col("svy"))
        + F.col("sv") * (F.col("suy") * F.col("suv") - F.col("suu") * F.col("svy"))
    )
    detu = (
        nd * (F.col("suy") * F.col("svv") - F.col("suv") * F.col("svy"))
        - F.col("sy") * (F.col("su") * F.col("svv") - F.col("suv") * F.col("sv"))
        + F.col("sv") * (F.col("su") * F.col("svy") - F.col("suy") * F.col("sv"))
    )
    detv = (
        nd * (F.col("suu") * F.col("svy") - F.col("suy") * F.col("suv"))
        - F.col("su") * (F.col("su") * F.col("svy") - F.col("suy") * F.col("sv"))
        + F.col("sy") * (F.col("su") * F.col("suv") - F.col("suu") * F.col("sv"))
    )
    m = s.select(
        "*",
        det.alias("det"),
        det0.alias("d0"),
        detu.alias("du"),
        detv.alias("dv"),
    ).filter(F.col("det") > 0.0)
    b0 = F.round(F.col("d0") / F.col("det"), 9)
    bu = F.round(F.col("du") / F.col("det"), 9)
    bv = F.round(F.col("dv") / F.col("det"), 9)
    p = m.select(
        "*", b0.alias("b0"), bu.alias("bu"), bv.alias("bv")
    )
    ssr = F.col("syy") - (
        F.col("b0") * F.col("sy")
        + F.col("bu") * F.col("suy")
        + F.col("bv") * F.col("svy")
    )
    s2 = ssr / (nd - F.lit(3.0))
    var_bu = s2 * (nd * F.col("svv") - F.col("sv") * F.col("sv")) / F.col("det")
    tau = F.round(F.col("bu") / F.sqrt(var_bu), 6)
    return p.select(
        F.col("n").alias("n_obs"),
        F.col("bu").cast("double").alias("rho_coef"),
        F.col("bv").cast("double").alias("lag_diff_coef"),
        tau.cast("double").alias("adf_tau"),
        (tau < F.lit(-2.86)).alias("stationary"),
    )


ADF_TEST_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), lagged AS (
    SELECT day, x,
           LAG(x, 1) OVER (ORDER BY day) AS x1,
           LAG(x, 2) OVER (ORDER BY day) AS x2
    FROM daily
), rows_ AS (
    SELECT x - x1 AS y, x1 AS u, x1 - x2 AS v
    FROM lagged WHERE x2 IS NOT NULL
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(u AS DECIMAL(38,12))) AS DOUBLE) AS su,
           CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(u * u AS DECIMAL(38,9))) AS DOUBLE) AS suu,
           CAST(SUM(CAST(v * v AS DECIMAL(38,9))) AS DOUBLE) AS svv,
           CAST(SUM(CAST(u * v AS DECIMAL(38,9))) AS DOUBLE) AS suv,
           CAST(SUM(CAST(u * y AS DECIMAL(38,9))) AS DOUBLE) AS suy,
           CAST(SUM(CAST(v * y AS DECIMAL(38,9))) AS DOUBLE) AS svy,
           CAST(SUM(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy
    FROM rows_
), m AS (
    SELECT *,
           CAST(n AS DOUBLE) * (suu * svv - suv * suv)
           - su * (su * svv - suv * sv)
           + sv * (su * suv - suu * sv) AS det,
           sy * (suu * svv - suv * suv)
           - su * (suy * svv - suv * svy)
           + sv * (suy * suv - suu * svy) AS d0,
           CAST(n AS DOUBLE) * (suy * svv - suv * svy)
           - sy * (su * svv - suv * sv)
           + sv * (su * svy - suy * sv) AS du,
           CAST(n AS DOUBLE) * (suu * svy - suy * suv)
           - su * (su * svy - suy * sv)
           + sy * (su * suv - suu * sv) AS dv
    FROM s
), p AS (
    SELECT *,
           ROUND(d0 / det, 9) AS b0,
           ROUND(du / det, 9) AS bu,
           ROUND(dv / det, 9) AS bv
    FROM m WHERE det > 0.0
)
SELECT n AS n_obs,
       CAST(bu AS DOUBLE) AS rho_coef,
       CAST(bv AS DOUBLE) AS lag_diff_coef,
       CAST(ROUND(bu / SQRT((syy - (b0 * sy + bu * suy + bv * svy))
                            / (CAST(n AS DOUBLE) - 3.0)
                            * (CAST(n AS DOUBLE) * svv - sv * sv) / det), 6)
            AS DOUBLE) AS adf_tau,
       ROUND(bu / SQRT((syy - (b0 * sy + bu * suy + bv * svy))
                       / (CAST(n AS DOUBLE) - 3.0)
                       * (CAST(n AS DOUBLE) * svv - sv * sv) / det), 6)
           < -2.86 AS stationary
FROM p
"""


def breusch_godfrey_daily_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Breusch–Godfrey LM test for lag-1 serial correlation in the
    daily-trend OLS residuals — the REGRESSION-valid upgrade of
    ``durbin_watson_daily_trend``: DW's bounds are inconclusive in a
    band and the statistic is biased toward 2 when lagged terms enter
    the model; BG re-regresses the residual on the ORIGINAL regressor
    plus its own lag (pre-sample residual set to 0, Godfrey 1978's
    convention, keeping all n rows) and reads LM = n·R² against χ²(1).

    Exactness: stage 1 is the durbin-watson closed-form OLS with b₁/b₀
    rounded at 9; stage 2 is the 3-regressor Cramer solve over ten
    decimal power sums (the ``adf_test_daily_values`` machinery) with
    R² = (b'X'y − (Σe)²/n)/(Σe² − (Σe)²/n); LM rounds at 6 against the
    shared 3.841459 literal. Scale shape: one daily aggregation, one
    bounded day-grain lag window, two constant-size folds."""
    daily = _daily(spark, sf_dir, by_type=False)
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("double").alias("t"),
        "x",
        "day",
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(F.col("t"), 27, 12).cast("double").alias("st"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("t") * F.col("x"), 38, 12).cast("double").alias("stx"),
        dec_sum(F.col("t") * F.col("t"), 38, 12).cast("double").alias("stt"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    icept = (F.col("sx") - slope * F.col("st")) / F.col("n")
    params = s.select(
        F.round(slope, 9).alias("b1"), F.round(icept, 9).alias("b0")
    )
    resid = pts.crossJoin(F.broadcast(params)).select(
        "day",
        "t",
        (F.col("x") - (F.col("b0") + F.col("b1") * F.col("t"))).alias("e"),
    )
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    rows = resid.select(
        F.col("e").alias("y"),
        F.col("t").alias("u"),
        F.coalesce(F.lag("e").over(w), F.lit(0.0)).alias("v"),
    )
    a = rows.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("u"), 38, 12).cast("double").alias("su"),
        dec_sum(F.col("v"), 38, 12).cast("double").alias("sv"),
        dec_sum(F.col("y"), 38, 12).cast("double").alias("sy"),
        dec_sum(F.col("u") * F.col("u"), 38, 9).cast("double").alias("suu"),
        dec_sum(F.col("v") * F.col("v"), 38, 9).cast("double").alias("svv"),
        dec_sum(F.col("u") * F.col("v"), 38, 9).cast("double").alias("suv"),
        dec_sum(F.col("u") * F.col("y"), 38, 9).cast("double").alias("suy"),
        dec_sum(F.col("v") * F.col("y"), 38, 9).cast("double").alias("svy"),
        dec_sum(F.col("y") * F.col("y"), 38, 9).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    det = (
        nd * (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv"))
        - F.col("su") * (F.col("su") * F.col("svv") - F.col("suv") * F.col("sv"))
        + F.col("sv") * (F.col("su") * F.col("suv") - F.col("suu") * F.col("sv"))
    )
    det0 = (
        F.col("sy") * (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv"))
        - F.col("su") * (F.col("suy") * F.col("svv") - F.col("suv") * F.col("svy"))
        + F.col("sv") * (F.col("suy") * F.col("suv") - F.col("suu") * F.col("svy"))
    )
    detu = (
        nd * (F.col("suy") * F.col("svv") - F.col("suv") * F.col("svy"))
        - F.col("sy") * (F.col("su") * F.col("svv") - F.col("suv") * F.col("sv"))
        + F.col("sv") * (F.col("su") * F.col("svy") - F.col("suy") * F.col("sv"))
    )
    detv = (
        nd * (F.col("suu") * F.col("svy") - F.col("suy") * F.col("suv"))
        - F.col("su") * (F.col("su") * F.col("svy") - F.col("suy") * F.col("sv"))
        + F.col("sy") * (F.col("su") * F.col("suv") - F.col("suu") * F.col("sv"))
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
        F.col("c0") * F.col("sy")
        + F.col("cu") * F.col("suy")
        + F.col("cv") * F.col("svy")
        - F.col("sy") * F.col("sy") / nd
    )
    tss = F.col("syy") - F.col("sy") * F.col("sy") / nd
    r2 = ess / tss
    lm = F.round(nd * r2, 6)
    return p.select(
        F.col("n").alias("n_days"),
        F.col("cv").cast("double").alias("resid_lag_coef"),
        F.round(r2, 6).cast("double").alias("aux_r2"),
        lm.cast("double").alias("bg_lm_stat"),
        (lm > F.lit(3.841459)).alias("serial_correlation"),
    )


BREUSCH_GODFREY_DAILY_TREND_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), d0 AS (
    SELECT MIN(day) AS d0 FROM daily
), pts AS (
    SELECT CAST(datediff('day', d0, day) AS DOUBLE) AS t, x, day
    FROM daily CROSS JOIN d0
), s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(t AS DECIMAL(27,12))) AS DOUBLE) AS st,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(t * x AS DECIMAL(38,12))) AS DOUBLE) AS stx,
           CAST(SUM(CAST(t * t AS DECIMAL(38,12))) AS DOUBLE) AS stt
    FROM pts
), params AS (
    SELECT ROUND((n * stx - st * sx) / (n * stt - st * st), 9) AS b1,
           ROUND((sx - ((n * stx - st * sx) / (n * stt - st * st)) * st) / n, 9)
               AS b0
    FROM s
), resid AS (
    SELECT day, t, x - (b0 + b1 * t) AS e
    FROM pts CROSS JOIN params
), rows_ AS (
    SELECT e AS y, t AS u,
           COALESCE(LAG(e) OVER (ORDER BY day), 0.0) AS v
    FROM resid
), a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(u AS DECIMAL(38,12))) AS DOUBLE) AS su,
           CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS sv,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(u * u AS DECIMAL(38,9))) AS DOUBLE) AS suu,
           CAST(SUM(CAST(v * v AS DECIMAL(38,9))) AS DOUBLE) AS svv,
           CAST(SUM(CAST(u * v AS DECIMAL(38,9))) AS DOUBLE) AS suv,
           CAST(SUM(CAST(u * y AS DECIMAL(38,9))) AS DOUBLE) AS suy,
           CAST(SUM(CAST(v * y AS DECIMAL(38,9))) AS DOUBLE) AS svy,
           CAST(SUM(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy
    FROM rows_
), m AS (
    SELECT *,
           CAST(n AS DOUBLE) * (suu * svv - suv * suv)
           - su * (su * svv - suv * sv)
           + sv * (su * suv - suu * sv) AS det,
           sy * (suu * svv - suv * suv)
           - su * (suy * svv - suv * svy)
           + sv * (suy * suv - suu * svy) AS d0,
           CAST(n AS DOUBLE) * (suy * svv - suv * svy)
           - sy * (su * svv - suv * sv)
           + sv * (su * svy - suy * sv) AS du,
           CAST(n AS DOUBLE) * (suu * svy - suy * suv)
           - su * (su * svy - suy * sv)
           + sy * (su * suv - suu * sv) AS dv
    FROM a
), p AS (
    SELECT *,
           ROUND(d0 / det, 9) AS c0,
           ROUND(du / det, 9) AS cu,
           ROUND(dv / det, 9) AS cv
    FROM m WHERE det > 0.0
)
SELECT n AS n_days,
       CAST(cv AS DOUBLE) AS resid_lag_coef,
       CAST(ROUND((c0 * sy + cu * suy + cv * svy
                   - sy * sy / CAST(n AS DOUBLE))
                  / (syy - sy * sy / CAST(n AS DOUBLE)), 6) AS DOUBLE)
           AS aux_r2,
       CAST(ROUND(CAST(n AS DOUBLE)
                  * ((c0 * sy + cu * suy + cv * svy
                      - sy * sy / CAST(n AS DOUBLE))
                     / (syy - sy * sy / CAST(n AS DOUBLE))), 6) AS DOUBLE)
           AS bg_lm_stat,
       ROUND(CAST(n AS DOUBLE)
             * ((c0 * sy + cu * suy + cv * svy
                 - sy * sy / CAST(n AS DOUBLE))
                / (syy - sy * sy / CAST(n AS DOUBLE))), 6) > 3.841459
           AS serial_correlation
FROM p
"""


def permutation_entropy_daily_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permutation entropy (Bandt & Pompe 2002) of the daily value
    series at embedding order m=3 — the COMPLEXITY member of the
    daily-series panel: autocorrelation/periodogram read linear
    structure, ``runs_test_daily_values`` reads sign alternation;
    permutation entropy reads how evenly the 6 possible ordinal
    patterns of consecutive triples occur — ≈1 (normalized) for white
    noise, low for deterministic dynamics, and it is invariant to any
    monotone transform of the values. Ties break by time index (the
    Bandt–Pompe stable-sort convention).

    Exactness: each triple's pattern code is a pure integer comparison
    expression (r_i = #{j: v_j<v_i or (v_j=v_i ∧ j<i)} folded to
    100r₀+10r₁+r₂); pattern counts are bigint; the entropy fold
    rounds each −p·ln p term at 12 into a 6-row decimal sum and the
    normalized H/ln6 rounds at 6. Scale shape: one daily aggregation,
    one bounded day-grain lead window, a ≤6-row fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    trip = daily.select(
        F.col("x").alias("a"),
        F.lead("x", 1).over(w).alias("b"),
        F.lead("x", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    r0 = (F.col("b") < F.col("a")).cast("int") + (
        F.col("c") < F.col("a")
    ).cast("int")
    r1 = (F.col("a") <= F.col("b")).cast("int") + (
        F.col("c") < F.col("b")
    ).cast("int")
    r2 = (F.col("a") <= F.col("c")).cast("int") + (
        F.col("b") <= F.col("c")
    ).cast("int")
    pats = trip.select(
        (r0 * 100 + r1 * 10 + r2).cast("int").alias("pat")
    ).groupBy("pat").agg(F.count("*").cast("bigint").alias("cnt"))
    tot = pats.agg(F.sum("cnt").cast("bigint").alias("n"), F.lit(1).alias("one"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    ent = (
        pats.withColumn("one", F.lit(1))
        .join(F.broadcast(tot), "one")
        .groupBy("n")
        .agg(
            F.count("*").cast("int").alias("n_patterns"),
            F.sum(F.round(-p * F.log(p), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("h"),
        )
    )
    return ent.select(
        F.col("n").alias("n_triples"),
        "n_patterns",
        F.round(F.col("h"), 6).cast("double").alias("perm_entropy"),
        F.round(F.col("h") / F.lit(1.791759469228055), 6)
        .cast("double")
        .alias("perm_entropy_norm"),
    )


PERMUTATION_ENTROPY_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), trip AS (
    SELECT x AS a,
           LEAD(x, 1) OVER (ORDER BY day) AS b,
           LEAD(x, 2) OVER (ORDER BY day) AS c
    FROM daily
), pats AS (
    SELECT (CAST(b < a AS INT) + CAST(c < a AS INT)) * 100
           + (CAST(a <= b AS INT) + CAST(c < b AS INT)) * 10
           + (CAST(a <= c AS INT) + CAST(b <= c AS INT)) AS pat,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM trip WHERE c IS NOT NULL
    GROUP BY 1
), tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pats
), ent AS (
    SELECT n, CAST(COUNT(*) AS INT) AS n_patterns,
           CAST(SUM(CAST(ROUND(
               -(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS h
    FROM pats CROSS JOIN tot
    GROUP BY n
)
SELECT n AS n_triples, n_patterns,
       CAST(ROUND(h, 6) AS DOUBLE) AS perm_entropy,
       CAST(ROUND(h / 1.791759469228055, 6) AS DOUBLE) AS perm_entropy_norm
FROM ent
"""


def bartels_rank_test_daily_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bartels rank test of randomness (Bartels 1982 — the rank version
    of von Neumann's successive-difference ratio) on the daily value
    series: RVN = Σ(R_t−R_{t+1})²/Σ(R_t−R̄)², ≈2 under randomness,
    →0 under positive serial dependence, →4 under alternation. The
    rank-based member between ``runs_test_daily_values`` (signs only)
    and ``ljung_box_daily_values`` (raw values): immune to outliers
    AND to monotone trend-free level shifts.

    Exactness: DOUBLED average ranks are exact integers (the
    Mann–Whitney value-grain construction), the doubled-rank mean is
    exactly n+1, so the numerator and denominator are EXACT bigint
    sums of squared integer differences (the doubling cancels in the
    ratio); z = (RVN−2)/√(20/(5n+7)) is the only float, rounded at 6.
    Scale shape: one daily aggregation, value-grain rank join, one
    bounded day-grain lead window, one fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    gv = daily.groupBy("x").agg(F.count("*").cast("bigint").alias("t"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = gv.select(
        "x",
        (
            2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
        ).cast("bigint").alias("dr"),
    )
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    seq = (
        daily.join(ranked, "x")
        .select("day", "dr")
        .select("dr", F.lead("dr").over(w).alias("dr_next"))
    )
    # mean doubled rank is exactly n+1 (Σ2r̄ = n(n+1)), so DEN is an
    # exact integer sum against that constant — joined in so the same
    # pass folds NUM and DEN
    den_df = (
        seq.withColumn("one", F.lit(1))
        .join(
            F.broadcast(
                seq.agg(
                    F.count("*").cast("bigint").alias("n"),
                    F.lit(1).alias("one"),
                )
            ),
            "one",
        )
        .agg(
            F.max("n").alias("n"),
            F.sum(
                (F.col("dr") - (F.col("n") + 1))
                * (F.col("dr") - (F.col("n") + 1))
            )
            .cast("bigint")
            .alias("den"),
            F.sum(
                F.when(
                    F.col("dr_next").isNotNull(),
                    (F.col("dr") - F.col("dr_next"))
                    * (F.col("dr") - F.col("dr_next")),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("num"),
        )
    )
    nD = F.col("n").cast("double")
    rvn = F.col("num").cast("double") / F.col("den").cast("double")
    z = F.round(
        (rvn - F.lit(2.0))
        / F.sqrt(F.lit(20.0) / (F.lit(5.0) * nD + F.lit(7.0))),
        6,
    )
    return den_df.select(
        F.col("n").alias("n_days"),
        F.round(rvn, 6).cast("double").alias("rvn_ratio"),
        z.cast("double").alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("nonrandom"),
    )


BARTELS_RANK_TEST_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), gv AS (
    SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x
), ranked AS (
    SELECT x,
           CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS BIGINT) AS dr
    FROM gv
), seq AS (
    SELECT d.day, r.dr,
           LEAD(r.dr) OVER (ORDER BY d.day) AS dr_next
    FROM daily d JOIN ranked r USING (x)
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seq
), s AS (
    SELECT nn.n,
           CAST(SUM((dr - (nn.n + 1)) * (dr - (nn.n + 1))) AS BIGINT) AS den,
           CAST(SUM(CASE WHEN dr_next IS NOT NULL
                         THEN (dr - dr_next) * (dr - dr_next)
                         ELSE 0 END) AS BIGINT) AS num
    FROM seq CROSS JOIN nn
    GROUP BY nn.n
)
SELECT n AS n_days,
       CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE)
           AS rvn_ratio,
       CAST(ROUND((CAST(num AS DOUBLE) / CAST(den AS DOUBLE) - 2.0)
                  / SQRT(20.0 / (5.0 * CAST(n AS DOUBLE) + 7.0)), 6)
            AS DOUBLE) AS z_score,
       ABS(ROUND((CAST(num AS DOUBLE) / CAST(den AS DOUBLE) - 2.0)
                 / SQRT(20.0 / (5.0 * CAST(n AS DOUBLE) + 7.0)), 6))
           > 1.959964 AS nonrandom
FROM s
"""


def cox_stuart_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox–Stuart trend test (Cox & Stuart 1955) on the daily value
    series — the SIGN-only trend test: pair each of the first ⌊n/2⌋
    days with its opposite ⌈n/2⌉ positions later, count strictly
    positive differences among the non-tied pairs, and read the count
    against Binomial(m, ½). The assumption-free floor under
    ``mann_kendall_daily_trend`` (all O(n²)-mass pairs) and
    ``theil_sen_daily_trend`` (magnitudes): Cox–Stuart uses only n/2
    signs, so agreement across the three is evidence the trend is not
    an artifact of any one statistic's weighting.

    Exactness: positions are ROW_NUMBER over the bounded day grain
    (calendar gaps don't shift the pairing), the pair join is an exact
    integer-key self-join, S and m are bigint, z = (2S−m)/√m rounds at
    6. Scale shape: one daily aggregation, one bounded-grain self-join,
    constant-size algebra."""
    daily = _daily(spark, sf_dir, by_type=False)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    idx = daily.select(
        F.row_number().over(w).cast("bigint").alias("i"), "x"
    )
    nn = idx.agg(F.count("*").cast("bigint").alias("n"), F.lit(1).alias("one"))
    shift = nn.select(
        F.ceil(F.col("n").cast("double") / 2.0).cast("bigint").alias("c"),
        F.floor(F.col("n").cast("double") / 2.0).cast("bigint").alias("m_max"),
        F.lit(1).alias("one"),
    )
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    pairs = (
        a.withColumn("one", F.lit(1))
        .join(F.broadcast(shift), "one")
        .filter(F.col("ia") <= F.col("m_max"))
        .join(b, F.col("ib") == F.col("ia") + F.col("c"))
    )
    s = pairs.agg(
        F.sum((F.col("xb") > F.col("xa")).cast("long"))
        .cast("bigint")
        .alias("s_pos"),
        F.sum((F.col("xb") != F.col("xa")).cast("long"))
        .cast("bigint")
        .alias("m"),
        F.max("m_max").cast("bigint").alias("n_pairs"),
    )
    mD = F.col("m").cast("double")
    z = F.round(
        (2.0 * F.col("s_pos").cast("double") - mD) / F.sqrt(mD), 6
    )
    return s.select(
        "n_pairs",
        F.col("m").alias("m_untied"),
        "s_pos",
        z.cast("double").alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("significant"),
    )


COX_STUART_TREND_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x
    FROM daily
), shift AS (
    SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / 2.0) AS BIGINT) AS c,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / 2.0) AS BIGINT) AS m_max
    FROM idx
), pairs AS (
    SELECT a.x AS xa, b.x AS xb, s.m_max
    FROM idx a CROSS JOIN shift s
    JOIN idx b ON b.i = a.i + s.c
    WHERE a.i <= s.m_max
), agg AS (
    SELECT CAST(SUM(CASE WHEN xb > xa THEN 1 ELSE 0 END) AS BIGINT) AS s_pos,
           CAST(SUM(CASE WHEN xb <> xa THEN 1 ELSE 0 END) AS BIGINT) AS m,
           CAST(MAX(m_max) AS BIGINT) AS n_pairs
    FROM pairs
)
SELECT n_pairs, m AS m_untied, s_pos,
       CAST(ROUND((2.0 * CAST(s_pos AS DOUBLE) - CAST(m AS DOUBLE))
                  / SQRT(CAST(m AS DOUBLE)), 6) AS DOUBLE) AS z_score,
       ABS(ROUND((2.0 * CAST(s_pos AS DOUBLE) - CAST(m AS DOUBLE))
                 / SQRT(CAST(m AS DOUBLE)), 6)) > 1.959964 AS significant
FROM agg
"""


_HURST_SIZES = (8, 16, 32, 64, 128)


def hurst_rs_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    Mandelbrot & Wallis 1969) of the daily value series — the
    LONG-MEMORY member of the daily panel: ACF/Ljung–Box read fixed
    lags, ADF reads mean reversion; H reads how the range of cumulative
    deviations scales with window length (H≈0.5 random walk increments,
    H>0.5 persistent, H<0.5 anti-persistent). For each block size
    s ∈ {8..128} that fits, the series splits into ⌊n/s⌋ full blocks;
    per block R = max−min of the cumulative demeaned sums and S = the
    population σ; H is the log-log OLS slope of mean(R/S) on s.

    Exactness: block means and Σdev² are decimal folds rounded at 9;
    the cumulative deviation is a sequential ordered-window sum of
    identical doubles (engine-identical left fold); per-block R/S
    rounds at 9, per-size means at 9, and the ≤5-point log-log OLS
    uses the integer-log policy inputs with one closed-form slope
    rounded at 6. Scale shape: one daily aggregation, then
    (size × day)-grain ≤ 5n rows with REAL (size, block) partition
    keys — no single-partition window."""
    daily = _daily(spark, sf_dir, by_type=False)
    w0 = Window.partitionBy(F.month("day") % 1).orderBy("day")
    idx = daily.select(
        F.row_number().over(w0).cast("bigint").alias("i"), "x"
    )
    nn = idx.agg(F.count("*").cast("bigint").alias("n"), F.lit(1).alias("one"))
    sizes = spark.createDataFrame(
        [(s,) for s in _HURST_SIZES], "s bigint"
    ).withColumn("one", F.lit(1))
    fit = sizes.join(F.broadcast(nn), "one").filter(
        F.col("s") <= F.col("n")
    ).select("s")
    rows = idx.crossJoin(F.broadcast(fit)).select(
        "s",
        "x",
        "i",
        F.floor((F.col("i") - 1) / F.col("s")).cast("bigint").alias("b"),
    )
    full = (
        rows.withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
        .filter((F.col("b") + 1) * F.col("s") <= F.col("n"))
        .select("s", "b", "i", "x")
    )
    m = full.groupBy("s", "b").agg(
        F.round(
            dec_sum(F.col("x"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("m")
    )
    dev = full.join(m, ["s", "b"]).select(
        "s", "b", "i", (F.col("x") - F.col("m")).alias("dv")
    )
    wz = Window.partitionBy("s", "b").orderBy("i")
    z = dev.select(
        "s", "b", "dv", F.sum("dv").over(wz).alias("z")
    )
    blocks = z.groupBy("s", "b").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(
            F.round(
                dec_sum(F.col("dv") * F.col("dv"), 38, 12).cast("double")
                / F.count("*").cast("double"),
                9,
            )
        ).alias("sd"),
    )
    rs = blocks.filter(F.col("sd") > 0.0).select(
        "s", F.round(F.col("r") / F.col("sd"), 9).alias("rs")
    )
    per_size = rs.groupBy("s").agg(
        F.round(
            F.sum(F.col("rs").cast("decimal(27,12)")).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("mean_rs"),
        F.count("*").cast("bigint").alias("n_blocks"),
    ).filter(F.col("mean_rs") > 0.0)
    pts = per_size.select(
        F.round(F.log(F.col("s").cast("double")), 9).alias("u"),
        F.round(F.log("mean_rs"), 9).alias("v"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("u").cast("decimal(27,12)")).cast("double").alias("su"),
        F.sum(F.col("v").cast("decimal(27,12)")).cast("double").alias("sv"),
        F.sum((F.col("u") * F.col("v")).cast("decimal(27,12)"))
        .cast("double")
        .alias("suv"),
        F.sum((F.col("u") * F.col("u")).cast("decimal(27,12)"))
        .cast("double")
        .alias("suu"),
    )
    kD = F.col("k").cast("double")
    h = F.round(
        (kD * F.col("suv") - F.col("su") * F.col("sv"))
        / (kD * F.col("suu") - F.col("su") * F.col("su")),
        6,
    )
    return s.select(
        F.col("k").alias("n_sizes"),
        h.cast("double").alias("hurst_h"),
        (h > F.lit(0.5)).alias("persistent"),
    )


def _hurst_oracle() -> str:
    sizes = ", ".join(f"({s})" for s in _HURST_SIZES)
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x
    FROM daily
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
fit AS (
    SELECT CAST(s AS BIGINT) AS s FROM (VALUES {sizes}) t(s)
    CROSS JOIN nn WHERE s <= n
), rows_ AS (
    SELECT f.s, d.x, d.i,
           CAST(FLOOR((d.i - 1) / f.s) AS BIGINT) AS b
    FROM idx d CROSS JOIN fit f
), full_b AS (
    SELECT s, b, i, x FROM rows_ CROSS JOIN nn
    WHERE (b + 1) * s <= n
), m AS (
    SELECT s, b,
           ROUND(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS m
    FROM full_b GROUP BY s, b
), dev AS (
    SELECT f.s, f.b, f.i, f.x - m.m AS dv
    FROM full_b f JOIN m USING (s, b)
), z AS (
    SELECT s, b, dv,
           SUM(dv) OVER (PARTITION BY s, b ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS z
    FROM dev
), blocks AS (
    SELECT s, b,
           MAX(z) - MIN(z) AS r,
           SQRT(ROUND(CAST(SUM(CAST(dv * dv AS DECIMAL(38,12))) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 9)) AS sd
    FROM z GROUP BY s, b
), rs AS (
    SELECT s, ROUND(r / sd, 9) AS rs FROM blocks WHERE sd > 0.0
), per_size AS (
    SELECT s,
           ROUND(CAST(SUM(CAST(rs AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS mean_rs
    FROM rs GROUP BY s
    HAVING ROUND(CAST(SUM(CAST(rs AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) > 0.0
), pts AS (
    SELECT ROUND(ln(CAST(s AS DOUBLE)), 9) AS u,
           ROUND(ln(mean_rs), 9) AS v
    FROM per_size
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CAST(u AS DECIMAL(27,12))) AS DOUBLE) AS su,
           CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) AS sv,
           CAST(SUM(CAST(u * v AS DECIMAL(27,12))) AS DOUBLE) AS suv,
           CAST(SUM(CAST(u * u AS DECIMAL(27,12))) AS DOUBLE) AS suu
    FROM pts
)
SELECT k AS n_sizes,
       CAST(ROUND((CAST(k AS DOUBLE) * suv - su * sv)
                  / (CAST(k AS DOUBLE) * suu - su * su), 6) AS DOUBLE)
           AS hurst_h,
       ROUND((CAST(k AS DOUBLE) * suv - su * sv)
             / (CAST(k AS DOUBLE) * suu - su * su), 6) > 0.5 AS persistent
FROM agg
"""


HURST_RS_DAILY_VALUES_ORACLE = _hurst_oracle()


_ESD_K = 3  # outlier candidates examined (unrolled passes)


def esd_outliers_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD-style iterative outlier sweep (Rosner 1983's
    remove-and-retest scheme, with the fixed 3σ gate in place of the
    t-based λ_i table) over the daily value series — the ITERATIVE
    member next to ``rolling_zscore_anomaly_daily`` (rolling local z)
    and ``robust_outliers_mad`` (single-pass robust): a single gross
    outlier inflates σ and MASKS a second one; ESD removes the current
    extreme and retests with the shrunken σ, exactly the masking
    failure mode single-pass rules have. Publishes the 3 examined
    extremes (iteration, day, value, z at examination time, flag).

    Exactness: each pass's mean/σ are decimal folds rounded at 9; the
    extreme is argmax |x−mean| with a deterministic day tiebreak; z
    rounds at 6. The loop is _ESD_K bounded driver passes, each ONE
    day-grain aggregate + one TakeOrdered(1) (the kmeans-loop policy —
    collected state is one row per pass); the oracle replays the
    identical unrolled chain. Scale shape: one daily aggregation, then
    bounded day-grain passes."""
    daily = _daily(spark, sf_dir, by_type=False).select("day", "x")
    cur = daily
    out_rows = []
    for it in range(1, _ESD_K + 1):
        stats = cur.agg(
            F.count("*").cast("bigint").alias("n"),
            dec_sum(F.col("x"), 38, 12).cast("double").alias("sx"),
            dec_sum(F.col("x") * F.col("x"), 38, 9)
            .cast("double")
            .alias("sxx"),
        )
        nd = F.col("n").cast("double")
        mean = F.round(F.col("sx") / nd, 9)
        sd = F.round(
            F.sqrt(
                F.round(
                    (F.col("sxx") - F.col("sx") * F.col("sx") / nd)
                    / (nd - F.lit(1.0)),
                    9,
                )
            ),
            9,
        )
        st = stats.select(
            mean.alias("m"), sd.alias("sd"), F.lit(1).alias("one")
        )
        top = (
            cur.withColumn("one", F.lit(1))
            .join(F.broadcast(st), "one")
            .select(
                "day",
                "x",
                F.round(
                    F.abs(F.col("x") - F.col("m")) / F.col("sd"), 6
                ).alias("z"),
            )
            .orderBy(F.col("z").desc(), F.col("day").asc())
            .limit(1)
            .collect()[0]
        )
        out_rows.append(
            (it, top["day"], float(top["x"]), float(top["z"]), top["z"] > 3.0)
        )
        cur = cur.filter(F.col("day") != F.lit(top["day"]))
    return spark.createDataFrame(
        out_rows,
        "iteration int, day date, x double, z double, flagged boolean",
    )


def _esd_oracle() -> str:
    ctes = [
        """
WITH d1 AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
)"""
    ]
    selects = []
    for i in range(1, _ESD_K + 1):
        ctes.append(f"""
, s{i} AS (
    SELECT ROUND(sx / nd, 9) AS m,
           ROUND(SQRT(ROUND((sxx - sx * sx / nd) / (nd - 1.0), 9)), 9) AS sd
    FROM (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx
        FROM d{i}
    )
), t{i} AS (
    SELECT day, x, ROUND(ABS(x - m) / sd, 6) AS z
    FROM d{i} CROSS JOIN s{i}
    ORDER BY z DESC, day ASC LIMIT 1
), d{i + 1} AS (
    SELECT d.day, d.x FROM d{i} d CROSS JOIN t{i} t WHERE d.day <> t.day
)""")
        selects.append(
            f"SELECT CAST({i} AS INT) AS iteration, day, x, z,"
            f" z > 3.0 AS flagged FROM t{i}"
        )
    return "".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


ESD_OUTLIERS_DAILY_ORACLE = _esd_oracle()


def transfer_entropy_view_purchase_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lag-1 transfer entropy (Schreiber 2000) between the binarized
    daily view and purchase dollar series, both directions — the
    DIRECTED information-flow companion of
    ``granger_lag1_view_to_purchase_daily``: Granger tests linear
    predictive lift; TE(X→Y) = Σ p(y₁,y₀,x₀)·ln[p(y₁|y₀,x₀)/p(y₁|y₀)]
    measures ANY (nonlinear included) reduction of next-day-Y
    uncertainty from today's X beyond Y's own history. Series binarize
    at their corpus means; the asymmetry TE(X→Y) − TE(Y→X) reads the
    net direction of flow.

    Exactness: transition counts over the 8 (y₁,y₀,x₀) cells are exact
    bigints from one bounded day-grain lead pass; each term uses the
    integer-log policy ln c(y₁y₀x₀) + ln c(y₀·) − ln c(y₀x₀) −
    ln c(y₁y₀), decimal-folded and rounded at 6. Scale shape: one
    daily aggregation, one lead window, 8-cell algebra twice."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            27,
            12,
        )
        .cast("double")
        .alias("p"),
        dec_sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            27,
            12,
        )
        .cast("double")
        .alias("v"),
    )
    means = daily.agg(
        F.round(
            dec_sum(F.col("p"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("mp"),
        F.round(
            dec_sum(F.col("v"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("mv"),
        F.lit(1).alias("one"),
    )
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    bits = (
        daily.withColumn("one", F.lit(1))
        .join(F.broadcast(means), "one")
        .select(
            "day",
            (F.col("p") > F.col("mp")).cast("int").alias("y"),
            (F.col("v") > F.col("mv")).cast("int").alias("x"),
        )
        .select(
            F.col("y").alias("y0"),
            F.col("x").alias("x0"),
            F.lead("y").over(w).alias("y1"),
            F.lead("x").over(w).alias("x1"),
        )
        .filter(F.col("y1").isNotNull())
    )
    cells = bits.groupBy("y1", "y0", "x1", "x0").agg(
        F.count("*").cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # both TE directions read it

    def ln9(c):
        return F.round(F.log(c.cast("double")), 9)

    def te(cells, tgt1, tgt0, src0):
        g3 = cells.groupBy(tgt1, tgt0, src0).agg(
            F.sum("c").cast("bigint").alias("c3")
        )
        n = F.sum("c3").over(Window.partitionBy())
        cy0 = F.sum("c3").over(Window.partitionBy(tgt0))
        c2a = F.sum("c3").over(Window.partitionBy(tgt0, src0))
        c2b = F.sum("c3").over(Window.partitionBy(tgt1, tgt0))
        m = g3.select(
            "c3",
            n.cast("bigint").alias("n"),
            cy0.cast("bigint").alias("cy0"),
            c2a.cast("bigint").alias("c2a"),
            c2b.cast("bigint").alias("c2b"),
        )
        term = (F.col("c3").cast("double") / F.col("n").cast("double")) * (
            ln9(F.col("c3"))
            + ln9(F.col("cy0"))
            - ln9(F.col("c2a"))
            - ln9(F.col("c2b"))
        )
        return m.agg(
            F.max("n").alias("n"),
            F.round(
                F.sum(F.round(term, 12).cast("decimal(27,12)")).cast(
                    "double"
                ),
                6,
            ).alias("te"),
            F.lit(1).alias("one"),
        )
    fwd = te(cells, "y1", "y0", "x0").select(
        "n", F.col("te").alias("te_view_to_purchase"), "one"
    )
    rev = te(cells, "x1", "x0", "y0").select(
        F.col("te").alias("te_purchase_to_view"), "one"
    )
    j = fwd.join(F.broadcast(rev), "one")
    return j.select(
        F.col("n").alias("n_transitions"),
        F.col("te_view_to_purchase").cast("double"),
        F.col("te_purchase_to_view").cast("double"),
        F.round(
            F.col("te_view_to_purchase") - F.col("te_purchase_to_view"), 6
        )
        .cast("double")
        .alias("net_flow_view_to_purchase"),
    )


TRANSFER_ENTROPY_VIEW_PURCHASE_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS p,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE) AS v
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
), means AS (
    SELECT ROUND(CAST(SUM(CAST(p AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS mp,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS mv
    FROM daily
), bits AS (
    SELECT CAST(p > mp AS INT) AS y, CAST(v > mv AS INT) AS x, day
    FROM daily CROSS JOIN means
), trans AS (
    SELECT y AS y0, x AS x0,
           LEAD(y) OVER (ORDER BY day) AS y1,
           LEAD(x) OVER (ORDER BY day) AS x1
    FROM bits
), cells AS (
    SELECT y1, y0, x1, x0, CAST(COUNT(*) AS BIGINT) AS c
    FROM trans WHERE y1 IS NOT NULL
    GROUP BY 1, 2, 3, 4
), fwd3 AS (
    SELECT y1, y0, x0, CAST(SUM(c) AS BIGINT) AS c3
    FROM cells GROUP BY 1, 2, 3
), fwd AS (
    SELECT MAX(n) AS n,
           ROUND(CAST(SUM(CAST(ROUND(
               (CAST(c3 AS DOUBLE) / CAST(n AS DOUBLE))
               * (ROUND(ln(CAST(c3 AS DOUBLE)), 9)
                  + ROUND(ln(CAST(cy0 AS DOUBLE)), 9)
                  - ROUND(ln(CAST(c2a AS DOUBLE)), 9)
                  - ROUND(ln(CAST(c2b AS DOUBLE)), 9)), 12)
               AS DECIMAL(27,12))) AS DOUBLE), 6) AS te
    FROM (
        SELECT c3,
               CAST(SUM(c3) OVER () AS BIGINT) AS n,
               CAST(SUM(c3) OVER (PARTITION BY y0) AS BIGINT) AS cy0,
               CAST(SUM(c3) OVER (PARTITION BY y0, x0) AS BIGINT) AS c2a,
               CAST(SUM(c3) OVER (PARTITION BY y1, y0) AS BIGINT) AS c2b
        FROM fwd3
    )
), rev3 AS (
    SELECT x1, x0, y0, CAST(SUM(c) AS BIGINT) AS c3
    FROM cells GROUP BY 1, 2, 3
), rev AS (
    SELECT ROUND(CAST(SUM(CAST(ROUND(
               (CAST(c3 AS DOUBLE) / CAST(n AS DOUBLE))
               * (ROUND(ln(CAST(c3 AS DOUBLE)), 9)
                  + ROUND(ln(CAST(cy0 AS DOUBLE)), 9)
                  - ROUND(ln(CAST(c2a AS DOUBLE)), 9)
                  - ROUND(ln(CAST(c2b AS DOUBLE)), 9)), 12)
               AS DECIMAL(27,12))) AS DOUBLE), 6) AS te
    FROM (
        SELECT c3,
               CAST(SUM(c3) OVER () AS BIGINT) AS n,
               CAST(SUM(c3) OVER (PARTITION BY x0) AS BIGINT) AS cy0,
               CAST(SUM(c3) OVER (PARTITION BY x0, y0) AS BIGINT) AS c2a,
               CAST(SUM(c3) OVER (PARTITION BY x1, x0) AS BIGINT) AS c2b
        FROM rev3
    )
)
SELECT f.n AS n_transitions,
       CAST(f.te AS DOUBLE) AS te_view_to_purchase,
       CAST(r.te AS DOUBLE) AS te_purchase_to_view,
       CAST(ROUND(f.te - r.te, 6) AS DOUBLE) AS net_flow_view_to_purchase
FROM fwd f CROSS JOIN rev r
"""


_CROSTON_ALPHA = 0.1


def croston_intermittent_demand_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand,
    forecasting daily demand for part 0 (ships on ~1% of calendar days
    — exactly the sparse-SKU series where SES/Holt collapse toward
    zero between orders): separate exponential smoothers (α=0.1) over
    the nonzero demand SIZES z_i and the inter-demand INTERVALS q_i
    (calendar-day gaps; q₁ = days from the corpus ship-date start),
    demand rate = ẑ/q̂ — the spare-parts forecasting standard.

    Exactness: day indexes are exact datediffs, demand sizes exact
    decimal sums; both smoothers fold LEFT over the (index, size)
    struct array with the same lambda on both engines (the
    ``holt_linear_daily_forecast`` recurrence policy — identical IEEE
    op chain, no decimal trick needed); outputs round at 6. Scale
    shape: one filtered aggregation to the ~34-row nonzero-day grain,
    one single-row array fold."""
    li = load_table(spark, sf_dir, "lineitem")
    d0 = li.agg(F.min(F.to_date("l_shipdate")).alias("d0"))
    days = (
        li.filter(F.col("l_partkey") == 0)
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(dec_sum(F.col("l_quantity"), 27, 6).cast("double").alias("z"))
        .crossJoin(F.broadcast(d0))
        .select(
            (F.datediff("day", "d0") + 1).cast("double").alias("i"), "z"
        )
    )
    series = days.agg(
        F.array_sort(F.collect_list(F.struct("i", "z"))).alias("pts")
    )
    a = F.lit(_CROSTON_ALPHA)

    def step(acc, p):
        # acc = [ses_z, ses_q, prev_i]
        q = p.i - F.element_at(acc, 3)
        return F.array(
            a * p.z + (F.lit(1.0) - a) * F.element_at(acc, 1),
            a * q + (F.lit(1.0) - a) * F.element_at(acc, 2),
            p.i,
        )

    first = F.element_at(F.col("pts"), 1)
    init = F.array(first.z, first.i, first.i)
    folded = F.aggregate(
        F.slice(F.col("pts"), 2, F.greatest(F.size("pts") - 1, F.lit(0))),
        init,
        step,
    )
    out = series.select(
        F.size("pts").cast("bigint").alias("n_demand_days"),
        F.element_at(folded, 1).alias("sz"),
        F.element_at(folded, 2).alias("sq"),
    )
    return out.select(
        F.lit(0).cast("bigint").alias("part"),
        "n_demand_days",
        F.round("sz", 6).cast("double").alias("ses_demand"),
        F.round("sq", 6).cast("double").alias("ses_interval_days"),
        F.round(F.col("sz") / F.col("sq"), 6)
        .cast("double")
        .alias("croston_daily_rate"),
    )


CROSTON_INTERMITTENT_DEMAND_PART_ORACLE = f"""
WITH d0 AS (
    SELECT MIN(CAST(l_shipdate AS DATE)) AS d0 FROM lineitem
), days_ AS (
    SELECT CAST(datediff('day', d0, CAST(l_shipdate AS DATE)) + 1 AS DOUBLE)
               AS i,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS z
    FROM lineitem CROSS JOIN d0
    WHERE l_partkey = 0
    GROUP BY 1
), series AS (
    SELECT list([i, z, 0.0] ORDER BY i) AS pts
    FROM days_
), folded AS (
    SELECT len(pts) AS n_demand_days,
           list_reduce(
               list_prepend([pts[1][2], pts[1][1], pts[1][1]], pts[2:]),
               (acc, p) -> [
                   {_CROSTON_ALPHA} * p[2]
                       + (1.0 - {_CROSTON_ALPHA}) * acc[1],
                   {_CROSTON_ALPHA} * (p[1] - acc[3])
                       + (1.0 - {_CROSTON_ALPHA}) * acc[2],
                   p[1]
               ]) AS sf
    FROM series
)
SELECT CAST(0 AS BIGINT) AS part,
       CAST(n_demand_days AS BIGINT) AS n_demand_days,
       CAST(ROUND(sf[1], 6) AS DOUBLE) AS ses_demand,
       CAST(ROUND(sf[2], 6) AS DOUBLE) AS ses_interval_days,
       CAST(ROUND(sf[1] / sf[2], 6) AS DOUBLE) AS croston_daily_rate
FROM folded
"""


def theta_method_forecast_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 — the
    M3-competition winner) of the daily value series: decompose into
    the θ=0 line (the pure linear trend) and the θ=2 line (2x_t minus
    the trend, doubling local curvature), smooth the θ=2 line with
    SES(α=0.5), and forecast X̂(n+h) = ½[SES + (a + b·(n+h))] — the
    documented equivalence to SES-with-drift that beats both parents:
    ``holt_linear_daily_forecast`` (trend from smoothing) and the raw
    OLS line (no local adaptation).

    Exactness: the trend OLS comes from exact decimal power sums with
    a,b rounded at 9 (the durbin-watson contract); the θ=2 line is
    fixed algebra over those; the SES folds LEFT with the shared
    lambda (the holt recurrence policy); forecasts round at 6. Scale
    shape: one daily aggregation, one 5-sum fold, one single-row array
    fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("double").alias("t"), "x", "day"
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(F.col("t"), 27, 12).cast("double").alias("st"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("t") * F.col("x"), 38, 12).cast("double").alias("stx"),
        dec_sum(F.col("t") * F.col("t"), 38, 12).cast("double").alias("stt"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    icept = (F.col("sx") - slope * F.col("st")) / F.col("n")
    params = s.select(
        F.col("n"),
        F.round(slope, 9).alias("b1"),
        F.round(icept, 9).alias("b0"),
        F.lit(1).alias("one"),
    )
    theta2 = (
        pts.withColumn("one", F.lit(1))
        .join(F.broadcast(params), "one")
        .select(
            "day",
            "n",
            "b0",
            "b1",
            (
                2.0 * F.col("x") - (F.col("b0") + F.col("b1") * F.col("t"))
            ).alias("y2"),
        )
    )
    series = theta2.groupBy("n", "b0", "b1").agg(
        F.array_sort(F.collect_list(F.struct("day", "y2"))).alias("pts")
    )
    a = F.lit(0.5)

    def step(acc, p):
        return F.array(a * p.y2 + (F.lit(1.0) - a) * F.element_at(acc, 1))

    folded = F.aggregate(
        F.slice(F.col("pts"), 2, F.greatest(F.size("pts") - 1, F.lit(0))),
        F.array(F.element_at(F.col("pts"), 1).y2),
        step,
    )
    out = series.select(
        "n",
        "b0",
        "b1",
        F.element_at(folded, 1).alias("ses2"),
    )
    nD = F.col("n")
    fc = lambda h: F.round(
        0.5
        * (
            F.col("ses2")
            + (F.col("b0") + F.col("b1") * (nD - 1.0 + F.lit(float(h))))
        ),
        6,
    )
    return out.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("b1").cast("double").alias("drift_per_day"),
        F.round("ses2", 6).cast("double").alias("ses_theta2"),
        fc(1).cast("double").alias("forecast_1d"),
        fc(7).cast("double").alias("forecast_7d"),
    )


THETA_METHOD_FORECAST_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), d0 AS (SELECT MIN(day) AS d0 FROM daily),
pts AS (
    SELECT CAST(datediff('day', d0, day) AS DOUBLE) AS t, x, day
    FROM daily CROSS JOIN d0
), s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(t AS DECIMAL(27,12))) AS DOUBLE) AS st,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(t * x AS DECIMAL(38,12))) AS DOUBLE) AS stx,
           CAST(SUM(CAST(t * t AS DECIMAL(38,12))) AS DOUBLE) AS stt
    FROM pts
), params AS (
    SELECT n,
           ROUND((n * stx - st * sx) / (n * stt - st * st), 9) AS b1,
           ROUND((sx - ((n * stx - st * sx) / (n * stt - st * st)) * st) / n,
                 9) AS b0
    FROM s
), series AS (
    SELECT n, b0, b1,
           list(2.0 * x - (b0 + b1 * t) ORDER BY day) AS pts
    FROM pts CROSS JOIN params
    GROUP BY n, b0, b1
), folded AS (
    SELECT n, b0, b1,
           list_reduce(pts, (acc, p) -> 0.5 * p + (1.0 - 0.5) * acc) AS ses2
    FROM series
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(b1 AS DOUBLE) AS drift_per_day,
       CAST(ROUND(ses2, 6) AS DOUBLE) AS ses_theta2,
       CAST(ROUND(0.5 * (ses2 + (b0 + b1 * (n - 1.0 + 1.0))), 6) AS DOUBLE)
           AS forecast_1d,
       CAST(ROUND(0.5 * (ses2 + (b0 + b1 * (n - 1.0 + 7.0))), 6) AS DOUBLE)
           AS forecast_7d
FROM folded
"""


_SPEC_K = 14


def spectral_entropy_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral entropy of the daily event-count periodogram — the
    one-number summary of ``periodogram_daily_events``: normalize the
    K=14 harmonic powers to a distribution and take −Σp·ln p / ln K;
    ≈1 means white-noise-flat spectrum, low means power concentrates
    in few frequencies (a strong cycle). The standard feature in
    forecastability scoring (tsfeatures' ent): low spectral entropy →
    the series is predictable by a seasonal model.

    Exactness: the same trig-round-at-9 DFT folds as the periodogram
    (DECIMAL(38,15) products); powers round at 9, the entropy terms at
    12 into a ≤K-row decimal fold, the outputs at 6. Scale shape: one
    daily aggregation, (day×K) bounded trig grain, K-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    wd = Window.orderBy("day")
    idx = daily.select(
        (F.row_number().over(wd) - 1).cast("bigint").alias("d"), "y"
    )
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    base = idx.join(F.broadcast(tot)).select(
        "d",
        (
            F.col("y").cast("double")
            - F.col("sy").cast("double") / F.col("n").cast("double")
        ).alias("yc"),
        "n",
    )
    ks = spark.range(1, _SPEC_K + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    ang = (
        F.lit(6.283185307179586)
        * F.col("k").cast("double")
        * F.col("d").cast("double")
        / F.col("n").cast("double")
    )
    grid = base.crossJoin(F.broadcast(ks)).filter(
        F.col("k") <= F.floor(F.col("n") / 2)
    )
    per_k = grid.groupBy("k").agg(
        F.max("n").alias("n"),
        F.sum(
            (F.round(F.cos(ang), 9) * F.col("yc")).cast("decimal(38,15)")
        )
        .cast("double")
        .alias("ak"),
        F.sum(
            (F.round(F.sin(ang), 9) * F.col("yc")).cast("decimal(38,15)")
        )
        .cast("double")
        .alias("bk"),
    )
    power = per_k.select(
        "k",
        F.round(
            (F.col("ak") * F.col("ak") + F.col("bk") * F.col("bk"))
            * 2.0
            / F.col("n").cast("double"),
            9,
        ).alias("p"),
    ).filter(F.col("p") > 0.0)
    tots = power.agg(
        F.count("*").cast("bigint").alias("kk"),
        F.sum(F.col("p").cast("decimal(38,9)")).cast("double").alias("ptot"),
        F.lit(1).alias("one"),
    )
    frac = F.col("p") / F.col("ptot")
    ent = (
        power.withColumn("one", F.lit(1))
        .join(F.broadcast(tots), "one")
        .groupBy("kk")
        .agg(
            F.sum(
                F.round(-frac * F.log(frac), 12).cast("decimal(27,12)")
            )
            .cast("double")
            .alias("h")
        )
    )
    return ent.select(
        F.col("kk").cast("int").alias("n_harmonics"),
        F.round(F.col("h"), 6).cast("double").alias("spectral_entropy"),
        F.round(
            F.col("h") / F.log(F.col("kk").cast("double")), 6
        )
        .cast("double")
        .alias("spectral_entropy_norm"),
    )


SPECTRAL_ENTROPY_DAILY_EVENTS_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS d, y
    FROM daily
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
    FROM idx
), base AS (
    SELECT d,
           CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS yc,
           n
    FROM idx CROSS JOIN tot
), ks AS (
    SELECT CAST(i AS BIGINT) AS k FROM range(1, {_SPEC_K + 1}) t(i)
), per_k AS (
    SELECT k, MAX(n) AS n,
           CAST(SUM(CAST(ROUND(cos(6.283185307179586 * CAST(k AS DOUBLE)
                                   * CAST(d AS DOUBLE)
                                   / CAST(n AS DOUBLE)), 9) * yc
                         AS DECIMAL(38,15))) AS DOUBLE) AS ak,
           CAST(SUM(CAST(ROUND(sin(6.283185307179586 * CAST(k AS DOUBLE)
                                   * CAST(d AS DOUBLE)
                                   / CAST(n AS DOUBLE)), 9) * yc
                         AS DECIMAL(38,15))) AS DOUBLE) AS bk
    FROM base CROSS JOIN ks
    WHERE k <= CAST(FLOOR(n / 2) AS BIGINT)
    GROUP BY k
), power AS (
    SELECT k,
           ROUND((ak * ak + bk * bk) * 2.0 / CAST(n AS DOUBLE), 9) AS p
    FROM per_k
    WHERE ROUND((ak * ak + bk * bk) * 2.0 / CAST(n AS DOUBLE), 9) > 0.0
), tots AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS kk,
           CAST(SUM(CAST(p AS DECIMAL(38,9))) AS DOUBLE) AS ptot
    FROM power
), ent AS (
    SELECT kk,
           CAST(SUM(CAST(ROUND(-(p / ptot) * ln(p / ptot), 12)
                         AS DECIMAL(27,12))) AS DOUBLE) AS h
    FROM power CROSS JOIN tots
    GROUP BY kk
)
SELECT CAST(kk AS INT) AS n_harmonics,
       CAST(ROUND(h, 6) AS DOUBLE) AS spectral_entropy,
       CAST(ROUND(h / ln(CAST(kk AS DOUBLE)), 6) AS DOUBLE)
           AS spectral_entropy_norm
FROM ent
"""


def dagostino_k2_daily_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D'Agostino–Pearson K² omnibus normality test (D'Agostino,
    Belanger & D'Agostino 1990 — scipy's ``normaltest``) on the daily
    value series — the FINITE-SAMPLE-calibrated upgrade of
    ``jarque_bera_daily_values``: JB compares raw √b₁ and b₂ against
    their ASYMPTOTIC normal limits (badly mis-sized below n≈1000, the
    regime every daily series lives in); K² pushes each moment through
    its exact-moment normalizing transform (Johnson SU for skewness,
    Anscombe–Glynn cube-root for kurtosis) before squaring, K² =
    Z₁²+Z₂² ~ χ²(2) at practical n.

    Exactness: the four power sums fold in decimal; the mean rounds at
    9; every downstream scalar is one fixed double expression shared
    with the oracle (signed cube root as sign·|·|^⅓ on both engines —
    POWER of a negative base is NaN in both); Z₁/Z₂ round at 6. Scale
    shape: one daily aggregation, one 4-sum fold, constant algebra."""
    daily = _daily(spark, sf_dir, by_type=False)
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(F.col("x"), 38, 12).cast("double").alias("s1"),
        dec_sum(F.col("x") * F.col("x"), 38, 9).cast("double").alias("s2"),
        dec_sum(F.col("x") * F.col("x") * F.col("x"), 38, 6)
        .cast("double")
        .alias("s3"),
        dec_sum(
            F.col("x") * F.col("x") * F.col("x") * F.col("x"), 38, 3
        )
        .cast("double")
        .alias("s4"),
    )
    nd = F.col("n").cast("double")
    mean = F.round(F.col("s1") / nd, 9)
    st = s.select("n", mean.alias("mu"), "s2", "s3", "s4")
    mu = F.col("mu")
    m2 = F.col("s2") / nd - mu * mu
    m3 = F.col("s3") / nd - 3.0 * mu * (F.col("s2") / nd) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / nd
        - 4.0 * mu * (F.col("s3") / nd)
        + 6.0 * mu * mu * (F.col("s2") / nd)
        - 3.0 * mu * mu * mu * mu
    )
    mom = st.select(
        "n",
        F.round(m2, 9).alias("m2"),
        F.round(m3, 9).alias("m3"),
        F.round(m4, 9).alias("m4"),
    )
    nd2 = F.col("n").cast("double")
    # m2^1.5 as m2*sqrt(m2) and cbrt as exp(ln/3): POWER has the
    # documented sub-ULP cross-engine parity risk (the Mood precedent)
    g1 = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    b2 = F.col("m4") / (F.col("m2") * F.col("m2"))
    # skewness transform (Johnson SU)
    y = g1 * F.sqrt((nd2 + 1.0) * (nd2 + 3.0) / (6.0 * (nd2 - 2.0)))
    beta2 = (
        3.0
        * (nd2 * nd2 + 27.0 * nd2 - 70.0)
        * (nd2 + 1.0)
        * (nd2 + 3.0)
        / ((nd2 - 2.0) * (nd2 + 5.0) * (nd2 + 7.0) * (nd2 + 9.0))
    )
    w2 = F.sqrt(2.0 * (beta2 - 1.0)) - 1.0
    delta = 1.0 / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(2.0 / (w2 - 1.0))
    z1 = F.round(
        delta * F.log(y / alpha + F.sqrt((y / alpha) * (y / alpha) + 1.0)),
        6,
    )
    # kurtosis transform (Anscombe-Glynn)
    eb2 = 3.0 * (nd2 - 1.0) / (nd2 + 1.0)
    vb2 = (
        24.0
        * nd2
        * (nd2 - 2.0)
        * (nd2 - 3.0)
        / ((nd2 + 1.0) * (nd2 + 1.0) * (nd2 + 3.0) * (nd2 + 5.0))
    )
    xk = (b2 - eb2) / F.sqrt(vb2)
    sb1 = (
        6.0
        * (nd2 * nd2 - 5.0 * nd2 + 2.0)
        / ((nd2 + 7.0) * (nd2 + 9.0))
        * F.sqrt(
            6.0 * (nd2 + 3.0) * (nd2 + 5.0)
            / (nd2 * (nd2 - 2.0) * (nd2 - 3.0))
        )
    )
    aa = 6.0 + 8.0 / sb1 * (2.0 / sb1 + F.sqrt(1.0 + 4.0 / (sb1 * sb1)))
    inner = (1.0 - 2.0 / aa) / (1.0 + xk * F.sqrt(2.0 / (aa - 4.0)))
    cbrt = F.when(inner == 0.0, F.lit(0.0)).otherwise(
        F.signum(inner) * F.exp(F.log(F.abs(inner)) / 3.0)
    )
    z2 = F.round(
        (1.0 - 2.0 / (9.0 * aa) - cbrt) * F.sqrt(9.0 * aa / 2.0), 6
    )
    k2 = F.round(z1 * z1 + z2 * z2, 6)
    return mom.select(
        "n",
        F.round(g1, 6).cast("double").alias("skewness"),
        F.round(b2, 6).cast("double").alias("kurtosis"),
        z1.cast("double").alias("z_skew"),
        z2.cast("double").alias("z_kurt"),
        k2.cast("double").alias("k2_stat"),
        (k2 > F.lit(5.991465)).alias("non_normal"),
    )


DAGOSTINO_K2_DAILY_VALUES_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(x * x * x AS DECIMAL(38,6))) AS DOUBLE) AS s3,
           CAST(SUM(CAST(x * x * x * x AS DECIMAL(38,3))) AS DOUBLE) AS s4
    FROM daily
), st AS (
    SELECT n, ROUND(s1 / CAST(n AS DOUBLE), 9) AS mu, s2, s3, s4
    FROM s
), mom AS (
    SELECT n,
           ROUND(s2 / CAST(n AS DOUBLE) - mu * mu, 9) AS m2,
           ROUND(s3 / CAST(n AS DOUBLE)
                 - 3.0 * mu * (s2 / CAST(n AS DOUBLE))
                 + 2.0 * mu * mu * mu, 9) AS m3,
           ROUND(s4 / CAST(n AS DOUBLE)
                 - 4.0 * mu * (s3 / CAST(n AS DOUBLE))
                 + 6.0 * mu * mu * (s2 / CAST(n AS DOUBLE))
                 - 3.0 * mu * mu * mu * mu, 9) AS m4
    FROM st
), d AS (
    SELECT n, CAST(n AS DOUBLE) AS nd,
           m3 / (m2 * SQRT(m2)) AS g1,
           m4 / (m2 * m2) AS b2
    FROM mom
), sk AS (
    SELECT *,
           g1 * SQRT((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) AS y,
           SQRT(2.0 * (3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0)
                       * (nd + 3.0)
                       / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
                       - 1.0)) - 1.0 AS w2
    FROM d
), z1t AS (
    SELECT *,
           ROUND((1.0 / SQRT(ln(SQRT(w2))))
                 * ln(y / SQRT(2.0 / (w2 - 1.0))
                      + SQRT((y / SQRT(2.0 / (w2 - 1.0)))
                             * (y / SQRT(2.0 / (w2 - 1.0))) + 1.0)), 6)
               AS z1
    FROM sk
), kt AS (
    SELECT *,
           (b2 - 3.0 * (nd - 1.0) / (nd + 1.0))
           / SQRT(24.0 * nd * (nd - 2.0) * (nd - 3.0)
                  / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0)))
               AS xk,
           6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
           * SQRT(6.0 * (nd + 3.0) * (nd + 5.0)
                  / (nd * (nd - 2.0) * (nd - 3.0))) AS sb1
    FROM z1t
), at AS (
    SELECT *,
           6.0 + 8.0 / sb1 * (2.0 / sb1 + SQRT(1.0 + 4.0 / (sb1 * sb1)))
               AS aa
    FROM kt
), z2t AS (
    SELECT *,
           ROUND((1.0 - 2.0 / (9.0 * aa)
                  - CASE WHEN (1.0 - 2.0 / aa)
                              / (1.0 + xk * SQRT(2.0 / (aa - 4.0))) = 0.0
                         THEN 0.0
                         ELSE SIGN((1.0 - 2.0 / aa)
                                   / (1.0 + xk * SQRT(2.0 / (aa - 4.0))))
                              * EXP(ln(ABS((1.0 - 2.0 / aa)
                                           / (1.0 + xk
                                              * SQRT(2.0 / (aa - 4.0)))))
                                    / 3.0) END)
                 * SQRT(9.0 * aa / 2.0), 6) AS z2
    FROM at
)
SELECT n,
       CAST(ROUND(g1, 6) AS DOUBLE) AS skewness,
       CAST(ROUND(b2, 6) AS DOUBLE) AS kurtosis,
       CAST(z1 AS DOUBLE) AS z_skew,
       CAST(z2 AS DOUBLE) AS z_kurt,
       CAST(ROUND(z1 * z1 + z2 * z2, 6) AS DOUBLE) AS k2_stat,
       ROUND(z1 * z1 + z2 * z2, 6) > 5.991465 AS non_normal
FROM z2t
"""


def siegel_slope_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-medians slope (Siegel 1982) of the daily value
    series — the HIGHEST-breakdown member of the robust-trend pair:
    ``theil_sen_daily_trend``'s median-of-all-pairs breaks down at 29%
    contamination; the median-of-per-point-medians tolerates 50% —
    half the days can be arbitrarily corrupted before the slope moves.
    Published with the per-day median count and the Theil–Sen-style
    intercept med(v − slope·t).

    Exactness: pairwise slopes are identical doubles on both engines
    (same subtraction/division on exact decimal-fold dailies); both
    median layers select by EXPLICIT row_number positions
    ⌊(m+1)/2⌋..⌊(m+2)/2⌋ and average the ≤2 picked values — no
    engine median() whose interpolation could differ; outputs round at
    6. Scale shape: the pair relation is days² over the
    calendar-bounded aggregate (the mann-kendall pair class) with
    per-day windows keyed by day — no single-partition fact windows."""
    daily = _daily(spark, sf_dir, by_type=False)
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("double").alias("t"), "x"
    ).localCheckpoint(eager=False)  # both pair sides + intercept read it
    a = pts.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = pts.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    slopes = (
        a.join(F.broadcast(b), F.col("ta") != F.col("tb"))
        .select(
            "ta",
            ((F.col("xb") - F.col("xa")) / (F.col("tb") - F.col("ta"))).alias(
                "s"
            ),
        )
    )
    wm = Window.partitionBy("ta").orderBy("s")
    ranked = slopes.select(
        "ta",
        "s",
        F.row_number().over(wm).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy("ta")).cast("bigint").alias("m"),
    )
    med_i = (
        ranked.filter(
            (F.col("rn") >= F.floor((F.col("m") + 1) / 2))
            & (F.col("rn") <= F.floor((F.col("m") + 2) / 2))
        )
        .groupBy("ta")
        .agg((F.sum("s") / F.count("*")).alias("mi"))
    )
    wg = Window.partitionBy(F.lit(1) % 1).orderBy("mi")
    final = med_i.select(
        "mi",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count("*")
        .over(Window.partitionBy(F.lit(1) % 1))
        .cast("bigint")
        .alias("m"),
    )
    slope = (
        final.filter(
            (F.col("rn") >= F.floor((F.col("m") + 1) / 2))
            & (F.col("rn") <= F.floor((F.col("m") + 2) / 2))
        )
        .agg(
            (F.sum("mi") / F.count("*")).alias("slope"),
            F.max("m").alias("n_days"),
        )
        .withColumn("one", F.lit(1))
    )
    resid = (
        pts.withColumn("one", F.lit(1))
        .join(F.broadcast(slope), "one")
        .select(
            (F.col("x") - F.col("slope") * F.col("t")).alias("r"),
            "slope",
            "n_days",
        )
    )
    wr = Window.partitionBy(F.lit(1) % 1).orderBy("r")
    rranked = resid.select(
        "r",
        "slope",
        "n_days",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count("*")
        .over(Window.partitionBy(F.lit(1) % 1))
        .cast("bigint")
        .alias("m"),
    )
    return (
        rranked.filter(
            (F.col("rn") >= F.floor((F.col("m") + 1) / 2))
            & (F.col("rn") <= F.floor((F.col("m") + 2) / 2))
        )
        .groupBy("slope", "n_days")
        .agg((F.sum("r") / F.count("*")).alias("icept"))
        .select(
            F.col("n_days").cast("bigint").alias("n_days"),
            F.round("slope", 6).cast("double").alias("siegel_slope"),
            F.round("icept", 6).cast("double").alias("siegel_intercept"),
        )
    )


SIEGEL_SLOPE_DAILY_TREND_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), d0 AS (SELECT MIN(day) AS d0 FROM daily),
pts AS (
    SELECT CAST(datediff('day', d0, day) AS DOUBLE) AS t, x
    FROM daily CROSS JOIN d0
), slopes AS (
    SELECT a.t AS ta, (b.x - a.x) / (b.t - a.t) AS s
    FROM pts a JOIN pts b ON a.t <> b.t
), ranked AS (
    SELECT ta, s,
           CAST(ROW_NUMBER() OVER (PARTITION BY ta ORDER BY s) AS BIGINT)
               AS rn,
           CAST(COUNT(*) OVER (PARTITION BY ta) AS BIGINT) AS m
    FROM slopes
), med_i AS (
    SELECT ta, SUM(s) / COUNT(*) AS mi
    FROM ranked
    WHERE rn >= FLOOR((m + 1) / 2) AND rn <= FLOOR((m + 2) / 2)
    GROUP BY ta
), final AS (
    SELECT mi,
           CAST(ROW_NUMBER() OVER (ORDER BY mi) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS m
    FROM med_i
), sl AS (
    SELECT SUM(mi) / COUNT(*) AS slope, MAX(m) AS n_days
    FROM final
    WHERE rn >= FLOOR((m + 1) / 2) AND rn <= FLOOR((m + 2) / 2)
), resid AS (
    SELECT x - sl.slope * t AS r, sl.slope, sl.n_days
    FROM pts CROSS JOIN sl
), rranked AS (
    SELECT r, slope, n_days,
           CAST(ROW_NUMBER() OVER (ORDER BY r) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS m
    FROM resid
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(ROUND(slope, 6) AS DOUBLE) AS siegel_slope,
       CAST(ROUND(SUM(r) / COUNT(*), 6) AS DOUBLE) AS siegel_intercept
FROM rranked
WHERE rn >= FLOOR((m + 1) / 2) AND rn <= FLOOR((m + 2) / 2)
GROUP BY slope, n_days
"""


def cochrane_orcutt_daily_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochrane–Orcutt AR(1) correction (Cochrane & Orcutt 1949) of the
    daily-trend OLS — the ESTIMATE-side fix the serial-correlation pair
    stops short of: ``durbin_watson``/``breusch_godfrey`` DETECT lag-1
    residual correlation and ``newey_west`` fixes only the standard
    errors; CO re-fits on the quasi-differences (x_t − ρ̂x_{t−1} on
    t − ρ̂(t−1)) so the slope itself sheds the autocorrelation bias.
    Publishes ρ̂, both slopes, and the relative shift.

    Exactness: stage 1 is the durbin-watson closed-form OLS (β rounded
    at 9); ρ̂ = Σe_te_{t−1}/Σe²_{t−1} from decimal folds rounded at 9;
    stage 2 re-runs the SAME closed-form 5-sum on the transformed
    series (first row dropped, the classic CO convention); outputs
    round at 6. Scale shape: one daily aggregation, one bounded lag
    window, two constant folds."""
    daily = _daily(spark, sf_dir, by_type=False)
    d0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("double").alias("t"), "x", "day"
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(F.col("t"), 27, 12).cast("double").alias("st"),
        dec_sum(F.col("x"), 27, 12).cast("double").alias("sx"),
        dec_sum(F.col("t") * F.col("x"), 38, 12).cast("double").alias("stx"),
        dec_sum(F.col("t") * F.col("t"), 38, 12).cast("double").alias("stt"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    icept = (F.col("sx") - slope * F.col("st")) / F.col("n")
    params = s.select(
        F.round(slope, 9).alias("b1"), F.round(icept, 9).alias("b0")
    )
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    resid = (
        pts.crossJoin(F.broadcast(params))
        .select(
            "day",
            "t",
            "x",
            (F.col("x") - (F.col("b0") + F.col("b1") * F.col("t"))).alias(
                "e"
            ),
            "b1",
        )
        .select(
            "day",
            "t",
            "x",
            "e",
            "b1",
            F.lag("e").over(w).alias("ep"),
            F.lag("t").over(w).alias("tp"),
            F.lag("x").over(w).alias("xp"),
        )
    )
    rho_agg = resid.filter(F.col("ep").isNotNull()).agg(
        F.max("b1").alias("b1"),
        F.round(
            dec_sum(F.col("e") * F.col("ep"), 38, 9).cast("double")
            / dec_sum(F.col("ep") * F.col("ep"), 38, 9).cast("double"),
            9,
        ).alias("rho"),
        F.lit(1).alias("one"),
    )
    trans = (
        resid.filter(F.col("xp").isNotNull())
        .withColumn("one", F.lit(1))
        .join(F.broadcast(rho_agg.select("rho", "one")), "one")
        .select(
            (F.col("x") - F.col("rho") * F.col("xp")).alias("xs"),
            (F.col("t") - F.col("rho") * F.col("tp")).alias("ts"),
        )
    )
    s2 = trans.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(F.col("ts"), 38, 12).cast("double").alias("st"),
        dec_sum(F.col("xs"), 38, 12).cast("double").alias("sx"),
        dec_sum(F.col("ts") * F.col("xs"), 38, 9).cast("double").alias("stx"),
        dec_sum(F.col("ts") * F.col("ts"), 38, 9).cast("double").alias("stt"),
        F.lit(1).alias("one"),
    )
    b1_co = F.round(
        (F.col("n") * F.col("stx") - F.col("st") * F.col("sx"))
        / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")),
        9,
    )
    j = s2.join(F.broadcast(rho_agg), "one")
    return j.select(
        (F.col("n") + 1).cast("bigint").alias("n_days"),
        F.col("rho").cast("double").alias("rho_hat"),
        F.round(F.col("b1"), 6).cast("double").alias("slope_ols"),
        F.round(b1_co, 6).cast("double").alias("slope_co"),
        F.round(
            (b1_co - F.col("b1")) / F.abs(F.col("b1")), 6
        )
        .cast("double")
        .alias("rel_shift"),
    )


COCHRANE_ORCUTT_DAILY_TREND_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), d0 AS (SELECT MIN(day) AS d0 FROM daily),
pts AS (
    SELECT CAST(datediff('day', d0, day) AS DOUBLE) AS t, x, day
    FROM daily CROSS JOIN d0
), s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(t AS DECIMAL(27,12))) AS DOUBLE) AS st,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(t * x AS DECIMAL(38,12))) AS DOUBLE) AS stx,
           CAST(SUM(CAST(t * t AS DECIMAL(38,12))) AS DOUBLE) AS stt
    FROM pts
), params AS (
    SELECT ROUND((n * stx - st * sx) / (n * stt - st * st), 9) AS b1,
           ROUND((sx - ((n * stx - st * sx) / (n * stt - st * st)) * st) / n,
                 9) AS b0
    FROM s
), resid AS (
    SELECT day, t, x, x - (b0 + b1 * t) AS e, b1,
           LAG(x - (b0 + b1 * t)) OVER (ORDER BY day) AS ep,
           LAG(t) OVER (ORDER BY day) AS tp,
           LAG(x) OVER (ORDER BY day) AS xp
    FROM pts CROSS JOIN params
), rho_agg AS (
    SELECT MAX(b1) AS b1,
           ROUND(CAST(SUM(CAST(e * ep AS DECIMAL(38,9))) AS DOUBLE)
                 / CAST(SUM(CAST(ep * ep AS DECIMAL(38,9))) AS DOUBLE), 9)
               AS rho
    FROM resid WHERE ep IS NOT NULL
), trans AS (
    SELECT x - rho * xp AS xs, t - rho * tp AS ts
    FROM resid CROSS JOIN rho_agg
    WHERE xp IS NOT NULL
), s2 AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(ts AS DECIMAL(38,12))) AS DOUBLE) AS st,
           CAST(SUM(CAST(xs AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(ts * xs AS DECIMAL(38,9))) AS DOUBLE) AS stx,
           CAST(SUM(CAST(ts * ts AS DECIMAL(38,9))) AS DOUBLE) AS stt
    FROM trans
)
SELECT CAST(n + 1 AS BIGINT) AS n_days,
       CAST(rho AS DOUBLE) AS rho_hat,
       CAST(ROUND(b1, 6) AS DOUBLE) AS slope_ols,
       CAST(ROUND(ROUND((n * stx - st * sx) / (n * stt - st * st), 9), 6)
            AS DOUBLE) AS slope_co,
       CAST(ROUND((ROUND((n * stx - st * sx) / (n * stt - st * st), 9) - b1)
                  / ABS(b1), 6) AS DOUBLE) AS rel_shift
FROM s2 CROSS JOIN rho_agg
"""


def cusum_squares_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares test (Brown, Durbin & Evans 1975) on the daily
    first differences — the VARIANCE-stability member of the
    changepoint family: ``cusum_changepoint_daily``/``pettitt``/
    ``binseg`` hunt MEAN shifts; C_k = Σ_{≤k}r²/Σr² drifts off its k/m
    diagonal exactly when the VOLATILITY regime changes (a variance
    break leaves every mean test blind). Statistic = max|C_k − k/m|
    with the KS-style 1.358/√m 5% band and the argmax day published.

    Exactness: r² folds in decimal cumulative windows; C_k is an exact
    ratio of decimal-fold doubles; the argmax tiebreaks by day. Scale
    shape: one daily aggregation, bounded day-grain windows, one
    TakeOrdered(1)."""
    daily = _daily(spark, sf_dir, by_type=False)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    r = daily.select(
        "day", (F.col("x") - F.lag("x").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    wc = Window.partitionBy(F.month("day") % 1).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = r.select(
        "day",
        F.sum(F.round(F.col("r") * F.col("r"), 9).cast("decimal(38,9)"))
        .over(wc)
        .cast("double")
        .alias("ck"),
        F.row_number().over(w).cast("bigint").alias("k"),
    )
    tot = r.agg(
        dec_sum(F.round(F.col("r") * F.col("r"), 9), 38, 9)
        .cast("double")
        .alias("stot"),
        F.count("*").cast("bigint").alias("m"),
        F.lit(1).alias("one"),
    )
    dev = (
        cum.withColumn("one", F.lit(1))
        .join(F.broadcast(tot), "one")
        .select(
            "day",
            "m",
            F.abs(
                F.col("ck") / F.col("stot")
                - F.col("k").cast("double") / F.col("m").cast("double")
            ).alias("d"),
        )
    )
    best = dev.orderBy(F.col("d").desc(), F.col("day").asc()).limit(1)
    stat = F.round(F.col("d"), 6)
    crit = F.lit(1.358) / F.sqrt(F.col("m").cast("double"))
    return best.select(
        F.col("m").alias("n_diffs"),
        F.col("day").alias("break_day"),
        stat.cast("double").alias("cusum_sq_stat"),
        F.round(crit, 6).cast("double").alias("crit_05"),
        (stat > F.round(crit, 6)).alias("variance_break"),
    )


CUSUM_SQUARES_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), r AS (
    SELECT day, r FROM (
        SELECT day, x - LAG(x) OVER (ORDER BY day) AS r FROM daily
    ) WHERE r IS NOT NULL
), cum AS (
    SELECT day,
           CAST(SUM(CAST(ROUND(r * r, 9) AS DECIMAL(38,9)))
                OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS ck,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k
    FROM r
), tot AS (
    SELECT CAST(SUM(CAST(ROUND(r * r, 9) AS DECIMAL(38,9))) AS DOUBLE)
               AS stot,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM r
), dev AS (
    SELECT day, m,
           ABS(ck / stot - CAST(k AS DOUBLE) / CAST(m AS DOUBLE)) AS d
    FROM cum CROSS JOIN tot
), best AS (
    SELECT * FROM dev ORDER BY d DESC, day ASC LIMIT 1
)
SELECT m AS n_diffs, day AS break_day,
       CAST(ROUND(d, 6) AS DOUBLE) AS cusum_sq_stat,
       CAST(ROUND(1.358 / SQRT(CAST(m AS DOUBLE)), 6) AS DOUBLE) AS crit_05,
       ROUND(d, 6) > ROUND(1.358 / SQRT(CAST(m AS DOUBLE)), 6)
           AS variance_break
FROM best
"""


_VR_Q = 5


def variance_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test (Lo & MacKinlay 1988) at q=5 on
    the daily value level series — the RANDOM-WALK member of the daily
    panel: under a random walk the variance of 5-day changes is
    exactly 5× the 1-day variance; VR<1 reads mean reversion, VR>1
    momentum — the scaling lens ``hurst_rs_daily_values`` reads via
    R/S, here with the classic unbiased overlapping estimator and its
    homoscedastic asymptotic z = (VR−1)/√(2(2q−1)(q−1)/(3qn)).

    Exactness: μ̂ = (x_n−x_1)/n is one exact double; both squared-sum
    folds accumulate round-at-9 terms in decimal; VR and z round at 6.
    Scale shape: one daily aggregation, bounded lag windows, two
    folds."""
    daily = _daily(spark, sf_dir, by_type=False)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    lagged = daily.select(
        "day",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", _VR_Q).over(w).alias("xq"),
    )
    ends = daily.agg(
        F.count("*").cast("bigint").alias("nn"),
        F.min_by("x", "day").alias("x_first"),
        F.max_by("x", "day").alias("x_last"),
        F.lit(1).alias("one"),
    )
    mu = (F.col("x_last") - F.col("x_first")) / (
        F.col("nn").cast("double") - 1.0
    )
    m = ends.select(
        "nn", F.round(mu, 9).alias("mu"), "one"
    )
    j = lagged.withColumn("one", F.lit(1)).join(F.broadcast(m), "one")
    d1 = F.col("x") - F.col("x1") - F.col("mu")
    dq = (
        F.col("x")
        - F.col("xq")
        - F.lit(float(_VR_Q)) * F.col("mu")
    )
    s = j.agg(
        F.max("nn").alias("nn"),
        F.sum(
            F.when(
                F.col("x1").isNotNull(),
                F.round(d1 * d1, 9),
            ).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("s1"),
        F.sum(
            F.when(
                F.col("xq").isNotNull(),
                F.round(dq * dq, 9),
            ).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("sq"),
    )
    nD = (F.col("nn").cast("double") - 1.0)  # number of 1-day returns
    q = float(_VR_Q)
    mden = q * (nD - q + 1.0) * (1.0 - q / nD)
    var1 = F.col("s1") / (nD - 1.0)
    varq = F.col("sq") / mden
    vr = F.round(varq / (F.lit(q) * var1), 6)
    z = F.round(
        (varq / (F.lit(q) * var1) - 1.0)
        / F.sqrt(
            2.0 * (2.0 * q - 1.0) * (q - 1.0) / (3.0 * q * nD)
        ),
        6,
    )
    return s.select(
        (F.col("nn") - 1).cast("bigint").alias("n_returns"),
        F.lit(_VR_Q).cast("int").alias("q"),
        vr.cast("double").alias("variance_ratio"),
        z.cast("double").alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("rejects_random_walk"),
    )


VARIANCE_RATIO_DAILY_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), lagged AS (
    SELECT day, x,
           LAG(x, 1) OVER (ORDER BY day) AS x1,
           LAG(x, {_VR_Q}) OVER (ORDER BY day) AS xq
    FROM daily
), ends AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS nn,
           MIN_BY(x, day) AS x_first,
           MAX_BY(x, day) AS x_last
    FROM daily
), m AS (
    SELECT nn,
           ROUND((x_last - x_first) / (CAST(nn AS DOUBLE) - 1.0), 9) AS mu
    FROM ends
), s AS (
    SELECT MAX(nn) AS nn,
           CAST(SUM(CAST(CASE WHEN x1 IS NOT NULL
                THEN ROUND((x - x1 - mu) * (x - x1 - mu), 9) END
                AS DECIMAL(38,9))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(CASE WHEN xq IS NOT NULL
                THEN ROUND((x - xq - {float(_VR_Q)} * mu)
                           * (x - xq - {float(_VR_Q)} * mu), 9) END
                AS DECIMAL(38,9))) AS DOUBLE) AS sq
    FROM lagged CROSS JOIN m
)
SELECT CAST(nn - 1 AS BIGINT) AS n_returns,
       CAST({_VR_Q} AS INT) AS q,
       CAST(ROUND((sq / ({float(_VR_Q)} * (CAST(nn AS DOUBLE) - 1.0
                          - {float(_VR_Q)} + 1.0)
                         * (1.0 - {float(_VR_Q)}
                            / (CAST(nn AS DOUBLE) - 1.0))))
                  / ({float(_VR_Q)} * (s1 / (CAST(nn AS DOUBLE) - 1.0 - 1.0))),
                  6) AS DOUBLE) AS variance_ratio,
       CAST(ROUND(((sq / ({float(_VR_Q)} * (CAST(nn AS DOUBLE) - 1.0
                           - {float(_VR_Q)} + 1.0)
                          * (1.0 - {float(_VR_Q)}
                             / (CAST(nn AS DOUBLE) - 1.0))))
                   / ({float(_VR_Q)} * (s1 / (CAST(nn AS DOUBLE) - 1.0 - 1.0)))
                   - 1.0)
                  / SQRT(2.0 * (2.0 * {float(_VR_Q)} - 1.0)
                         * ({float(_VR_Q)} - 1.0)
                         / (3.0 * {float(_VR_Q)}
                            * (CAST(nn AS DOUBLE) - 1.0))), 6) AS DOUBLE)
           AS z_score,
       ABS(ROUND(((sq / ({float(_VR_Q)} * (CAST(nn AS DOUBLE) - 1.0
                          - {float(_VR_Q)} + 1.0)
                         * (1.0 - {float(_VR_Q)}
                            / (CAST(nn AS DOUBLE) - 1.0))))
                  / ({float(_VR_Q)} * (s1 / (CAST(nn AS DOUBLE) - 1.0 - 1.0)))
                  - 1.0)
                 / SQRT(2.0 * (2.0 * {float(_VR_Q)} - 1.0)
                        * ({float(_VR_Q)} - 1.0)
                        / (3.0 * {float(_VR_Q)}
                           * (CAST(nn AS DOUBLE) - 1.0))), 6)) > 1.959964
           AS rejects_random_walk
FROM s
"""


def turning_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points test of randomness (Kendall's classic) on the
    daily value series — the CHEAPEST member of the randomness panel:
    count strict local extrema (x_{t−1}−x_t)(x_{t+1}−x_t) > 0 … i.e.
    sign-change triples — against E[T] = 2(n−2)/3, Var = (16n−29)/90;
    too FEW turns reads momentum, too MANY reads alternation — one
    integer count where ``bartels``/``runs_test`` build whole rank
    machineries, the quick first look. Flat triples (a tie with a
    neighbor) are not turns — the strict-inequality convention,
    identical on both engines.

    Exactness: T and n are exact bigints; z rounds at 6. Scale shape:
    one daily aggregation, one bounded lead window, one fold."""
    daily = _daily(spark, sf_dir, by_type=False)
    w = Window.partitionBy(F.month("day") % 1).orderBy("day")
    trip = daily.select(
        F.col("x").alias("a"),
        F.lead("x", 1).over(w).alias("b"),
        F.lead("x", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    turn = (
        ((F.col("b") > F.col("a")) & (F.col("b") > F.col("c")))
        | ((F.col("b") < F.col("a")) & (F.col("b") < F.col("c")))
    ).cast("long")
    s = trip.agg(
        (F.count("*") + 2).cast("bigint").alias("n"),
        F.sum(turn).cast("bigint").alias("t"),
    )
    nD = F.col("n").cast("double")
    e = 2.0 * (nD - 2.0) / 3.0
    v = (16.0 * nD - 29.0) / 90.0
    z = F.round((F.col("t").cast("double") - e) / F.sqrt(v), 6)
    return s.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("turning_points"),
        F.round(e, 6).cast("double").alias("expected"),
        z.cast("double").alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("nonrandom"),
    )


TURNING_POINTS_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS x
    FROM events GROUP BY 1
), trip AS (
    SELECT x AS a,
           LEAD(x, 1) OVER (ORDER BY day) AS b,
           LEAD(x, 2) OVER (ORDER BY day) AS c
    FROM daily
), s AS (
    SELECT CAST(COUNT(*) + 2 AS BIGINT) AS n,
           CAST(SUM(CASE WHEN (b > a AND b > c) OR (b < a AND b < c)
                         THEN 1 ELSE 0 END) AS BIGINT) AS t
    FROM trip WHERE c IS NOT NULL
)
SELECT n AS n_days, t AS turning_points,
       CAST(ROUND(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, 6) AS DOUBLE)
           AS expected,
       CAST(ROUND((CAST(t AS DOUBLE)
                   - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                  / SQRT((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 6)
            AS DOUBLE) AS z_score,
       ABS(ROUND((CAST(t AS DOUBLE)
                  - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                 / SQRT((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 6))
           > 1.959964 AS nonrandom
FROM s
"""
