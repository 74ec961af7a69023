"""Driver-checkable temporal-join queries over the events table.

As-of and range joins are the feature-pipeline primitives the reference's
relational surface lacks (SURVEY.md §2.4 lists them as absent) — added
here as first-class operators (functions/temporal.py) with exact DuckDB
oracles: DuckDB has native ``ASOF JOIN`` and runs inequality joins
directly, so both checks are hash-compared, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.partitioning import fan_out
from data_ingestion_pipeline_spark.functions.temporal import (
    asof_join_prev,
    range_join_binned,
)
from data_ingestion_pipeline_spark.sources.catalog import load_table


def asof_prev_view_per_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event: the same user's most recent 'view' strictly
    before it (timestamp + gap; NULL when the purchase precedes all views).
    Value column is the right side's ts itself, so equal-instant right rows
    cannot make the result ambiguous."""
    events = fan_out(load_table(spark, sf_dir, "events"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = asof_join_prev(purchases, views, key="user_id", ts="ts", value_cols=["ts"])
    return out.select(
        "event_id",
        "user_id",
        F.col("prev_ts").alias("prev_view_ts"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts")))
        .cast("bigint")
        .alias("gap_us"),
    )


ASOF_PREV_VIEW_PER_PURCHASE_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id,
       v.ts AS prev_view_ts,
       CAST(date_diff('microsecond', v.ts, p.ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts < p.ts
"""


def views_within_hour_of_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: count each purchase's same-user views within the
    following hour, bounds [1 s, 3600 s] after the purchase instant."""
    events = fan_out(load_table(spark, sf_dir, "events"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    pairs = range_join_binned(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        lower_s=1, upper_s=3600,
    )
    return (
        pairs.groupBy(F.col("l_event_id").alias("event_id"))
        .agg(F.count("*").cast("bigint").alias("n_views_next_hour"))
    )


VIEWS_WITHIN_HOUR_OF_PURCHASE_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_views_next_hour
FROM p JOIN v ON p.user_id = v.user_id
 AND v.ts >= p.ts + INTERVAL 1 SECOND
 AND v.ts <= p.ts + INTERVAL 3600 SECOND
GROUP BY p.event_id
"""


def purchase_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per user, first view → first purchase AT OR AFTER
    that view, with conversion flag and seconds-to-convert. Two keyed
    aggregates and one broadcast-back join — the funnel never materializes
    per-event pairs, so the plan is volume-proportional to users, not to
    view×purchase combinations."""
    events = load_table(spark, sf_dir, "events")
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view_ts"))
    )
    first_purchase = (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_view), "user_id")
        .filter(F.col("ts") >= F.col("first_view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    return (
        first_view.join(first_purchase, "user_id", "left")
        .select(
            "user_id",
            "first_view_ts",
            "first_purchase_ts",
            F.col("first_purchase_ts").isNotNull().alias("converted"),
            (
                (
                    F.unix_micros("first_purchase_ts")
                    - F.unix_micros("first_view_ts")
                )
                / 1_000_000
            )
            .cast("bigint")
            .alias("secs_to_convert"),
        )
    )


PURCHASE_FUNNEL_USERS_ORACLE = """
WITH fv AS (
    SELECT user_id, MIN(ts) AS first_view_ts FROM events
    WHERE event_type = 'view' GROUP BY user_id
), fp AS (
    SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
    FROM events e JOIN fv ON e.user_id = fv.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view_ts
    GROUP BY e.user_id
)
SELECT fv.user_id, fv.first_view_ts, fp.first_purchase_ts,
       fp.first_purchase_ts IS NOT NULL AS converted,
       CAST((epoch_us(fp.first_purchase_ts) - epoch_us(fv.first_view_ts))
            // 1000000 AS BIGINT) AS secs_to_convert
FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
"""


def daily_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, counted
    on each later active day as an offset from their cohort day. The
    cohort assignment is a keyed aggregate broadcast back onto the
    distinct (user, day) activity set — one wide shuffle on user_id, then
    a small groupBy on (cohort_day, offset)."""
    events = load_table(spark, sf_dir, "events")
    activity = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(F.broadcast(cohorts), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active_users"))
    )


DAILY_COHORT_RETENTION_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
    SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(date_diff('day', c.cohort_day, a.day) AS INT) AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


def cohort_ltv_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative purchase value per user by
    (first-active week, weeks-since-cohort) — the revenue companion to
    ``daily_cohort_retention`` (retention says who comes back; LTV says
    what coming back is worth, and whether newer cohorts monetize faster).
    The cumulative fold runs per cohort over the age axis — a window
    partitioned by cohort week (cohorts × ages is calendar-bounded), with
    the per-(cohort, age) value an exact DECIMAL(18,6) sum, so the
    running division is the usual identical-doubles structure."""
    from pyspark.sql import Window

    from data_ingestion_pipeline_spark.functions.numeric import dec_sum

    events = load_table(spark, sf_dir, "events")
    cohorts = (
        events.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("first_day"))
        .select(
            "user_id",
            F.date_trunc("week", "first_day").cast("date").alias("cohort_week"),
        )
    )
    cohort_sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    purchases = events.filter(F.col("event_type") == "purchase").join(
        F.broadcast(cohorts), "user_id"
    )
    per_age = purchases.groupBy(
        "cohort_week",
        F.floor(
            F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7
        )
        .cast("int")
        .alias("age_week"),
    ).agg(dec_sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("vd"))
    w = Window.partitionBy("cohort_week").orderBy("age_week")
    cum = per_age.withColumn("cum_vd", F.sum("vd").over(w))
    return (
        cum.join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "n_users",
            F.round(F.col("vd"), 2).cast("double").alias("week_value"),
            F.round(
                F.col("cum_vd").cast("double") / F.col("n_users").cast("double"),
                6,
            )
            .cast("double")
            .alias("cum_ltv_per_user"),
        )
    )


COHORT_LTV_CURVE_EVENTS_ORACLE = """
WITH cohorts AS (
    SELECT user_id,
           CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE)
               AS cohort_week
    FROM events GROUP BY user_id
), sizes AS (
    SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohorts GROUP BY cohort_week
), per_age AS (
    SELECT c.cohort_week,
           CAST(FLOOR(date_diff('day', c.cohort_week, CAST(e.ts AS DATE))
                      / 7) AS INT) AS age_week,
           SUM(CAST(COALESCE(e.value, 0) AS DECIMAL(18,6))) AS vd
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
), cum AS (
    SELECT cohort_week, age_week, vd,
           SUM(vd) OVER (PARTITION BY cohort_week ORDER BY age_week)
               AS cum_vd
    FROM per_age
)
SELECT c.cohort_week, c.age_week, s.n_users,
       CAST(ROUND(c.vd, 2) AS DOUBLE) AS week_value,
       CAST(ROUND(CAST(c.cum_vd AS DOUBLE) / CAST(s.n_users AS DOUBLE), 6)
            AS DOUBLE) AS cum_ltv_per_user
FROM cum c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


def growth_accounting_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting — the classic DAU decomposition into
    new / retained / resurrected / churned (every active user on day d is
    exactly one of new|retained|resurrected; churned(d) counts users active
    on SOME day < d whose next activity skips d, dated to the first missed
    day). Complements ``daily_cohort_retention`` (cohort-relative survival
    curves) with the calendar-relative state machine product analytics
    dashboards run on.

    Shape: one distinct shuffle to the (user, day) activity grain, then a
    single lag/lead window PER USER (hash-partitioned on user_id —
    distributed; never a global window), then a day-grain groupBy whose
    cardinality is the calendar. Churn days are clamped to the observed
    calendar max (the day after the last observed day is right-censored,
    not churn) via a 1-row broadcast — no driver collect. Limitation,
    documented: a churn day on which NOBODY is active would still appear
    (full-outer join keeps it) but with dau=0; such days cannot occur in
    the fixtures (every day has actives) and at 100 TB a whole-corpus
    dead day is a pipeline outage, not a metric.

    No reference counterpart (the reference computes no user-state
    metrics; nearest is README.md:36-149's static aggregates)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    activity = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = activity.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    status = flagged.groupBy("day").agg(
        F.count("*").cast("bigint").alias("dau"),
        F.count(F.when(F.col("prev_day").isNull(), 1))
        .cast("bigint")
        .alias("new_users"),
        F.count(F.when(F.datediff("day", "prev_day") == 1, 1))
        .cast("bigint")
        .alias("retained_users"),
        F.count(F.when(F.datediff("day", "prev_day") > 1, 1))
        .cast("bigint")
        .alias("resurrected_users"),
    )
    churn = (
        flagged.filter(
            F.col("next_day").isNull() | (F.datediff("next_day", "day") > 1)
        )
        .select(F.date_add("day", 1).alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("churned_users"))
    )
    max_day = activity.agg(F.max("day").alias("max_day"))
    return (
        status.join(churn, "day", "full_outer")
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("day") <= F.col("max_day"))
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            F.coalesce("retained_users", F.lit(0)).alias("retained_users"),
            F.coalesce("resurrected_users", F.lit(0)).alias(
                "resurrected_users"
            ),
            F.coalesce("churned_users", F.lit(0)).alias("churned_users"),
        )
    )


GROWTH_ACCOUNTING_DAILY_USERS_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), flagged AS (
    SELECT user_id, day,
           LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
           LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
    FROM activity
), status AS (
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(COUNT(*) FILTER (WHERE prev_day IS NULL) AS BIGINT)
               AS new_users,
           CAST(COUNT(*) FILTER (
               WHERE date_diff('day', prev_day, day) = 1) AS BIGINT)
               AS retained_users,
           CAST(COUNT(*) FILTER (
               WHERE date_diff('day', prev_day, day) > 1) AS BIGINT)
               AS resurrected_users
    FROM flagged GROUP BY day
), churn AS (
    SELECT day + INTERVAL 1 DAY AS day,
           CAST(COUNT(*) AS BIGINT) AS churned_users
    FROM flagged
    WHERE next_day IS NULL OR date_diff('day', day, next_day) > 1
    GROUP BY 1
)
SELECT COALESCE(s.day, CAST(c.day AS DATE)) AS day,
       COALESCE(s.dau, 0) AS dau,
       COALESCE(s.new_users, 0) AS new_users,
       COALESCE(s.retained_users, 0) AS retained_users,
       COALESCE(s.resurrected_users, 0) AS resurrected_users,
       COALESCE(c.churned_users, 0) AS churned_users
FROM status s FULL OUTER JOIN churn c ON s.day = CAST(c.day AS DATE)
WHERE COALESCE(s.day, CAST(c.day AS DATE))
      <= (SELECT MAX(day) FROM activity)
"""
