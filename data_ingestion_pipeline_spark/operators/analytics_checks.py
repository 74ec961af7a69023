"""Statistical / sequence / entity-resolution / graph analytics.

The reference's analytic surface is its six psql report queries
(``README.md:36-149``) — group-aggregate-sort shapes. A training-data
pipeline working the same tables needs the next tier up: grouped
regression diagnostics, two-sample tests between event populations,
sequence transition models, time-series interpolation, fuzzy entity
matching, and link-analysis scores over co-occurrence graphs. Each query
here is that tier, expressed Spark-first and oracle-checked.

Cross-engine determinism follows the house rule (``functions/numeric.py``,
proven by ``event_value_outliers``): every float statistic is derived from
EXACT decimal sums of per-row terms that are bitwise-identical doubles on
both engines, then combined in double with the *same expression structure*
the DuckDB oracle uses — so the comparison hash never depends on float
summation order. The PageRank loop extends the rule to iterative state:
each iteration's per-node sum is a decimal aggregation, so every
intermediate rank vector is bitwise-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum
from data_ingestion_pipeline_spark.functions.pairs import basket_pairs
from data_ingestion_pipeline_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Grouped least-squares regression diagnostics
# ---------------------------------------------------------------------------

def regression_price_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS of extendedprice on quantity: slope, intercept, R²,
    Pearson r — the ``REGR_*`` family, but derived from the five exact
    decimal power sums (Σx Σy Σxy Σx² Σy²) instead of the built-in
    accumulators, because the built-ins fold doubles in partial-aggregation
    order and the oracle folds them in scan order. One shuffle (the
    groupBy); the derived algebra is per-group scalar arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(x, 27, 12).cast("double").alias("sx"),
        dec_sum(y, 38, 12).cast("double").alias("sy"),
        dec_sum(x * y, 38, 12).cast("double").alias("sxy"),
        dec_sum(x * x, 38, 12).cast("double").alias("sxx"),
        dec_sum(y * y, 38, 12).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / varx_n
    return agg.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).cast("double").alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6)
        .cast("double")
        .alias("intercept"),
        F.round((cov_n * cov_n) / (varx_n * vary_n), 6).cast("double").alias("r2"),
        F.round(cov_n / F.sqrt(varx_n * vary_n), 6)
        .cast("double")
        .alias("pearson_r"),
    )


REGRESSION_PRICE_QUANTITY_BY_FLAG_ORACLE = """
WITH s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
                         AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                         AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
                         AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS DOUBLE) AS slope,
       CAST(ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                  / CAST(n AS DOUBLE), 6) AS DOUBLE) AS intercept,
       CAST(ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
                   * (CAST(n AS DOUBLE) * sxy - sx * sy))
                  / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE) AS r2,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE)
           AS pearson_r
FROM s
"""


# ---------------------------------------------------------------------------
# Two-sample Welch t-test per day
# ---------------------------------------------------------------------------

def welch_ttest_purchase_view_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Welch two-sample t between purchase and view event values —
    the A/B-style significance scan a data pipeline runs over behavioral
    populations. Moments per (day, type) come from exact decimal Σv / Σv²;
    t and the Welch–Satterthwaite df are scalar algebra on the aggregate
    row (identical expression tree in the oracle). Days where either side
    has n<2 are dropped (sample variance undefined), which the inner join
    on the filtered sides encodes.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    v = F.col("value")
    g = (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("value").cast("bigint").alias("n"),
            dec_sum(v, 27, 12).cast("double").alias("s1"),
            dec_sum(v * v, 27, 12).cast("double").alias("s2"),
        )
        .filter(F.col("n") > 1)
    )

    def side(tag: str) -> DataFrame:
        return g.filter(F.col("event_type") == tag).select(
            "day",
            F.col("n").alias(f"n_{tag}"),
            F.col("s1").alias(f"s1_{tag}"),
            F.col("s2").alias(f"s2_{tag}"),
        )

    j = side("purchase").join(side("view"), "day")

    def moments(tag: str):
        n = F.col(f"n_{tag}").cast("double")
        s1, s2 = F.col(f"s1_{tag}"), F.col(f"s2_{tag}")
        mean = s1 / n
        var = (s2 - (s1 * s1) / n) / (n - F.lit(1.0))
        return n, mean, var

    n1, m1, v1 = moments("purchase")
    n2, m2, v2 = moments("view")
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - F.lit(1.0))
        + (v2 / n2) * (v2 / n2) / (n2 - F.lit(1.0))
    )
    return j.select(
        "day",
        "n_purchase",
        "n_view",
        F.round(t, 6).cast("double").alias("t_stat"),
        F.round(df, 6).cast("double").alias("welch_df"),
    )


WELCH_TTEST_PURCHASE_VIEW_DAILY_ORACLE = """
WITH g AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(27,12))) AS DOUBLE) AS s2
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1, 2 HAVING COUNT(value) > 1
), p AS (SELECT day, n AS n1, s1 AS a1, s2 AS a2 FROM g WHERE event_type = 'purchase'),
   v AS (SELECT day, n AS n2, s1 AS b1, s2 AS b2 FROM g WHERE event_type = 'view'),
   m AS (
    SELECT p.day, n1, n2,
           a1 / CAST(n1 AS DOUBLE) AS m1,
           (a2 - (a1 * a1) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
           b1 / CAST(n2 AS DOUBLE) AS m2,
           (b2 - (b1 * b1) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2
    FROM p JOIN v ON p.day = v.day
)
SELECT day, n1 AS n_purchase, n2 AS n_view,
       CAST(ROUND((m1 - m2) / SQRT(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)), 6)
            AS DOUBLE) AS t_stat,
       CAST(ROUND(((v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
                   * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)))
                  / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) - 1.0)
                     + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
                         / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS DOUBLE) AS welch_df
FROM m
"""


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over event sequences
# ---------------------------------------------------------------------------

def cuped_adjusted_ab_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): each
    user's post-period value (days 16-30) adjusts by their PRE-period
    value (days 1-15) via Y′ = Y − θ(X − X̄), θ = cov(X,Y)/var(X) — the
    industry-standard trick that shrinks experiment confidence intervals
    using pre-experiment behavior. Groups are the deterministic md5 split
    (``ab_test_session_value``'s construction). Everything is ratios of
    exact decimal power sums over the per-user aggregate (user-sized, one
    shuffle); the published row carries per-group adjusted means plus the
    realized variance-reduction ratio 1 − var(Y′)/var(Y)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        dec_sum(
            F.when(F.dayofmonth("ts") <= 15, F.col("value")), 27, 12
        )
        .cast("double")
        .alias("x"),
        dec_sum(
            F.when(F.dayofmonth("ts") > 15, F.col("value")), 27, 12
        )
        .cast("double")
        .alias("y"),
    ).select(
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
            .cast("bigint")
            % 2
        )
        .cast("int")
        .alias("grp"),
        F.coalesce("x", F.lit(0.0)).alias("x"),
        F.coalesce("y", F.lit(0.0)).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    stats = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(x, 38, 12).cast("double").alias("sx"),
        dec_sum(y, 38, 12).cast("double").alias("sy"),
        dec_sum(x * y, 38, 12).cast("double").alias("sxy"),
        dec_sum(x * x, 38, 12).cast("double").alias("sxx"),
    )
    st = stats.collect()[0]
    nd = float(st["n"])
    theta = round(
        (nd * st["sxy"] - st["sx"] * st["sy"]) / (nd * st["sxx"] - st["sx"] ** 2),
        9,
    )
    mean_x = round(st["sx"] / nd, 9)
    y_adj = y - F.lit(theta) * (x - F.lit(mean_x))
    per_grp = per_user.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(dec_sum(y, 38, 12).cast("double") / F.count("*"), 6)
        .cast("double")
        .alias("mean_y"),
        F.round(dec_sum(y_adj, 38, 12).cast("double") / F.count("*"), 6)
        .cast("double")
        .alias("mean_y_cuped"),
        dec_sum(y * y, 38, 12).cast("double").alias("_syy"),
        dec_sum(y, 38, 12).cast("double").alias("_sy"),
        dec_sum(y_adj * y_adj, 38, 12).cast("double").alias("_saa"),
        dec_sum(y_adj, 38, 12).cast("double").alias("_sa"),
    )
    ng = F.col("n_users").cast("double")
    var_y = (ng * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    var_a = (ng * F.col("_saa") - F.col("_sa") * F.col("_sa"))
    return per_grp.select(
        "grp",
        "n_users",
        "mean_y",
        "mean_y_cuped",
        F.round(F.lit(1.0) - var_a / var_y, 6)
        .cast("double")
        .alias("variance_reduction"),
    ).orderBy("grp")


CUPED_ADJUSTED_AB_EVENTS_ORACLE = """
WITH per_user AS (
    SELECT CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2
                AS INT) AS grp,
           COALESCE(CAST(SUM(CASE WHEN EXTRACT(DAY FROM ts) <= 15
                    THEN CAST(value AS DECIMAL(27,12)) END) AS DOUBLE), 0.0)
               AS x,
           COALESCE(CAST(SUM(CASE WHEN EXTRACT(DAY FROM ts) > 15
                    THEN CAST(value AS DECIMAL(27,12)) END) AS DOUBLE), 0.0)
               AS y
    FROM events GROUP BY user_id
), stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
    FROM per_user
), params AS (
    SELECT ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS theta,
           ROUND(sx / n, 9) AS mean_x
    FROM stats
), adj AS (
    SELECT grp, y, y - theta * (x - mean_x) AS ya FROM per_user, params
)
SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(ROUND(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS mean_y,
       CAST(ROUND(CAST(SUM(CAST(ya AS DECIMAL(38,12))) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS mean_y_cuped,
       CAST(ROUND(1.0 -
           (COUNT(*) * CAST(SUM(CAST(ya * ya AS DECIMAL(38,12))) AS DOUBLE)
            - CAST(SUM(CAST(ya AS DECIMAL(38,12))) AS DOUBLE)
              * CAST(SUM(CAST(ya AS DECIMAL(38,12))) AS DOUBLE))
           / (COUNT(*) * CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE)
              - CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE)
                * CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE)), 6)
            AS DOUBLE) AS variance_reduction
FROM adj GROUP BY grp
"""


def adamic_adar_link_prediction_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adamic–Adar link prediction on the support≥2 co-purchase graph:
    for part pairs NOT already linked, score Σ_z 1/ln(deg(z)) over common
    neighbors z — the classic "who should be co-purchased next" metric
    (Adamic & Adar 2003), top-20 by score.

    Shape: the candidate pairs come from one 2-path equi-self-join of the
    edge list ON THE MIDDLE NODE (fanout ∝ Σ deg², the standard common-
    neighbor join — never an all-pairs comparison); existing edges drop
    via a left anti-join; the per-pair score is one aggregation. The
    1/ln(deg) weights attach to the middle node BEFORE the 2-path join
    (a deg-count join on the small degree relation), and each ln rounds
    to 9 decimals pre-sum (house libm policy). Top-20 cut is sort-limit
    then rank over 20 survivors."""
    und = (
        basket_pairs(
            load_table(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "l_partkey",
            a="s",
            b="t",
        )
        .groupBy("s", "t")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("s", "t")
        # |edges|-grade relation with a fact-scan lineage and SEVEN
        # consumers (edges×2 → deg×2/eu×2/ev×2 + the anti-join):
        # unpinned, every consumer replayed the basket build + support
        # agg — 28 parquet scans in one plan (r11 census). Pin it so the
        # build runs once; deterministic content, lineage-only.
        .localCheckpoint()
    )
    edges = und.unionByName(und.select(F.col("t").alias("s"), F.col("s").alias("t")))
    deg = edges.groupBy(F.col("s").alias("z")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    wz = deg.filter(F.col("deg") >= 2).select(
        "z",
        (F.lit(1.0) / F.round(F.log(F.col("deg").cast("double")), 9)).alias(
            "aa_w"
        ),
    )
    # 2-paths u—z—v through each middle node z, carrying z's weight
    eu = edges.select(F.col("t").alias("z"), F.col("s").alias("u"))
    ev = edges.select(F.col("s").alias("z2"), F.col("t").alias("v"))
    paths = (
        eu.join(wz, "z")
        .join(ev, F.col("z") == F.col("z2"))
        .filter(F.col("u") < F.col("v"))
        .select("u", "v", "aa_w")
    )
    scored = paths.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("n_common"),
        F.round(dec_sum(F.col("aa_w"), 27, 12), 6).cast("double").alias("aa_score"),
    )
    nonlinked = scored.join(
        und.select(F.col("s").alias("u"), F.col("t").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    top = nonlinked.orderBy(
        F.desc("aa_score"), F.asc("u"), F.asc("v")
    ).limit(20)
    pick = Window.partitionBy(F.col("n_common") % 1).orderBy(
        F.desc("aa_score"), F.asc("u"), F.asc("v")
    )
    return top.withColumn("rnk", F.row_number().over(pick).cast("int")).select(
        "rnk",
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        "n_common",
        "aa_score",
    )


ADAMIC_ADAR_LINK_PREDICTION_PARTS_ORACLE = """
WITH po AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
    SELECT a.l_partkey AS s, b.l_partkey AS t
    FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
), edges AS (
    SELECT s, t FROM und UNION ALL SELECT t, s FROM und
), deg AS (
    SELECT s AS z, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY s
), wz AS (
    SELECT z, 1.0 / ROUND(ln(CAST(deg AS DOUBLE)), 9) AS aa_w
    FROM deg WHERE deg >= 2
), paths AS (
    SELECT eu.u, ev.v, wz.aa_w
    FROM (SELECT t AS z, s AS u FROM edges) eu
    JOIN wz USING (z)
    JOIN (SELECT s AS z, t AS v FROM edges) ev USING (z)
    WHERE eu.u < ev.v
), scored AS (
    SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(ROUND(SUM(CAST(aa_w AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS aa_score
    FROM paths GROUP BY u, v
), nonlinked AS (
    SELECT sc.* FROM scored sc
    LEFT JOIN und ON und.s = sc.u AND und.t = sc.v
    WHERE und.s IS NULL
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY aa_score DESC, u ASC, v ASC) AS INT)
           AS rnk,
       u AS part_a, v AS part_b, n_common, aa_score
FROM nonlinked
QUALIFY rnk <= 20
"""


def sorted_neighborhood_pairs_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood entity matching (Hernández & Stolfo, SIGMOD
    1995): sort records by a fuzzy key (p_name), compare each record only
    with its next w−1 = 3 neighbors in sort order, verify with
    levenshtein ≤ 2. The complement of ``fuzzy_part_name_pairs``' hash
    blocking: SNM catches near-keys that hash to different blocks but
    sort adjacently.

    Scale shape — the window NEVER runs globally: the table range-
    partitions on the sort key (equal keys never straddle a range bound),
    within-chunk neighbors come from chunk-local lead() windows, and
    cross-chunk neighbors are reconstructed from a boundary relation of
    each chunk's first/last w−1 rows (≤ 2(w−1)·chunks rows — the
    ``encoding_advisor_orders`` stitch pattern; assumes chunks ≫ w, which
    the chunk-count choice guarantees). The oracle replays the same
    neighborhood with one global window — identical output, different
    physical shape."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    w_size = 4
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = part.repartitionByRange(n_chunks, "p_name").withColumn(
        "pid", F.spark_partition_id()
    )
    wnd = Window.partitionBy("pid").orderBy("p_name", "p_partkey")
    local = chunked.select(
        "pid",
        "p_partkey",
        "p_name",
        F.row_number().over(wnd).alias("rn"),
        F.count("*").over(Window.partitionBy("pid")).alias("chunk_n"),
        *[
            F.struct(
                F.lead("p_partkey", i).over(wnd).alias("k"),
                F.lead("p_name", i).over(wnd).alias("nm"),
            ).alias(f"nb{i}")
            for i in range(1, w_size)
        ],
    )
    within = None
    for i in range(1, w_size):
        pp = local.filter(F.col(f"nb{i}.k").isNotNull()).select(
            F.col("p_partkey").alias("part_a"),
            F.col("p_name").alias("name_a"),
            F.col(f"nb{i}.k").alias("part_b"),
            F.col(f"nb{i}.nm").alias("name_b"),
        )
        within = pp if within is None else within.unionByName(pp)
    # boundary relation: first/last w-1 rows per chunk, ordered globally —
    # cross-chunk neighbor pairs live entirely inside it
    edge = local.filter(
        (F.col("rn") <= w_size - 1)
        | (F.col("rn") > F.col("chunk_n") - (w_size - 1))
    ).select("pid", "p_partkey", "p_name", "rn", "chunk_n")
    # pid%1: non-foldable constant key — the boundary window sees
    # <= 2(w-1)·chunks rows in one group (bounded by construction)
    bw = Window.partitionBy(F.col("pid") % 1).orderBy("p_name", "p_partkey")
    cross = None
    for i in range(1, w_size):
        # adjacency in the boundary relation == global adjacency ONLY for
        # pairs that span two chunks (interior rows are absent); same-pid
        # pairs are already covered by the chunk-local pass
        cc = (
            edge.select(
                "pid",
                "p_partkey",
                "p_name",
                F.lead("pid", i).over(bw).alias("pid_b"),
                F.lead("p_partkey", i).over(bw).alias("k_b"),
                F.lead("p_name", i).over(bw).alias("nm_b"),
                F.col("rn").alias("rn_a"),
                F.col("chunk_n").alias("cn_a"),
                F.lead("rn", i).over(bw).alias("rn_b"),
            )
            .filter(
                F.col("k_b").isNotNull()
                & (F.col("pid_b") != F.col("pid"))
                # a is within w-1 of its chunk END, b within w-1 of its
                # chunk START, and they are in ADJACENT chunks in the
                # boundary ordering with gap <= w-1 overall: the lead(i)
                # over the boundary relation equals global lead(i) exactly
                # when every row between them is also a boundary row —
                # true for end-of-p → start-of-p+1 spans
                & (F.col("rn_a") > F.col("cn_a") - (w_size - 1))
                & (F.col("rn_b") <= w_size - 1)
            )
            .select(
                F.col("p_partkey").alias("part_a"),
                F.col("p_name").alias("name_a"),
                F.col("k_b").alias("part_b"),
                F.col("nm_b").alias("name_b"),
            )
        )
        cross = cc if cross is None else cross.unionByName(cc)
    pairs = within.unionByName(cross)
    dist = F.levenshtein("name_a", "name_b")
    return (
        pairs.filter(dist <= 2)
        .select(
            "part_a",
            "part_b",
            dist.cast("int").alias("name_dist"),
        )
    )


SORTED_NEIGHBORHOOD_PAIRS_PARTS_ORACLE = """
WITH ordered AS (
    SELECT p_partkey, p_name FROM part
), led AS (
    SELECT p_partkey AS part_a, p_name AS name_a,
           LEAD(p_partkey, 1) OVER w AS k1, LEAD(p_name, 1) OVER w AS n1,
           LEAD(p_partkey, 2) OVER w AS k2, LEAD(p_name, 2) OVER w AS n2,
           LEAD(p_partkey, 3) OVER w AS k3, LEAD(p_name, 3) OVER w AS n3
    FROM ordered
    WINDOW w AS (ORDER BY p_name, p_partkey)
), pairs AS (
    SELECT part_a, name_a, k1 AS part_b, n1 AS name_b FROM led WHERE k1 IS NOT NULL
    UNION ALL
    SELECT part_a, name_a, k2, n2 FROM led WHERE k2 IS NOT NULL
    UNION ALL
    SELECT part_a, name_a, k3, n3 FROM led WHERE k3 IS NOT NULL
)
SELECT part_a, part_b, CAST(levenshtein(name_a, name_b) AS INT) AS name_dist
FROM pairs WHERE levenshtein(name_a, name_b) <= 2
"""


def frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent consecutive event-type sequences of lengths 2
    and 3 across per-user timelines — sequential-pattern mining in its
    contiguous form (the PrefixSpan-lite every clickstream pipeline runs
    before investing in the general miner). One per-user sort builds both
    n-gram streams via lead(); counts are global aggregates over
    (length, sequence) — a type-alphabet-bounded relation — and the
    top-10 cut is sort-limit (TakeOrderedAndProject) then rank over the
    10 survivors (the ``build_vocab_documents`` pattern)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    led = ev.select(
        F.col("event_type").alias("e0"),
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    seq2 = (
        led.filter(F.col("e1").isNotNull())
        .select(
            F.lit(2).cast("int").alias("seq_len"),
            F.concat_ws(">", "e0", "e1").alias("sequence"),
        )
    )
    seq3 = (
        led.filter(F.col("e2").isNotNull())
        .select(
            F.lit(3).cast("int").alias("seq_len"),
            F.concat_ws(">", "e0", "e1", "e2").alias("sequence"),
        )
    )
    counts = (
        seq2.unionByName(seq3)
        .groupBy("seq_len", "sequence")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )
    top = counts.orderBy(
        F.desc("n_occurrences"), F.asc("seq_len"), F.asc("sequence")
    ).limit(10)
    # n_occurrences%1: non-foldable constant key — bounded 10-row rank
    # window on WindowExec's partitioned path
    pick = Window.partitionBy(F.col("n_occurrences") % 1).orderBy(
        F.desc("n_occurrences"), F.asc("seq_len"), F.asc("sequence")
    )
    return top.withColumn(
        "rnk", F.row_number().over(pick).cast("int")
    ).select("rnk", "seq_len", "sequence", "n_occurrences")


FREQUENT_EVENT_SEQUENCES_ORACLE = """
WITH led AS (
    SELECT event_type AS e0,
           LEAD(event_type, 1) OVER w AS e1,
           LEAD(event_type, 2) OVER w AS e2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seqs AS (
    SELECT CAST(2 AS INT) AS seq_len, e0 || '>' || e1 AS sequence
    FROM led WHERE e1 IS NOT NULL
    UNION ALL
    SELECT 3, e0 || '>' || e1 || '>' || e2
    FROM led WHERE e2 IS NOT NULL
), counts AS (
    SELECT seq_len, sequence, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM seqs GROUP BY seq_len, sequence
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, seq_len ASC,
                               sequence ASC) AS INT) AS rnk,
       seq_len, sequence, n_occurrences
FROM counts
QUALIFY rnk <= 10
"""


def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature (bots and single-purpose scripts sit near
    0; exploratory users near ln(5)). Per-user type counts are one
    aggregation; entropy = ln(n) − Σ c·ln(c)/n uses only integer counts
    inside the ln (house libm policy: each ln of a bigint rounds to 9
    decimals before the decimal sum, so both engines sum identical
    terms)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    lnc = F.round(F.log(F.col("c").cast("double")), 9)
    agg = per.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        dec_sum(F.col("c").cast("double") * lnc, 27, 12)
        .cast("double")
        .alias("s_clnc"),
    )
    lnn = F.round(F.log(F.col("n_events").cast("double")), 9)
    ent = lnn - F.col("s_clnc") / F.col("n_events").cast("double")
    return agg.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(ent, 6).cast("double").alias("entropy"),
    )


USER_BEHAVIOR_ENTROPY_ORACLE = """
WITH per AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
), agg AS (
    SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CAST(CAST(c AS DOUBLE) * ROUND(ln(CAST(c AS DOUBLE)), 9)
                         AS DECIMAL(27,12))) AS DOUBLE) AS s_clnc
    FROM per GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       CAST(ROUND(ROUND(ln(CAST(n_events AS DOUBLE)), 9)
                  - s_clnc / CAST(n_events AS DOUBLE), 6) AS DOUBLE)
           AS entropy
FROM agg
"""


def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event type | current) across per-user event sequences — the
    transition matrix behind session modeling and next-action features.
    ``lead()`` over (user, ts, event_id) builds the bigram stream in one
    per-user sort (partition-parallel, never a global sort); the matrix is
    a 25-row aggregate, and the row-normalizing window runs on that tiny
    aggregate, not the fact stream. Probabilities are exact bigint ratios
    divided in double → identical across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n_transitions")
    )
    total = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(total).cast("double"),
            6,
        )
        .cast("double")
        .alias("prob"),
    )


MARKOV_EVENT_TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
), trans AS (
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type, n_transitions,
       CAST(ROUND(CAST(n_transitions AS DOUBLE)
                  / CAST(SUM(n_transitions) OVER (PARTITION BY event_type)
                         AS DOUBLE), 6) AS DOUBLE) AS prob
FROM trans
"""


def absorbing_expected_steps_to_purchase(
    spark: SparkSession, sf_dir: str, horizon: int = 6
) -> DataFrame:
    """Expected events until the next 'purchase', per current event type —
    the absorbing-Markov-chain readout of the transition matrix one
    function up ('purchase' absorbing, everything else transient). The
    fundamental-matrix expectation t = (I−Q)⁻¹·1 is evaluated as the
    truncated Neumann recursion t_{m+1} = 1 + Q·t_m through ``horizon``
    terms — matrix inversion is neither SQL-replayable nor
    iteration-bounded, the recursion is both; the output is the exact
    expected step count over ≤horizon-step paths (a lower bound
    converging monotonically to the true expectation, stated in the
    column name).

    Scale shape: the corpus-∝ work is the SAME single per-user lead()
    pass the transition matrix runs; everything after lives on the
    |types|²-row aggregate (pinned, so the fact-stream window runs once,
    not once per iteration). Exactness: Q entries are exact bigint-ratio
    doubles, per-type sums fold in DECIMAL(38,18), iterates re-round at
    9 — the iterative contract."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = Window.partitionBy("event_type")
    pm = trans.select(
        "event_type",
        "next_type",
        (F.col("c").cast("double") / F.sum("c").over(tot).cast("double")).alias("p"),
    ).localCheckpoint(eager=False)  # |types|² rows; feeds q, types, every iter
    q = pm.filter(
        (F.col("event_type") != "purchase") & (F.col("next_type") != "purchase")
    )
    types = pm.filter(F.col("event_type") != "purchase").select("event_type").distinct()
    t = types.select(F.col("event_type").alias("y"), F.lit(0.0).alias("t"))
    for _ in range(horizon):
        s = (
            q.join(F.broadcast(t), q.next_type == t.y)
            .groupBy("event_type")
            .agg(
                F.sum((F.col("p") * F.col("t")).cast("decimal(38,18)"))
                .cast("double")
                .alias("s")
            )
        )
        t = types.join(s, "event_type", "left").select(
            F.col("event_type").alias("y"),
            F.round(F.lit(1.0) + F.coalesce(F.col("s"), F.lit(0.0)), 9).alias("t"),
        )
    return t.select(
        F.col("y").alias("event_type"), F.col("t").alias("expected_steps_h6")
    )


def _absorbing_oracle(horizon: int = 6) -> str:
    head = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
), trans AS (
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), pm AS MATERIALIZED (
    SELECT event_type, next_type,
           CAST(c AS DOUBLE)
           / CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM trans
), q AS MATERIALIZED (
    SELECT * FROM pm WHERE event_type <> 'purchase' AND next_type <> 'purchase'
), ty AS MATERIALIZED (
    SELECT DISTINCT event_type FROM pm WHERE event_type <> 'purchase'
), t0 AS (SELECT event_type AS y, 0.0 AS t FROM ty)"""
    blocks = []
    for m in range(1, horizon + 1):
        blocks.append(f"""
, t{m} AS (
    SELECT ty.event_type AS y, ROUND(1.0 + COALESCE(s.s, 0.0), 9) AS t
    FROM ty LEFT JOIN (
        SELECT q.event_type,
               CAST(SUM(CAST(q.p * r.t AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM q JOIN t{m-1} r ON q.next_type = r.y GROUP BY q.event_type
    ) s ON s.event_type = ty.event_type
)""")
    return (
        head
        + "".join(blocks)
        + f"""
SELECT y AS event_type, t AS expected_steps_h6 FROM t{horizon}
"""
    )


ABSORBING_EXPECTED_STEPS_TO_PURCHASE_ORACLE = _absorbing_oracle()


def markov_removal_attribution_events(
    spark: SparkSession, sf_dir: str, horizon: int = 6
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014 — the
    data-driven alternative to `linear_attribution_daily`'s positional
    rule): each event type's credit for conversions is how much the
    corpus-level purchase-reach probability DROPS when that state is
    removed from the chain. Reach is the truncated-horizon recursion
    r_m(x) = p(x→purchase) + Σ_y p(x→y)·r_{m−1}(y) (the
    ``absorbing_expected_steps_to_purchase`` contract: inversion-free,
    SQL-replayable, monotone in m), evaluated for ALL removals at once on
    a (removed, state) grid — removing channel c zeroes r(c,·)'s row, so
    paths through c contribute nothing. Start states come from each
    user's first event; journeys that START at purchase convert
    unremovably (reach 1 under every removal). Removal effect
    RE(c) = 1 − P_removed(c)/P_full; attribution share normalizes RE over
    channels.

    Scale shape: the corpus-∝ work is ONE per-user lead() pass (the
    transition matrix) + ONE first-event pass (start distribution);
    everything else lives on |types|²-to-|types|³-row aggregates (the
    transition relation pinned so iteration subtrees don't replay).
    Exactness: probabilities are exact bigint-ratio doubles, every Σ p·t
    folds in DECIMAL(38,18), iterates re-round at 9 — the house iterative
    contract; P_full=0 and ΣRE=0 degenerate cases yield NULL identically
    in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = Window.partitionBy("event_type")
    pm = trans.select(
        "event_type",
        "next_type",
        (F.col("c").cast("double") / F.sum("c").over(tot).cast("double")).alias("p"),
    ).localCheckpoint(eager=False)  # |types|² rows; feeds q, ap, ty, every iter
    q = pm.filter(
        (F.col("event_type") != "purchase") & (F.col("next_type") != "purchase")
    )
    ap = pm.filter(F.col("next_type") == "purchase").select(
        F.col("event_type").alias("ax"), F.col("p").alias("ap")
    )
    ty = pm.filter(F.col("event_type") != "purchase").select("event_type").distinct()
    rms = ty.select(F.col("event_type").alias("rm")).unionByName(
        spark.range(1).select(F.lit("__none__").alias("rm"))
    )
    grid = rms.crossJoin(
        ty.select(F.col("event_type").alias("y"))
    ).localCheckpoint(eager=False)  # (|types|+1)·|types| rows, reused per iter
    state = grid.select("rm", "y", F.lit(0.0).alias("t"))
    for _ in range(horizon):
        # unique names at every join boundary: state/grid/s share lineage
        # (grid -> state -> s), so dataframe-ref equality predicates would
        # be ambiguous self-join references
        prev = state.select(
            F.col("rm").alias("t_rm"), F.col("y").alias("t_y"), "t"
        )
        s = (
            q.join(F.broadcast(prev), F.col("next_type") == F.col("t_y"))
            .groupBy("t_rm", "event_type")
            .agg(
                F.sum((F.col("p") * F.col("t")).cast("decimal(38,18)"))
                .cast("double")
                .alias("s")
            )
            .select(F.col("t_rm").alias("srm"), F.col("event_type").alias("sx"), "s")
        )
        state = (
            grid.join(
                s,
                (F.col("rm") == F.col("srm")) & (F.col("y") == F.col("sx")),
                "left",
            )
            .join(ap, F.col("y") == F.col("ax"), "left")
            .select(
                "rm",
                "y",
                F.when(F.col("y") == F.col("rm"), F.lit(0.0))
                .otherwise(
                    F.round(
                        F.coalesce(F.col("ap"), F.lit(0.0))
                        + F.coalesce(F.col("s"), F.lit(0.0)),
                        9,
                    )
                )
                .alias("t"),
            )
            # (removed+1)·|types| rows — pin each iterate like pm/grid:
            # without it the horizon-6 recursion nests every prior
            # iteration's joins into one 3,989-line physical plan
            # (268 Exchange references; measured r11) that re-plans,
            # re-codegens and re-broadcasts the whole chain; pinned, each
            # iteration is one shallow join over a materialized
            # |types|²-grade relation (plan: 50 lines, 7.5 s → ~2 s).
            .localCheckpoint(eager=False)
        )
    first = (
        ev.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("nu"))
    )
    n_users = first.agg(F.sum("nu").cast("bigint").alias("n")).collect()[0]["n"]
    pi = first.select(
        F.col("event_type").alias("x"),
        (F.col("nu").cast("double") / F.lit(float(n_users))).alias("pi"),
    )
    # reach per (rm, start): purchase starts convert unremovably at 1.0
    stf = state.select(F.col("rm").alias("t_rm"), F.col("y").alias("t_y"), "t")
    reach = (
        rms.crossJoin(pi)
        .join(
            stf,
            (F.col("x") == F.col("t_y")) & (F.col("rm") == F.col("t_rm")),
            "left",
        )
        .select(
            "rm",
            "pi",
            F.when(F.col("x") == "purchase", F.lit(1.0))
            .otherwise(F.coalesce(F.col("t"), F.lit(0.0)))
            .alias("r"),
        )
    )
    p_rm = reach.groupBy("rm").agg(
        F.sum((F.col("pi") * F.col("r")).cast("decimal(38,18)"))
        .cast("double")
        .alias("pr")
    )
    full = p_rm.filter(F.col("rm") == "__none__").select(
        F.col("pr").alias("p_full")
    )
    chans = p_rm.filter(F.col("rm") != "__none__").crossJoin(F.broadcast(full))
    re = F.when(
        F.col("p_full") > F.lit(0.0),
        F.lit(1.0) - F.col("pr") / F.col("p_full"),
    )
    scored = chans.select("rm", "pr", "p_full", re.alias("re"))
    denom = scored.agg(
        F.sum(F.col("re").cast("decimal(38,18)")).cast("double").alias("se")
    )
    out = scored.crossJoin(F.broadcast(denom))
    return out.select(
        F.col("rm").alias("channel"),
        F.round("p_full", 6).cast("double").alias("reach_full"),
        F.round("pr", 6).cast("double").alias("reach_removed"),
        F.round("re", 6).cast("double").alias("removal_effect"),
        F.round(
            F.when(F.col("se") > F.lit(0.0), F.col("re") / F.col("se")), 6
        )
        .cast("double")
        .alias("attribution_share"),
    )


def _removal_attribution_oracle(horizon: int = 6) -> str:
    head = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
), trans AS (
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), pm AS MATERIALIZED (
    SELECT event_type, next_type,
           CAST(c AS DOUBLE)
           / CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM trans
), q AS MATERIALIZED (
    SELECT * FROM pm WHERE event_type <> 'purchase' AND next_type <> 'purchase'
), ap AS MATERIALIZED (
    SELECT event_type AS ax, p AS ap FROM pm WHERE next_type = 'purchase'
), ty AS MATERIALIZED (
    SELECT DISTINCT event_type FROM pm WHERE event_type <> 'purchase'
), rms AS MATERIALIZED (
    SELECT event_type AS rm FROM ty UNION ALL SELECT '__none__'
), grid AS MATERIALIZED (
    SELECT rms.rm, ty.event_type AS y FROM rms CROSS JOIN ty
), t0 AS (SELECT rm, y, 0.0 AS t FROM grid)"""
    blocks = []
    for m in range(1, horizon + 1):
        blocks.append(f"""
, t{m} AS (
    SELECT g.rm, g.y,
           CASE WHEN g.y = g.rm THEN 0.0
                ELSE ROUND(COALESCE(a.ap, 0.0) + COALESCE(s.s, 0.0), 9)
           END AS t
    FROM grid g
    LEFT JOIN (
        SELECT r.rm, q.event_type,
               CAST(SUM(CAST(q.p * r.t AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM q JOIN t{m-1} r ON q.next_type = r.y
        GROUP BY r.rm, q.event_type
    ) s ON s.rm = g.rm AND s.event_type = g.y
    LEFT JOIN ap a ON a.ax = g.y
)""")
    tail = f"""
, firsts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
    ) WHERE rn = 1 GROUP BY event_type
), pi AS MATERIALIZED (
    SELECT event_type AS x,
           CAST(nu AS DOUBLE)
           / CAST((SELECT SUM(nu) FROM firsts) AS DOUBLE) AS pi
    FROM firsts
), reach AS (
    SELECT rms.rm, pi.pi,
           CASE WHEN pi.x = 'purchase' THEN 1.0
                ELSE COALESCE(st.t, 0.0) END AS r
    FROM rms CROSS JOIN pi
    LEFT JOIN t{horizon} st ON st.y = pi.x AND st.rm = rms.rm
), p_rm AS MATERIALIZED (
    SELECT rm, CAST(SUM(CAST(pi * r AS DECIMAL(38,18))) AS DOUBLE) AS pr
    FROM reach GROUP BY rm
), scored AS MATERIALIZED (
    SELECT rm, pr, f.p_full,
           CASE WHEN f.p_full > 0.0 THEN 1.0 - pr / f.p_full END AS re
    FROM p_rm
    CROSS JOIN (SELECT pr AS p_full FROM p_rm WHERE rm = '__none__') f
    WHERE rm <> '__none__'
)
SELECT rm AS channel,
       CAST(ROUND(p_full, 6) AS DOUBLE) AS reach_full,
       CAST(ROUND(pr, 6) AS DOUBLE) AS reach_removed,
       CAST(ROUND(re, 6) AS DOUBLE) AS removal_effect,
       CAST(ROUND(CASE WHEN d.se > 0.0 THEN re / d.se END, 6) AS DOUBLE)
           AS attribution_share
FROM scored
CROSS JOIN (
    SELECT CAST(SUM(CAST(re AS DECIMAL(38,18))) AS DOUBLE) AS se FROM scored
) d
"""
    return head + "".join(blocks) + tail


MARKOV_REMOVAL_ATTRIBUTION_EVENTS_ORACLE = _removal_attribution_oracle()


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill
# ---------------------------------------------------------------------------

def interpolated_daily_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily value series with LINEAR interpolation across gap
    days — the resample-and-interpolate step of feature pipelines
    (``daily_user_activity_gapfilled`` is the zero-fill sibling). Each
    user's grid spans their own [min_day, max_day] (endpoints observed, so
    interpolation is always bracketed). Bracketing values come from
    last/first IGNORE NULLS frames over the per-user day order — two
    window passes over partition-local data, no self-join. The daily mean
    is exact-decimal-sum / count, so the lerp inputs (and hence the IEEE
    lerp arithmetic, structured identically in the oracle) match bitwise.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (dec_sum(F.col("value"), 27, 12).cast("double")
         / F.count("value").cast("double")).alias("avg_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    wprev = w.rowsBetween(Window.unboundedPreceding, 0)
    wnext = w.rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("avg_value").isNotNull(), F.col("day"))
    prev_v = F.last("avg_value", ignorenulls=True).over(wprev)
    prev_d = F.last(obs_day, ignorenulls=True).over(wprev)
    next_v = F.first("avg_value", ignorenulls=True).over(wnext)
    next_d = F.first(obs_day, ignorenulls=True).over(wnext)
    frac = F.datediff(F.col("day"), prev_d).cast("double") / F.datediff(
        next_d, prev_d
    ).cast("double")
    interp = F.when(F.col("avg_value").isNotNull(), F.col("avg_value")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    return j.select(
        "user_id",
        "day",
        F.round(interp, 6).cast("double").alias("value_interp"),
        F.col("avg_value").isNotNull().alias("is_observed"),
    )


INTERPOLATED_DAILY_USER_VALUE_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE)
               / CAST(COUNT(value) AS DOUBLE) AS avg_value
    FROM events GROUP BY 1, 2
), span AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), grid AS (
    SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
), j AS (
    SELECT g.user_id, g.day, d.avg_value FROM grid g
    LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
), br AS (
    SELECT user_id, day, avg_value,
           LAST_VALUE(avg_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
           LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
           FIRST_VALUE(avg_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
           FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
    FROM j
)
SELECT user_id, day,
       CAST(ROUND(CASE WHEN avg_value IS NOT NULL THEN avg_value
                       ELSE prev_v + (next_v - prev_v)
                            * (CAST(date_diff('day', prev_d, day) AS DOUBLE)
                               / CAST(date_diff('day', prev_d, next_d) AS DOUBLE))
                  END, 6) AS DOUBLE) AS value_interp,
       avg_value IS NOT NULL AS is_observed
FROM br
"""


# ---------------------------------------------------------------------------
# Fuzzy entity matching with blocking
# ---------------------------------------------------------------------------

def _banded_name_pairs(
    spark: SparkSession, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Length-banded blocked fuzzy join over (id_col, p_name, p_size)
    nodes: every unordered pair within edit distance 3, blocked on
    (p_size, length band) — shared by ``fuzzy_part_name_pairs`` (part
    grain) and ``canonical_entities_parts`` (distinct-name grain), so the
    threshold and the lossless-banding invariant can never drift apart.

    Block key = (p_size, length band): a pair within edit distance 3 has
    |len(a)−len(b)| ≤ 3 < 4, so with bucket = len div 4 the two sides sit
    in the same or adjacent buckets — the b side fans out to bucket ±1
    and the equi-join enumerates ONLY length-compatible candidates
    (lossless banding; round-6 verdict: plain p_size blocking probed
    20.2× at 16× because cross-length pairs enumerated then filtered).
    Exactly one join match per pair (a's bucket is a single value), so
    no dedup pass is needed. The explicit spread stays: the node relation
    is a dim-sized scan (1-2 input splits) and per-block levenshtein is
    CPU-dense, so repartition over the banded key keeps all cores busy.

    Two-stage filter on the banded pair space: (1) the exact
    length-difference guard — |len(a)−len(b)| > 3 implies distance > 3 —
    prunes adjacent-bucket pairs with two codegen'd ints before any DP
    runs; (2) the THRESHOLDED levenshtein (Spark 3.5+ 3-arg form)
    band-limits the DP to ±3 diagonals and early-exits, returning −1
    past the bound. For surviving pairs the thresholded value equals the
    full distance, so the oracle's plain levenshtein agrees.

    Returns (p_size, a_id, b_id, a_name, b_name, edit_distance) with
    a_id < b_id."""
    p = nodes.withColumn("lb", F.floor(F.length("p_name") / 4).cast("int"))
    a = p.select(
        F.col(id_col).alias("a_id"),
        F.col("p_name").alias("a_name"),
        "p_size",
        "lb",
    ).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "p_size", "lb"
    )
    b = p.select(
        F.col(id_col).alias("b_id"),
        F.col("p_name").alias("b_name"),
        "p_size",
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("lb"),
    )
    ed = F.levenshtein("a_name", "b_name", 3).cast("int")
    return (
        a.join(b, ["p_size", "lb"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.abs(F.length("a_name") - F.length("b_name")) <= 3)
        .select(
            "p_size",
            "a_id",
            "b_id",
            "a_name",
            "b_name",
            ed.alias("edit_distance"),
        )
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= 3))
    )


def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs: part names within edit distance 3,
    blocked on (p_size, length band) via ``_banded_name_pairs`` so the
    quadratic comparison runs per-block (classic blocking — the equi-join
    shuffles on the block key and each block's pair space is bounded,
    never an all-pairs cartesian; at corpus scale the block key would be
    a coarser canonical-name signature). The levenshtein filter runs
    JVM-side post-join. Distance-0 rows are exact name duplicates,
    surfaced rather than dropped — the dedup signal.
    """
    return _banded_name_pairs(
        spark, load_table(spark, sf_dir, "part"), "p_partkey"
    ).select(
        "p_size",
        F.col("a_id").alias("a_partkey"),
        F.col("b_id").alias("b_partkey"),
        "a_name",
        "b_name",
        "edit_distance",
    )


FUZZY_PART_NAME_PAIRS_ORACLE = """
SELECT a.p_size,
       a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
       a.p_name AS a_name, b.p_name AS b_name,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_distance
FROM part a JOIN part b
  ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def fellegi_sunter_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter with DATA-ESTIMATED u parameters — the estimation
    half of the F-S model that ``fellegi_sunter_linkage_parts`` (the
    configured-weights decision-rule surface further down this module)
    deliberately leaves as configuration: there u/m enter as literals and
    the output is the three-class decision summary; here the u's (chance
    agreement rates) are measured from the blocked-pair population itself
    — the one F-S parameter that never needs labels — and the output is
    the pair-grain match list. Blocked candidate pairs (p_size, the
    established blocking key) compare on three fields (name
    levenshtein ≤ 1, brand equality, type equality);
    each field contributes log(m/u) when it agrees and log((1−m)/(1−u))
    when it doesn't; pairs with positive total weight (more likely match
    than non-match under the model) are emitted with their agreement
    count. m-priors are the textbook unsupervised 0.9 literals; u's (the
    chance-agreement rates) are estimated from the blocked pair
    population itself — the standard no-labels starting point, stated.

    Scale shape — the full blocked quadratic is NEVER enumerated:
    (a) the u denominators/numerators are CLOSED FORMS over group sizes —
    n = Σ_size C(cnt,2), c_brand = Σ_(size,brand) C(cnt,2), c_type
    likewise (three dimension-grain aggregates), and c_name comes from the
    length-banded name join ``fuzzy_part_name_pairs`` already uses
    (complete for the ≤1 cut); (b) only CANDIDATE pairs are scored — the
    union of the three per-field agreement joins — because a pair
    disagreeing on every field has strictly negative weight (every
    disagree term is negative) and can never reach the positive-weight
    output. Measured at sf0.1: 0.9 M candidates scored instead of the
    4.0 M-pair block quadratic, identical output (pinned in pytest by
    brute-force comparison at sf0.001).
    Exactness: agreement flags are levenshtein/equality (both proven
    cross-engine), u ratios stay as INTEGER ln arguments via
    ln(u) = ln(c) − ln(n) (each ln of a bigint, rounded at 9), and the
    ln(m)/ln(1−m) constants are Python-float literals embedded verbatim
    in both engines — no ln of an arbitrary double anywhere."""
    import math

    lm = repr(math.log(0.9))    # ln m      (agree, match)
    l1m = repr(math.log(0.1))   # ln (1−m)  (disagree, match)
    part = load_table(spark, sf_dir, "part")

    def blocked_pair_count(*keys: str) -> Column:
        counts = part.groupBy(*keys).agg(F.count("*").alias("cnt"))
        return counts.agg(
            F.sum(F.expr("CAST(cnt AS BIGINT) * (cnt - 1) DIV 2"))
            .cast("bigint")
            .alias("c")
        )

    name_pairs = (
        _banded_name_pairs(spark, part, "p_partkey")
        .filter(F.col("edit_distance") <= 1)
        .select(F.col("a_id").alias("a_key"), F.col("b_id").alias("b_key"))
        .localCheckpoint(eager=False)  # feeds the candidate union AND c_name
    )

    def agree_pairs(col: str) -> DataFrame:
        a = part.select(F.col("p_partkey").alias("a_key"), "p_size", col)
        b = part.select(F.col("p_partkey").alias("b_key"), "p_size", col)
        return (
            a.join(b, ["p_size", col])
            .filter(F.col("a_key") < F.col("b_key"))
            .select("a_key", "b_key")
        )

    cands = (
        name_pairs.unionByName(agree_pairs("p_brand"))
        .unionByName(agree_pairs("p_type"))
        .distinct()
    )
    attrs = part.select("p_partkey", "p_name", "p_brand", "p_type")
    flagged = (
        cands.join(
            attrs.select(
                F.col("p_partkey").alias("a_key"),
                F.col("p_name").alias("a_name"),
                F.col("p_brand").alias("a_brand"),
                F.col("p_type").alias("a_type"),
            ),
            "a_key",
        )
        .join(
            attrs.select(
                F.col("p_partkey").alias("b_key"),
                F.col("p_name").alias("b_name"),
                F.col("p_brand").alias("b_brand"),
                F.col("p_type").alias("b_type"),
            ),
            "b_key",
        )
        .select(
            "a_key",
            "b_key",
            (F.levenshtein("a_name", "b_name") <= 1).cast("int").alias("ag_name"),
            (F.col("a_brand") == F.col("b_brand")).cast("int").alias("ag_brand"),
            (F.col("a_type") == F.col("b_type")).cast("int").alias("ag_type"),
        )
    )
    u = (
        blocked_pair_count("p_size").select(F.col("c").alias("n"))
        .crossJoin(
            name_pairs.agg(F.count("*").cast("bigint").alias("c_name"))
        )
        .crossJoin(blocked_pair_count("p_size", "p_brand").select(F.col("c").alias("c_brand")))
        .crossJoin(blocked_pair_count("p_size", "p_type").select(F.col("c").alias("c_type")))
    )

    def ln9(c: Column) -> Column:
        return F.round(F.log(c.cast("double")), 9)

    def field_w(flag: str, c: str) -> Column:
        agree = F.expr(lm) + ln9(F.col("n")) - ln9(F.col(c))
        disagree = F.expr(l1m) + ln9(F.col("n")) - ln9(F.col("n") - F.col(c))
        return F.when(F.col(flag) == 1, agree).otherwise(disagree)

    scored = flagged.crossJoin(F.broadcast(u)).select(
        F.col("a_key").alias("a_partkey"),
        F.col("b_key").alias("b_partkey"),
        (F.col("ag_name") + F.col("ag_brand") + F.col("ag_type"))
        .cast("int")
        .alias("n_agree"),
        F.round(
            field_w("ag_name", "c_name")
            + field_w("ag_brand", "c_brand")
            + field_w("ag_type", "c_type"),
            6,
        )
        .cast("double")
        .alias("weight"),
    )
    return scored.filter(F.col("weight") > 0)


def _fs_field_sql(flag: str, c: str) -> str:
    import math

    lm = repr(math.log(0.9))
    l1m = repr(math.log(0.1))
    return (
        f"CASE WHEN {flag} = 1 THEN {lm} + ROUND(ln(CAST(n AS DOUBLE)), 9)"
        f" - ROUND(ln(CAST({c} AS DOUBLE)), 9)"
        f" ELSE {l1m} + ROUND(ln(CAST(n AS DOUBLE)), 9)"
        f" - ROUND(ln(CAST(n - {c} AS DOUBLE)), 9) END"
    )


FELLEGI_SUNTER_PART_LINKAGE_ORACLE = f"""
WITH pairs AS MATERIALIZED (
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           CAST(levenshtein(a.p_name, b.p_name) <= 1 AS INT) AS ag_name,
           CAST(a.p_brand = b.p_brand AS INT) AS ag_brand,
           CAST(a.p_type = b.p_type AS INT) AS ag_type
    FROM part a JOIN part b
      ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
), u AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ag_name) AS BIGINT) AS c_name,
           CAST(SUM(ag_brand) AS BIGINT) AS c_brand,
           CAST(SUM(ag_type) AS BIGINT) AS c_type
    FROM pairs
)
SELECT a_key AS a_partkey, b_key AS b_partkey,
       CAST(ag_name + ag_brand + ag_type AS INT) AS n_agree, weight
FROM (
    SELECT a_key, b_key, ag_name, ag_brand, ag_type,
           CAST(ROUND({_fs_field_sql('ag_name', 'c_name')}
                 + {_fs_field_sql('ag_brand', 'c_brand')}
                 + {_fs_field_sql('ag_type', 'c_type')}, 6) AS DOUBLE) AS weight
    FROM pairs CROSS JOIN u
) WHERE weight > 0
"""


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph
# ---------------------------------------------------------------------------

def pagerank_copurchase_parts(
    spark: SparkSession, sf_dir: str, iters: int = 3
) -> DataFrame:
    """PageRank (d=0.85, fixed {iters} iterations) over the part
    co-purchase graph — link analysis beyond the connected-components the
    dedup layer already runs. Edges: parts sharing an order (symmetric, so
    no dangling mass). Each iteration joins the node-grain outgoing-mass
    map (pr/outdeg, computed once per NODE) into the checkpointed edge
    table — broadcast while n·32 B fits the 10 MB ceiling, shuffle-on-src
    past it — then one aggregation on dst: the standard distributed
    PageRank shape; rank state is O(nodes), edge state O(edges), both
    partitioned. The oriented pair build (src < dst, then mirror) halves
    the self-join and dedup volume; N arrives via a single bounded scalar
    action (same policy as the z-order bounds row).

    Per-iteration neighbor sums aggregate in DECIMAL(38,18) — each edge's
    contribution pr/outdeg is a bitwise-identical double on both engines,
    the decimal sum is order-independent, so every intermediate rank
    vector (not just the rounded output) matches the oracle bitwise.
    """
    # ORIENTED pair set (src < dst) straight from per-order baskets
    # (functions/pairs.py, r12): one groupBy(l_orderkey) exchange replaces
    # the old distinct + repartition + self-join (three exchanges of the
    # fact projection); the pair multiset is identical, so the dedup
    # distinct, degrees, every rank vector, and the oracle are unchanged.
    ori = (
        basket_pairs(
            load_table(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "l_partkey",
            a="src",
            b="dst",
        )
        .select(F.col("src").cast("bigint"), F.col("dst").cast("bigint"))
        .distinct()
    )
    # The mirror union is narrow (no shuffle); the symmetric edge table
    # checkpoints WITHOUT a per-edge degree column (r7 verdict ask #7):
    # the old edges⋈deg pre-join shuffled and materialized 2E degree-wide
    # rows, but pr/outdeg is constant per NODE — so degree lives in a
    # node-grain table and the division happens once per node per
    # iteration, not once per edge. Edge checkpoint is 2 longs/row.
    edges = ori.unionByName(
        ori.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # one node-grain pass serves the n scalar, the rank-0 vector, AND the
    # per-iteration divisor
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("outdeg"))
        .localCheckpoint()
    )
    n = deg.count()  # bounded scalar action
    base = F.lit(0.15 / n)
    ranks = deg.select(F.col("src").alias("id"), F.lit(1.0 / n).alias("pr"))
    # The outgoing-mass map (node, pr/outdeg) is O(nodes) — broadcast it
    # into the edge scan while it plausibly fits an executor (n is already
    # a collected scalar, so the gate is deterministic: ~32 B/row vs the
    # SESSION's broadcast ceiling — honoring a lowered or disabled (-1)
    # autoBroadcastJoinThreshold like the TPC-H dims do, round-8 advisor
    # finding); past that the same join runs as a shuffle on src, which is
    # the correct strategy for a rank vector that outgrew the broadcast.
    # Measured min-of-3 at sf0.1: 6.1 → 3.4 s.
    from data_ingestion_pipeline_spark.plans.join_strategies import (
        auto_broadcast_threshold,
    )

    ceiling = auto_broadcast_threshold(spark)
    small_ranks = ceiling >= 0 and n * 32 <= ceiling
    for _ in range(iters):
        pr_out = ranks.join(deg, ranks.id == deg.src).select(
            F.col("id").alias("s"),
            (F.col("pr") / F.col("outdeg")).alias("c"),
        )
        if small_ranks:
            pr_out = F.broadcast(pr_out)
        contrib = edges.join(pr_out, edges.src == F.col("s")).select(
            F.col("dst").alias("id"), "c"
        )
        # DECIMAL(18,18), not (38,18): |c| < 1 always (pr mass ≤ 1, outdeg
        # ≥ 1), so 18 integer-free digits hold every contribution and the
        # cast rounds the identical double to the same 18 fractional digits
        # the oracle's wider DECIMAL(38,18) cast does — but precision ≤ 18
        # keeps Spark's decimal long-backed (no BigDecimal per row; ~1.8s
        # faster over 3×2.4M contributions at sf0.1).
        ranks = contrib.groupBy("id").agg(
            (base + F.lit(0.85) * dec_sum(F.col("c"), 18, 18).cast("double")).alias(
                "pr"
            )
        )
    return ranks.select(
        F.col("id").alias("p_partkey"),
        F.round(F.col("pr") * F.lit(float(n)), 6).cast("double").alias("rank_scaled"),
    )


PAGERANK_COPURCHASE_PARTS_ORACLE = """
WITH edges AS (
    SELECT DISTINCT CAST(l1.l_partkey AS BIGINT) AS src,
                    CAST(l2.l_partkey AS BIGINT) AS dst
    FROM lineitem l1 JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
), deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n FROM edges),
r0 AS (SELECT DISTINCT src AS id, 1.0 / (SELECT n FROM nn) AS pr FROM edges),
r1 AS (
    SELECT e.dst AS id,
           0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(SUM(CAST(r0.pr / d.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS pr
    FROM edges e JOIN r0 ON e.src = r0.id JOIN deg d ON e.src = d.src GROUP BY e.dst
), r2 AS (
    SELECT e.dst AS id,
           0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(SUM(CAST(r1.pr / d.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS pr
    FROM edges e JOIN r1 ON e.src = r1.id JOIN deg d ON e.src = d.src GROUP BY e.dst
), r3 AS (
    SELECT e.dst AS id,
           0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(SUM(CAST(r2.pr / d.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS pr
    FROM edges e JOIN r2 ON e.src = r2.id JOIN deg d ON e.src = d.src GROUP BY e.dst
)
SELECT id AS p_partkey,
       CAST(ROUND(pr * CAST((SELECT n FROM nn) AS DOUBLE), 6) AS DOUBLE)
           AS rank_scaled
FROM r3
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the customer → part purchase graph
# ---------------------------------------------------------------------------

def hits_authorities_parts(
    spark: SparkSession, sf_dir: str, iters: int = 3
) -> DataFrame:
    """HITS (Kleinberg 1999, public paper) over the bipartite purchase
    graph — the mutual-reinforcement link score PageRank's single random
    walk can't express: customers are hubs, parts are authorities, edges
    are distinct (o_custkey, l_partkey) purchase facts. ``iters``
    authority updates (a = Σ_edges h, L2-normalized) interleave with
    ``iters``−1 hub updates; h₀ = 1, so the first authority vector is the
    normalized in-degree and every later one mixes in hub quality.

    Scale shape follows the PageRank loop one section up: the edge table
    is built once (orders⋈lineitem, distinct, checkpointed — 2 longs/row),
    per-iteration state is one O(customers) or O(parts) node map joined
    into the edge scan — broadcast while n·32 B fits the SESSION's
    broadcast ceiling (never when auto-broadcast is disabled), shuffled on
    the join key past it — and each raw node vector is lazily pinned
    before its norm so the norm's cross-join doesn't double-evaluate the
    edge join (the ``_pca_state`` pin policy; pins are GC-owned
    localCheckpoints, no CacheManager entry).

    Exactness follows the house iterative rule: per-node sums aggregate
    round-9 doubles in DECIMAL(38,20) (order-independent), norms are
    SQRT of a decimal sum (correctly-rounded double), and each update
    re-rounds at 9 — so every intermediate hub/authority vector is
    bitwise-identical to the oracle's unrolled CTE chain.
    """
    from data_ingestion_pipeline_spark.plans.join_strategies import (
        auto_broadcast_threshold,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("c"),
            F.col("l_partkey").cast("bigint").alias("p"),
        )
        .distinct()
        .localCheckpoint()
    )
    ceiling = auto_broadcast_threshold(spark)
    # bounded scalar actions, same policy as PageRank's n — ONE two-distinct
    # aggregate pass over the pinned edges instead of two distinct+count
    # jobs (r12, the ALS fusion)
    _cnts = edges.agg(
        F.countDistinct("c").alias("nc"), F.countDistinct("p").alias("np")
    ).first()
    n_c, n_p = int(_cnts["nc"]), int(_cnts["np"])

    def gated(node_map: DataFrame, n: int) -> DataFrame:
        return F.broadcast(node_map) if (ceiling >= 0 and n * 32 <= ceiling) else node_map

    def normalized(raw: DataFrame, key: str, out: str) -> DataFrame:
        # pin the raw node vector: the norm aggregate AND the division both
        # consume it, and without the pin each iteration would double the
        # edge-join subtree (2^k replays by the last iteration)
        raw = raw.localCheckpoint(eager=False)
        nrm = raw.agg(
            F.sqrt(
                F.sum((F.col("u") * F.col("u")).cast("decimal(38,20)")).cast("double")
            ).alias("nrm")
        )
        return raw.crossJoin(F.broadcast(nrm)).select(
            key, F.round(F.col("u") / F.col("nrm"), 9).alias(out)
        )

    h = edges.select("c").distinct().withColumn("h", F.lit(1.0))
    a = None
    for i in range(iters):
        ar = (
            edges.join(gated(h, n_c), "c")
            .groupBy("p")
            .agg(F.sum(F.col("h").cast("decimal(38,20)")).cast("double").alias("u"))
        )
        a = normalized(ar, "p", "a")
        if i < iters - 1:
            hr = (
                edges.join(gated(a, n_p), "p")
                .groupBy("c")
                .agg(F.sum(F.col("a").cast("decimal(38,20)")).cast("double").alias("u"))
            )
            h = normalized(hr, "c", "h")
    return a.select(F.col("p").alias("p_partkey"), F.col("a").alias("authority"))


def _hits_oracle(iters: int = 3) -> str:
    """Unrolled CTE chain mirroring hits_authorities_parts step for step
    (the _pca_oracle_chain pattern): aK = round-9 L2-normalized edge sum
    of h_{K-1}, hK likewise of aK."""
    head = """
WITH edges AS (
    SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
                    CAST(l.l_partkey AS BIGINT) AS p
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
h0 AS (SELECT DISTINCT c, 1.0 AS h FROM edges)"""
    blocks = []
    prev_h = "h0"
    for k in range(1, iters + 1):
        blocks.append(f"""
, a{k}r AS (
    SELECT e.p, CAST(SUM(CAST(h.h AS DECIMAL(38,20))) AS DOUBLE) AS u
    FROM edges e JOIN {prev_h} h ON e.c = h.c GROUP BY e.p
), a{k}n AS (
    SELECT SQRT(CAST(SUM(CAST(u * u AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
    FROM a{k}r
), a{k} AS (
    SELECT p, ROUND(u / nrm, 9) AS a FROM a{k}r CROSS JOIN a{k}n
)""")
        if k < iters:
            blocks.append(f"""
, h{k}r AS (
    SELECT e.c, CAST(SUM(CAST(a.a AS DECIMAL(38,20))) AS DOUBLE) AS u
    FROM edges e JOIN a{k} a ON e.p = a.p GROUP BY e.c
), h{k}n AS (
    SELECT SQRT(CAST(SUM(CAST(u * u AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
    FROM h{k}r
), h{k} AS (
    SELECT c, ROUND(u / nrm, 9) AS h FROM h{k}r CROSS JOIN h{k}n
)""")
            prev_h = f"h{k}"
    return (
        head
        + "".join(blocks)
        + f"""
SELECT p AS p_partkey, a AS authority FROM a{iters}
"""
    )


HITS_AUTHORITIES_PARTS_ORACLE = _hits_oracle()


# ---------------------------------------------------------------------------
# Chi-square independence scan (event type × ISO weekday)
# ---------------------------------------------------------------------------

def chi_square_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type chi-square contribution against the independence
    hypothesis over ISO weekday — the contingency-table scan behind
    seasonality QA. The contingency table is one shuffle (35 rows);
    marginals come from window sums OVER THE AGGREGATE, so no second pass
    over the facts. Cell terms (obs-exp)²/exp are doubles built from exact
    bigint counts (identical in both engines); the 7-term per-type fold
    sums in decimal. Weekday parity: Spark ``weekday()+1`` == DuckDB
    ``isodow()`` (1=Monday..7) — the two engines' default DOW origins
    differ, so neither default is used.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).cast("int").alias("isodow")
    ).agg(F.count("*").cast("bigint").alias("obs"))
    row_t = Window.partitionBy("event_type")
    col_t = Window.partitionBy("isodow")
    grand = Window.partitionBy()
    exp = (
        F.sum("obs").over(row_t).cast("double")
        * F.sum("obs").over(col_t).cast("double")
        / F.sum("obs").over(grand).cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    return (
        cells.select("event_type", term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.round(dec_sum(F.col("term"), 27, 12), 6)
            .cast("double")
            .alias("chi2_component")
        )
    )


def mutual_information_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mutual-information contribution against ISO weekday —
    the information-theoretic member of the association family beside the
    chi-square scan above and Cramér's V (effect size): I(X;Y) =
    Σ (n_xy/N)·ln(N·n_xy/(n_x·n_y)), reported per event type so the types
    driving the dependence are visible (their sum is the corpus MI).

    Same plan shape as the chi-square scan: ONE contingency aggregate
    (35 cells), marginals via windows over that aggregate — the facts are
    scanned once. Exactness via the house libm policy with the ratio
    decomposed to INTEGER-only logarithms: ln(N·n_xy/(n_x·n_y)) =
    ln N + ln n_xy − ln n_x − ln n_y, each ln of a bigint rounded at 9,
    combined left-associatively in double, weighted by the exact ratio
    n_xy/N, then summed in decimal — both engines sum identical terms.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).cast("int").alias("isodow")
    ).agg(F.count("*").cast("bigint").alias("obs"))
    nx = F.sum("obs").over(Window.partitionBy("event_type")).cast("bigint")
    ny = F.sum("obs").over(Window.partitionBy("isodow")).cast("bigint")
    n = F.sum("obs").over(Window.partitionBy()).cast("bigint")
    m = cells.select("event_type", "obs", nx.alias("nx"), ny.alias("ny"), n.alias("n"))

    def ln9(c: Column) -> Column:
        return F.round(F.log(c.cast("double")), 9)

    term = (F.col("obs").cast("double") / F.col("n").cast("double")) * (
        ln9(F.col("n")) + ln9(F.col("obs")) - ln9(F.col("nx")) - ln9(F.col("ny"))
    )
    return (
        m.select("event_type", term.alias("t"))
        .groupBy("event_type")
        .agg(
            F.round(dec_sum(F.col("t"), 27, 12), 6)
            .cast("double")
            .alias("mi_component")
        )
    )


MUTUAL_INFORMATION_EVENT_DOW_ORACLE = """
WITH cells AS (
    SELECT event_type, CAST(isodow(ts) AS INTEGER) AS isodow,
           CAST(COUNT(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
), m AS (
    SELECT event_type, obs,
           CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS nx,
           CAST(SUM(obs) OVER (PARTITION BY isodow) AS BIGINT) AS ny,
           CAST(SUM(obs) OVER () AS BIGINT) AS n
    FROM cells
)
SELECT event_type,
       CAST(ROUND(SUM(CAST(
           (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE)) *
           (ROUND(ln(CAST(n AS DOUBLE)), 9) + ROUND(ln(CAST(obs AS DOUBLE)), 9)
            - ROUND(ln(CAST(nx AS DOUBLE)), 9) - ROUND(ln(CAST(ny AS DOUBLE)), 9))
       AS DECIMAL(27,12))), 6) AS DOUBLE) AS mi_component
FROM m GROUP BY event_type
"""


CHI_SQUARE_EVENT_DOW_ORACLE = """
WITH cells AS (
    SELECT event_type, CAST(isodow(ts) AS INTEGER) AS isodow,
           CAST(COUNT(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
), terms AS (
    SELECT event_type,
           (CAST(obs AS DOUBLE)
            - CAST(SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(obs) OVER (PARTITION BY isodow) AS DOUBLE)
              / CAST(SUM(obs) OVER () AS DOUBLE))
           * (CAST(obs AS DOUBLE)
              - CAST(SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
                * CAST(SUM(obs) OVER (PARTITION BY isodow) AS DOUBLE)
                / CAST(SUM(obs) OVER () AS DOUBLE))
           / (CAST(SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(obs) OVER (PARTITION BY isodow) AS DOUBLE)
              / CAST(SUM(obs) OVER () AS DOUBLE)) AS term
    FROM cells
)
SELECT event_type,
       CAST(ROUND(SUM(CAST(term AS DECIMAL(27,12))), 6) AS DOUBLE)
           AS chi2_component
FROM terms GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier profile
# ---------------------------------------------------------------------------

def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier profile per event type — the robust sibling of
    ``event_value_outliers`` (whose mean/σ are dragged by the very points
    being hunted). Two aggregate-then-broadcast-join passes (median, then
    MAD of residuals) — the same no-Window-over-facts shape as the z-score
    query. Exact interpolated percentiles are the fixture path; the
    GK-sketch variant is the registered 100 TB path for quantiles. The
    engines' interpolation arithmetic can differ in the last ulp, so med
    and MAD are rounded to 6dp BEFORE the membership comparison on both
    sides — membership is then a pure function of bitwise-equal inputs.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type")
    is_out = F.round(
        F.col("adev") / (F.lit(1.4826) * F.col("mad")), 6
    ) > F.lit(3.0)
    return scored.groupBy("event_type").agg(
        F.first("med").alias("median_value"),
        F.first("mad").alias("mad_value"),
        F.sum(is_out.cast("bigint")).cast("bigint").alias("n_outliers"),
        F.count("*").cast("bigint").alias("n_total"),
    )


ROBUST_OUTLIERS_MAD_ORACLE = """
WITH med AS (
    SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
    FROM events GROUP BY 1
), dev AS (
    SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
    SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
    FROM dev GROUP BY 1
)
SELECT d.event_type,
       ANY_VALUE(d.med) AS median_value,
       ANY_VALUE(ma.mad) AS mad_value,
       CAST(SUM(CASE WHEN ROUND(d.adev / (1.4826 * ma.mad), 6) > 3.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM dev d JOIN mad ma ON d.event_type = ma.event_type
GROUP BY d.event_type
"""


# ---------------------------------------------------------------------------
# Time-weighted average per user-day
# ---------------------------------------------------------------------------

def twap_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user-day (each reading weighted by
    how long it was 'current' — until the next event that day). The gap
    comes from one lead() over the per-user-day sort; the weighted sum
    aggregates exactly in decimal (value × µs-gap are bitwise-identical
    doubles both sides). Days with a single event have no weighted segment
    and drop out — same as the oracle's NULL-gap filter. Spark
    ``unix_micros`` == DuckDB ``epoch_us`` (µs since epoch, exact longs).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "value",
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id", "day").agg(
        F.round(
            dec_sum(F.col("value") * F.col("gap_us").cast("double"), 38, 12).cast(
                "double"
            )
            / dec_sum(F.col("gap_us").cast("double"), 38, 12).cast("double"),
            6,
        )
        .cast("double")
        .alias("twap_value"),
        F.count("*").cast("bigint").alias("n_segments"),
    )


TWAP_USER_DAY_ORACLE = """
WITH gaps AS (
    SELECT user_id, CAST(ts AS DATE) AS day, value,
           LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
           ) - epoch_us(ts) AS gap_us
    FROM events
)
SELECT user_id, day,
       CAST(ROUND(
           CAST(SUM(CAST(value * CAST(gap_us AS DOUBLE) AS DECIMAL(38,12)))
                AS DOUBLE)
           / CAST(SUM(CAST(CAST(gap_us AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE),
           6) AS DOUBLE) AS twap_value,
       CAST(COUNT(*) AS BIGINT) AS n_segments
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY user_id, day
"""


# ---------------------------------------------------------------------------
# EWMA via sequential higher-order fold
# ---------------------------------------------------------------------------

def ewma_user_value(spark: SparkSession, sf_dir: str, alpha: float = 0.3) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    the recursive fold SQL aggregates can't express (EWMA_t depends on
    EWMA_{t-1}), run as a sequential higher-order ``aggregate`` over the
    user's time-ordered value array. Both engines fold left in index
    order with the SAME lambda (init = first element), so the chain of
    IEEE ops is identical — no decimal trick needed for parity. Per-key
    state is the user's own series (bounded: ≤ a few thousand events);
    the 100 TB shape chunks the fold by (user, month) and carries the
    chunk-final EWMA forward, exactly like the streaming stateful fold
    (``streaming/stateful.py``). collect_list + array_sort keeps the sort
    partition-local; struct order (ts, event_id, value) makes it total.
    """
    ev = load_table(spark, sf_dir, "events")
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s.value,
    )
    a = F.lit(alpha)
    folded = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1).cast("double"),
        lambda acc, x: a * x + (F.lit(1.0) - a) * acc,
    )
    return ev.groupBy("user_id").agg(
        F.round(folded, 6).cast("double").alias("ewma_value"),
        F.count("*").cast("bigint").alias("n_events"),
    )


EWMA_USER_VALUE_ORACLE = """
SELECT user_id,
       CAST(ROUND(list_reduce(list(value ORDER BY ts, event_id),
                              (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc), 6)
            AS DOUBLE) AS ewma_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Co-purchase association mining (support / lift / PMI)
# ---------------------------------------------------------------------------

def copurchase_lift_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: support, lift and PMI for
    part pairs co-purchased in ≥2 orders. The pair space is generated by
    the per-order self-join (bounded by basket size, never cartesian) and
    immediately aggregated with a HAVING-style support filter — the
    standard frequent-itemset prune that keeps the candidate set sparse
    at corpus scale. Marginal counts broadcast onto the surviving pairs;
    the order total rides a broadcast single-row aggregate instead of a
    driver-side count. lift is a pure bigint ratio in double; PMI rounds
    away any libm log2 ulp skew.
    """
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # pair space from per-order baskets (functions/pairs.py, r12): one
    # exchange, no self-join; identical pair multiset, so support counts
    # and the oracle are unchanged
    co = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
    )
    cnt = po.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("c"))
    tot = po.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    lift = (
        F.col("support").cast("double") * F.col("n_orders").cast("double")
    ) / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    return (
        co.join(F.broadcast(cnt.select(F.col("l_partkey").alias("a"), F.col("c").alias("ca"))), "a")
        .join(F.broadcast(cnt.select(F.col("l_partkey").alias("b"), F.col("c").alias("cb"))), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "support",
            F.round(lift, 6).cast("double").alias("lift"),
            F.round(F.log2(lift), 6).cast("double").alias("pmi"),
        )
    )


COPURCHASE_LIFT_PARTS_ORACLE = """
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM po),
cnt AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM po GROUP BY 1),
co AS (
    SELECT p1.l_partkey AS a, p2.l_partkey AS b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT co.a, co.b, co.support,
       CAST(ROUND((CAST(co.support AS DOUBLE) * CAST(tot.n_orders AS DOUBLE))
                  / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS DOUBLE)
           AS lift,
       CAST(ROUND(LOG2((CAST(co.support AS DOUBLE) * CAST(tot.n_orders AS DOUBLE))
                       / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))), 6)
            AS DOUBLE) AS pmi
FROM co JOIN cnt ca ON ca.l_partkey = co.a
        JOIN cnt cb ON cb.l_partkey = co.b
        CROSS JOIN tot
"""


def item_item_cosine_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering neighbors: cosine similarity
    over binary order-basket incidence vectors — cos(i,j) =
    co(i,j)/√(nᵢ·nⱼ) — with the top-10 neighbors per item. The classic
    "customers who bought X also bought" kernel, sharing its pair grain
    with ``copurchase_lift_parts`` but producing a per-item ranked
    neighbor list rather than global association scores.

    Scale posture: the pair space is the per-basket self-join (bounded by
    basket size — at web scale the standard mitigations are a basket cap
    or DIMSUM row-norm sampling; order baskets are size-bounded so the
    exact kernel is the right default), pruned by the support ≥ 2 filter
    BEFORE marginals broadcast on; the ranking window is keyed per item
    (thousands of partitions, never a global sort), and ranking happens
    on the ROUNDED cosine with an id tie-break so both engines rank
    identical values identically."""
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # pair space from per-order baskets (functions/pairs.py, r12): one
    # exchange, no self-join; identical pair multiset, so support counts
    # and the oracle are unchanged
    co = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
    )
    cnt = po.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("c"))
    cos = (
        co.join(
            F.broadcast(
                cnt.select(F.col("l_partkey").alias("a"), F.col("c").alias("ca"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                cnt.select(F.col("l_partkey").alias("b"), F.col("c").alias("cb"))
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "support",
            F.round(
                F.col("support").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double")),
                6,
            ).alias("cosine"),
        )
        # support≥2 pair-grain relation with the basket self-join in its
        # lineage and TWO consumers (both sym branches): unpinned, the
        # whole co-occurrence pipeline ran twice (16 parquet-scan refs,
        # r11 census). Pin — deterministic, lineage-only.
        .localCheckpoint()
    )
    sym = cos.select(
        F.col("a").alias("item"),
        F.col("b").alias("neighbor"),
        "support",
        "cosine",
    ).unionByName(
        cos.select(
            F.col("b").alias("item"),
            F.col("a").alias("neighbor"),
            "support",
            "cosine",
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), F.asc("neighbor"))
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("item", "neighbor", "support", "cosine", F.col("rnk").cast("int"))
    )


ITEM_ITEM_COSINE_TOPK_PARTS_ORACLE = """
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM po GROUP BY 1),
co AS (
    SELECT p1.l_partkey AS a, p2.l_partkey AS b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
cos AS (
    SELECT a, b, support,
           ROUND(CAST(support AS DOUBLE)
                 / SQRT(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6)
               AS cosine
    FROM co JOIN cnt ca ON ca.l_partkey = co.a
            JOIN cnt cb ON cb.l_partkey = co.b
),
sym AS (
    SELECT a AS item, b AS neighbor, support, cosine FROM cos
    UNION ALL
    SELECT b AS item, a AS neighbor, support, cosine FROM cos
),
r AS (
    SELECT item, neighbor, support, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY item
                                   ORDER BY cosine DESC, neighbor) AS INTEGER)
               AS rnk
    FROM sym
)
SELECT item, neighbor, support, cosine, rnk FROM r WHERE rnk <= 10
"""


# ---------------------------------------------------------------------------
# Triangle counting with degree orientation
# ---------------------------------------------------------------------------

def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the support-≥2 co-purchase graph — the
    clustering-structure statistic CC and PageRank don't give. Uses the
    classic degree-orientation trick: orient every undirected edge from
    the (degree, id)-smaller endpoint to the larger, so each triangle is
    counted exactly once and the wedge join's fan-out is bounded by
    out-degree ≤ O(√E) — the property that makes distributed triangle
    counting feasible on skewed graphs (a hub's wedges collapse to the
    orientation's small side). Two equi-joins, no cartesian; the support
    threshold is the same sparsity prune the lift query applies.
    """
    und = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select("a", "b")
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint()
    )
    e1 = ori.select(F.col("u").alias("u1"), F.col("v").alias("v1"))
    e2 = ori.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    wedges = e1.join(e2, "v1")
    closing = ori.select(F.col("u").alias("u1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["u1", "v2"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n_edges = und.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(n_nodes)).crossJoin(F.broadcast(n_edges))
    )


TRIANGLE_COUNT_COPURCHASE_ORACLE = """
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
    SELECT p1.l_partkey AS a, p2.l_partkey AS b
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
), deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
    ) GROUP BY node
), ori AS (
    SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
           CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v
    FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ori e1
        JOIN ori e2 ON e1.v = e2.u
        JOIN ori e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges
"""


# ---------------------------------------------------------------------------
# k-core peeling over the co-purchase graph
# ---------------------------------------------------------------------------

def kcore_peel_copurchase_parts(
    spark: SparkSession, sf_dir: str, rounds: int = 6
) -> DataFrame:
    """Bounded k-core peeling (Seidman 1983's cores via the standard
    iterative degree-prune) over the SAME support-≥2 co-purchase graph the
    triangle census reads — the density-tier decomposition that separates
    a catalog's stable cross-sell core from its one-off fringe. k is
    max(⌊E/N⌋, 2) — half the mean degree, floored at 2 (a scale-relative
    threshold: a fixed literal peels nothing at one SF and everything at
    another, and the FULL mean degree empties the dense sf0.001 graph);
    each round recomputes degrees over the surviving edge set and drops
    nodes below k. ``rounds`` is FIXED at 6 — the repo's bounded-iteration
    policy (PageRank 3, PCA 5): output is the round-6 survivor set with
    its degrees, the exact k-core iff peeling has stabilized — measured
    stabilization depth is 2 / 3 / 6 rounds on sf0.001/0.01/0.1, so the
    output IS the k-core on all three fixtures (round 7 == round 6,
    pinned in pytest), a documented upper bound past that.

    Scale shape: per round one node-grain degree aggregate + two
    survivor semi-joins into the edge set (survivor maps broadcast under
    the session ceiling, shuffled past it); survivor and edge relations
    are lazily pinned per round — each feeds two consumers, and without
    the pin the round subtree would double per level. Degrees are exact
    bigints end to end, so there is no float policy to share with the
    oracle at all."""
    from data_ingestion_pipeline_spark.plans.join_strategies import (
        auto_broadcast_threshold,
    )

    edges = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select(F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b"))
        .localCheckpoint()
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("d"))
        )

    # bounded scalar actions (PageRank's n policy) — ONE pass over the
    # exploded endpoints yields both scalars (r12, the ALS count fusion):
    # the exploded row count is exactly 2m, the distinct node count is n
    _mn = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .agg(F.count("*").alias("m2"), F.countDistinct("node").alias("n"))
        .first()
    )
    m, n = int(_mn["m2"]) // 2, int(_mn["n"])
    k = max(m // max(n, 1), 2)
    ceiling = auto_broadcast_threshold(spark)

    def gated(nodes: DataFrame) -> DataFrame:
        # survivor sets are O(nodes); n only shrinks during peeling
        return F.broadcast(nodes) if (ceiling >= 0 and n * 16 <= ceiling) else nodes

    for _ in range(rounds):
        surv = (
            degrees(edges)
            .filter(F.col("d") >= k)
            .select("node")
            .localCheckpoint(eager=False)  # consumed by BOTH endpoint joins
        )
        edges = (
            edges.join(gated(surv.select(F.col("node").alias("a"))), "a", "left_semi")
            .join(gated(surv.select(F.col("node").alias("b"))), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)  # feeds next round's degrees AND joins
        )
    return degrees(edges).select(
        F.col("node").alias("p_partkey"), F.col("d").alias("core_degree")
    )


def _kcore_oracle(rounds: int = 6) -> str:
    # every multiply-consumed CTE is MATERIALIZED: DuckDB inlines CTEs by
    # default, and each peel round references the previous round's edge set
    # three times — inlined, the e0 subtree re-expands 3^rounds times (the
    # SQL twin of the 2^k replay the Spark side's lazy checkpoints pin away;
    # observed: the un-materialized 6-round chain ran minutes, this runs ms)
    head = """
WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
    SELECT CAST(p1.l_partkey AS BIGINT) AS a, CAST(p2.l_partkey AS BIGINT) AS b
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
kk AS MATERIALIZED (
    SELECT GREATEST(
        (SELECT COUNT(*) FROM e0)
        // GREATEST((SELECT COUNT(DISTINCT node) FROM
            (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)), 1),
        2) AS k
)"""
    blocks = []
    for r in range(1, rounds + 1):
        blocks.append(f"""
, d{r} AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM e{r-1} UNION ALL SELECT b FROM e{r-1}
    ) GROUP BY node
), s{r} AS MATERIALIZED (SELECT node FROM d{r}, kk WHERE d >= kk.k),
e{r} AS MATERIALIZED (
    SELECT a, b FROM e{r-1}
    WHERE a IN (SELECT node FROM s{r}) AND b IN (SELECT node FROM s{r})
)""")
    return (
        head
        + "".join(blocks)
        + f"""
SELECT node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
    SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
) GROUP BY node
"""
    )


KCORE_PEEL_COPURCHASE_PARTS_ORACLE = _kcore_oracle()


# ---------------------------------------------------------------------------
# Multi-touch linear attribution
# ---------------------------------------------------------------------------

def linear_attribution_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style multi-touch attribution: every purchase splits one
    unit of credit equally across the user's view/click touches in the
    preceding 6 hours; credit rolls up per (purchase day, touch type).
    The purchase↔touch pairing is a per-user banded join (equi on user +
    time-range predicate — the as-of family's shape, state bounded by the
    band); the per-purchase touch count is a window over the joined set
    PARTITIONED BY purchase, so normalization never re-reads the facts.
    1/n weights are exact rationals in double; the rollup sums in decimal.
    """
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"),
    )
    j = purch.join(
        touch,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("t_ts") < F.col("p_ts")),
    )
    w = Window.partitionBy("p_id")
    weighted = j.select(
        F.to_date("p_ts").alias("day"),
        "touch_type",
        (F.lit(1.0) / F.count("*").over(w).cast("double")).alias("credit"),
    )
    return weighted.groupBy("day", "touch_type").agg(
        F.round(dec_sum(F.col("credit"), 27, 12), 6)
        .cast("double")
        .alias("attributed_purchases"),
        F.count("*").cast("bigint").alias("n_touches"),
    )


LINEAR_ATTRIBUTION_DAILY_ORACLE = """
WITH j AS (
    SELECT p.event_id AS p_id, CAST(p.ts AS DATE) AS day,
           t.event_type AS touch_type
    FROM events p JOIN events t
      ON p.user_id = t.user_id
     AND p.event_type = 'purchase'
     AND t.event_type IN ('view', 'click')
     AND t.ts >= p.ts - INTERVAL 6 HOUR
     AND t.ts < p.ts
), weighted AS (
    SELECT day, touch_type,
           1.0 / CAST(COUNT(*) OVER (PARTITION BY p_id) AS DOUBLE) AS credit
    FROM j
)
SELECT day, touch_type,
       CAST(ROUND(SUM(CAST(credit AS DECIMAL(27,12))), 6) AS DOUBLE)
           AS attributed_purchases,
       CAST(COUNT(*) AS BIGINT) AS n_touches
FROM weighted GROUP BY day, touch_type
"""


# ---------------------------------------------------------------------------
# Dataset column profiling (Deequ-style profile, one pass)
# ---------------------------------------------------------------------------

def join_cardinality_estimate_orders_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch-based equi-join cardinality estimation — the System R /
    Selinger formula an optimizer evaluates BEFORE running the join:
    |A ⋈ B| ≈ |A|·|B| / max(ndv_A(key), ndv_B(key)), with the distinct
    counts from mergeable HLL sketches (``approx_count_distinct``), so the
    whole estimate costs two single-pass scans and no shuffle-join. The
    query then runs the actual join count and publishes the within-band
    verdict (estimate/actual ∈ [0.5, 2]) — generous against HLL's ~2%
    error precisely so the row only flips when the estimator logic (not
    sketch noise) breaks. The oracle pins the exact count and TRUE."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = orders.agg(
        F.count("*").cast("double").alias("n_a"),
        F.approx_count_distinct("o_orderkey").cast("double").alias("ndv_a"),
    )
    b = li.agg(
        F.count("*").cast("double").alias("n_b"),
        F.approx_count_distinct("l_orderkey").cast("double").alias("ndv_b"),
    )
    exact = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    est = F.col("n_a") * F.col("n_b") / F.greatest("ndv_a", "ndv_b")
    ratio = est / F.col("n_exact").cast("double")
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            ((ratio >= 0.5) & (ratio <= 2.0)).alias("estimate_within_2x"),
        )
    )


JOIN_CARDINALITY_ESTIMATE_ORDERS_LINEITEM_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS estimate_within_2x
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


def mcv_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-common-value statistics per column — the pg_stats / ANALYZE
    surface ``profile_columns_orders`` doesn't cover: for each profiled
    column, the top-3 values by frequency with their row share. These are
    what an optimizer consumes for selectivity estimates on equality
    predicates (and what a skew-aware planner reads before salting).

    One tall melt (stack) of the three columns → ONE (column, value)
    aggregation → a ranking window PARTITIONED by column (each partition
    is that column's value-domain aggregate, never the fact table). Ties
    break by value string ascending so both engines rank identically.
    Doubles are excluded from the melt by design: MCVs of a continuous
    column are meaningless and double→text rendering differs across
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    tall = orders.select(
        F.expr(
            "stack(3, 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_custkey', CAST(o_custkey AS STRING))"
            " as (column_name, value)"
        )
    ).filter(F.col("value").isNotNull())
    counts = tall.groupBy("column_name", "value").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    total = orders.count()
    w = Window.partitionBy("column_name").orderBy(
        F.col("n_occurrences").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("mcv_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("mcv_rank") <= 3)
        .select(
            "column_name",
            "mcv_rank",
            "value",
            "n_occurrences",
            F.round(
                F.col("n_occurrences").cast("double") / F.lit(float(total)), 6
            )
            .cast("double")
            .alias("frac"),
        )
    )


MCV_STATS_ORDERS_ORACLE = """
WITH tall AS (
    SELECT 'o_orderstatus' AS column_name, o_orderstatus AS value FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
), counts AS (
    SELECT column_name, value, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM tall WHERE value IS NOT NULL GROUP BY column_name, value
), total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM orders)
SELECT column_name,
       CAST(ROW_NUMBER() OVER (PARTITION BY column_name
                               ORDER BY n_occurrences DESC, value ASC) AS INT)
           AS mcv_rank,
       value, n_occurrences,
       CAST(ROUND(CAST(n_occurrences AS DOUBLE) / n, 6) AS DOUBLE) AS frac
FROM counts, total
QUALIFY mcv_rank <= 3
"""


def profile_columns_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile of orders — n/nulls/distinct plus typed
    min/max and string length stats, one row per column. The complement of
    ``data_quality_orders`` (a named RULE suite): this is the unsupervised
    profile a pipeline computes before anyone writes rules. All stats
    come from ONE aggregation pass (Catalyst expands the multi-distinct
    into a single Expand + aggregate — still two-phase, shuffle ∝ distinct
    groups); the per-column rows are exploded from the single stats row,
    never re-scanning. Numeric min/max normalize to double (exact for
    keys < 2^53 and for µs timestamps); string formatting is never
    compared across engines — VARCHAR min/max stay VARCHAR, numerics stay
    numeric, avoiding double→text rendering skew.
    """
    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    # fan the scan: the single-file fixture under-partitions the CPU-dense
    # multi-distinct aggregation (same fix as corr_matrix_lineitem)
    orders = fan_out(load_table(spark, sf_dir, "orders"))
    num_cols = {
        "o_orderkey": F.col("o_orderkey").cast("double"),
        "o_custkey": F.col("o_custkey").cast("double"),
        "o_totalprice": F.col("o_totalprice"),
        # fixture vintage stores the date as TIMESTAMP_NTZ; the session is
        # pinned UTC (load_table), so the cast to TIMESTAMP is identity and
        # unix_micros == DuckDB epoch_us on the naive value
        "o_orderdate": F.unix_micros(
            F.col("o_orderdate").cast("timestamp")
        ).cast("double"),
    }
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c, expr in num_cols.items():
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).cast("bigint").alias(f"nulls_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"dist_{c}"),
            F.min(expr).alias(f"min_{c}"),
            F.max(expr).alias(f"max_{c}"),
        ]
    for c in str_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).cast("bigint").alias(f"nulls_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"dist_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.round(
                dec_sum(F.length(c).cast("double"), 27, 12).cast("double")
                / F.count(c).cast("double"),
                6,
            ).alias(f"avglen_{c}"),
        ]
    stats = orders.agg(*aggs)
    rows = []
    for c in num_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit("numeric").alias("kind"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"nulls_{c}").alias("n_nulls"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_num"),
                F.col(f"max_{c}").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
                F.lit(None).cast("double").alias("avg_len"),
            )
        )
    for c in str_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit("string").alias("kind"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"nulls_{c}").alias("n_nulls"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"min_{c}").alias("min_str"),
                F.col(f"max_{c}").alias("max_str"),
                F.col(f"avglen_{c}").alias("avg_len"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


PROFILE_COLUMNS_ORDERS_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_ok,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_ok,
           CAST(MIN(o_orderkey) AS DOUBLE) AS mn_ok, CAST(MAX(o_orderkey) AS DOUBLE) AS mx_ok,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_ck,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_ck,
           CAST(MIN(o_custkey) AS DOUBLE) AS mn_ck, CAST(MAX(o_custkey) AS DOUBLE) AS mx_ck,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_tp,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS d_tp,
           MIN(o_totalprice) AS mn_tp, MAX(o_totalprice) AS mx_tp,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_od,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_od,
           CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE) AS mn_od,
           CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE) AS mx_od,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_os,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d_os,
           MIN(o_orderstatus) AS mn_os, MAX(o_orderstatus) AS mx_os,
           CAST(ROUND(SUM(CAST(CAST(LENGTH(o_orderstatus) AS DOUBLE) AS DECIMAL(27,12)))
                      / CAST(COUNT(o_orderstatus) AS DOUBLE), 6) AS DOUBLE) AS al_os,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_op,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_op,
           MIN(o_orderpriority) AS mn_op, MAX(o_orderpriority) AS mx_op,
           CAST(ROUND(SUM(CAST(CAST(LENGTH(o_orderpriority) AS DOUBLE) AS DECIMAL(27,12)))
                      / CAST(COUNT(o_orderpriority) AS DOUBLE), 6) AS DOUBLE) AS al_op
    FROM orders
)
SELECT 'o_orderkey' AS "column", 'numeric' AS kind, n_rows, nu_ok AS n_nulls,
       d_ok AS n_distinct, mn_ok AS min_num, mx_ok AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       CAST(NULL AS DOUBLE) AS avg_len FROM s
UNION ALL
SELECT 'o_custkey', 'numeric', n_rows, nu_ck, d_ck, mn_ck, mx_ck,
       NULL, NULL, NULL FROM s
UNION ALL
SELECT 'o_totalprice', 'numeric', n_rows, nu_tp, d_tp, mn_tp, mx_tp,
       NULL, NULL, NULL FROM s
UNION ALL
SELECT 'o_orderdate', 'numeric', n_rows, nu_od, d_od, mn_od, mx_od,
       NULL, NULL, NULL FROM s
UNION ALL
SELECT 'o_orderstatus', 'string', n_rows, nu_os, d_os, NULL, NULL,
       mn_os, mx_os, al_os FROM s
UNION ALL
SELECT 'o_orderpriority', 'string', n_rows, nu_op, d_op, NULL, NULL,
       mn_op, mx_op, al_op FROM s
"""


# ---------------------------------------------------------------------------
# Entity canonicalization: fuzzy pairs → connected components → canonical id
# ---------------------------------------------------------------------------

def canonical_entities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocked fuzzy name matches become an
    identity graph whose connected components are entities; every member
    maps to the component-minimum partkey as its canonical id, via the
    star-contraction components (O(log n) rounds — fuzzy name graphs
    chain, exactly the topology label propagation is worst at).

    The fuzzy comparison runs over DISTINCT (p_size, p_name) nodes, not
    part rows: exact duplicates collapse first (node id = group-min
    partkey) and re-attach through the final dimension join, so duplicate
    inflation — the dominant growth mode in real catalogs and exactly
    what the 16× offset-replication probe manufactures — never touches
    the quadratic block pair space. Output carries the entity size, a
    window over the entity-sized label table — facts never re-shuffle.
    """
    from data_ingestion_pipeline_spark.dedup.clustering import (
        connected_components_star,
    )

    # Collapse identical (p_size, p_name) rows to ONE node before any
    # fuzzy comparison — the production ER move the round-6 16× probe
    # demanded (plain part-level pairing ran 21× at 16× because duplicate
    # inflation grows every block quadratically; distinct-name pairing is
    # invariant under it). Node id = the group's min partkey, so the
    # component minimum over name-nodes IS the entity's min partkey.
    part = load_table(spark, sf_dir, "part")
    # dn feeds three plan branches (both fuzzy-join sides + the final
    # label coalesce) — pin the dim-sized aggregate so it builds once.
    # localCheckpoint, not persist (round-8 verdict ask #4): RDD-level
    # blocks, GC-reclaimed with the returned DataFrame — no CacheManager
    # entry accumulating across a long-lived library session, and no
    # interaction with a caller's clearCache() timing
    dn = part.groupBy("p_size", "p_name").agg(
        F.min("p_partkey").alias("rep"),
        F.count("*").cast("bigint").alias("multiplicity"),
    ).localCheckpoint(eager=False)
    # banded blocked fuzzy join over DISTINCT names — the SAME helper as
    # fuzzy_part_name_pairs (length band key, exact length guard,
    # thresholded levenshtein), so the two surfaces cannot drift
    edges = _banded_name_pairs(spark, dn, "rep").select(
        F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b")
    )
    comp = connected_components_star(edges).select(
        F.col("node").alias("rep"), F.col("cluster_id").alias("entity_id")
    )
    # a duplicated name with no fuzzy neighbor is still an entity (its own
    # parts pair at distance 0 in the part-level graph the oracle runs)
    labels = (
        dn.join(comp, "rep", "left")
        .filter(F.col("entity_id").isNotNull() | (F.col("multiplicity") >= 2))
        .select(
            "p_size",
            "p_name",
            F.coalesce("entity_id", "rep").alias("entity_id"),
        )
    )
    size_w = Window.partitionBy("entity_id")
    return (
        part.join(labels, ["p_size", "p_name"])
        .select("p_partkey", "entity_id")
        .withColumn("entity_size", F.count("*").over(size_w).cast("bigint"))
        .withColumn("is_canonical", F.col("p_partkey") == F.col("entity_id"))
    )


CANONICAL_ENTITIES_PARTS_ORACLE = """
WITH RECURSIVE pairs AS (
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
    FROM part a JOIN part b
      ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), nodes AS (
    SELECT DISTINCT u AS node FROM edges
), reach(node, other) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.other
), lab AS (
    SELECT node AS p_partkey, MIN(other) AS entity_id FROM reach GROUP BY node
)
SELECT p_partkey, entity_id,
       CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size,
       p_partkey = entity_id AS is_canonical
FROM lab
"""


# ---------------------------------------------------------------------------
# Hash-armed A/B test over sessionized value (composition check)
# ---------------------------------------------------------------------------

def ab_test_session_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end experiment readout: users hash into two arms
    (md5 — stable under data growth, reproducible outside Spark), their
    events sessionize (5-minute gaps-and-islands), and per-session values
    feed a Welch t-test between arms. Composes three already-proven pieces
    — deterministic hash assignment, sessionization, decimal-moment Welch
    — into the single query an experimentation pipeline actually runs.
    One row out; both arm aggregates come from one pass (FILTER-style
    conditional decimal sums, no per-arm rescan)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer-microsecond gap (never a double epoch): a session boundary at
    # exactly 300s must classify identically on both engines
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap >= 300_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = numbered.groupBy("user_id", "session_seq").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("sv")
    )
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    x = F.col("sv")
    agg = sessions.select(arm_a.alias("is_a"), x).agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("n_b"),
        dec_sum(F.when(F.col("is_a"), x), 27, 12).cast("double").alias("s1a"),
        dec_sum(F.when(F.col("is_a"), x * x), 38, 12).cast("double").alias("s2a"),
        dec_sum(F.when(~F.col("is_a"), x), 27, 12).cast("double").alias("s1b"),
        dec_sum(F.when(~F.col("is_a"), x * x), 38, 12).cast("double").alias("s2b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("s1a") / na, F.col("s1b") / nb
    va = (F.col("s2a") - F.col("s1a") * F.col("s1a") / na) / (na - F.lit(1.0))
    vb = (F.col("s2b") - F.col("s1b") * F.col("s1b") / nb) / (nb - F.lit(1.0))
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1.0))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(ma, 6).cast("double").alias("mean_a"),
        F.round(mb, 6).cast("double").alias("mean_b"),
        F.round(t, 6).cast("double").alias("t_stat"),
        F.round(df, 6).cast("double").alias("welch_df"),
    )


AB_TEST_SESSION_VALUE_ORACLE = """
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 300000000
                     OR LAG(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, value,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM flagged
), sessions AS (
    SELECT user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sv,
           ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2 = 0 AS is_a
    FROM numbered GROUP BY user_id, session_seq
), agg AS (
    SELECT CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS n_b,
           CAST(SUM(CAST(sv AS DECIMAL(27,12))) FILTER (is_a) AS DOUBLE) AS s1a,
           CAST(SUM(CAST(sv * sv AS DECIMAL(38,12))) FILTER (is_a) AS DOUBLE) AS s2a,
           CAST(SUM(CAST(sv AS DECIMAL(27,12))) FILTER (NOT is_a) AS DOUBLE) AS s1b,
           CAST(SUM(CAST(sv * sv AS DECIMAL(38,12))) FILTER (NOT is_a) AS DOUBLE) AS s2b
    FROM sessions
)
SELECT n_a, n_b,
       CAST(ROUND(s1a / n_a, 6) AS DOUBLE) AS mean_a,
       CAST(ROUND(s1b / n_b, 6) AS DOUBLE) AS mean_b,
       CAST(ROUND((s1a / n_a - s1b / n_b)
                  / SQRT(((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a
                         + ((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b), 6)
            AS DOUBLE) AS t_stat,
       CAST(ROUND(
           ((((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a
             + ((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b)
            * (((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a
               + ((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b))
           / ((((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a)
              * (((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a) / (n_a - 1.0)
              + (((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b)
                * (((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b) / (n_b - 1.0)),
           6) AS DOUBLE) AS welch_df
FROM agg
"""


# ---------------------------------------------------------------------------
# Conversion-lag quantiles (first view → first purchase)
# ---------------------------------------------------------------------------

def time_to_convert_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of each user's first-view→first-purchase lag: exact
    interpolated quantiles over the per-user delta. The per-user firsts
    are one groupBy each (map-side-combined mins); the lag is integer
    microseconds (exact) divided once into seconds. Exact percentile on
    ONE global group is the documented non-scale path; the sketch twin for
    high-cardinality grouping is ``approx_price_quantiles_by_priority``'s
    construction."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(tag: str, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == tag)
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    j = (
        first_of("view", "first_view")
        .join(first_of("purchase", "first_purchase"), "user_id")
        .filter(F.col("first_purchase") >= F.col("first_view"))
    )
    delta_s = (
        F.unix_micros(F.col("first_purchase")) - F.unix_micros(F.col("first_view"))
    ).cast("double") / F.lit(1000000.0)
    pcts = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p90": 0.90}
    return j.select(delta_s.alias("d")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        *[
            F.round(F.percentile("d", F.lit(p)), 4).cast("double").alias(name)
            for name, p in pcts.items()
        ],
    )


TIME_TO_CONVERT_QUANTILES_ORACLE = """
WITH fv AS (
    SELECT user_id, MIN(ts) AS first_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
), fp AS (
    SELECT user_id, MIN(ts) AS first_purchase FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
), d AS (
    SELECT CAST(epoch_us(first_purchase) - epoch_us(first_view) AS DOUBLE)
           / 1000000.0 AS d
    FROM fv JOIN fp USING (user_id)
    WHERE first_purchase >= first_view
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(ROUND(quantile_cont(d, 0.25), 4) AS DOUBLE) AS p25,
       CAST(ROUND(quantile_cont(d, 0.50), 4) AS DOUBLE) AS p50,
       CAST(ROUND(quantile_cont(d, 0.75), 4) AS DOUBLE) AS p75,
       CAST(ROUND(quantile_cont(d, 0.90), 4) AS DOUBLE) AS p90
FROM d
"""


# ---------------------------------------------------------------------------
# Key-skew report (Gini + top-share) — the "do I need salting?" diagnostic
# ---------------------------------------------------------------------------

def key_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile of the user_id key: distinct keys, total rows, hottest
    key's share, and the Gini coefficient of the per-key row counts — the
    quantitative trigger for the salted-join path
    (``salted_skew_join_events``). All-integer derivation: counts and the
    rank-weighted sum are bigints, so every division is an exact-operand
    double op and no decimal machinery is needed. The rank runs over the
    AGGREGATED key table (|keys| rows), never the raw events."""
    cnt = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ranked = cnt.withColumn(
        "i",
        F.row_number()
        .over(Window.orderBy(F.col("c").asc(), F.col("user_id").asc()))
        .cast("bigint"),
    )
    agg = ranked.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.col("i") * F.col("c")).cast("bigint").alias("iw"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    n = F.col("n_keys").cast("double")
    tot = F.col("n_rows").cast("double")
    gini = (F.lit(2.0) * F.col("iw").cast("double") - (n + F.lit(1.0)) * tot) / (
        n * tot
    )
    return agg.select(
        "n_keys",
        "n_rows",
        F.round(F.col("max_c").cast("double") / tot, 6)
        .cast("double")
        .alias("top_key_share"),
        F.round(gini, 6).cast("double").alias("gini"),
    )


KEY_SKEW_REPORT_EVENTS_ORACLE = """
WITH cnt AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
), ranked AS (
    SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c ASC, user_id ASC) AS BIGINT) AS i
    FROM cnt
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(i * c) AS BIGINT) AS iw,
           CAST(MAX(c) AS BIGINT) AS max_c
    FROM ranked
)
SELECT n_keys, n_rows,
       CAST(ROUND(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS DOUBLE)
           AS top_key_share,
       CAST(ROUND((2.0 * CAST(iw AS DOUBLE)
                   - (CAST(n_keys AS DOUBLE) + 1.0) * CAST(n_rows AS DOUBLE))
                  / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6)
            AS DOUBLE) AS gini
FROM agg
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier conversion survival (right-censored time-to-purchase)
# ---------------------------------------------------------------------------

def kaplan_meier_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of "still not purchased" t days after first
    view, with users who never purchase right-censored at the corpus end —
    the censoring-aware estimator naive conversion rates get wrong.

    Exact parity for a cumulative PRODUCT: durations are integer days, so
    the risk table is tiny (≤ observation span); per-event-time factors
    (n−d)/n are bigint-ratio doubles (exact); and the survival prefix
    products fold the SAME factor sequence left-to-right on both engines
    (EWMA's HOF-fold precedent — Spark ``aggregate`` with 1.0 init vs
    DuckDB ``list_reduce``; 1.0·x is exact, so the init difference is
    none). No exp/ln round-trip, no libm in the chain. The at-risk counts
    come from a reverse cumulative window over the aggregated duration
    table — events are scanned once.
    """
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("start"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("pday"))
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("max_day"))
    obs = (
        fv.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("pday").isNotNull() & (F.col("pday") >= F.col("start")),
                F.datediff(F.col("pday"), F.col("start")),
            )
            .otherwise(F.datediff(F.col("max_day"), F.col("start")))
            .cast("int")
            .alias("dur"),
            (F.col("pday").isNotNull() & (F.col("pday") >= F.col("start")))
            .alias("is_event"),
        )
    )
    durs = obs.groupBy("dur").agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.count(F.when(F.col("is_event"), 1)).cast("bigint").alias("d"),
    )
    at_risk = Window.orderBy("dur").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    risk = (
        durs.withColumn("n_at_risk", F.sum("n_all").over(at_risk).cast("bigint"))
        .filter(F.col("d") > 0)
        .select(
            "dur",
            "n_at_risk",
            "d",
            (
                (F.col("n_at_risk") - F.col("d")).cast("double")
                / F.col("n_at_risk").cast("double")
            ).alias("factor"),
        )
    )
    folded = risk.agg(
        F.expr(
            "array_sort(collect_list(struct(dur, n_at_risk, d, factor)))"
        ).alias("rows")
    ).select(
        F.expr(
            """
            transform(sequence(1, size(rows)), i -> struct(
                rows[i-1].dur AS dur,
                rows[i-1].n_at_risk AS n_at_risk,
                rows[i-1].d AS d,
                aggregate(slice(rows, 1, i), CAST(1.0 AS DOUBLE),
                          (acc, x) -> acc * x.factor) AS surv
            ))
            """
        ).alias("out")
    )
    return folded.select(F.explode("out").alias("r")).select(
        F.col("r.dur").alias("duration_days"),
        F.col("r.n_at_risk").alias("n_at_risk"),
        F.col("r.d").alias("n_events"),
        F.round(F.col("r.surv"), 6).cast("double").alias("survival"),
    )


KAPLAN_MEIER_CONVERSION_EVENTS_ORACLE = """
WITH fv AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS start FROM events
    WHERE event_type = 'view' GROUP BY user_id
), fp AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS pday FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
), horizon AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
obs AS (
    SELECT CASE WHEN fp.pday IS NOT NULL AND fp.pday >= fv.start
                THEN CAST(fp.pday - fv.start AS INT)
                ELSE CAST(h.max_day - fv.start AS INT) END AS dur,
           fp.pday IS NOT NULL AND fp.pday >= fv.start AS is_event
    FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN horizon h
), durs AS (
    SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(CASE WHEN is_event THEN 1 END) AS BIGINT) AS d
    FROM obs GROUP BY dur
), risk AS (
    SELECT dur,
           CAST(SUM(n_all) OVER (ORDER BY dur
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
               AS n_at_risk,
           d
    FROM durs
), ev_rows AS (
    SELECT dur, n_at_risk, d,
           CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS factor
    FROM risk WHERE d > 0
), arr AS (
    SELECT list({'dur': dur, 'n_at_risk': n_at_risk, 'd': d, 'factor': factor}
                ORDER BY dur) AS rows FROM ev_rows
)
SELECT u.r['dur'] AS duration_days,
       u.r['n_at_risk'] AS n_at_risk,
       u.r['d'] AS n_events,
       CAST(ROUND(list_reduce(list_prepend(1.0,
                list_transform(rows[1:u.i], x -> x['factor'])),
                (a, b) -> a * b), 6) AS DOUBLE) AS survival
FROM arr,
LATERAL (SELECT unnest(rows) AS r,
                unnest(range(1, len(rows) + 1)) AS i) u
"""


# ---------------------------------------------------------------------------
# Non-parametric tier: rank / order statistics (no distributional assumption)
# ---------------------------------------------------------------------------

def mann_whitney_purchase_view_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between purchase and view event values — the
    rank-based two-sample test that doesn't assume normality (the Welch
    check's robust sibling). EVERYTHING is exact: average ranks come from
    the VALUE-GROUPED relation (cum-before + (ties+1)/2 — integers and
    exact .5 halves, never a row-level rank over raw events), the rank sum
    is a decimal aggregate, and the tie-corrected variance accumulates
    Σ(t³−t) in DECIMAL(38,0) (BIGINT would overflow past ~2.1M-way ties). The z-score is the only derived float, rounded
    identically on both engines."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    g = ev.groupBy("value").agg(
        F.count("*").cast("bigint").alias("t"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("t1"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint")
    ).withColumn(
        "avg_rank",
        F.col("cum_before").cast("double")
        + (F.col("t").cast("double") + F.lit(1.0)) / F.lit(2.0),
    )
    s = ranked.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("bigint").alias("n2"),
        F.sum(
            (F.col("t1").cast("double") * F.col("avg_rank")).cast("decimal(27,6)")
        )
        .cast("double")
        .alias("r1"),
        # t cubed accumulates in DECIMAL(38,0): a single value tied >~2.1M
        # times overflows BIGINT under ANSI mode at the advertised scale
        # (DuckDB widens to HUGEINT); decimal keeps both engines exact
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie_term"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    u1 = F.col("r1") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    var_u = (
        n1 * n2 / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("tie_term").cast("double") / (n * (n - F.lit(1.0))))
    )
    z = (u1 - n1 * n2 / F.lit(2.0)) / F.sqrt(var_u)
    return s.select(
        "n1",
        "n2",
        F.round(u1, 4).cast("double").alias("u_stat"),
        F.round(z, 6).cast("double").alias("z_score"),
    )


MANN_WHITNEY_PURCHASE_VIEW_VALUES_ORACLE = """
WITH g AS (
    SELECT value, CAST(COUNT(*) AS BIGINT) AS t,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS t1
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY value
), ranked AS (
    SELECT t, t1,
           CAST(COALESCE(SUM(t) OVER (ORDER BY value
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
    FROM g
), s AS (
    SELECT CAST(SUM(t1) AS BIGINT) AS n1,
           CAST(SUM(t - t1) AS BIGINT) AS n2,
           CAST(SUM(CAST(CAST(t1 AS DOUBLE) *
                         (CAST(cum_before AS DOUBLE)
                          + (CAST(t AS DOUBLE) + 1.0) / 2.0)
                         AS DECIMAL(27,6))) AS DOUBLE) AS r1,
           SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie_term
    FROM ranked
)
SELECT n1, n2,
       CAST(ROUND(r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0, 4)
            AS DOUBLE) AS u_stat,
       CAST(ROUND(
           (r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
            - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
           / SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                  * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                     - CAST(tie_term AS DOUBLE)
                       / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                          * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))),
           6) AS DOUBLE) AS z_score
FROM s
"""


def kruskal_wallis_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across ALL event types — the k-sample extension of
    ``mann_whitney_purchase_view_values`` (rank-based one-way ANOVA;
    Kruskal & Wallis 1952), the distribution-free sibling of
    ``oneway_anova_event_values``: H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1)
    over average ranks, divided by the tie factor
    C = 1 − Σ(t³−t)/(N³−N).

    Exactness: DOUBLED average ranks are exact integers
    (2·r̄(v) = 2·cum_before + t + 1 — the Mann-Whitney value-grain
    construction, never a row-level rank), so each group's doubled rank
    sum R2_g = Σ t_g·2r̄ folds in DECIMAL(38,0) and
    Σ R_g²/n_g = ¼ Σ R2_g²/n_g gives H = 3/(N(N+1))·Σ R2_g²/n_g − 3(N+1);
    the per-group double terms fold in DECIMAL(38,6) (k rows), the tie
    cube in DECIMAL(38,0). Scale shape: cumulative counts over the
    corpus-sized distinct-value domain ride the range-partition +
    chunk-offset stitch (the ``ks_test_purchase_view`` pattern), so there
    is no single-partition sort anywhere; the only unpartitioned window is
    over the ≤n_chunks offset rows."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("value", "event_type").agg(
        F.count("*").cast("bigint").alias("tg")
    )
    pts = ev.groupBy("value").agg(F.count("*").cast("bigint").alias("t"))
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select("value", "t", "pid", F.sum("t").over(w).alias("lc"))
    # chunk totals from the WINDOW OUTPUT (max cumulative per pid), never
    # from a second aggregate branch over `chunked`: column pruning can
    # specialize the two branches' range exchanges differently, defeating
    # exchange reuse — and RangePartitioner re-SAMPLES per materialization
    # (rdd.id-seeded), so two un-reused exchanges pick different chunk
    # boundaries and the offset stitch silently corrupts (caught live on
    # cliffs_delta: nondeterministic results across same-session runs)
    totals = local.groupBy("pid").agg(F.max("lc").cast("bigint").alias("tt"))
    # pid%1: constant non-foldable key — the offset window sees <=n_chunks
    # rows in one group on WindowExec's partitioned path
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid", F.coalesce(F.sum("tt").over(bw), F.lit(0)).cast("bigint").alias("off")
    )
    ranked = local.join(offs, "pid").select(
        "value",
        (
            2 * (F.col("lc") + F.col("off") - F.col("t")) + F.col("t") + 1
        ).cast("bigint").alias("r2"),
    )
    per_g = (
        g.join(ranked, "value")
        .groupBy("event_type")
        .agg(
            F.sum("tg").cast("bigint").alias("n_g"),
            F.sum(F.col("tg").cast("decimal(38,0)") * F.col("r2")).alias("r2_sum"),
        )
    )
    term = (
        F.col("r2_sum").cast("double")
        * F.col("r2_sum").cast("double")
        / F.col("n_g").cast("double")
    )
    agg = per_g.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum(term.cast("decimal(38,6)")).cast("double").alias("s"),
    )
    ties = pts.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
    )
    j = agg.crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    h = F.lit(3.0) / (nd * (nd + F.lit(1.0))) * F.col("s") - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    c = F.lit(1.0) - F.col("tie_term").cast("double") / (nd * nd * nd - nd)
    return j.select(
        "k_groups",
        "n",
        (F.col("k_groups") - 1).cast("int").alias("df"),
        F.round(h, 6).cast("double").alias("h"),
        F.round(F.when(c > F.lit(0.0), h / c), 6)
        .cast("double")
        .alias("h_tie_corrected"),
    )


KRUSKAL_WALLIS_EVENT_VALUES_ORACLE = """
WITH g AS (
    SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS tg
    FROM events GROUP BY 1, 2
), pts AS (
    SELECT value, CAST(COUNT(*) AS BIGINT) AS t FROM events GROUP BY 1
), ranked AS (
    SELECT value,
           CAST(2 * (SUM(t) OVER (ORDER BY value) - t) + t + 1 AS BIGINT) AS r2
    FROM pts
), per_g AS (
    SELECT g.event_type, CAST(SUM(tg) AS BIGINT) AS n_g,
           SUM(CAST(tg AS DECIMAL(38,0)) * r.r2) AS r2_sum
    FROM g JOIN ranked r USING (value) GROUP BY g.event_type
), ties AS (
    SELECT CAST(SUM(t) AS BIGINT) AS n,
           SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie_term
    FROM pts
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
           CAST(SUM(CAST(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
                         / CAST(n_g AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS s
    FROM per_g
)
SELECT k_groups, n, CAST(k_groups - 1 AS INT) AS df,
       CAST(ROUND(h, 6) AS DOUBLE) AS h,
       CAST(ROUND(CASE WHEN c > 0.0 THEN h / c END, 6) AS DOUBLE)
           AS h_tie_corrected
FROM (
    SELECT k_groups, n,
           3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s
             - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
           1.0 - CAST(tie_term AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE)) AS c
    FROM agg CROSS JOIN ties
)
"""


def cliffs_delta_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between purchase and view event values — the ORDINAL
    EFFECT SIZE the Mann–Whitney z cannot convey (a tiny shift goes
    "significant" at corpus n; δ = P(x>y) − P(x<y) ∈ [−1, 1] stays
    interpretable at any scale; Cliff 1993). Dominance counts are EXACT
    integers from the value-grouped relation: #(x>y) = Σ_v t₁(v)·cum₂₋(v)
    and #(x<y) = Σ_v t₁(v)·(n₂ − cum₂(v)), folded in DECIMAL(38,0) —
    never an O(n₁·n₂) pair join. The cumulative view counts ride the same
    chunk-offset stitch as ``ks_test_purchase_view``."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("t1"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("t2"),
    )
    # The stitched grain carries ONLY the cum machinery (value, t2) — the
    # ks_test/kruskal shape. Carrying t1 through the stitch specializes
    # the local and offset branches' column pruning, the range exchange
    # stops being reused, and RangePartitioner re-SAMPLES its boundaries
    # per materialization (rdd.id-seeded) — the two branches then stitch
    # against INCONSISTENT chunk ids (caught live: nondeterministic gt/lt
    # across same-session runs). t1 joins back on value below.
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.select("value", "t2").repartitionByRange(
        n_chunks, "value"
    ).withColumn("pid", F.spark_partition_id())
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select("value", "t2", "pid", F.sum("t2").over(w).alias("l2"))
    totals = local.groupBy("pid").agg(F.max("l2").cast("bigint").alias("tt"))
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid", F.coalesce(F.sum("tt").over(bw), F.lit(0)).cast("bigint").alias("off")
    )
    nn = pts.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum("t2").cast("bigint").alias("n2"),
    )
    cum2 = local.join(offs, "pid").select(
        "value",
        (F.col("l2") + F.col("off") - F.col("t2")).cast("bigint").alias("c2_before"),
        (F.col("l2") + F.col("off")).cast("bigint").alias("c2_incl"),
    )
    cum = (
        pts.select("value", "t1")
        .join(cum2, "value")
        .crossJoin(F.broadcast(nn))
    )
    s = cum.groupBy("n1", "n2").agg(
        F.sum(F.col("t1").cast("decimal(38,0)") * F.col("c2_before")).alias("gt"),
        F.sum(
            F.col("t1").cast("decimal(38,0)") * (F.col("n2") - F.col("c2_incl"))
        ).alias("lt"),
    )
    delta = (F.col("gt").cast("double") - F.col("lt").cast("double")) / (
        F.col("n1").cast("double") * F.col("n2").cast("double")
    )
    return s.select(
        "n1",
        "n2",
        F.col("gt").cast("bigint").alias("n_greater"),
        F.col("lt").cast("bigint").alias("n_less"),
        F.round(delta, 6).cast("double").alias("cliffs_delta"),
    )


CLIFFS_DELTA_PURCHASE_VIEW_ORACLE = """
WITH pts AS (
    SELECT value,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS t1,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS t2
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY value
), cum AS (
    SELECT t1, t2,
           CAST(SUM(t2) OVER (ORDER BY value) - t2 AS BIGINT) AS c2_before,
           CAST(SUM(t2) OVER (ORDER BY value) AS BIGINT) AS c2_incl,
           CAST(SUM(t2) OVER () AS BIGINT) AS n2_all
    FROM pts
), s AS (
    SELECT CAST(SUM(t1) AS BIGINT) AS n1, CAST(SUM(t2) AS BIGINT) AS n2,
           SUM(CAST(t1 AS DECIMAL(38,0)) * c2_before) AS gt,
           SUM(CAST(t1 AS DECIMAL(38,0)) * (n2_all - c2_incl)) AS lt
    FROM cum
)
SELECT n1, n2,
       CAST(gt AS BIGINT) AS n_greater,
       CAST(lt AS BIGINT) AS n_less,
       CAST(ROUND((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS DOUBLE)
           AS cliffs_delta
FROM s
"""


def _daily_type_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, x=purchase total, y=view total) — exact decimal daily sums."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            dec_sum(F.when(F.col("event_type") == "purchase", F.col("value")), 27, 12)
            .cast("double")
            .alias("x"),
            dec_sum(F.when(F.col("event_type") == "view", F.col("value")), 27, 12)
            .cast("double")
            .alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )


def spearman_daily_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily purchase and view volumes:
    Pearson over average ranks. Ranks are derived per series with the same
    value-grouped construction as Mann–Whitney (integers + exact halves),
    then the usual exact power-sum Pearson — monotone association with no
    normality assumption, fully engine-exact."""
    daily = _daily_type_pair(spark, sf_dir)

    def rank_of(col: str) -> DataFrame:
        g = daily.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("t")
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return g.withColumn(
            "cum_before", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint")
        ).select(
            F.col("v"),
            (
                F.col("cum_before").cast("double")
                + (F.col("t").cast("double") + F.lit(1.0)) / F.lit(2.0)
            ).alias(f"r_{col}"),
        )

    j = (
        daily.join(rank_of("x").withColumnRenamed("v", "x"), "x")
        .join(rank_of("y").withColumnRenamed("v", "y"), "y")
    )
    rx, ry = F.col("r_x"), F.col("r_y")
    s = j.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(rx, 27, 6).cast("double").alias("sx"),
        dec_sum(ry, 27, 6).cast("double").alias("sy"),
        dec_sum(rx * ry, 38, 6).cast("double").alias("sxy"),
        dec_sum(rx * rx, 38, 6).cast("double").alias("sxx"),
        dec_sum(ry * ry, 38, 6).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        F.round(cov_n / F.sqrt(vx * vy), 6).cast("double").alias("spearman_rho"),
    )


SPEARMAN_DAILY_PURCHASE_VIEW_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END
                         AS DECIMAL(27,12))) AS DOUBLE) AS x,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END
                         AS DECIMAL(27,12))) AS DOUBLE) AS y
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
    HAVING x IS NOT NULL AND y IS NOT NULL
), rx AS (
    SELECT v AS x, CAST(COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS r_x
    FROM (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
), ry AS (
    SELECT v AS y, CAST(COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS r_y
    FROM (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
), j AS (
    SELECT r_x, r_y FROM daily JOIN rx USING (x) JOIN ry USING (y)
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(r_x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(r_y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(r_x * r_y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(r_x * r_x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(r_y * r_y AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM j
)
SELECT n,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE)
           AS spearman_rho
FROM s
"""


def kendall_tau_daily_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between the daily purchase/view series: concordant −
    discordant over all day pairs with tie corrections — ALL integers
    until the final ratio (exactness for free). The pair space is the
    aggregated daily series self-joined (days², not events²) — the
    documented small-series instrument; at raw scale the rank-based
    Spearman (one sort, no pair space) is the one to reach for."""
    daily = _daily_type_pair(spark, sf_dir)
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    sgn = (
        F.signum(
            (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
        )
    ).cast("int")
    s = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count(F.when(sgn == 1, 1)).cast("bigint").alias("concordant"),
        F.count(F.when(sgn == -1, 1)).cast("bigint").alias("discordant"),
        F.count(F.when((F.col("x1") == F.col("x2")) & (F.col("y1") != F.col("y2")), 1))
        .cast("bigint")
        .alias("tx"),
        F.count(F.when((F.col("y1") == F.col("y2")) & (F.col("x1") != F.col("x2")), 1))
        .cast("bigint")
        .alias("ty"),
    )
    c, d = F.col("concordant").cast("double"), F.col("discordant").cast("double")
    tx, ty = F.col("tx").cast("double"), F.col("ty").cast("double")
    tau = (c - d) / F.sqrt((c + d + tx) * (c + d + ty))
    return s.select(
        "n_pairs",
        "concordant",
        "discordant",
        F.round(tau, 6).cast("double").alias("kendall_tau_b"),
    )


KENDALL_TAU_DAILY_PURCHASE_VIEW_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END
                         AS DECIMAL(27,12))) AS DOUBLE) AS x,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END
                         AS DECIMAL(27,12))) AS DOUBLE) AS y
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
    HAVING x IS NOT NULL AND y IS NOT NULL
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 END) AS BIGINT)
               AS concordant,
           CAST(COUNT(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 END) AS BIGINT)
               AS discordant,
           CAST(COUNT(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 END) AS BIGINT) AS tx,
           CAST(COUNT(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 END) AS BIGINT) AS ty
    FROM daily a JOIN daily b ON a.day < b.day
)
SELECT n_pairs, concordant, discordant,
       CAST(ROUND((CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
                  / SQRT((CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
                          + CAST(tx AS DOUBLE))
                         * (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
                            + CAST(ty AS DOUBLE))), 6) AS DOUBLE) AS kendall_tau_b
FROM s
"""


def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the global daily value series: the MEDIAN
    of all pairwise slopes — up to ~29% corrupted days cannot move it
    (OLS breaks at one). Slopes are exact-operand doubles (decimal-derived
    y over integer day deltas); the median is the exact interpolated
    percentile. Day pairs of the AGGREGATED series (days²), never raw
    rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(F.col("value"), 27, 12).cast("double").alias("v")
    )
    a = daily.select(F.col("day").alias("d1"), F.col("v").alias("v1"))
    b = daily.select(F.col("day").alias("d2"), F.col("v").alias("v2"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("v2") - F.col("v1"))
            / F.datediff(F.col("d2"), F.col("d1")).cast("double")
        ).alias("slope")
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.percentile("slope", F.lit(0.5)), 6)
        .cast("double")
        .alias("theil_sen_slope"),
    )


THEIL_SEN_DAILY_TREND_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS v
    FROM events GROUP BY 1
), slopes AS (
    SELECT (b.v - a.v) / CAST(b.day - a.day AS DOUBLE) AS slope
    FROM daily a JOIN daily b ON a.day < b.day
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(quantile_cont(slope, 0.5), 6) AS DOUBLE) AS theil_sen_slope
FROM slopes
"""


# ---------------------------------------------------------------------------
# Privacy: k-anonymity report over a quasi-identifier set
# ---------------------------------------------------------------------------

def dp_noisy_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differential-privacy release mechanism for the daily event-type
    histogram: true counts + Laplace(Δf/ε) noise (Δf = 1 for counting
    queries, ε = 1). The released relation is the NOISY counts only —
    the privacy-tier complement to ``k_anonymity_report_events`` (which
    audits a release; this one produces it).

    The Laplace draw derives from an md5-seeded uniform per released cell
    (u = (h+1)/(16¹³+2), the ``weighted_sample_documents`` construction;
    noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|)) so the mechanism is exactly
    reproducible cross-engine and the oracle can pin it — DETERMINISM IS
    FOR TESTABILITY ONLY: a production release must draw from a real
    entropy source (a seeded release is not private), which is a one-line
    swap of the uniform. ln terms round to 9 decimals pre-arithmetic
    (house libm policy). Map-side expression over the aggregated
    histogram; no extra shuffle."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    eps = 1.0
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", "event_type", F.col("day").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**13) + 2.0)
    centered = u - F.lit(0.5)
    lnterm = F.round(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered)), 9)
    noise = -F.signum(centered) * lnterm / F.lit(eps)
    return counts.select(
        "event_type",
        "day",
        F.round(F.col("n").cast("double") + noise, 3)
        .cast("double")
        .alias("noisy_count"),
        F.lit(eps).alias("epsilon"),
    )


DP_NOISY_COUNTS_EVENTS_ORACLE = """
WITH counts AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), seeded AS (
    SELECT event_type, day, n,
           (CAST(('0x' || substr(md5(event_type || '|' ||
                strftime(day, '%Y-%m-%d')), 1, 13))::BIGINT AS DOUBLE) + 1.0)
               / 4503599627370498.0 AS u
    FROM counts
)
SELECT event_type, day,
       CAST(ROUND(CAST(n AS DOUBLE)
                  - SIGN(u - 0.5)
                    * ROUND(ln(1.0 - 2.0 * ABS(u - 0.5)), 9) / 1.0, 3)
            AS DOUBLE) AS noisy_count,
       1.0 AS epsilon
FROM seeded
"""


def k_anonymity_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the events table under the quasi-identifier
    set (event_type, ISO weekday, value bucket) — the release-gate
    companion to the GDPR delete and scrubbing operators: before a table
    leaves the boundary, how re-identifiable is it? Reports the minimum
    group size (the k), and how many groups/rows sit below the k=5
    threshold (candidates for suppression or coarser bucketing). One
    groupBy + one aggregate over the group sizes — all integers.
    Weekday parity: Spark ``weekday()+1`` == DuckDB ``isodow()``."""
    ev = load_table(spark, sf_dir, "events")
    groups = ev.groupBy(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("int").alias("dow"),
        F.floor(F.col("value") / 50.0).cast("bigint").alias("value_bucket"),
    ).agg(F.count("*").cast("bigint").alias("k"))
    return groups.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("k_min"),
        F.count(F.when(F.col("k") < 5, 1)).cast("bigint").alias("groups_below_5"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_below_5"),
        F.round(
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("k").cast("double")
            * 100.0,
            6,
        )
        .cast("double")
        .alias("pct_rows_below_5"),
    )


K_ANONYMITY_REPORT_EVENTS_ORACLE = """
WITH groups AS (
    SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS value_bucket,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM events GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(MIN(k) AS BIGINT) AS k_min,
       CAST(COUNT(CASE WHEN k < 5 THEN 1 END) AS BIGINT) AS groups_below_5,
       CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5,
       CAST(ROUND(CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
                  / CAST(SUM(k) AS DOUBLE) * 100.0, 6) AS DOUBLE)
           AS pct_rows_below_5
FROM groups
"""


# ---------------------------------------------------------------------------
# Storage-layout advisor: per-column cardinality + run-length profile
# ---------------------------------------------------------------------------

_ADVISOR_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]


def encoding_advisor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor: per column, distinct ratio and mean run
    length IN THE TABLE'S clustering order (o_orderkey — run-length is a
    property of the physical layout, so the profile must scan in layout
    order), mapping to the standard choices: low distinct ratio →
    dictionary; long runs → add RLE; otherwise plain. This is the
    profiling pass behind compact()/sorted_overwrite deciding what a
    rewrite would buy.

    Scale shape (replaces the former four unpartitioned full-table
    ``Window.orderBy`` passes): run starts are partition-LOCAL. The table
    is range-partitioned on o_orderkey into bounded chunks; ONE window
    pass partitioned by chunk id computes the layout-order lag for all
    four profiled columns at once (largest sort = one chunk, never the
    table), and the ≤(chunks−1) chunk-boundary transitions are stitched
    from a chunk-summary relation of first/last values (≤chunks rows —
    the only place a tiny single-partition window appears). Run totals
    are exactly the global-order totals: within-chunk runs exclude each
    chunk's first row, whose true run-start is recomputed against the
    previous chunk's last value (NULL for the global first row, matching
    the oracle's LAG-NULL semantics). Distinct counts ride a separate
    unordered aggregate. At 100 TB: chunks scale with input splits, every
    sort is chunk-local, shuffle volume ∝ table (once) + chunk count."""
    o = load_table(spark, sf_dir, "orders")
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = (
        o.select("o_orderkey", *_ADVISOR_COLS)
        .repartitionByRange(n_chunks, "o_orderkey")
        .withColumn("pid", F.spark_partition_id())
    )
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    proj = chunked.select(
        "pid",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        *[
            (~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w)))
            .cast("bigint")
            .alias(f"run_{c}")
            for c in _ADVISOR_COLS
        ],
        *[F.col(c) for c in _ADVISOR_COLS],
    )
    per_chunk = proj.groupBy("pid").agg(
        *[
            F.sum(F.when(F.col("rn") > 1, F.col(f"run_{c}")))
            .cast("bigint")
            .alias(f"runs_{c}")
            for c in _ADVISOR_COLS
        ],
        F.max(
            F.when(F.col("rn") == 1, F.struct(*_ADVISOR_COLS))
        ).alias("first_vals"),
        F.max_by(F.struct(*_ADVISOR_COLS), "rn").alias("last_vals"),
    )
    # boundary stitch over the chunk summary (≤n_chunks rows): the true
    # run-start of each chunk's first row vs the previous chunk's last row
    # pid%1: constant-valued non-foldable partition key — the stitch window
    # sees <=n_chunks rows in one group, on WindowExec's partitioned path
    bw = Window.partitionBy(F.col("pid") % 1).orderBy("pid")
    stitched = per_chunk.select(
        "pid",
        *[F.col(f"runs_{c}") for c in _ADVISOR_COLS],
        *[
            (
                ~F.col("first_vals")[c].eqNullSafe(
                    F.lag(F.col("last_vals")[c]).over(bw)
                )
            )
            .cast("bigint")
            .alias(f"bruns_{c}")
            for c in _ADVISOR_COLS
        ],
    )
    run_totals = stitched.agg(
        *[
            (F.sum(f"runs_{c}") + F.sum(f"bruns_{c}"))
            .cast("bigint")
            .alias(f"n_runs_{c}")
            for c in _ADVISOR_COLS
        ]
    )
    counts = o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            F.countDistinct(c).cast("bigint").alias(f"n_distinct_{c}")
            for c in _ADVISOR_COLS
        ],
    )
    wide = counts.crossJoin(F.broadcast(run_totals))
    # single stack() unpivot so the scan/window subtree is evaluated ONCE
    # (a per-column union would replay the whole profile 4×)
    stack_args = ", ".join(
        f"'{c}', n_distinct_{c}, n_runs_{c}" for c in _ADVISOR_COLS
    )
    tall = wide.select(
        "n_rows",
        F.expr(
            f"stack({len(_ADVISOR_COLS)}, {stack_args})"
            " as (column_name, n_distinct, n_runs)"
        ),
    )
    ratio = F.col("n_distinct").cast("double") / F.col("n_rows").cast("double")
    avg_run = F.col("n_rows").cast("double") / F.col("n_runs").cast("double")
    advice = (
        F.when((ratio < 0.01) & (avg_run >= 2.0), F.lit("DICT+RLE"))
        .when(ratio < 0.01, F.lit("DICT"))
        .when(avg_run >= 2.0, F.lit("RLE"))
        .otherwise(F.lit("PLAIN"))
    )
    return tall.select(
        "column_name",
        "n_rows",
        "n_distinct",
        F.round(ratio, 6).cast("double").alias("distinct_ratio"),
        "n_runs",
        F.round(avg_run, 4).cast("double").alias("avg_run_len"),
        advice.alias("advice"),
    )


def _encoding_oracle() -> str:
    selects = []
    for c in _ADVISOR_COLS:
        selects.append(f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       CAST(ROUND(CAST(COUNT(DISTINCT v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
            AS DOUBLE) AS distinct_ratio,
       CAST(SUM(run_start) AS BIGINT) AS n_runs,
       CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(run_start) AS DOUBLE), 4)
            AS DOUBLE) AS avg_run_len,
       CASE WHEN CAST(COUNT(DISTINCT v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) < 0.01
                 AND CAST(COUNT(*) AS DOUBLE) / CAST(SUM(run_start) AS DOUBLE) >= 2.0
            THEN 'DICT+RLE'
            WHEN CAST(COUNT(DISTINCT v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) < 0.01
            THEN 'DICT'
            WHEN CAST(COUNT(*) AS DOUBLE) / CAST(SUM(run_start) AS DOUBLE) >= 2.0
            THEN 'RLE'
            ELSE 'PLAIN' END AS advice
FROM (
    SELECT {c} AS v,
           CASE WHEN {c} IS DISTINCT FROM LAG({c}) OVER (ORDER BY o_orderkey)
                THEN 1 ELSE 0 END AS run_start
    FROM orders
)""")
    return "\nUNION ALL\n".join(selects)


ENCODING_ADVISOR_ORDERS_ORACLE = _encoding_oracle()


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak (gaps-and-islands on the calendar)
# ---------------------------------------------------------------------------

def longest_streak_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by longest consecutive-day activity streak — the
    gaps-and-islands idiom applied to the CALENDAR: consecutive distinct
    days share (day − rank) as their island key, so streak length is a
    count per (user, island). Runs on the per-user distinct-day relation
    (one dedup shuffle), integers throughout; top-10 cut is an aggregated
    TakeOrdered, ties broken by user id."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    best = (
        streaks.groupBy("user_id")
        .agg(
            F.max(F.struct("streak_days", F.col("streak_start"))).alias("b"),
        )
        .select(
            "user_id",
            F.col("b.streak_days").alias("streak_days"),
            F.col("b.streak_start").alias("streak_start"),
        )
    )
    return (
        best.orderBy(F.col("streak_days").desc(), F.col("user_id").asc())
        .limit(10)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("streak_days").desc(), F.col("user_id").asc()))
            .cast("int")
            .alias("rk"),
            "user_id",
            "streak_days",
            "streak_start",
        )
    )


LONGEST_STREAK_USERS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), islands AS (
    SELECT user_id, day,
           day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                      AS INT) AS island
    FROM days
), streaks AS (
    SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak_days,
           MIN(day) AS streak_start
    FROM islands GROUP BY user_id, island
), best AS (
    SELECT user_id, streak_days, streak_start FROM (
        SELECT user_id, streak_days, streak_start,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY streak_days DESC, streak_start DESC)
                   AS rn
        FROM streaks
    ) WHERE rn = 1
)
SELECT CAST(rk AS INT) AS rk, user_id, streak_days, streak_start FROM (
    SELECT user_id, streak_days, streak_start,
           ROW_NUMBER() OVER (ORDER BY streak_days DESC, user_id ASC) AS rk
    FROM best
) WHERE rk <= 10
"""


# ---------------------------------------------------------------------------
# ABC / Pareto classification by cumulative revenue share
# ---------------------------------------------------------------------------

def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by cumulative revenue share:
    A = the head that carries 80% of revenue, B = the next 15%, C = the
    tail — per-class part counts and exact revenue. The cumulative window
    runs over the AGGREGATED per-part revenue (|parts| rows), ordered by
    (revenue DESC, partkey) so ties classify deterministically; shares
    compare exact decimal cumulative sums against decimal thresholds of
    the exact total — no float drift at a class boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        dec_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 18, 6
        ).alias("rev")
    )
    w_tot = Window.partitionBy()
    w_cum = Window.orderBy(F.col("rev").desc(), F.col("l_partkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    classed = per_part.select(
        "l_partkey",
        "rev",
        F.sum("rev").over(w_cum).alias("cum"),
        F.sum("rev").over(w_tot).alias("tot"),
    ).select(
        "l_partkey",
        "rev",
        F.when(
            F.col("cum") <= F.col("tot") * F.lit(0.80).cast("decimal(10,2)"),
            F.lit("A"),
        )
        .when(
            F.col("cum") <= F.col("tot") * F.lit(0.95).cast("decimal(10,2)"),
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("rev"), 2).cast("double").alias("class_revenue"),
    )


ABC_CLASSIFICATION_PARTS_ORACLE = """
WITH per_part AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS rev
    FROM lineitem GROUP BY l_partkey
), classed AS (
    SELECT l_partkey, rev,
           CASE WHEN SUM(rev) OVER w <= SUM(rev) OVER ()
                         * CAST(0.80 AS DECIMAL(10,2)) THEN 'A'
                WHEN SUM(rev) OVER w <= SUM(rev) OVER ()
                         * CAST(0.95 AS DECIMAL(10,2)) THEN 'B'
                ELSE 'C' END AS abc_class
    FROM per_part
    WINDOW w AS (ORDER BY rev DESC, l_partkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS class_revenue
FROM classed GROUP BY abc_class
"""


# ---------------------------------------------------------------------------
# Trimmed mean (robust center, exact rank cutoffs)
# ---------------------------------------------------------------------------

def trimmed_mean_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value per priority — the robust center the
    MAD check complements: drop the lowest and highest ceil(5%) ranks,
    average the rest exactly. Ranks are per-group row_numbers with a
    deterministic tie-break; the trim boundaries are integer ceils of the
    group size; the surviving values sum in decimal. Compare with the
    untrimmed mean to expose tail influence."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    lo = F.ceil(F.col("n") * 0.05)
    hi = F.col("n") - F.ceil(F.col("n") * 0.05)
    kept = ranked.filter((F.col("rn") > lo) & (F.col("rn") <= hi))
    trimmed = kept.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.round(
            dec_sum(F.col("o_totalprice"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("trimmed_mean"),
    )
    full = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(
            dec_sum(F.col("o_totalprice"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean"),
    )
    return full.join(trimmed, "o_orderpriority").select(
        "o_orderpriority", "n_orders", "mean", "n_kept", "trimmed_mean"
    )


TRIMMED_MEAN_PRICE_BY_PRIORITY_ORACLE = """
WITH ranked AS (
    SELECT o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
), kept AS (
    SELECT o_orderpriority, o_totalprice FROM ranked
    WHERE rn > CEIL(n * 0.05) AND rn <= n - CEIL(n * 0.05)
), trimmed AS (
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,12))) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS trimmed_mean
    FROM kept GROUP BY o_orderpriority
), allrows AS (
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,12))) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders, mean, n_kept, trimmed_mean
FROM allrows JOIN trimmed USING (o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Laspeyres price index (base-period basket, monthly series)
# ---------------------------------------------------------------------------

def price_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index of the part basket by ship month: Σ p_t·q_0 /
    Σ p_0·q_0 — each month's average part prices weighted by the BASE
    month's quantities, the fixed-basket construction real price indices
    use (quantity shifts can't masquerade as inflation). Per-part monthly
    average prices and base quantities are exact decimal aggregates; the
    index divides two exact-derived doubles. Parts missing from a month
    simply drop from that month's basket intersection (chained via the
    inner join) — the documented small-sample caveat."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.trunc(F.col("l_shipdate"), "month").alias("month"), "l_partkey"
    ).agg(
        dec_sum(F.col("l_extendedprice"), 27, 12).alias("sp"),
        dec_sum(F.col("l_quantity"), 27, 12).alias("sq"),
    ).select(
        "month",
        "l_partkey",
        (F.col("sp").cast("double") / F.col("sq").cast("double")).alias("avg_price"),
        F.col("sq").cast("double").alias("qty"),
    )
    base_month = monthly.agg(F.min("month").alias("bm"))
    base = (
        monthly.join(F.broadcast(base_month), F.col("month") == F.col("bm"))
        .select(
            F.col("l_partkey"),
            F.col("avg_price").alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    j = monthly.join(base, "l_partkey")
    idx = j.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        (
            F.sum((F.col("avg_price") * F.col("q0")).cast("decimal(38,12)"))
            .cast("double")
            / F.sum((F.col("p0") * F.col("q0")).cast("decimal(38,12)")).cast("double")
        ).alias("raw_idx"),
    )
    return idx.select(
        "month",
        "n_parts",
        F.round(F.col("raw_idx") * 100.0, 6).cast("double").alias("laspeyres_index"),
    )


PRICE_INDEX_MONTHLY_ORACLE = """
WITH monthly AS (
    SELECT date_trunc('month', l_shipdate) AS month, l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,12))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(27,12))) AS DOUBLE) AS avg_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,12))) AS DOUBLE) AS qty
    FROM lineitem GROUP BY 1, 2
), base AS (
    SELECT l_partkey, avg_price AS p0, qty AS q0 FROM monthly
    WHERE month = (SELECT MIN(month) FROM monthly)
)
SELECT m.month, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(ROUND(CAST(SUM(CAST(m.avg_price * b.q0 AS DECIMAL(38,12))) AS DOUBLE)
                  / CAST(SUM(CAST(b.p0 * b.q0 AS DECIMAL(38,12))) AS DOUBLE)
                  * 100.0, 6) AS DOUBLE) AS laspeyres_index
FROM monthly m JOIN base b USING (l_partkey)
GROUP BY m.month
"""


# ---------------------------------------------------------------------------
# Readability scoring (Flesch-style, deterministic syllable heuristic)
# ---------------------------------------------------------------------------

def readability_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style reading ease per document with a DETERMINISTIC syllable
    heuristic — vowel-group count via one regexp_extract_all (the exact
    same RE2∩Java pattern both engines run), sentences as period-delimited
    spans floored at 1. The formula's inputs are all integers, so the
    score is exact-operand double arithmetic; it feeds quality filtering
    alongside the stopword/length features. Map-side only."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+"), 0)
    ).cast("bigint")
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1),
    ).cast("bigint")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.filter(words > 0).select(
        "doc_id",
        words.alias("n_words"),
        syllables.alias("n_syllables"),
        sentences.alias("n_sentences"),
        F.round(score, 4).cast("double").alias("flesch_score"),
    )


READABILITY_SCORES_DOCUMENTS_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables,
       CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
       CAST(ROUND(206.835
                  - 1.015 * (CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE)
                             / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                                    AS DOUBLE))
                  - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                                 AS DOUBLE)
                            / CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
                                   AS DOUBLE)), 4) AS DOUBLE) AS flesch_score
FROM documents
WHERE len(regexp_extract_all(text, '[A-Za-z]+')) > 0
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/synthetic-data smell test)
# ---------------------------------------------------------------------------

def benford_digit_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order values vs Benford's
    law, with the chi-square distance — the classic audit for fabricated
    or truncated monetary data. Digit extraction is EXACT: the value
    becomes integer cents (round half-up on identical doubles), and the
    leading digit is the first character of the INTEGER's string — never
    a log10/floor round-trip that can flip at a power-of-ten boundary,
    and never double→string formatting (engine-dependent). Expected
    shares are literal constants; the statistic is exact-operand
    arithmetic over bigint counts."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = Window.partitionBy()
    import math

    expected = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    exp_col = F.lit(None).cast("double")
    for d, p in expected.items():
        exp_col = F.when(F.col("digit") == d, F.lit(p)).otherwise(exp_col)
    n_tot = F.sum("n").over(tot).cast("double")
    share = F.col("n").cast("double") / n_tot
    chi_term = (share - exp_col) * (share - exp_col) / exp_col
    return counts.select(
        "digit",
        "n",
        F.round(share, 6).cast("double").alias("share"),
        F.round(exp_col, 6).cast("double").alias("benford_share"),
        F.round(chi_term * n_tot, 6).cast("double").alias("chi_term"),
    )


def _benford_oracle() -> str:
    import math

    cases = " ".join(
        f"WHEN digit = {d} THEN {math.log10(1.0 + 1.0 / d)!r}" for d in range(1, 10)
    )
    return f"""
WITH counts AS (
    SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1
    HAVING digit >= 1
)
SELECT digit, n,
       CAST(ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6)
            AS DOUBLE) AS share,
       CAST(ROUND(CASE {cases} END, 6) AS DOUBLE) AS benford_share,
       CAST(ROUND((CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                   - CASE {cases} END)
                  * (CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                     - CASE {cases} END)
                  / (CASE {cases} END)
                  * CAST(SUM(n) OVER () AS DOUBLE), 6) AS DOUBLE) AS chi_term
FROM counts
"""


BENFORD_DIGIT_TEST_ORDERS_ORACLE = _benford_oracle()


# ---------------------------------------------------------------------------
# Distribution-drift monitor (PSI + KL over fixed buckets)
# ---------------------------------------------------------------------------

def value_drift_weekday_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index and KL divergence between the weekday
    and weekend event-value distributions over a fixed bucket grid — the
    drift monitor a feature pipeline runs between reference and serving
    windows (PSI > 0.2 = investigate). Bucket shares are +1-smoothed
    bigint ratios (exact doubles); each ln term is rounded to 9 decimals
    before the decimal sum (the PMI libm policy), so the aggregate never
    depends on summation order. One scan, one groupBy; the per-bucket
    table is the audit detail, the single-row metrics ride a window."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        F.floor(F.col("value") / 25.0).cast("bigint").alias("bucket"),
        ((F.weekday("ts") + F.lit(1)) >= 6).alias("is_weekend"),
    )
    g = tagged.groupBy("bucket").agg(
        F.count(F.when(~F.col("is_weekend"), 1)).cast("bigint").alias("n_wd"),
        F.count(F.when(F.col("is_weekend"), 1)).cast("bigint").alias("n_we"),
    )
    w = Window.partitionBy()
    n_buckets = F.count("*").over(w).cast("double")
    tot_wd = F.sum("n_wd").over(w).cast("double") + n_buckets
    tot_we = F.sum("n_we").over(w).cast("double") + n_buckets
    p = (F.col("n_wd").cast("double") + F.lit(1.0)) / tot_wd
    q = (F.col("n_we").cast("double") + F.lit(1.0)) / tot_we
    lnr = F.round(F.log(p / q), 9)
    detail = g.select(
        "bucket",
        "n_wd",
        "n_we",
        ((p - q) * lnr).cast("decimal(18,12)").alias("psi_term"),
        (p * lnr).cast("decimal(18,12)").alias("kl_term"),
    )
    return detail.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.round(F.sum("psi_term").cast("double"), 6).cast("double").alias("psi"),
        F.round(F.sum("kl_term").cast("double"), 6).cast("double").alias("kl_wd_we"),
    )


VALUE_DRIFT_WEEKDAY_WEEKEND_ORACLE = """
WITH g AS (
    SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
           CAST(COUNT(CASE WHEN isodow(ts) < 6 THEN 1 END) AS BIGINT) AS n_wd,
           CAST(COUNT(CASE WHEN isodow(ts) >= 6 THEN 1 END) AS BIGINT) AS n_we
    FROM events GROUP BY 1
), shares AS (
    SELECT bucket, n_wd, n_we,
           (CAST(n_wd AS DOUBLE) + 1.0)
               / (CAST(SUM(n_wd) OVER () AS DOUBLE)
                  + CAST(COUNT(*) OVER () AS DOUBLE)) AS p,
           (CAST(n_we AS DOUBLE) + 1.0)
               / (CAST(SUM(n_we) OVER () AS DOUBLE)
                  + CAST(COUNT(*) OVER () AS DOUBLE)) AS q
    FROM g
), terms AS (
    SELECT CAST((p - q) * ROUND(ln(p / q), 9) AS DECIMAL(18,12)) AS psi_term,
           CAST(p * ROUND(ln(p / q), 9) AS DECIMAL(18,12)) AS kl_term
    FROM shares
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(ROUND(CAST(SUM(psi_term) AS DOUBLE), 6) AS DOUBLE) AS psi,
       CAST(ROUND(CAST(SUM(kl_term) AS DOUBLE), 6) AS DOUBLE) AS kl_wd_we
FROM terms
"""


# ---------------------------------------------------------------------------
# Weighted median (cumulative-weight rank, exact decimal weights)
# ---------------------------------------------------------------------------

def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total — each
    sold unit votes, not each line item (plain medians over line items
    over-weight small orders). Cumulative and total weights are exact
    decimal sums compared directly in decimal, so the pick row — and
    therefore the median — can never flip on float accumulation. Window
    over the per-(flag, price) aggregate, not raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    price = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    g = li.select("l_returnflag", price, "l_quantity").groupBy(
        "l_returnflag", "unit_price"
    ).agg(dec_sum(F.col("l_quantity"), 27, 12).alias("wsum"))
    w_cum = Window.partitionBy("l_returnflag").orderBy("unit_price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("l_returnflag")
    cum = g.select(
        "l_returnflag",
        "unit_price",
        F.sum("wsum").over(w_cum).alias("cumw"),
        F.sum("wsum").over(w_tot).alias("totw"),
    )
    half = F.col("totw") / F.lit(2).cast("decimal(10,0)")
    picked = cum.filter(F.col("cumw") >= half)
    pick = Window.partitionBy("l_returnflag").orderBy("unit_price")
    return (
        picked.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.round(F.col("unit_price"), 6).cast("double").alias("weighted_median_price"),
            F.round(F.col("totw").cast("double"), 2).cast("double").alias("total_qty"),
        )
    )


WEIGHTED_MEDIAN_PRICE_BY_FLAG_ORACLE = """
WITH g AS (
    SELECT l_returnflag, l_extendedprice / l_quantity AS unit_price,
           SUM(CAST(l_quantity AS DECIMAL(27,12))) AS wsum
    FROM lineitem GROUP BY 1, 2
), cum AS (
    SELECT l_returnflag, unit_price,
           SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY unit_price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
           SUM(wsum) OVER (PARTITION BY l_returnflag) AS totw
    FROM g
), picked AS (
    SELECT l_returnflag, unit_price, totw,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY unit_price)
               AS rn
    FROM cum WHERE cumw >= totw / CAST(2 AS DECIMAL(10,0))
)
SELECT l_returnflag,
       CAST(ROUND(unit_price, 6) AS DOUBLE) AS weighted_median_price,
       CAST(ROUND(CAST(totw AS DOUBLE), 2) AS DOUBLE) AS total_qty
FROM picked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Sessionized bounce rate (single-event sessions / all sessions, daily)
# ---------------------------------------------------------------------------

def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (5-minute gaps-and-islands,
    attributed to their start day) containing exactly one event — the
    engagement metric every web pipeline reports. Session identification
    reuses the integer-microsecond islands construction; the rate is a
    bigint ratio."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    numbered = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap >= 300_000_000), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = numbered.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.to_date(F.min("ts")).alias("day"),
    )
    return sessions.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).cast("bigint").alias("n_bounces"),
        F.round(
            F.count(F.when(F.col("n_events") == 1, 1)).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("bounce_rate"),
    )


BOUNCE_RATE_DAILY_ORACLE = """
WITH numbered AS (
    SELECT user_id, ts,
           SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 300000000
                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM (
        SELECT user_id, event_id, ts,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events
    )
), sessions AS (
    SELECT user_id, session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ts) AS DATE) AS day
    FROM numbered GROUP BY user_id, session_seq
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_bounces,
       CAST(ROUND(CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS bounce_rate
FROM sessions GROUP BY day
"""


# ---------------------------------------------------------------------------
# l-diversity release audit (companion to k_anonymity_report_events)
# ---------------------------------------------------------------------------


def l_diversity_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) — the release
    gate k-anonymity misses: a group can be large yet expose everyone in it
    if all members share one sensitive value. Quasi-identifiers are
    (event_type, ISO weekday) — k_anonymity_report_events' QI set minus the
    bucket — and the sensitive attribute is the value bucket itself.
    Reports distinct l-diversity (min #distinct sensitive values per QI
    group, groups/rows below l=3) and ENTROPY l-diversity: the minimum over
    groups of exp(H(sensitive)), the effective number of sensitive classes
    an attacker faces. Two keyed aggregates; the entropy sum follows the
    house decimal rule (per-(group,bucket) -p·ln p terms are
    bitwise-deterministic doubles, summed exactly in DECIMAL(27,12)).
    Weekday parity: Spark ``weekday()+1`` == DuckDB ``isodow()``."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("int").alias("dow"),
        F.floor(F.col("value") / 50.0).cast("bigint").alias("sv"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    w_tot = Window.partitionBy("event_type", "dow")
    with_tot = cells.withColumn("tot", F.sum("cnt").over(w_tot))
    p = F.col("cnt").cast("double") / F.col("tot").cast("double")
    groups = with_tot.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("l_distinct"),
        F.max("tot").cast("bigint").alias("n_rows"),
        F.round(
            F.exp(dec_sum(-p * F.log(p), 27, 12).cast("double")), 6
        ).alias("entropy_l"),
    )
    return groups.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("l_distinct").cast("bigint").alias("l_min"),
        F.count(F.when(F.col("l_distinct") < 3, 1))
        .cast("bigint")
        .alias("groups_below_3"),
        F.round(
            F.sum(
                F.when(F.col("l_distinct") < 3, F.col("n_rows")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("n_rows").cast("double")
            * 100.0,
            6,
        )
        .cast("double")
        .alias("pct_rows_below_3"),
        F.min("entropy_l").cast("double").alias("entropy_l_min"),
    )


L_DIVERSITY_REPORT_EVENTS_ORACLE = """
WITH cells AS (
    SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS sv,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2, 3
), with_tot AS (
    SELECT *, SUM(cnt) OVER (PARTITION BY event_type, dow) AS tot
    FROM cells
), groups AS (
    SELECT event_type, dow,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           CAST(MAX(tot) AS BIGINT) AS n_rows,
           ROUND(exp(CAST(SUM(CAST(
               -(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
               * ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
               AS DECIMAL(27,12))) AS DOUBLE)), 6) AS entropy_l
    FROM with_tot GROUP BY event_type, dow
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(MIN(l_distinct) AS BIGINT) AS l_min,
       CAST(COUNT(CASE WHEN l_distinct < 3 THEN 1 END) AS BIGINT)
           AS groups_below_3,
       CAST(ROUND(CAST(SUM(CASE WHEN l_distinct < 3 THEN n_rows ELSE 0 END)
                       AS DOUBLE)
                  / CAST(SUM(n_rows) AS DOUBLE) * 100.0, 6) AS DOUBLE)
           AS pct_rows_below_3,
       CAST(MIN(entropy_l) AS DOUBLE) AS entropy_l_min
FROM groups
"""


# ---------------------------------------------------------------------------
# Data-profiling dependency discovery (Metanome-family)
# ---------------------------------------------------------------------------


def fd_discovery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check over a fixed candidate set — the
    schema-profiling primitive (TANE / Metanome family) that tells a
    pipeline which columns are derivable before it normalizes or joins.
    For each candidate LHS→RHS: #LHS groups, #groups seeing >1 distinct
    RHS, and the g3 error (minimum rows to delete for the FD to hold =
    n_rows − Σ per-group max RHS multiplicity — Kivinen & Mannila's
    measure). Each candidate is one (LHS,RHS) count aggregate re-grouped
    by LHS — two keyed shuffles per candidate on the profiled columns,
    never a self-join; candidates union into one labeled report."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cands = [
        ("orders: o_orderkey -> o_custkey", orders, ["o_orderkey"], "o_custkey"),
        (
            "orders: o_custkey -> o_orderpriority",
            orders,
            ["o_custkey"],
            "o_orderpriority",
        ),
        (
            "lineitem: l_orderkey -> l_returnflag",
            lineitem,
            ["l_orderkey"],
            "l_returnflag",
        ),
        (
            "lineitem: (l_orderkey,l_linenumber) -> l_partkey",
            lineitem,
            ["l_orderkey", "l_linenumber"],
            "l_partkey",
        ),
    ]
    parts = []
    for label, tbl, lhs, rhs in cands:
        cells = tbl.groupBy(*lhs, rhs).agg(F.count("*").cast("bigint").alias("cnt"))
        groups = cells.groupBy(*lhs).agg(
            F.count("*").cast("bigint").alias("n_rhs"),
            F.max("cnt").cast("bigint").alias("max_cnt"),
            F.sum("cnt").cast("bigint").alias("tot"),
        )
        parts.append(
            groups.agg(
                F.count("*").cast("bigint").alias("n_lhs_groups"),
                F.count(F.when(F.col("n_rhs") > 1, 1))
                .cast("bigint")
                .alias("n_violating_groups"),
                (F.sum("tot") - F.sum("max_cnt")).cast("bigint").alias("g3_rows"),
                F.round(
                    (F.sum("tot") - F.sum("max_cnt")).cast("double")
                    / F.sum("tot").cast("double"),
                    6,
                )
                .cast("double")
                .alias("g3_error"),
                (F.count(F.when(F.col("n_rhs") > 1, 1)) == 0).alias("holds"),
            ).select(
                F.lit(label).alias("candidate"),
                "n_lhs_groups",
                "n_violating_groups",
                "g3_rows",
                "g3_error",
                "holds",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("candidate")


FD_DISCOVERY_ORDERS_ORACLE = """
WITH c1 AS (
  SELECT o_orderkey AS k1, CAST(NULL AS BIGINT) AS k2, o_custkey::VARCHAR AS rhs
  FROM orders
), g1 AS (
  SELECT k1, k2, rhs, CAST(COUNT(*) AS BIGINT) AS cnt FROM c1 GROUP BY 1,2,3
), s1 AS (
  SELECT 'orders: o_orderkey -> o_custkey' AS candidate,
         CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
         CAST(COUNT(CASE WHEN n_rhs > 1 THEN 1 END) AS BIGINT)
             AS n_violating_groups,
         CAST(SUM(tot) - SUM(max_cnt) AS BIGINT) AS g3_rows,
         CAST(ROUND(CAST(SUM(tot) - SUM(max_cnt) AS DOUBLE)
                    / CAST(SUM(tot) AS DOUBLE), 6) AS DOUBLE) AS g3_error,
         COUNT(CASE WHEN n_rhs > 1 THEN 1 END) = 0 AS holds
  FROM (SELECT k1, k2, CAST(COUNT(*) AS BIGINT) AS n_rhs,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt) AS BIGINT) AS tot
        FROM g1 GROUP BY k1, k2)
), c2 AS (
  SELECT o_custkey AS k1, CAST(NULL AS BIGINT) AS k2, o_orderpriority AS rhs
  FROM orders
), g2 AS (
  SELECT k1, k2, rhs, CAST(COUNT(*) AS BIGINT) AS cnt FROM c2 GROUP BY 1,2,3
), s2 AS (
  SELECT 'orders: o_custkey -> o_orderpriority' AS candidate,
         CAST(COUNT(*) AS BIGINT), CAST(COUNT(CASE WHEN n_rhs > 1 THEN 1 END) AS BIGINT),
         CAST(SUM(tot) - SUM(max_cnt) AS BIGINT),
         CAST(ROUND(CAST(SUM(tot) - SUM(max_cnt) AS DOUBLE)
                    / CAST(SUM(tot) AS DOUBLE), 6) AS DOUBLE),
         COUNT(CASE WHEN n_rhs > 1 THEN 1 END) = 0
  FROM (SELECT k1, k2, CAST(COUNT(*) AS BIGINT) AS n_rhs,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt) AS BIGINT) AS tot
        FROM g2 GROUP BY k1, k2)
), c3 AS (
  SELECT l_orderkey AS k1, CAST(NULL AS BIGINT) AS k2, l_returnflag AS rhs
  FROM lineitem
), g3t AS (
  SELECT k1, k2, rhs, CAST(COUNT(*) AS BIGINT) AS cnt FROM c3 GROUP BY 1,2,3
), s3 AS (
  SELECT 'lineitem: l_orderkey -> l_returnflag' AS candidate,
         CAST(COUNT(*) AS BIGINT), CAST(COUNT(CASE WHEN n_rhs > 1 THEN 1 END) AS BIGINT),
         CAST(SUM(tot) - SUM(max_cnt) AS BIGINT),
         CAST(ROUND(CAST(SUM(tot) - SUM(max_cnt) AS DOUBLE)
                    / CAST(SUM(tot) AS DOUBLE), 6) AS DOUBLE),
         COUNT(CASE WHEN n_rhs > 1 THEN 1 END) = 0
  FROM (SELECT k1, k2, CAST(COUNT(*) AS BIGINT) AS n_rhs,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt) AS BIGINT) AS tot
        FROM g3t GROUP BY k1, k2)
), c4 AS (
  SELECT l_orderkey AS k1, CAST(l_linenumber AS BIGINT) AS k2,
         l_partkey::VARCHAR AS rhs
  FROM lineitem
), g4 AS (
  SELECT k1, k2, rhs, CAST(COUNT(*) AS BIGINT) AS cnt FROM c4 GROUP BY 1,2,3
), s4 AS (
  SELECT 'lineitem: (l_orderkey,l_linenumber) -> l_partkey' AS candidate,
         CAST(COUNT(*) AS BIGINT), CAST(COUNT(CASE WHEN n_rhs > 1 THEN 1 END) AS BIGINT),
         CAST(SUM(tot) - SUM(max_cnt) AS BIGINT),
         CAST(ROUND(CAST(SUM(tot) - SUM(max_cnt) AS DOUBLE)
                    / CAST(SUM(tot) AS DOUBLE), 6) AS DOUBLE),
         COUNT(CASE WHEN n_rhs > 1 THEN 1 END) = 0
  FROM (SELECT k1, k2, CAST(COUNT(*) AS BIGINT) AS n_rhs,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt) AS BIGINT) AS tot
        FROM g4 GROUP BY k1, k2)
)
SELECT * FROM s1 UNION ALL SELECT * FROM s2
UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
ORDER BY candidate
"""


def fk_inclusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) audit: for each candidate
    child⊆parent pair, the distinct child-key count, orphan count (child
    values absent from the parent), and containment share — the
    referential-integrity profile run before trusting any join. Child
    sides aggregate to DISTINCT keys FIRST (key-cardinality-sized), then
    left-anti-join the parent key set — broadcast when the parent is a
    dimension; the fact table is never joined raw. The events.user_id
    candidate is deliberately includes-violations-if-any: an audit that
    can only say 'holds' verifies nothing."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    events = load_table(spark, sf_dir, "events")
    cands = [
        (
            "lineitem.l_orderkey <= orders.o_orderkey",
            lineitem.select(F.col("l_orderkey").alias("k")),
            orders.select(F.col("o_orderkey").alias("k")),
            False,
        ),
        (
            "orders.o_custkey <= customer.c_custkey",
            orders.select(F.col("o_custkey").alias("k")),
            customer.select(F.col("c_custkey").alias("k")),
            True,
        ),
        (
            "lineitem.l_partkey <= part.p_partkey",
            lineitem.select(F.col("l_partkey").alias("k")),
            part.select(F.col("p_partkey").alias("k")),
            True,
        ),
        (
            "lineitem.l_suppkey <= supplier.s_suppkey",
            lineitem.select(F.col("l_suppkey").alias("k")),
            supplier.select(F.col("s_suppkey").alias("k")),
            True,
        ),
        (
            "events.user_id <= customer.c_custkey",
            events.select(F.col("user_id").alias("k")),
            customer.select(F.col("c_custkey").alias("k")),
            True,
        ),
    ]
    parts = []
    for label, child, parent, bcast in cands:
        # ck is deliberately NOT pinned (r11): the five candidates' count
        # and anti-join branches all run CONCURRENTLY in one action, so
        # the duplicated distinct is wall-clock-hidden; pinning serialized
        # five materialization jobs and measured +0.6-0.9 s in every
        # alternating pass (1.43-1.69 s unpinned vs 2.17-2.58 s pinned,
        # quiet min-of-2 ×3). The duplication is a flat 2× per candidate,
        # not a pass-count multiplier — the same branch parallelism hides
        # it on a cluster.
        ck = child.filter(F.col("k").isNotNull()).distinct()
        pk = parent.distinct()
        orphans = ck.join(F.broadcast(pk) if bcast else pk, "k", "left_anti")
        summary = ck.agg(
            F.count("*").cast("bigint").alias("n_child_keys")
        ).crossJoin(
            orphans.agg(F.count("*").cast("bigint").alias("n_orphan_keys"))
        )
        parts.append(
            summary.select(
                F.lit(label).alias("candidate"),
                "n_child_keys",
                "n_orphan_keys",
                F.round(
                    (F.col("n_child_keys") - F.col("n_orphan_keys")).cast(
                        "double"
                    )
                    / F.col("n_child_keys").cast("double")
                    * 100.0,
                    6,
                )
                .cast("double")
                .alias("containment_pct"),
                (F.col("n_orphan_keys") == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("candidate")


FK_INCLUSION_AUDIT_ORACLE = """
WITH cands AS (
  SELECT 'lineitem.l_orderkey <= orders.o_orderkey' AS candidate,
         (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
          WHERE l_orderkey IS NOT NULL) AS n_child_keys,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT l_orderkey AS k FROM lineitem
             WHERE l_orderkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.k))
             AS n_orphan_keys
  UNION ALL
  SELECT 'orders.o_custkey <= customer.c_custkey',
         (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
          WHERE o_custkey IS NOT NULL),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT o_custkey AS k FROM orders
             WHERE o_custkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.k))
  UNION ALL
  SELECT 'lineitem.l_partkey <= part.p_partkey',
         (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
          WHERE l_partkey IS NOT NULL),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT l_partkey AS k FROM lineitem
             WHERE l_partkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.k))
  UNION ALL
  SELECT 'lineitem.l_suppkey <= supplier.s_suppkey',
         (SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) FROM lineitem
          WHERE l_suppkey IS NOT NULL),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT l_suppkey AS k FROM lineitem
             WHERE l_suppkey IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.k))
  UNION ALL
  SELECT 'events.user_id <= customer.c_custkey',
         (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
          WHERE user_id IS NOT NULL),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT user_id AS k FROM events
             WHERE user_id IS NOT NULL) c
          WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.k))
)
SELECT candidate, n_child_keys, n_orphan_keys,
       CAST(ROUND(CAST(n_child_keys - n_orphan_keys AS DOUBLE)
                  / CAST(n_child_keys AS DOUBLE) * 100.0, 6) AS DOUBLE)
           AS containment_pct,
       n_orphan_keys = 0 AS holds
FROM cands ORDER BY candidate
"""


# ---------------------------------------------------------------------------
# t-closeness — third leg of the privacy-audit triad
# ---------------------------------------------------------------------------

def t_closeness_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    release gate l-diversity misses: a group can hold many distinct
    sensitive values yet still leak if its distribution skews far from the
    table-wide one. QI groups are (event_type, ISO weekday) — the same set
    as ``l_diversity_report_events`` — and the ordered sensitive attribute
    is the value bucket. Per group, Earth Mover's Distance with ordered
    distance: EMD = Σᵢ |cum(P)ᵢ − cum(Q)ᵢ| / (m−1) over the m-bucket
    domain, P the group and Q the global distribution.

    Arithmetic is EXACT integers end-to-end: the cumulative-difference
    numerator cum_p·gtot − cum_q·ptot is DECIMAL(38,0) (bigint would
    overflow at ~1e12 rows), so the only float op is one final division —
    the hash can never ride a summation order. Shuffle shape: one
    fact-table aggregate to (QI × bucket) cells, then everything is
    domain-sized (groups × m ≈ 35 × 10 rows); the per-group cum window is
    partitioned by QI. Weekday parity: Spark ``weekday()+1`` == DuckDB
    ``isodow()``."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("int").alias("dow"),
        F.floor(F.col("value") / 50.0).cast("bigint").alias("sv"),
    )
    cells = base.groupBy("event_type", "dow", "sv").agg(
        F.count("*").cast("bigint").alias("pcnt")
    )
    glob = cells.groupBy("sv").agg(F.sum("pcnt").cast("bigint").alias("qcnt"))
    gtot = glob.agg(
        F.sum("qcnt").cast("bigint").alias("gtot"),
        F.count("*").cast("bigint").alias("m"),
    )
    groups = cells.groupBy("event_type", "dow").agg(
        F.sum("pcnt").cast("bigint").alias("ptot")
    )
    # dense (group × bucket) grid so missing cells contribute pcnt=0
    filled = (
        groups.crossJoin(F.broadcast(glob))
        .join(cells, ["event_type", "dow", "sv"], "left")
        .withColumn("pcnt", F.coalesce("pcnt", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(gtot))
    )
    w = Window.partitionBy("event_type", "dow").orderBy("sv")
    cum = filled.select(
        "event_type",
        "dow",
        "ptot",
        "gtot",
        "m",
        F.sum("pcnt").over(w).alias("cum_p"),
        F.sum("qcnt").over(w).alias("cum_q"),
    )
    num = F.abs(
        F.col("cum_p").cast("decimal(19,0)") * F.col("gtot").cast("decimal(19,0)")
        - F.col("cum_q").cast("decimal(19,0)") * F.col("ptot").cast("decimal(19,0)")
    )
    per_group = cum.groupBy("event_type", "dow", "ptot", "gtot", "m").agg(
        F.sum(num).alias("emd_num")
    )
    emd = F.round(
        F.col("emd_num").cast("double")
        / (
            (F.col("m").cast("double") - F.lit(1.0))
            * F.col("ptot").cast("double")
            * F.col("gtot").cast("double")
        ),
        6,
    ).cast("double")
    scored = per_group.select(
        "event_type", "dow", "ptot", F.col("m").alias("m"), emd.alias("emd")
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.max("m").cast("bigint").alias("m_buckets"),
        F.max("emd").cast("double").alias("t_max"),
        F.round(
            dec_sum(F.col("emd") * F.col("ptot").cast("double"), 27, 12)
            .cast("double")
            / F.sum("ptot").cast("double"),
            6,
        )
        .cast("double")
        .alias("t_row_weighted_mean"),
        F.count(F.when(F.col("emd") > 0.2, 1)).cast("bigint").alias(
            "groups_above_02"
        ),
        F.round(
            F.sum(F.when(F.col("emd") > 0.2, F.col("ptot")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("ptot").cast("double")
            * 100.0,
            6,
        )
        .cast("double")
        .alias("pct_rows_above_02"),
    )


T_CLOSENESS_REPORT_EVENTS_ORACLE = """
WITH base AS (
    SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS sv
    FROM events
), cells AS (
    SELECT event_type, dow, sv, CAST(COUNT(*) AS BIGINT) AS pcnt
    FROM base GROUP BY 1, 2, 3
), gdist AS (
    SELECT sv, CAST(SUM(pcnt) AS BIGINT) AS qcnt FROM cells GROUP BY sv
), gtot AS (
    SELECT CAST(SUM(qcnt) AS BIGINT) AS gtot,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM gdist
), groups AS (
    SELECT event_type, dow, CAST(SUM(pcnt) AS BIGINT) AS ptot
    FROM cells GROUP BY 1, 2
), filled AS (
    SELECT g.event_type, g.dow, gl.sv, gl.qcnt, g.ptot,
           CAST(COALESCE(c.pcnt, 0) AS BIGINT) AS pcnt
    FROM groups g CROSS JOIN gdist gl
    LEFT JOIN cells c
      ON c.event_type = g.event_type AND c.dow = g.dow AND c.sv = gl.sv
), cum AS (
    SELECT event_type, dow, ptot, gtot.gtot, gtot.m,
           SUM(pcnt) OVER (PARTITION BY event_type, dow ORDER BY sv) AS cum_p,
           SUM(qcnt) OVER (PARTITION BY event_type, dow ORDER BY sv) AS cum_q
    FROM filled CROSS JOIN gtot
), per_group AS (
    SELECT event_type, dow, ptot, gtot, m,
           SUM(ABS(CAST(cum_p AS DECIMAL(19,0)) * CAST(gtot AS DECIMAL(19,0))
                   - CAST(cum_q AS DECIMAL(19,0)) * CAST(ptot AS DECIMAL(19,0))))
               AS emd_num
    FROM cum GROUP BY 1, 2, 3, 4, 5
), scored AS (
    SELECT event_type, dow, ptot, m,
           CAST(ROUND(CAST(emd_num AS DOUBLE)
                      / ((CAST(m AS DOUBLE) - 1.0)
                         * CAST(ptot AS DOUBLE) * CAST(gtot AS DOUBLE)), 6)
                AS DOUBLE) AS emd
    FROM per_group
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MAX(m) AS BIGINT) AS m_buckets,
       CAST(MAX(emd) AS DOUBLE) AS t_max,
       CAST(ROUND(CAST(SUM(CAST(emd * CAST(ptot AS DOUBLE)
                                AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(SUM(ptot) AS DOUBLE), 6) AS DOUBLE)
           AS t_row_weighted_mean,
       CAST(COUNT(CASE WHEN emd > 0.2 THEN 1 END) AS BIGINT)
           AS groups_above_02,
       CAST(ROUND(CAST(SUM(CASE WHEN emd > 0.2 THEN ptot ELSE 0 END)
                       AS DOUBLE)
                  / CAST(SUM(ptot) AS DOUBLE) * 100.0, 6) AS DOUBLE)
           AS pct_rows_above_02
FROM scored
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence — distribution drift between event populations
# ---------------------------------------------------------------------------

def js_divergence_event_types_weekpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the weekday and weekend
    event-type distributions — the bounded, symmetric drift metric (0 ≤
    JSD ≤ ln 2) monitoring pipelines prefer over raw KL (which is
    asymmetric and infinite on disjoint support). P = weekday mix, Q =
    weekend mix, M = (P+Q)/2; JSD = ½ΣP ln(P/M) + ½ΣQ ln(Q/M).

    Determinism follows the ``copurchase_lift_parts`` libm rule: P, Q, M
    are exact bigint-ratio doubles (identical on both engines), each
    ln(·) output is rounded to 9 decimals BEFORE multiplying by the exact
    probability, and the per-type terms sum in decimal. Zero-support types
    contribute exactly 0 via the guard. Scale: one fact aggregate to
    (type × weekpart) cells (~10 rows); everything downstream is
    type-count sized. Weekpart parity: Spark ``weekday() < 5`` == DuckDB
    ``isodow() <= 5``."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") < 5).cast("int").alias("is_wd")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    per_type = cells.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_wd") == 1, F.col("cnt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("c_wd"),
        F.sum(F.when(F.col("is_wd") == 0, F.col("cnt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("c_we"),
    )
    tot = Window.partitionBy()
    p = F.col("c_wd").cast("double") / F.sum("c_wd").over(tot).cast("double")
    q = F.col("c_we").cast("double") / F.sum("c_we").over(tot).cast("double")
    m = (p + q) / F.lit(2.0)
    term_p = F.when(p > 0, p * F.round(F.log(p / m), 9)).otherwise(F.lit(0.0))
    term_q = F.when(q > 0, q * F.round(F.log(q / m), 9)).otherwise(F.lit(0.0))
    terms = per_type.select(
        "event_type", term_p.alias("tp"), term_q.alias("tq")
    )
    js = (
        dec_sum(F.col("tp"), 27, 12).cast("double")
        + dec_sum(F.col("tq"), 27, 12).cast("double")
    ) / F.lit(2.0)
    return terms.agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.round(js, 6).cast("double").alias("jsd_nats"),
        F.round(js / F.lit(0.6931471805599453), 6)
        .cast("double")
        .alias("jsd_bits"),
    )


JS_DIVERGENCE_EVENT_TYPES_WEEKPART_ORACLE = """
WITH cells AS (
    SELECT event_type,
           CASE WHEN isodow(ts) <= 5 THEN 1 ELSE 0 END AS is_wd,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
), per_type AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN is_wd = 1 THEN cnt ELSE 0 END) AS BIGINT) AS c_wd,
           CAST(SUM(CASE WHEN is_wd = 0 THEN cnt ELSE 0 END) AS BIGINT) AS c_we
    FROM cells GROUP BY event_type
), probs AS (
    SELECT event_type,
           CAST(c_wd AS DOUBLE) / CAST(SUM(c_wd) OVER () AS DOUBLE) AS p,
           CAST(c_we AS DOUBLE) / CAST(SUM(c_we) OVER () AS DOUBLE) AS q
    FROM per_type
), terms AS (
    SELECT event_type,
           CASE WHEN p > 0
                THEN p * ROUND(ln(p / ((p + q) / 2.0)), 9) ELSE 0.0 END AS tp,
           CASE WHEN q > 0
                THEN q * ROUND(ln(q / ((p + q) / 2.0)), 9) ELSE 0.0 END AS tq
    FROM probs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(ROUND((CAST(SUM(CAST(tp AS DECIMAL(27,12))) AS DOUBLE)
                   + CAST(SUM(CAST(tq AS DECIMAL(27,12))) AS DOUBLE)) / 2.0, 6)
            AS DOUBLE) AS jsd_nats,
       CAST(ROUND((CAST(SUM(CAST(tp AS DECIMAL(27,12))) AS DOUBLE)
                   + CAST(SUM(CAST(tq AS DECIMAL(27,12))) AS DOUBLE)) / 2.0
                  / 0.6931471805599453, 6) AS DOUBLE) AS jsd_bits
FROM terms
"""


# ---------------------------------------------------------------------------
# Cramér's V — bounded association strength for two categoricals
# ---------------------------------------------------------------------------

def cramers_v_event_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between event_type and ISO weekday — the [0,1]-bounded
    association coefficient that makes ``chi_square_event_dow``'s raw χ²
    comparable across tables of different size and shape, plus the
    Bergsma (2013) bias-corrected variant that de-noises small-sample
    readings. χ² follows the chi-square operator's exact pattern (cell
    terms from bigint marginals, decimal fold); V and Ṽ derive from the
    ROUNDED χ² so the sqrt can never ride a summation ulp. Scale: one
    fact aggregate to the r×c contingency table (~35 rows); marginals are
    window sums over that aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).cast("int").alias("isodow")
    ).agg(F.count("*").cast("bigint").alias("obs"))
    row_t = Window.partitionBy("event_type")
    col_t = Window.partitionBy("isodow")
    grand = Window.partitionBy()
    exp = (
        F.sum("obs").over(row_t).cast("double")
        * F.sum("obs").over(col_t).cast("double")
        / F.sum("obs").over(grand).cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    terms = cells.select(
        term.alias("term"),
        "obs",
        F.col("event_type"),
        F.col("isodow"),
    )
    s = terms.agg(
        F.round(dec_sum(F.col("term"), 27, 12), 6).cast("double").alias("chi2"),
        F.sum("obs").cast("bigint").alias("n_rows"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("isodow").cast("bigint").alias("c"),
    )
    nd = F.col("n_rows").cast("double")
    rd = F.col("r").cast("double")
    cd = F.col("c").cast("double")
    k_min = F.least(rd, cd)
    phi2 = F.col("chi2") / nd
    # Bergsma bias correction: phi2' = max(0, phi2 - (r-1)(c-1)/(n-1)),
    # r' = r - (r-1)^2/(n-1), c' likewise; V~ = sqrt(phi2'/min(r'-1, c'-1))
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (rd - 1) * (cd - 1) / (nd - 1)
    )
    rc = rd - (rd - 1) * (rd - 1) / (nd - 1)
    cc = cd - (cd - 1) * (cd - 1) / (nd - 1)
    return s.select(
        "n_rows",
        "r",
        "c",
        "chi2",
        F.round(F.sqrt(phi2 / (k_min - 1)), 6).cast("double").alias("cramers_v"),
        F.round(F.sqrt(phi2c / (F.least(rc, cc) - 1)), 6)
        .cast("double")
        .alias("cramers_v_corrected"),
    )


CRAMERS_V_EVENT_TYPE_DOW_ORACLE = """
WITH cells AS (
    SELECT event_type, CAST(isodow(ts) AS INTEGER) AS isodow,
           CAST(COUNT(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
), terms AS (
    SELECT obs, event_type, isodow,
           (CAST(obs AS DOUBLE)
            - CAST(SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(obs) OVER (PARTITION BY isodow) AS DOUBLE)
              / CAST(SUM(obs) OVER () AS DOUBLE))
           * (CAST(obs AS DOUBLE)
              - CAST(SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
                * CAST(SUM(obs) OVER (PARTITION BY isodow) AS DOUBLE)
                / CAST(SUM(obs) OVER () AS DOUBLE))
           / (CAST(SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
              * CAST(SUM(obs) OVER (PARTITION BY isodow) AS DOUBLE)
              / CAST(SUM(obs) OVER () AS DOUBLE)) AS term
    FROM cells
), s AS (
    SELECT CAST(ROUND(SUM(CAST(term AS DECIMAL(27,12))), 6) AS DOUBLE) AS chi2,
           CAST(SUM(obs) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
           CAST(COUNT(DISTINCT isodow) AS BIGINT) AS c
    FROM terms
)
SELECT n_rows, r, c, chi2,
       CAST(ROUND(SQRT((chi2 / CAST(n_rows AS DOUBLE))
                       / (LEAST(CAST(r AS DOUBLE), CAST(c AS DOUBLE)) - 1)), 6)
            AS DOUBLE) AS cramers_v,
       CAST(ROUND(SQRT(
           GREATEST(0.0, chi2 / CAST(n_rows AS DOUBLE)
                    - (CAST(r AS DOUBLE) - 1) * (CAST(c AS DOUBLE) - 1)
                      / (CAST(n_rows AS DOUBLE) - 1))
           / (LEAST(
                CAST(r AS DOUBLE)
                  - (CAST(r AS DOUBLE) - 1) * (CAST(r AS DOUBLE) - 1)
                    / (CAST(n_rows AS DOUBLE) - 1),
                CAST(c AS DOUBLE)
                  - (CAST(c AS DOUBLE) - 1) * (CAST(c AS DOUBLE) - 1)
                    / (CAST(n_rows AS DOUBLE) - 1)) - 1)), 6)
            AS DOUBLE) AS cramers_v_corrected
FROM s
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test — ECDF distance without a global sort
# ---------------------------------------------------------------------------

def ks_test_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between purchase and view event
    values: D = sup|F₁(x) − F₂(x)|, the distribution-free companion to
    ``mann_whitney_purchase_view_values`` (MW sees location shifts; KS
    sees ANY distributional difference, including shape).

    The ECDF difference is EXACT integers: at each distinct value,
    |cum₁·n₂ − cum₂·n₁| in DECIMAL(38,0), so D's argmax is an integer
    comparison and the only float ops are the final D, z and p — no
    summation-order exposure. Scale shape: the cumulative counts over the
    distinct-value domain use the partition-local-window + chunk-offset
    stitch (the ``encoding_advisor_orders`` pattern) — range-partition on
    value, ONE window pass per chunk, then ≤(chunks−1) offset rows fold in
    via a tiny window — because the value domain is corpus-sized and a
    bare ``Window.orderBy(value)`` would be a single-partition sort of it.
    The asymptotic p uses the one-term Kolmogorov tail 2·exp(−2z²)
    (z rounded to 9 decimals pre-exp, the libm rule) clamped to 1."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "value",
        (F.col("event_type") == "purchase").cast("bigint").alias("is_p"),
    )
    pts = s.groupBy("value").agg(
        F.sum("is_p").cast("bigint").alias("c1"),
        (F.count("*") - F.sum("is_p")).cast("bigint").alias("c2"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select(
        "pid",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c2").over(w).alias("l2"),
    )
    totals = chunked.groupBy("pid").agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
    )
    # pid%1: constant-valued non-foldable partition key — the offset window
    # sees <=n_chunks rows in one group, on WindowExec's partitioned path
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid",
        F.coalesce(F.sum("t1").over(bw), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(bw), F.lit(0)).cast("bigint").alias("o2"),
    )
    nn = pts.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.count("*").cast("bigint").alias("n_points"),
    )
    cum = (
        local.join(offs, "pid")
        .select(
            (F.col("l1") + F.col("o1")).cast("decimal(19,0)").alias("cum1"),
            (F.col("l2") + F.col("o2")).cast("decimal(19,0)").alias("cum2"),
        )
        .crossJoin(F.broadcast(nn))
    )
    d_num = F.abs(
        F.col("cum1") * F.col("n2").cast("decimal(19,0)")
        - F.col("cum2") * F.col("n1").cast("decimal(19,0)")
    )
    top = cum.groupBy("n1", "n2", "n_points").agg(F.max(d_num).alias("d_num"))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d = F.col("d_num").cast("double") / (n1d * n2d)
    z = F.round(d * F.sqrt(n1d * n2d / (n1d + n2d)), 9)
    p = F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * z * z))
    return top.select(
        "n1",
        "n2",
        "n_points",
        F.round(d, 6).cast("double").alias("d_stat"),
        F.round(z, 6).cast("double").alias("ks_z"),
        F.round(p, 6).cast("double").alias("p_approx"),
    )


KS_TEST_PURCHASE_VIEW_ORACLE = """
WITH s AS (
    SELECT value,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
    FROM events WHERE event_type IN ('purchase', 'view')
), pts AS (
    SELECT value, CAST(SUM(is_p) AS BIGINT) AS c1,
           CAST(COUNT(*) - SUM(is_p) AS BIGINT) AS c2
    FROM s GROUP BY value
), nn AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM pts
), cum AS (
    SELECT CAST(SUM(c1) OVER (ORDER BY value) AS DECIMAL(19,0)) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY value) AS DECIMAL(19,0)) AS cum2
    FROM pts
), top AS (
    SELECT n1, n2, n_points,
           MAX(ABS(cum1 * CAST(n2 AS DECIMAL(19,0))
                   - cum2 * CAST(n1 AS DECIMAL(19,0)))) AS d_num
    FROM cum CROSS JOIN nn
    GROUP BY n1, n2, n_points
)
SELECT n1, n2, n_points,
       CAST(ROUND(CAST(d_num AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS DOUBLE)
           AS d_stat,
       CAST(ROUND(ROUND(CAST(d_num AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                        * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 9),
                  6) AS DOUBLE) AS ks_z,
       CAST(ROUND(LEAST(1.0, 2.0 * EXP(-2.0
                  * ROUND(CAST(d_num AS DOUBLE)
                          / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                          * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 9)
                  * ROUND(CAST(d_num AS DOUBLE)
                          / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                          * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 9)
                  )), 6) AS DOUBLE) AS p_approx
FROM top
"""


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage scoring
# ---------------------------------------------------------------------------

# ln(m/u) agreement and ln((1-m)/(1-u)) disagreement weights for the three
# comparison fields, from configured (m, u) = (.9,.1), (.8,.2), (.7,.3).
# Embedded as EXACT double literals in both engines (no runtime ln()).
_FS_W = {
    "type": (2.1972245773362196, -2.1972245773362196),
    "tok": (1.3862943611198906, -1.3862943611198908),
    "price": (0.8472978603872037, -0.8472978603872034),
}
_FS_LINK, _FS_NONLINK = 2.0, -1.0


def fellegi_sunter_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) over the
    part catalog — the decision-theoretic layer ``fuzzy_part_name_pairs``'
    raw similarity lacks: candidate pairs from (brand, size) blocking are
    scored Σ ln(m/u) per agreeing field / Σ ln((1−m)/(1−u)) per
    disagreeing field (fields: exact p_type, first name token, retail
    price within 50), then classified link / possible / non-link at the
    standard two-threshold rule. Published shape: per-class pair counts
    and mean match weight.

    The (m, u) parameters are configuration (no labeled pairs exist to EM
    the m's from); their log-weights enter both engines as identical double
    literals, so each pair's weight is a short exact sum and the class
    cut never rides a ulp. The estimation half of the model lives in
    ``fellegi_sunter_part_linkage`` (this module, entity-resolution
    section): u's measured from the blocked-pair population via
    closed-form block counts, pair-grain output — the two surfaces split
    the F-S model the way a production linker does (estimate, then
    decide). Scale shape: the blocked self-join is an
    equi-join on (brand, size) — co-partitioned, no cartesian; pair count
    is Σ_blocks C(|b|,2) with fixture blocks of ~1-80 parts."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        "p_type",
        F.element_at(F.split("p_name", " "), 1).alias("tok1"),
        "p_retailprice",
    )
    a = part.select(*[F.col(c).alias(f"a_{c}") for c in part.columns])
    b = part.select(*[F.col(c).alias(f"b_{c}") for c in part.columns])
    pairs = a.join(
        b,
        (F.col("a_p_brand") == F.col("b_p_brand"))
        & (F.col("a_p_size") == F.col("b_p_size"))
        & (F.col("a_p_partkey") < F.col("b_p_partkey")),
    )
    def fw(agree, key):
        yes, no = _FS_W[key]
        return F.when(agree, F.lit(yes)).otherwise(F.lit(no))

    weight = (
        fw(F.col("a_p_type") == F.col("b_p_type"), "type")
        + fw(F.col("a_tok1") == F.col("b_tok1"), "tok")
        + fw(
            F.abs(F.col("a_p_retailprice") - F.col("b_p_retailprice")) < 50.0,
            "price",
        )
    )
    cls = (
        F.when(weight > F.lit(_FS_LINK), F.lit("link"))
        .when(weight < F.lit(_FS_NONLINK), F.lit("non_link"))
        .otherwise(F.lit("possible"))
    )
    return (
        pairs.select(weight.alias("w"), cls.alias("decision"))
        .groupBy("decision")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                dec_sum(F.col("w"), 27, 12).cast("double")
                / F.count("*").cast("double"),
                6,
            )
            .cast("double")
            .alias("avg_weight"),
        )
    )


FELLEGI_SUNTER_LINKAGE_PARTS_ORACLE = f"""
WITH p AS (
    SELECT p_partkey, p_brand, p_size, p_type,
           regexp_split_to_array(p_name, ' ')[1] AS tok1,
           p_retailprice
    FROM part
), pairs AS (
    SELECT (CASE WHEN a.p_type = b.p_type
                 THEN {_FS_W["type"][0]!r} ELSE {_FS_W["type"][1]!r} END)
           + (CASE WHEN a.tok1 = b.tok1
                   THEN {_FS_W["tok"][0]!r} ELSE {_FS_W["tok"][1]!r} END)
           + (CASE WHEN ABS(a.p_retailprice - b.p_retailprice) < 50.0
                   THEN {_FS_W["price"][0]!r} ELSE {_FS_W["price"][1]!r} END)
               AS w
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
)
SELECT CASE WHEN w > {_FS_LINK} THEN 'link'
            WHEN w < {_FS_NONLINK} THEN 'non_link'
            ELSE 'possible' END AS decision,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(SUM(CAST(w AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS avg_weight
FROM pairs GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Zone-map (min/max stats) partition-pruning effectiveness report
# ---------------------------------------------------------------------------

def partition_pruning_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map effectiveness report: per month partition of orders, the
    min/max/count stats a parquet footer (or Iceberg manifest) would
    carry for o_totalprice, plus — for three representative predicates —
    whether the whole partition is PRUNABLE (predicate disjoint from the
    [min,max] zone) — the report an engine uses to decide if a sort/
    z-order rewrite would buy scan skipping. One aggregate over the fact
    table; everything else is partition-count sized. Exact min/max on
    doubles (no arithmetic), bigint counts."""
    o = load_table(spark, sf_dir, "orders")
    zones = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return zones.select(
        "month",
        "n_rows",
        "min_price",
        "max_price",
        (F.col("max_price") < 50000.0).alias("prunes_gt_50k"),
        (F.col("min_price") > 1000.0).alias("prunes_lt_1k"),
        ((F.col("max_price") < 100000.0) | (F.col("min_price") > 200000.0)).alias(
            "prunes_between_100k_200k"
        ),
    )


PARTITION_PRUNING_REPORT_ORDERS_ORACLE = """
WITH zones AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY 1
)
SELECT month, n_rows, min_price, max_price,
       max_price < 50000.0 AS prunes_gt_50k,
       min_price > 1000.0 AS prunes_lt_1k,
       (max_price < 100000.0 OR min_price > 200000.0)
           AS prunes_between_100k_200k
FROM zones
"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test — the significance half of the Theil-Sen pair
# ---------------------------------------------------------------------------

def mann_kendall_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test of the daily value series — the
    distribution-free significance test that accompanies
    ``theil_sen_daily_trend``'s slope estimate (the standard pairing in
    environmental/ops trend monitoring): S = Σ_{i<j} sign(x_j − x_i),
    Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 with tie groups t,
    z = (S∓1)/√Var with continuity correction.

    S, n, n_pairs, and the tie term are EXACT integers (the tie cube
    accumulates in DECIMAL(38,0) — the Mann-Whitney overflow lesson); z
    and the one-term normal tail bound 2·exp(−z²/2) are the only floats,
    derived once from the integers with identical expression structure.
    The pair relation is days² over the AGGREGATED series
    (calendar-scale), never raw rows.

    This is the registry's ONE Mann–Kendall query: the round-9
    ``mann_kendall_trend_daily`` twin (no-ties variance) was merged in
    here in round 10 — its ``n_pairs`` output kept, its weaker variance
    dropped in favor of this tie-corrected form."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(F.col("value"), 27, 12).cast("double").alias("v")
    )
    a = daily.select(F.col("day").alias("d1"), F.col("v").alias("v1"))
    b = daily.select(F.col("day").alias("d2"), F.col("v").alias("v2"))
    s_agg = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(F.signum(F.col("v2") - F.col("v1")).cast("bigint").alias("sgn"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("sgn").cast("bigint").alias("s"),
        )
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .agg(
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum("t").cast("bigint").alias("n"),
            F.sum(
                F.col("t").cast("decimal(38,0)")
                * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            ).alias("tie_term"),
        )
    )
    joined = s_agg.crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    var_s = (
        nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s").cast("double")
    z = F.round(
        F.when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
        9,
    )
    p_bound = F.least(F.lit(1.0), F.lit(2.0) * F.exp(-z * z / F.lit(2.0)))
    return joined.select(
        "n",
        "n_pairs",
        "s",
        F.round(var_s, 6).cast("double").alias("var_s"),
        z.cast("double").alias("z"),
        F.round(p_bound, 6).cast("double").alias("p_tail_bound"),
        (F.abs(z) > 1.96).alias("trend_at_05"),
    )


MANN_KENDALL_DAILY_TREND_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS v
    FROM events GROUP BY 1
), s_agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(SIGN(b.v - a.v) AS BIGINT)) AS BIGINT) AS s
    FROM daily a JOIN daily b ON a.day < b.day
), ties AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(t) AS BIGINT) AS n,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)) AS tie_term
    FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY v)
), j AS (
    SELECT s, n_pairs, n,
           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
            * (2 * CAST(n AS DOUBLE) + 5)
            - CAST(tie_term AS DOUBLE)) / 18.0 AS var_s
    FROM s_agg CROSS JOIN ties
), z AS (
    SELECT n, n_pairs, s, var_s,
           ROUND(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / SQRT(var_s)
                      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / SQRT(var_s)
                      ELSE 0.0 END, 9) AS z
    FROM j
)
SELECT n, n_pairs, s,
       CAST(ROUND(var_s, 6) AS DOUBLE) AS var_s,
       CAST(z AS DOUBLE) AS z,
       CAST(ROUND(LEAST(1.0, 2.0 * EXP(-z * z / 2.0)), 6) AS DOUBLE)
           AS p_tail_bound,
       ABS(z) > 1.96 AS trend_at_05
FROM z
"""


# ---------------------------------------------------------------------------
# Per-group KS battery with Benjamini-Hochberg FDR correction
# ---------------------------------------------------------------------------

def ks_by_event_type_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-vs-weekend KS test PER EVENT TYPE with Benjamini-Hochberg
    FDR correction across the battery — the multiple-testing discipline a
    drift monitor needs once it runs one test per segment (at 5 segments
    and α=.05, one naive false alarm every ~4 sweeps). Per type, D is the
    exact-integer ECDF distance of ``ks_test_purchase_view``; p is the
    one-term Kolmogorov tail; BH then ranks the battery's p-values and
    reports the step-up adjusted p̃ᵢ = min_{j≥i} p⁽ʲ⁾·m/j.

    Scale shape: the per-type cumulative counts ride the chunk-stitch
    pattern with the GROUP IN THE RANGE KEY — repartitionByRange(type,
    value) keeps each window (type, chunk)-local and the per-type offset
    stitch sees ≤chunks rows; the BH pass runs on the m-row battery
    relation. Weekpart parity: Spark ``weekday() < 5`` == DuckDB
    ``isodow() <= 5``."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        "value",
        (F.weekday("ts") < 5).cast("bigint").alias("is_wd"),
    )
    pts = s.groupBy("event_type", "value").agg(
        F.sum("is_wd").cast("bigint").alias("c1"),
        (F.count("*") - F.sum("is_wd")).cast("bigint").alias("c2"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(
        n_chunks, "event_type", "value"
    ).withColumn("pid", F.spark_partition_id())
    w = Window.partitionBy("event_type", "pid").orderBy("value")
    local = chunked.select(
        "event_type",
        "pid",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c2").over(w).alias("l2"),
    )
    totals = chunked.groupBy("event_type", "pid").agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
    )
    bw = (
        Window.partitionBy("event_type")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "event_type",
        "pid",
        F.coalesce(F.sum("t1").over(bw), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(bw), F.lit(0)).cast("bigint").alias("o2"),
    )
    nn = pts.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    cum = (
        local.join(offs, ["event_type", "pid"])
        .join(F.broadcast(nn), "event_type")
        .select(
            "event_type",
            "n1",
            "n2",
            (F.col("l1") + F.col("o1")).cast("decimal(19,0)").alias("cum1"),
            (F.col("l2") + F.col("o2")).cast("decimal(19,0)").alias("cum2"),
        )
    )
    d_num = F.abs(
        F.col("cum1") * F.col("n2").cast("decimal(19,0)")
        - F.col("cum2") * F.col("n1").cast("decimal(19,0)")
    )
    top = cum.groupBy("event_type", "n1", "n2").agg(F.max(d_num).alias("d_num"))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d = F.col("d_num").cast("double") / (n1d * n2d)
    z = F.round(d * F.sqrt(n1d * n2d / (n1d + n2d)), 9)
    p = F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * z * z))
    scored = top.select(
        "event_type",
        "n1",
        "n2",
        d.alias("d_raw"),
        z.alias("z_raw"),
        p.alias("p_raw"),
    )
    # BH step-up over the m-row battery (m = event types, tiny): rank by
    # (p, type), adj_i = p_i * m / i, p̃_i = suffix-min of adj
    # n1%1: constant-valued non-foldable partition key — m-row windows on
    # WindowExec's partitioned path
    rw = Window.partitionBy(F.col("n1") % 1).orderBy(
        F.col("p_raw").asc(), F.col("event_type").asc()
    )
    ranked = scored.select(
        "*",
        F.row_number().over(rw).cast("bigint").alias("i"),
        F.count("*").over(Window.partitionBy(F.col("n1") % 1)).cast("bigint").alias("m"),
    )
    adj = F.col("p_raw") * F.col("m").cast("double") / F.col("i").cast("double")
    sw = (
        Window.partitionBy(F.col("n1") % 1)
        .orderBy(F.col("i").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ranked.select(
        "event_type",
        "n1",
        "n2",
        F.round("d_raw", 6).cast("double").alias("d_stat"),
        F.round("z_raw", 6).cast("double").alias("ks_z"),
        F.round("p_raw", 6).cast("double").alias("p_approx"),
        F.round(F.least(F.lit(1.0), F.min(adj).over(sw)), 6)
        .cast("double")
        .alias("p_bh"),
        (F.least(F.lit(1.0), F.min(adj).over(sw)) <= 0.05).alias("reject_at_05"),
    )
    return out


KS_BY_EVENT_TYPE_BH_ORACLE = """
WITH s AS (
    SELECT event_type, value,
           CASE WHEN isodow(ts) <= 5 THEN 1 ELSE 0 END AS is_wd
    FROM events
), pts AS (
    SELECT event_type, value, CAST(SUM(is_wd) AS BIGINT) AS c1,
           CAST(COUNT(*) - SUM(is_wd) AS BIGINT) AS c2
    FROM s GROUP BY event_type, value
), nn AS (
    SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(c2) AS BIGINT) AS n2
    FROM pts GROUP BY event_type
), cum AS (
    SELECT event_type,
           CAST(SUM(c1) OVER (PARTITION BY event_type ORDER BY value)
                AS DECIMAL(19,0)) AS cum1,
           CAST(SUM(c2) OVER (PARTITION BY event_type ORDER BY value)
                AS DECIMAL(19,0)) AS cum2
    FROM pts
), top AS (
    SELECT c.event_type, n.n1, n.n2,
           MAX(ABS(c.cum1 * CAST(n.n2 AS DECIMAL(19,0))
                   - c.cum2 * CAST(n.n1 AS DECIMAL(19,0)))) AS d_num
    FROM cum c JOIN nn n ON c.event_type = n.event_type
    GROUP BY c.event_type, n.n1, n.n2
), scored AS (
    SELECT event_type, n1, n2,
           CAST(d_num AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_raw,
           ROUND(CAST(d_num AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 9)
               AS z_raw
    FROM top
), withp AS (
    SELECT *, LEAST(1.0, 2.0 * EXP(-2.0 * z_raw * z_raw)) AS p_raw
    FROM scored
), ranked AS (
    SELECT *,
           CAST(ROW_NUMBER() OVER (ORDER BY p_raw ASC, event_type ASC)
                AS BIGINT) AS i,
           CAST(COUNT(*) OVER () AS BIGINT) AS m
    FROM withp
)
SELECT event_type, n1, n2,
       CAST(ROUND(d_raw, 6) AS DOUBLE) AS d_stat,
       CAST(ROUND(z_raw, 6) AS DOUBLE) AS ks_z,
       CAST(ROUND(p_raw, 6) AS DOUBLE) AS p_approx,
       CAST(ROUND(LEAST(1.0,
                MIN(p_raw * CAST(m AS DOUBLE) / CAST(i AS DOUBLE))
                    OVER (ORDER BY i DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            6) AS DOUBLE) AS p_bh,
       LEAST(1.0,
             MIN(p_raw * CAST(m AS DOUBLE) / CAST(i AS DOUBLE))
                 OVER (ORDER BY i DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           <= 0.05 AS reject_at_05
FROM ranked
"""


# ---------------------------------------------------------------------------
# Capture-recapture — population estimate from two observation windows
# ---------------------------------------------------------------------------

def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimator of the total user population
    from two observation windows (weekday vs weekend activity as the two
    "captures"): N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with m the recaptured
    (both-window) users, plus the Seber variance and a ±1.96σ interval —
    the ecology-standard answer to "how many users exist that we never
    see?", which no distinct-count (exact or HLL) can give. The observed
    distinct count rides along so the implied under-coverage is explicit.

    All inputs are three exact bigint cardinalities from ONE aggregate
    over per-user window flags (map-side partial, no distinct-shuffle per
    window); the estimator and variance are single closed-form
    expressions over identical doubles. Weekpart parity: Spark
    ``weekday() < 5`` == DuckDB ``isodow() <= 5``."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.weekday("ts") < 5).cast("int")).alias("wd"),
        F.max((F.weekday("ts") >= 5).cast("int")).alias("we"),
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n_observed"),
        F.sum("wd").cast("bigint").alias("n1"),
        F.sum("we").cast("bigint").alias("n2"),
        F.sum(F.col("wd") * F.col("we")).cast("bigint").alias("m"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    md = F.col("m").cast("double")
    n_hat = (n1 + 1) * (n2 + 1) / (md + 1) - F.lit(1.0)
    var = (
        (n1 + 1)
        * (n2 + 1)
        * (n1 - md)
        * (n2 - md)
        / ((md + 1) * (md + 1) * (md + 2))
    )
    se = F.sqrt(var)
    return s.select(
        "n_observed",
        "n1",
        "n2",
        "m",
        F.round(n_hat, 6).cast("double").alias("n_chapman"),
        F.round(se, 6).cast("double").alias("se"),
        F.round(n_hat - F.lit(1.96) * se, 6).cast("double").alias("ci_lo"),
        F.round(n_hat + F.lit(1.96) * se, 6).cast("double").alias("ci_hi"),
    )


CAPTURE_RECAPTURE_USERS_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN isodow(ts) <= 5 THEN 1 ELSE 0 END) AS wd,
           MAX(CASE WHEN isodow(ts) > 5 THEN 1 ELSE 0 END) AS we
    FROM events GROUP BY user_id
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_observed,
           CAST(SUM(wd) AS BIGINT) AS n1,
           CAST(SUM(we) AS BIGINT) AS n2,
           CAST(SUM(wd * we) AS BIGINT) AS m
    FROM per_user
)
SELECT n_observed, n1, n2, m,
       CAST(ROUND((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                  / (CAST(m AS DOUBLE) + 1) - 1.0, 6) AS DOUBLE) AS n_chapman,
       CAST(ROUND(SQRT((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                       * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
                       * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
                       / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1)
                          * (CAST(m AS DOUBLE) + 2))), 6) AS DOUBLE) AS se,
       CAST(ROUND((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                  / (CAST(m AS DOUBLE) + 1) - 1.0
                  - 1.96 * SQRT((CAST(n1 AS DOUBLE) + 1)
                       * (CAST(n2 AS DOUBLE) + 1)
                       * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
                       * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
                       / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1)
                          * (CAST(m AS DOUBLE) + 2))), 6) AS DOUBLE) AS ci_lo,
       CAST(ROUND((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                  / (CAST(m AS DOUBLE) + 1) - 1.0
                  + 1.96 * SQRT((CAST(n1 AS DOUBLE) + 1)
                       * (CAST(n2 AS DOUBLE) + 1)
                       * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
                       * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
                       / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1)
                          * (CAST(m AS DOUBLE) + 2))), 6) AS DOUBLE) AS ci_hi
FROM s
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap: single-pass resampling CI for grouped means
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds as EXACT 32-bit integers
# (floor(cdf_k * 2^32) of the cumulative e^{-1}/k! partial sums,
# truncated at k=8 — tail mass ~1e-5, documented). The draw compares an
# 8-hex-digit (32-bit) md5 slice against these integer literals, so both
# engines run pure integer comparisons — no float thresholds at all; the
# realized distribution is Poisson(1) quantized to 2^-32 (mean error
# < 1e-9).
_POIS1_CDF32 = [
    int(c * 2**32)
    for c in [
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238463,
        0.9963401531726563,
        0.9994058151824183,
        0.999916758850712,
        0.9999897508033253,
    ]
]
_BOOT_B = 64  # replicates; ranks 2/63 of 64 sorted means ~ 2.5%/97.5%


def poisson_bootstrap_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value per priority
    via the POISSON bootstrap (Chamandy et al., "Estimating uncertainty
    for massive data streams", Google 2012; Kleiner et al.'s BLB is the
    stratified cousin) — the only resampling scheme that works in one
    pass over a distributed table: classical bootstrap needs n i.i.d.
    draws WITH replacement (a shuffle per replicate), but for large n the
    multinomial replicate weights converge to independent Poisson(1)
    draws, so every row computes its own weight for all B replicates
    map-side and the plan is scan → explode(B) → two-phase grouped agg.

    Scale shape: the ×B=64 explode multiplies map CPU only — partial
    aggregation combines to ≤ groups×B rows per task BEFORE the exchange,
    so shuffle volume is (5 priorities × 64 replicates × tasks) tiny rows
    regardless of table size, and the per-group final state is a bounded
    64-float array. No row-level sort anywhere: the CI is an exact order
    statistic (ranks 2/63) of the 64 sorted replicate means.

    Hash budget (this query is pure map CPU, so the constant matters):
    ONE md5 serves FOUR replicates — explode level 1 yields g=0..15 and
    hashes (key|g) once; level 2 slices four 8-hex-digit windows out of
    the 32-hex digest and converts each to a 32-bit integer compared
    against the _POIS1_CDF32 integer thresholds. That is 16 md5 calls +
    64 8-char convs per row, ~2.5× faster than the naive 64×(md5 of
    13 hex → double uniform) and bit-identical across engines (the
    ``dp_noisy_counts_events`` float-uniform construction stays the
    house pattern where draws are per-CELL, not per-row×replicate).
    Weighted sums fold in exact decimal; the only floats are the final
    round-6 divisions. (As with the DP release, seeded draws are for
    testability; production would swap the md5 for real entropy.)"""
    orders = load_table(spark, sf_dir, "orders")
    # the ×64 expansion is pure map CPU: fan the (often single-row-group)
    # scan out to the full core count BEFORE exploding, or the whole hash
    # ladder runs in one task (measured 8 s → 0.7 s at sf0.1)
    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    lvl1 = fan_out(orders.select("o_orderpriority", "o_totalprice", "o_orderkey")).select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,6)").alias("price"),
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B // 4 - 1))).alias("g"),
    ).select(
        "o_orderpriority",
        "price",
        "g",
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("g").cast("string"),
            )
        ).alias("hx"),
    )
    lvl2 = (
        lvl1.select(
            "o_orderpriority",
            "price",
            "g",
            "hx",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
        )
        .select(
            "o_orderpriority",
            "price",
            (F.col("g") * 4 + F.col("j")).alias("rep"),
            F.conv(F.substring("hx", F.col("j") * 8 + 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    w: Column = F.lit(len(_POIS1_CDF32))
    for k in range(len(_POIS1_CDF32) - 1, -1, -1):
        w = F.when(F.col("h") < F.lit(_POIS1_CDF32[k]), F.lit(k)).otherwise(w)
    per_rep = lvl2.select(
        "o_orderpriority", "rep", w.alias("w"), "price"
    ).groupBy("o_orderpriority", "rep").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("price") * F.col("w")).alias("sx"),
    )
    mean_rep = F.when(
        F.col("sw") > 0,
        F.round(F.col("sx").cast("double") / F.col("sw").cast("double"), 6),
    )
    boot = (
        per_rep.select("o_orderpriority", mean_rep.alias("mean_rep"))
        .groupBy("o_orderpriority")
        .agg(F.array_sort(F.collect_list("mean_rep")).alias("means"))
        .select(
            "o_orderpriority",
            F.element_at("means", 2).alias("boot_lo"),
            F.element_at("means", _BOOT_B - 1).alias("boot_hi"),
        )
    )
    base = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(
            dec_sum(F.col("o_totalprice"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_price"),
    )
    return base.join(F.broadcast(boot), "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        "mean_price",
        F.col("boot_lo").cast("double").alias("boot_lo"),
        F.col("boot_hi").cast("double").alias("boot_hi"),
    )


def _poisson_bootstrap_oracle() -> str:
    ladder = "CASE "
    for k, t in enumerate(_POIS1_CDF32):
        ladder += f"WHEN h < {t} THEN {k} "
    ladder += f"ELSE {len(_POIS1_CDF32)} END"
    return f"""
WITH gs AS (
    SELECT CAST(unnest(range({_BOOT_B // 4})) AS INT) AS g
), js AS (
    SELECT CAST(unnest(range(4)) AS INT) AS j
), lvl1 AS (
    SELECT o.o_orderpriority, CAST(o.o_totalprice AS DECIMAL(18,6)) AS price,
           gs.g,
           md5(CAST(o.o_orderkey AS VARCHAR) || '|' || CAST(gs.g AS VARCHAR))
               AS hx
    FROM orders o CROSS JOIN gs
), lvl2 AS (
    SELECT o_orderpriority, price, g * 4 + j AS rep,
           ('0x' || substr(hx, j * 8 + 1, 8))::BIGINT AS h
    FROM lvl1 CROSS JOIN js
), per_rep AS (
    SELECT o_orderpriority, rep,
           CAST(SUM({ladder}) AS BIGINT) AS sw,
           SUM(price * ({ladder})) AS sx
    FROM lvl2 GROUP BY 1, 2
), boot AS (
    SELECT o_orderpriority,
           (list(mean_rep ORDER BY mean_rep))[2] AS boot_lo,
           (list(mean_rep ORDER BY mean_rep))[{_BOOT_B - 1}] AS boot_hi
    FROM (
        SELECT o_orderpriority,
               CASE WHEN sw > 0 THEN
                   ROUND(CAST(sx AS DOUBLE) / CAST(sw AS DOUBLE), 6)
               END AS mean_rep
        FROM per_rep
    ) GROUP BY 1
), base AS (
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,12)))
                           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                AS DOUBLE) AS mean_price
    FROM orders GROUP BY 1
)
SELECT base.o_orderpriority, n_orders, mean_price,
       CAST(boot_lo AS DOUBLE) AS boot_lo,
       CAST(boot_hi AS DOUBLE) AS boot_hi
FROM base JOIN boot USING (o_orderpriority)
"""


POISSON_BOOTSTRAP_CI_ORDERS_ORACLE = _poisson_bootstrap_oracle()


# ---------------------------------------------------------------------------
# Bot cadence screening: inter-arrival regularity per user
# ---------------------------------------------------------------------------

_BOT_MIN_EVENTS = 10
_BOT_CV_MAX = 0.85       # humans ~exponential (cv≈1); schedulers are regular
_BOT_FAST_GAP_US = 21_600_000_000  # mean gap < 6h → hyperactive


def bot_cadence_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation screening over event cadence — the traffic-hygiene
    pass a web-scraped training corpus runs before trusting engagement
    signals: per user with ≥ 10 events, the inter-arrival mean and
    coefficient of variation (a Poisson-ish human is cv ≈ 1; a scheduler
    or scraper is metronomic, cv ≪ 1 — Bhatia et al.'s classic cadence
    heuristic), rolled up by (metronomic, hyperactive) flag combo with
    user counts and mean statistics per cell.

    One per-user lag window (partition-parallel, never global), exact
    integer MICROSECOND gaps (``unix_micros`` / ``epoch_us`` — no
    truncated-seconds drift), variance from decimal power sums, and the
    final report is a ≤4-row aggregate. The sqrt in cv rounds to 9
    (house libm policy) before the flag compare and the report means."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    per = gaps.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("gap").cast("decimal(27,0)")).alias("s1"),
        F.sum(
            (F.col("gap").cast("decimal(27,0)") * F.col("gap")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    ).filter(F.col("m") >= _BOT_MIN_EVENTS - 1)
    mean_g = F.col("s1").cast("double") / F.col("m").cast("double")
    var_g = (
        F.col("s2").cast("double") / F.col("m").cast("double")
        - mean_g * mean_g
    )
    cv = F.round(F.sqrt(F.greatest(var_g, F.lit(0.0))), 9) / mean_g
    flagged = per.select(
        (F.col("m") + 1).alias("n_events"),
        mean_g.alias("mean_gap_us"),
        cv.alias("cv"),
    ).select(
        "n_events",
        "mean_gap_us",
        "cv",
        (F.col("cv") < _BOT_CV_MAX).alias("is_metronomic"),
        (F.col("mean_gap_us") < F.lit(float(_BOT_FAST_GAP_US))).alias(
            "is_hyperactive"
        ),
    )
    return flagged.groupBy("is_metronomic", "is_hyperactive").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.round(
            F.sum(F.col("cv").cast("decimal(27,12)")).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_cv"),
        F.round(
            F.sum(F.col("mean_gap_us").cast("decimal(27,6)")).cast("double")
            / F.count("*").cast("double")
            / F.lit(3600e6),
            6,
        )
        .cast("double")
        .alias("mean_gap_hours"),
    )


BOT_CADENCE_REPORT_EVENTS_ORACLE = f"""
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap
    FROM events
), per AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS m,
           SUM(CAST(gap AS DECIMAL(27,0))) AS s1,
           SUM(CAST(CAST(gap AS DECIMAL(27,0)) * gap AS DECIMAL(38,0))) AS s2
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY user_id HAVING COUNT(*) >= {_BOT_MIN_EVENTS - 1}
), stats AS (
    SELECT m + 1 AS n_events,
           CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) AS mean_gap_us,
           ROUND(SQRT(GREATEST(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)), 0.0)), 9)
               / (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) AS cv
    FROM per
), flagged AS (
    SELECT n_events, mean_gap_us, cv,
           cv < {_BOT_CV_MAX!r} AS is_metronomic,
           mean_gap_us < {float(_BOT_FAST_GAP_US)!r} AS is_hyperactive
    FROM stats
)
SELECT is_metronomic, is_hyperactive,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(ROUND(CAST(SUM(CAST(cv AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean_cv,
       CAST(ROUND(CAST(SUM(CAST(mean_gap_us AS DECIMAL(27,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) / 3600e6, 6) AS DOUBLE)
           AS mean_gap_hours
FROM flagged GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Markov stationary distribution: power iteration on the tiny transition matrix
# ---------------------------------------------------------------------------

_MARKOV_STEPS = 8


def markov_stationary_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain —
    where the user process spends its time asymptotically, the quantity
    ``markov_event_transitions``'s one-step matrix only hints at. π is
    computed by 8 synchronous power steps π' = πP from uniform, entirely
    as RELATIONAL algebra: each step is a broadcast join of the ≤|types|-
    row π vector against the ≤|types|²-row transition matrix and a
    groupBy — no driver-side linear algebra, no collect; the 8 steps are
    8 chained tiny aggregates in ONE plan (the oracle unrolls the same
    CTE chain). The fact-scale work is the single lead() bigram pass the
    transition matrix already needs; everything else is domain-bounded.

    Empirical type shares ride along: |π − share| is the mixing check
    (they coincide when the chain is well-mixed/aperiodic). Step values
    round to 9 before re-entering the next step (house policy), so both
    engines iterate identical doubles; published probs round to 6."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    rowtot = Window.partitionBy("event_type")
    pmat = trans.select(
        F.col("event_type").alias("src"),
        F.col("next_type").alias("dst"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(rowtot).cast("double")
        ).alias("p"),
        # ≤|types|²-row matrix with a corpus lineage (the per-user lead()
        # bigram pass) and 9+ consumers (types + every one of the 8 power
        # steps re-broadcasts it): unpinned, each consumer replayed the
        # corpus window pass (20 parquet scans / 92 Exchange refs, r11
        # census). Pin — the markov_removal precedent; deterministic,
        # lineage-only; mirrors the oracle's MATERIALIZED pmat.
    ).localCheckpoint()
    types = pmat.select(F.col("src").alias("t")).distinct()
    ntypes = Window.partitionBy(F.col("t").substr(0, 0))  # constant non-foldable
    pi = types.select(
        "t",
        (
            F.lit(1.0) / F.count("*").over(ntypes).cast("double")
        ).alias("prob"),
    )
    for _ in range(_MARKOV_STEPS):
        pi = (
            pi.join(F.broadcast(pmat), pi.t == pmat.src)
            .groupBy(F.col("dst").alias("t2"))
            .agg(
                F.round(
                    F.sum(
                        (F.col("prob") * F.col("p")).cast("decimal(27,12)")
                    ).cast("double"),
                    9,
                ).alias("prob")
            )
            .select(F.col("t2").alias("t"), "prob")
        )
    share_w = Window.partitionBy(F.col("event_type").substr(0, 0))
    emp = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    ).select(
        "event_type",
        "n_events",
        (
            F.col("n_events").cast("double")
            / F.sum("n_events").over(share_w).cast("double")
        ).alias("emp"),
    )
    return (
        emp.join(F.broadcast(pi), emp.event_type == pi.t)
        .select(
            "event_type",
            "n_events",
            F.round("prob", 6).cast("double").alias("stationary_prob"),
            F.round("emp", 6).cast("double").alias("empirical_share"),
            F.round(F.abs(F.col("prob") - F.col("emp")), 6)
            .cast("double")
            .alias("mixing_gap"),
        )
    )


def _markov_stationary_oracle() -> str:
    steps = []
    for i in range(1, _MARKOV_STEPS + 1):
        steps.append(f"""
, pi{i} AS (
    SELECT p.dst AS t,
           ROUND(CAST(SUM(CAST(v.prob * p.p AS DECIMAL(27,12)))
                      AS DOUBLE), 9) AS prob
    FROM pi{i - 1} v JOIN pmat p ON v.t = p.src
    GROUP BY p.dst
)""")
    return f"""
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
), trans AS (
    SELECT event_type AS src, next_type AS dst,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), pmat AS MATERIALIZED (
    SELECT src, dst,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
    FROM trans
), pi0 AS (
    SELECT src AS t,
           1.0 / CAST(COUNT(*) OVER () AS DOUBLE) AS prob
    FROM (SELECT DISTINCT src FROM pmat)
){''.join(steps)}
, emp AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS emp
    FROM events GROUP BY 1
)
SELECT e.event_type, e.n_events,
       CAST(ROUND(s.prob, 6) AS DOUBLE) AS stationary_prob,
       CAST(ROUND(e.emp, 6) AS DOUBLE) AS empirical_share,
       CAST(ROUND(ABS(s.prob - e.emp), 6) AS DOUBLE) AS mixing_gap
FROM emp e JOIN pi{_MARKOV_STEPS} s ON e.event_type = s.t
"""


MARKOV_STATIONARY_EVENT_TYPES_ORACLE = _markov_stationary_oracle()


# ---------------------------------------------------------------------------
# Experimentation guardrail: sample-ratio mismatch
# ---------------------------------------------------------------------------

def srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the experimentation tier: the
    chi-square goodness-of-fit of the observed arm split against the
    declared 50/50 allocation, using the SAME md5 arm assignment as
    ``ab_test_session_value`` / ``cuped_adjusted_ab_events`` (an SRM
    check that hashes differently from the experiment it guards is
    useless). A true SRM invalidates every downstream readout, which is
    why platforms run this before any t-test is believed.

    Published: arm counts, χ² (df=1), and the flag against the 95%
    critical value 3.841459 — the flag compares the ROUNDED statistic so
    both engines decide identically at the boundary. One distinct-user
    pass; the statistic is closed-form on two bigints."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    agg = users.agg(
        F.sum(arm_a.cast("long")).cast("bigint").alias("n_a"),
        F.sum((~arm_a).cast("long")).cast("bigint").alias("n_b"),
    )
    expected = (F.col("n_a") + F.col("n_b")).cast("double") / F.lit(2.0)
    chi2 = F.round(
        F.pow(F.col("n_a").cast("double") - expected, 2) / expected
        + F.pow(F.col("n_b").cast("double") - expected, 2) / expected,
        6,
    )
    return agg.select(
        "n_a",
        "n_b",
        chi2.cast("double").alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("srm_flag"),
    )


SRM_CHECK_EVENTS_ORACLE = """
WITH u AS (SELECT DISTINCT user_id FROM events),
arms AS (
    SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2 = 0
               AS is_a
    FROM u
),
agg AS (
    SELECT CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS n_b
    FROM arms
)
SELECT n_a, n_b,
       CAST(ROUND(POWER(CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0, 2)
                      / ((n_a + n_b) / 2.0)
                  + POWER(CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0, 2)
                      / ((n_a + n_b) / 2.0), 6) AS DOUBLE) AS chi2,
       ROUND(POWER(CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0, 2)
                 / ((n_a + n_b) / 2.0)
             + POWER(CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0, 2)
                 / ((n_a + n_b) / 2.0), 6) > 3.841459 AS srm_flag
FROM agg
"""


def shapley_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value conversion attribution over channel coalitions
    (Shapley 1953; the cooperative-game alternative completing the
    attribution trilogy beside `linear_attribution_daily`'s positional
    rule and `markov_removal_attribution_events`'s chain model): each
    user's journey is the SET of channels touched strictly before their
    first purchase (whole journey for non-converters), the coalition
    value v(T) counts conversions by users whose channel set ⊆ T, and
    channel i's credit is the exact Shapley sum
    φ_i = Σ_{T∌i} |T|!(C−1−|T|)!/C! · [v(T∪i) − v(T)].
    Efficiency (Σφ = v(full) − v(∅)) makes shares well-defined; the
    pytest pins both properties plus a brute-force permutation mirror.

    Scale shape: corpus-∝ work is ONE row_number pass to find each
    user's first purchase and ONE hash-aggregation to (user → bitmask)
    grain; everything after lives on the 2^C coalition lattice with
    C = |channels| (assert ≤ 12 — channel taxonomies are small by
    construction; the lattice never scales with rows). The subset-sum
    v(T) is a broadcast nested-loop of |observed masks| × 2^C rows —
    both bounded by 2^C — and the Shapley fold is C·2^(C−1) terms.
    Exactness: v is an exact bigint; weights are factorial ratios of
    64-bit exact integers cast to double (C ≤ 12 keeps every factorial
    < 2^63 in both engines); φ folds in DECIMAL(38,12)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    fp = seq.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).alias("fp")
    )
    # channel → bit map: alphabetical dense ids over the bounded distinct
    # taxonomy (documented bounded unpartitioned window)
    ch = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
        .select(
            "channel",
            (F.row_number().over(Window.orderBy("channel")) - 1).alias("bit"),
        )
        .select(
            "channel",
            "bit",
            F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("bitv"),
        )
        .localCheckpoint(eager=False)  # ≤C rows; feeds masks, lattice, pairs
    )
    n_ch = ch.count()  # bounded collect: the channel taxonomy size
    if n_ch > 12:
        # ValueError, not assert: the 2^C lattice bound must survive
        # `python -O` (asserts are stripped under optimized bytecode)
        raise ValueError(
            f"shapley lattice needs <=12 channels, got {n_ch} — the 2^C "
            "coalition enumeration is exact attribution, not a corpus scan"
        )
    pre = (
        seq.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .filter(F.col("fp").isNull() | (F.col("rn") < F.col("fp")))
        .join(F.broadcast(ch), F.col("event_type") == F.col("channel"))
        .groupBy("user_id")
        .agg(F.bit_or("bitv").alias("m"))
    )
    um = fp.join(pre, "user_id", "left").select(
        F.coalesce(F.col("m"), F.lit(0)).cast("bigint").alias("mask"),
        F.col("fp").isNotNull().alias("converted"),
    )
    masks = um.groupBy("mask").agg(
        F.sum(F.col("converted").cast("long")).cast("bigint").alias("k")
    )
    # one partition: the lattice is <=4096 rows — default-parallelism
    # range partitions would schedule thousands of empty tasks downstream
    lat = spark.range(0, 1 << n_ch, 1, 1).select(F.col("id").alias("t"))
    v = (
        lat.join(
            F.broadcast(masks),
            F.col("mask").bitwiseAND(F.col("t")) == F.col("mask"),
            "left",
        )
        .groupBy("t")
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # 2^C rows; read three times below
    )
    cD = F.lit(float(n_ch))
    pairs = (
        lat.join(F.broadcast(ch), F.col("t").bitwiseAND(F.col("bitv")) == 0)
        .join(v.select(F.col("t").alias("vt_t"), F.col("v").alias("vt")),
              F.col("t") == F.col("vt_t"))
        .join(
            v.select(F.col("t").alias("vti_t"), F.col("v").alias("vti")),
            F.col("t").bitwiseOR(F.col("bitv")) == F.col("vti_t"),
        )
    )
    s = F.bit_count(F.col("t")).cast("int")
    wgt = (
        F.factorial(s) * F.factorial(F.lit(n_ch - 1).cast("int") - s)
    ).cast("double") / F.factorial(F.lit(n_ch).cast("int")).cast("double")
    term = wgt * (F.col("vti") - F.col("vt")).cast("double")
    scal = v.filter(F.col("t") == (1 << n_ch) - 1).select(
        F.col("v").alias("v_full")
    ).crossJoin(
        F.broadcast(v.filter(F.col("t") == 0).select(F.col("v").alias("v_empty")))
    )
    phi = (
        pairs.groupBy("channel")
        .agg(
            F.sum(term.cast("decimal(38,12)")).cast("double").alias("phi")
        )
        .crossJoin(F.broadcast(scal))
    )
    gain = (F.col("v_full") - F.col("v_empty")).cast("double")
    return phi.select(
        "channel",
        F.round(F.col("phi"), 6).cast("double").alias("shapley_conversions"),
        F.when(gain > F.lit(0.0), F.round(F.col("phi") / gain, 6))
        .cast("double")
        .alias("attribution_share"),
        F.col("v_full").alias("reachable_conversions"),
    ).orderBy("channel")


SHAPLEY_ATTRIBUTION_EVENTS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
    FROM events
), fp AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS fp
    FROM seq GROUP BY user_id
), ch AS (
    SELECT channel, ROW_NUMBER() OVER (ORDER BY channel) - 1 AS bit,
           (CAST(1 AS BIGINT) << (ROW_NUMBER() OVER (ORDER BY channel) - 1))
               AS bitv
    FROM (SELECT DISTINCT event_type AS channel FROM events
          WHERE event_type <> 'purchase')
), c AS (SELECT CAST(COUNT(*) AS INT) AS c FROM ch),
pre AS (
    SELECT s.user_id, BIT_OR(ch.bitv) AS m
    FROM seq s
    JOIN fp f ON s.user_id = f.user_id
    JOIN ch ON s.event_type = ch.channel
    WHERE s.event_type <> 'purchase' AND (f.fp IS NULL OR s.rn < f.fp)
    GROUP BY s.user_id
), um AS (
    SELECT CAST(COALESCE(p.m, 0) AS BIGINT) AS mask,
           f.fp IS NOT NULL AS converted
    FROM fp f LEFT JOIN pre p ON f.user_id = p.user_id
), masks AS (
    SELECT mask,
           CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM um GROUP BY mask
), lat AS (
    -- range() takes constants only: enumerate the C<=12 lattice bound
    -- (4096, the operator's assert) and filter to the live 2^C prefix
    SELECT CAST(r.range AS BIGINT) AS t
    FROM range(4096) r, c WHERE r.range < (CAST(1 AS BIGINT) << c.c)
), v AS MATERIALIZED (
    SELECT l.t, CAST(COALESCE(SUM(m.k), 0) AS BIGINT) AS v
    FROM lat l LEFT JOIN masks m ON (m.mask & l.t) = m.mask
    GROUP BY l.t
), scal AS (
    SELECT (SELECT v FROM v CROSS JOIN c WHERE t = (1 << c) - 1) AS v_full,
           (SELECT v FROM v WHERE t = 0) AS v_empty
), pairs AS (
    SELECT ch.channel,
           CAST(factorial(bit_count(l.t))
                * factorial(c.c - 1 - bit_count(l.t)) AS DOUBLE)
             / CAST(factorial(c.c) AS DOUBLE)
             * CAST(vti.v - vt.v AS DOUBLE) AS term
    FROM lat l
    JOIN ch ON (l.t & ch.bitv) = 0
    CROSS JOIN c
    JOIN v vt ON vt.t = l.t
    JOIN v vti ON vti.t = (l.t | ch.bitv)
)
SELECT p.channel,
       CAST(ROUND(CAST(SUM(CAST(p.term AS DECIMAL(38,12))) AS DOUBLE), 6)
            AS DOUBLE) AS shapley_conversions,
       CAST(ROUND(CASE WHEN s.v_full - s.v_empty > 0
                       THEN CAST(SUM(CAST(p.term AS DECIMAL(38,12)))
                                 AS DOUBLE)
                            / CAST(s.v_full - s.v_empty AS DOUBLE)
                  END, 6) AS DOUBLE) AS attribution_share,
       CAST(s.v_full AS BIGINT) AS reachable_conversions
FROM pairs p CROSS JOIN scal s
GROUP BY p.channel, s.v_full, s.v_empty
ORDER BY p.channel
"""


def label_propagation_communities_parts(
    spark: SparkSession, sf_dir: str, rounds: int = 4
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) over the SAME support-≥2 co-purchase graph the
    PageRank/k-core/triangle tier reads — the community view that
    complements k-core's density decomposition: labels init to node ids,
    and each round every node adopts the most frequent label among its
    neighbors PLUS its own current label (the self-vote damps the
    two-coloring oscillation synchronous LPA is known for), ties broken
    by smallest label — fully deterministic, no RNG. ``rounds`` is FIXED
    at 4 (the bounded-iteration policy: PageRank 3, k-core 6): output is
    the round-4 labeling, the converged communities iff propagation has
    stabilized (pinned by a round-5 == round-4 pytest on the fixture),
    a documented intermediate otherwise.

    Scale shape: per round, two edge×labels equi-joins (labels are
    O(nodes), broadcast under the session ceiling via the PageRank gate,
    shuffled past it), one (node, label) hash-aggregation, and one
    node-PARTITIONED window for the argmax — never an unpartitioned
    window, never all-pairs. Labels pin lazily per round (two consumers:
    both direction joins + the self-vote) so round subtrees don't
    re-expand 3^k. Labels are exact bigints — no float policy to share
    with the oracle."""
    from data_ingestion_pipeline_spark.plans.join_strategies import (
        auto_broadcast_threshold,
    )

    edges = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select(
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
        )
        .localCheckpoint()  # consumed 2x per round, every round
    )
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # bounded scalar action (PageRank's n policy)
    ceiling = auto_broadcast_threshold(spark)

    def gated(lbls: DataFrame) -> DataFrame:
        # label maps are O(nodes), 16 B/row
        return F.broadcast(lbls) if (ceiling >= 0 and n * 16 <= ceiling) else lbls

    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(rounds):
        labels = labels.localCheckpoint(eager=False)  # 3 consumers below
        la = edges.join(
            gated(labels.select(F.col("node").alias("b"), "lbl")), "b"
        ).select(F.col("a").alias("node"), "lbl")
        lb = edges.join(
            gated(labels.select(F.col("node").alias("a"), "lbl")), "a"
        ).select(F.col("b").alias("node"), "lbl")
        votes = la.unionAll(lb).unionAll(labels.select("node", "lbl"))
        wv = Window.partitionBy("node").orderBy(
            F.col("cnt").desc(), F.col("lbl").asc()
        )
        labels = (
            votes.groupBy("node", "lbl")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select("node", "lbl", F.row_number().over(wv).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    labels = labels.localCheckpoint(eager=False)  # sizes + final join
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("p_partkey"),
        F.col("lbl").alias("community"),
        "community_size",
    )


def _label_propagation_oracle(rounds: int = 4) -> str:
    # MATERIALIZED per round for the k-core reason: each label relation
    # feeds three consumers; inlined it would re-expand 3^rounds times
    head = """
WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
    SELECT CAST(p1.l_partkey AS BIGINT) AS a, CAST(p2.l_partkey AS BIGINT) AS b
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
l0 AS MATERIALIZED (
    SELECT node, node AS lbl FROM (
        SELECT DISTINCT node FROM
            (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
    )
)"""
    blocks = []
    for r in range(1, rounds + 1):
        blocks.append(f"""
, v{r} AS (
    SELECT e.a AS node, l.lbl FROM e0 e JOIN l{r-1} l ON e.b = l.node
    UNION ALL
    SELECT e.b AS node, l.lbl FROM e0 e JOIN l{r-1} l ON e.a = l.node
    UNION ALL
    SELECT node, lbl FROM l{r-1}
), l{r} AS MATERIALIZED (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM (SELECT node, lbl, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM v{r} GROUP BY node, lbl)
    ) WHERE rn = 1
)""")
    return (
        head
        + "".join(blocks)
        + f"""
SELECT l.node AS p_partkey, l.lbl AS community, s.community_size
FROM l{rounds} l
JOIN (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
      FROM l{rounds} GROUP BY lbl) s ON l.lbl = s.lbl
"""
    )


LABEL_PROPAGATION_COMMUNITIES_PARTS_ORACLE = _label_propagation_oracle()


def degree_assortativity_copurchase_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the support-≥2
    co-purchase graph — one number that says whether popular parts
    co-sell with other popular parts (r > 0, hub-hub cross-sell) or
    with the fringe (r < 0, hub-and-spoke catalogs): the Pearson
    correlation of endpoint degrees over the edge list, each undirected
    edge contributing both orientations. Complements the density
    (k-core), link-analysis (PageRank/HITS), and community (LPA) views
    of the SAME graph.

    Scale shape: the edge builder's one self-join + two degree-map
    equi-joins (degree maps are O(nodes)); the statistic folds EXACT
    bigint sums (Σxy, Σx, Σx² over the 2m directed endpoint pairs) into
    one fixed double expression — no float policy beyond the shared
    expression shape. A regular graph (zero degree variance) yields
    NULL identically in both engines."""
    edges = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select(
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
        )
        .localCheckpoint(eager=False)  # feeds degrees AND both endpoint joins
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    both = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    j = both.join(
        deg.select(F.col("node").alias("a"), F.col("d").alias("dx")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("d").alias("dy")), "b")
    s = j.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
    )
    mD = F.col("m2").cast("double")
    mu = F.col("sx").cast("double") / mD
    num = F.col("sxy").cast("double") / mD - mu * mu
    den = F.col("sxx").cast("double") / mD - mu * mu
    return s.select(
        (F.col("m2") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.when(den > F.lit(0.0), F.round(num / den, 6))
        .cast("double")
        .alias("assortativity"),
    )


DEGREE_ASSORTATIVITY_COPURCHASE_PARTS_ORACLE = """
WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
    SELECT CAST(p1.l_partkey AS BIGINT) AS a, CAST(p2.l_partkey AS BIGINT) AS b
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
), deg AS MATERIALIZED (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
    ) GROUP BY node
), both_dir AS (
    SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m2,
           CAST(SUM(da.d * db.d) AS BIGINT) AS sxy,
           CAST(SUM(da.d) AS BIGINT) AS sx,
           CAST(SUM(da.d * da.d) AS BIGINT) AS sxx
    FROM both_dir e
    JOIN deg da ON e.a = da.node
    JOIN deg db ON e.b = db.node
)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
       CAST(ROUND(CASE WHEN
            CAST(sxx AS DOUBLE) / CAST(m2 AS DOUBLE)
            - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
              * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)) > 0.0
            THEN (CAST(sxy AS DOUBLE) / CAST(m2 AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)))
                 / (CAST(sxx AS DOUBLE) / CAST(m2 AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)))
            END, 6) AS DOUBLE) AS assortativity
FROM s
"""


def markov_entropy_rate_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain (Shannon
    1948's H(X) = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ) — the single bits-per-step
    number that the transition matrix and stationary distribution only
    imply: how predictable the NEXT user action is given the current
    one, published beside the i.i.d. baseline H₀ = −Σ qⱼ ln qⱼ on the
    empirical type shares so the gap reads directly as "how much the
    Markov structure explains" (H ≤ H₀, equality iff steps are
    independent — the pytest pins the inequality). π comes from the
    SAME 8 relational power steps as ``markov_stationary_event_types``
    (round-at-9 per step); per-row conditional entropies fold the
    9-rounded ln terms in DECIMAL(38,15).

    Scale shape: the fact-scale work is the one lead() bigram pass the
    transition matrix already needs; the power iteration and both
    entropy folds live on |types|- and |types|²-bounded relations."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    rowtot = Window.partitionBy("event_type")
    pmat = trans.select(
        F.col("event_type").alias("src"),
        F.col("next_type").alias("dst"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(rowtot).cast("double")
        ).alias("p"),
    ).localCheckpoint(eager=False)  # feeds π steps AND the entropy fold
    types = pmat.select(F.col("src").alias("t")).distinct()
    ntypes = Window.partitionBy(F.col("t").substr(0, 0))
    pi = types.select(
        "t",
        (F.lit(1.0) / F.count("*").over(ntypes).cast("double")).alias("prob"),
    )
    for _ in range(8):
        pi = (
            pi.join(F.broadcast(pmat), pi.t == pmat.src)
            .groupBy(F.col("dst").alias("t_next"))
            .agg(
                F.round(
                    F.sum(
                        (F.col("prob") * F.col("p")).cast("decimal(38,18)")
                    ).cast("double"),
                    9,
                ).alias("prob")
            )
            .select(F.col("t_next").alias("t"), "prob")
        )
    hrow = (
        pmat.select(
            "src",
            (
                F.col("p") * F.round(F.log(F.col("p")), 9)
            ).alias("plnp"),
        )
        .groupBy("src")
        .agg(
            F.sum(F.col("plnp").cast("decimal(38,15)"))
            .cast("double")
            .alias("h_src")
        )
    )
    hr = (
        pi.join(hrow, pi.t == hrow.src)
        .agg(
            F.sum(
                (-F.col("prob") * F.col("h_src")).cast("decimal(38,15)")
            )
            .cast("double")
            .alias("h_rate")
        )
    )
    q = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("c"))
    h0 = q.crossJoin(
        F.broadcast(q.agg(F.sum("c").cast("bigint").alias("tot")))
    ).agg(
        F.sum(
            (
                -(F.col("c").cast("double") / F.col("tot").cast("double"))
                * F.round(
                    F.log(
                        F.col("c").cast("double") / F.col("tot").cast("double")
                    ),
                    9,
                )
            ).cast("decimal(38,15)")
        )
        .cast("double")
        .alias("h_iid")
    )
    return hr.crossJoin(F.broadcast(h0)).select(
        F.round(F.col("h_rate"), 6).cast("double").alias("entropy_rate_nats"),
        F.round(F.col("h_iid"), 6).cast("double").alias("iid_entropy_nats"),
        F.round(F.col("h_iid") - F.col("h_rate"), 6)
        .cast("double")
        .alias("predictability_gain_nats"),
    )


def _markov_entropy_oracle(steps: int = 8) -> str:
    head = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
), trans AS (
    SELECT event_type AS src, next_type AS dst,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), pmat AS MATERIALIZED (
    SELECT src, dst,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
    FROM trans
), pi0 AS (
    SELECT t, 1.0 / CAST(COUNT(*) OVER () AS DOUBLE) AS prob
    FROM (SELECT DISTINCT src AS t FROM pmat)
)"""
    blocks = []
    for m in range(1, steps + 1):
        blocks.append(f"""
, pi{m} AS (
    SELECT m.dst AS t,
           ROUND(CAST(SUM(CAST(p.prob * m.p AS DECIMAL(38,18))) AS DOUBLE),
                 9) AS prob
    FROM pi{m-1} p JOIN pmat m ON p.t = m.src
    GROUP BY m.dst
)""")
    return (
        head
        + "".join(blocks)
        + f"""
, hrow AS (
    SELECT src,
           CAST(SUM(CAST(p * ROUND(ln(p), 9) AS DECIMAL(38,15))) AS DOUBLE)
               AS h_src
    FROM pmat GROUP BY src
), hr AS (
    SELECT CAST(SUM(CAST(-p.prob * h.h_src AS DECIMAL(38,15))) AS DOUBLE)
               AS h_rate
    FROM pi{steps} p JOIN hrow h ON p.t = h.src
), h0 AS (
    SELECT CAST(SUM(CAST(
               -(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
               * ROUND(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
           AS DECIMAL(38,15))) AS DOUBLE) AS h_iid
    FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM events
          GROUP BY event_type)
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM events)
)
SELECT CAST(ROUND(hr.h_rate, 6) AS DOUBLE) AS entropy_rate_nats,
       CAST(ROUND(h0.h_iid, 6) AS DOUBLE) AS iid_entropy_nats,
       CAST(ROUND(h0.h_iid - hr.h_rate, 6) AS DOUBLE)
           AS predictability_gain_nats
FROM hr CROSS JOIN h0
"""
    )


MARKOV_ENTROPY_RATE_EVENT_TYPES_ORACLE = _markov_entropy_oracle()


def hhi_brand_concentration_by_category(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl–Hirschman concentration index of brand revenue within
    each part category (the antitrust-standard market-concentration
    measure; Hirschman 1945, Herfindahl 1950): HHI = Σ sᵢ² over brand
    revenue shares sᵢ in percent — 10000 = monopoly; the DOJ bands
    (<1500 unconcentrated, 1500–2500 moderate, >2500 high) are published
    as the verdict column. The market-structure view of the same
    revenue cube `revenue_rollup_brand_size` aggregates.

    Scale shape: one fact join to the broadcast part dim, one
    hash-aggregation to (category, brand), shares against a category
    window over that bounded relation, one bounded fold. Revenue sums
    in exact decimal; shares and HHI are fixed double expressions."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand",
        F.split(F.col("p_type"), " ").getItem(0).alias("category"),
    )
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("category", "p_brand")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ).cast("decimal(27,6)")
            ).alias("rev")
        )
    )
    wcat = Window.partitionBy("category")
    share = rev.select(
        "category",
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(wcat).cast("double")
            * F.lit(100.0)
        ).alias("s"),
    )
    hhi = share.groupBy("category").agg(
        F.count("*").cast("bigint").alias("n_brands"),
        F.round(
            F.sum((F.col("s") * F.col("s")).cast("decimal(38,12)")).cast(
                "double"
            ),
            6,
        )
        .cast("double")
        .alias("hhi"),
    )
    return hhi.select(
        "category",
        "n_brands",
        "hhi",
        F.when(F.col("hhi") < 1500, F.lit("unconcentrated"))
        .when(F.col("hhi") <= 2500, F.lit("moderate"))
        .otherwise(F.lit("high"))
        .alias("doj_band"),
    )


HHI_BRAND_CONCENTRATION_BY_CATEGORY_ORACLE = """
WITH rev AS (
    SELECT split_part(p.p_type, ' ', 1) AS category, p.p_brand,
           SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                    AS DECIMAL(27,6))) AS rev
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
), share AS (
    SELECT category,
           CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY category) AS DOUBLE)
             * 100.0 AS s
    FROM rev
), hhi AS (
    SELECT category, CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(ROUND(CAST(SUM(CAST(s * s AS DECIMAL(38,12))) AS DOUBLE), 6)
                AS DOUBLE) AS hhi
    FROM share GROUP BY category
)
SELECT category, n_brands, hhi,
       CASE WHEN hhi < 1500 THEN 'unconcentrated'
            WHEN hhi <= 2500 THEN 'moderate'
            ELSE 'high' END AS doj_band
FROM hhi
"""


def bowker_symmetry_event_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bowker's symmetry test (1948; McNemar's k×k generalization) on
    the per-user event-type transition matrix — "is traffic between
    every pair of states balanced, or does the journey have a
    direction?": χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji) with
    df = #pairs where n_ij + n_ji > 0. A funnel-shaped product (views
    flow to purchases but not back) rejects loudly; the pair detail
    rides along as the worst-asymmetry row.

    Scale shape: the one lead() bigram pass the Markov tier shares,
    then everything on the |types|²-bounded transition relation
    (self-joined once on the flipped pair). Counts are exact bigints;
    χ² folds in decimal."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = trans.filter(F.col("event_type") < F.col("next_type")).select(
        F.col("event_type").alias("i"), F.col("next_type").alias("j"),
        F.col("n").alias("n_ij"),
    )
    b = trans.filter(F.col("event_type") > F.col("next_type")).select(
        F.col("next_type").alias("i"), F.col("event_type").alias("j"),
        F.col("n").alias("n_ji"),
    )
    pairs = a.join(b, ["i", "j"], "full").select(
        "i",
        "j",
        F.coalesce(F.col("n_ij"), F.lit(0)).cast("bigint").alias("n_ij"),
        F.coalesce(F.col("n_ji"), F.lit(0)).cast("bigint").alias("n_ji"),
    )
    term = F.when(
        (F.col("n_ij") + F.col("n_ji")) > 0,
        F.pow(
            F.col("n_ij").cast("double") - F.col("n_ji").cast("double"), 2
        )
        / (F.col("n_ij") + F.col("n_ji")).cast("double"),
    ).otherwise(F.lit(0.0))
    s = pairs.agg(
        F.sum(((F.col("n_ij") + F.col("n_ji")) > 0).cast("long"))
        .cast("bigint")
        .alias("df"),
        F.round(
            F.sum(term.cast("decimal(38,12)")).cast("double"), 6
        )
        .cast("double")
        .alias("chi2"),
        F.max(
            F.struct(
                F.abs(F.col("n_ij") - F.col("n_ji")).alias("gap"),
                F.col("i"),
                F.col("j"),
            )
        ).alias("worst"),
    )
    return s.select(
        "df",
        "chi2",
        F.col("worst.i").alias("worst_pair_from"),
        F.col("worst.j").alias("worst_pair_to"),
        F.col("worst.gap").cast("bigint").alias("worst_pair_gap"),
    )


BOWKER_SYMMETRY_EVENT_TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
), trans AS (
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), pairs AS (
    SELECT COALESCE(a.i, b.i) AS i, COALESCE(a.j, b.j) AS j,
           CAST(COALESCE(a.n_ij, 0) AS BIGINT) AS n_ij,
           CAST(COALESCE(b.n_ji, 0) AS BIGINT) AS n_ji
    FROM (SELECT event_type AS i, next_type AS j, n AS n_ij
          FROM trans WHERE event_type < next_type) a
    FULL OUTER JOIN
         (SELECT next_type AS i, event_type AS j, n AS n_ji
          FROM trans WHERE event_type > next_type) b
      ON a.i = b.i AND a.j = b.j
), s AS (
    SELECT CAST(SUM(CASE WHEN n_ij + n_ji > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS df,
           CAST(ROUND(CAST(SUM(CAST(
               CASE WHEN n_ij + n_ji > 0
                    THEN POWER(CAST(n_ij AS DOUBLE) - CAST(n_ji AS DOUBLE), 2)
                         / CAST(n_ij + n_ji AS DOUBLE)
                    ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS DOUBLE) AS chi2,
           MAX(struct_pack(gap := ABS(n_ij - n_ji), i := i, j := j)) AS worst
    FROM pairs
)
SELECT df, chi2,
       worst.i AS worst_pair_from,
       worst.j AS worst_pair_to,
       CAST(worst.gap AS BIGINT) AS worst_pair_gap
FROM s
"""


# --------------------------------------------------------------------------
# k-sample post-hoc / median / within-block tests (round 11)
# --------------------------------------------------------------------------

# Two-sided Bonferroni-adjusted normal critical values z(1 − 0.025/m) for a
# family of m comparisons, m = 1..15 (stdlib NormalDist.inv_cdf, rounded at
# 6; embedded as identical literals in the Spark plan and the oracle so the
# significance column never depends on an engine's quantile function).
_BONF_Z = {
    1: 1.959964, 2: 2.241403, 3: 2.39398, 4: 2.497705, 5: 2.575829,
    6: 2.638257, 7: 2.69011, 8: 2.734369, 9: 2.772921, 10: 2.807034,
    11: 2.837597, 12: 2.86526, 13: 2.890512, 14: 2.913726, 15: 2.935199,
}

# χ²(df) 95th-percentile critical values, df = 1..10 (public tables).
_CHI2_CRIT = {
    1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729, 5: 11.070498,
    6: 12.591587, 7: 14.06714, 8: 15.507313, 9: 16.918978, 10: 18.307038,
}


def _bonf_z_case_spark(m_col: Column) -> Column:
    expr = F.lit(None).cast("double")
    for m, z in sorted(_BONF_Z.items(), reverse=True):
        expr = F.when(m_col == F.lit(m), F.lit(z)).otherwise(expr)
    return expr


def _bonf_z_case_sql(m_expr: str) -> str:
    whens = " ".join(
        f"WHEN {m_expr} = {m} THEN {z}" for m, z in sorted(_BONF_Z.items())
    )
    return f"CASE {whens} END"


def _chi2_crit_case_spark(df_col: Column) -> Column:
    expr = F.lit(None).cast("double")
    for d, c in sorted(_CHI2_CRIT.items(), reverse=True):
        expr = F.when(df_col == F.lit(d), F.lit(c)).otherwise(expr)
    return expr


def _chi2_crit_case_sql(df_expr: str) -> str:
    whens = " ".join(
        f"WHEN {df_expr} = {d} THEN {c}" for d, c in sorted(_CHI2_CRIT.items())
    )
    return f"CASE {whens} END"


def dunn_posthoc_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test (Dunn 1964) for every event-type pair — the
    follow-up ``kruskal_wallis_event_values`` needs: KW's H says SOME
    group's value distribution differs; Dunn's pairwise
    z = (r̄_a − r̄_b) / √(σ²(1/n_a + 1/n_b)) with the shared tie-corrected
    rank variance σ² = (N(N+1) − Σ(t³−t)/(N−1))/12 says WHICH, at a
    Bonferroni-held family level (the classic KW→Dunn ladder; pairwise
    Mann–Whitneys would inflate the family error AND use pair-local
    ranks, which Dunn 1964 explicitly corrects by ranking ONCE over the
    pooled corpus).

    Exactness: the pooled average ranks are the Kruskal–Wallis doubled
    integers (2·r̄ = 2·cum_before + t + 1), per-group doubled rank sums
    fold in DECIMAL(38,0), the tie cube in DECIMAL(38,0); z is one fixed
    double expression rounded at 6; the Bonferroni critical value is a
    shared m→z literal table (never an engine quantile). Scale shape:
    cumulative counts over the distinct-value domain ride the
    range-partition + chunk-offset stitch (the ``ks_test`` pattern — no
    single-partition sort); the pairwise stage is a self-join of the
    ≤k-row per-group relation."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("value", "event_type").agg(
        F.count("*").cast("bigint").alias("tg")
    )
    pts = ev.groupBy("value").agg(F.count("*").cast("bigint").alias("t"))
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select("value", "t", "pid", F.sum("t").over(w).alias("lc"))
    totals = local.groupBy("pid").agg(F.max("lc").cast("bigint").alias("tt"))
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid", F.coalesce(F.sum("tt").over(bw), F.lit(0)).cast("bigint").alias("off")
    )
    ranked = local.join(offs, "pid").select(
        "value",
        (
            2 * (F.col("lc") + F.col("off") - F.col("t")) + F.col("t") + 1
        ).cast("bigint").alias("r2"),
    )
    per_g = (
        g.join(ranked, "value")
        .groupBy("event_type")
        .agg(
            F.sum("tg").cast("bigint").alias("n_g"),
            F.sum(F.col("tg").cast("decimal(38,0)") * F.col("r2")).alias("r2_sum"),
        )
        # ≤k-row per-group relation with the full corpus rank-stitch in its
        # lineage and THREE consumers (counts + both pair sides): unpinned,
        # the stitch replayed 3× (20 parquet scans, r11 census). The pin is
        # DOWNSTREAM of the chunk-offset stitch, so the load-bearing
        # shared-range-exchange invariant (comment at kruskal/cliffs) is
        # untouched — the stitch still runs intact, once, inside this
        # pin's materialization. Deterministic content, lineage-only.
        .localCheckpoint()
    )
    ties = pts.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).cast("decimal(38,0)").alias("tie_term"),
        F.lit(1).alias("one"),
    )
    counts = per_g.agg(
        F.count("*").cast("bigint").alias("k_groups"), F.lit(1).alias("one")
    )
    pairs = (
        per_g.alias("a")
        .crossJoin(F.broadcast(per_g.alias("b")))  # ≤k rows: BNLJ, never CP
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .join(F.broadcast(ties.join(counts, "one")), how="cross")
    )
    nd = F.col("n").cast("double")
    sigma2 = (
        nd * (nd + F.lit(1.0))
        - F.col("tie_term").cast("double") / (nd - F.lit(1.0))
    ) / F.lit(12.0)
    na = F.col("a.n_g").cast("double")
    nb = F.col("b.n_g").cast("double")
    rbar_a = F.col("a.r2_sum").cast("double") / (F.lit(2.0) * na)
    rbar_b = F.col("b.r2_sum").cast("double") / (F.lit(2.0) * nb)
    z = (rbar_a - rbar_b) / F.sqrt(sigma2 * (F.lit(1.0) / na + F.lit(1.0) / nb))
    m_col = (F.col("k_groups") * (F.col("k_groups") - 1) / 2).cast("int")
    return pairs.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n_g").alias("n_a"),
        F.col("b.n_g").alias("n_b"),
        F.round(z, 6).cast("double").alias("z_dunn"),
        m_col.alias("n_comparisons"),
        (F.abs(F.round(z, 6)) > _bonf_z_case_spark(m_col)).alias(
            "significant_bonferroni"
        ),
    )


DUNN_POSTHOC_EVENT_VALUES_ORACLE = f"""
WITH g AS (
    SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS tg
    FROM events GROUP BY 1, 2
), pts AS (
    SELECT value, CAST(COUNT(*) AS BIGINT) AS t FROM events GROUP BY 1
), ranked AS (
    SELECT value,
           CAST(2 * (SUM(t) OVER (ORDER BY value) - t) + t + 1 AS BIGINT) AS r2
    FROM pts
), per_g AS (
    SELECT g.event_type, CAST(SUM(tg) AS BIGINT) AS n_g,
           SUM(CAST(tg AS DECIMAL(38,0)) * r.r2) AS r2_sum
    FROM g JOIN ranked r USING (value) GROUP BY g.event_type
), ties AS (
    SELECT CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DECIMAL(38,0))
               AS tie_term
    FROM pts
), counts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k_groups FROM per_g
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n_g AS n_a, b.n_g AS n_b,
       CAST(ROUND(
           (CAST(a.r2_sum AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
            - CAST(b.r2_sum AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE)))
           / SQRT((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                   - CAST(tie_term AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))
                  / 12.0
                  * (1.0 / CAST(a.n_g AS DOUBLE)
                     + 1.0 / CAST(b.n_g AS DOUBLE))), 6) AS DOUBLE) AS z_dunn,
       CAST(k_groups * (k_groups - 1) / 2 AS INT) AS n_comparisons,
       ABS(CAST(ROUND(
           (CAST(a.r2_sum AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
            - CAST(b.r2_sum AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE)))
           / SQRT((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                   - CAST(tie_term AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))
                  / 12.0
                  * (1.0 / CAST(a.n_g AS DOUBLE)
                     + 1.0 / CAST(b.n_g AS DOUBLE))), 6) AS DOUBLE))
           > {_bonf_z_case_sql("CAST(k_groups * (k_groups - 1) / 2 AS INT)")}
           AS significant_bonferroni
FROM per_g a JOIN per_g b ON a.event_type < b.event_type
CROSS JOIN ties CROSS JOIN counts
"""


def moods_median_test_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test (Mood 1950) across all event types — the
    count-based k-sample location test that complements the rank-based
    ``kruskal_wallis_event_values``: each value is classified only as
    above / not-above the pooled grand median, so the statistic is a
    plain k×2 contingency χ² = Σ(O−E)²/E — maximally robust to outliers
    (magnitudes never enter) at some power cost, the textbook trade.

    Exactness: the grand median is ONE exact interpolated percentile
    rounded at 6 before any comparison (the ``robust_outliers_mad``
    med/MAD idiom — both engines classify against a bitwise-equal
    cutoff); all cells and margins are exact bigints; χ² folds per-cell
    doubles in DECIMAL(38,12) and rounds at 6; the critical value is the
    shared df→χ² literal table. Scale shape: one percentile pass + one
    hash-aggregation to the ≤k-row group grain; the fold is k-bounded."""
    ev = load_table(spark, sf_dir, "events")
    gm = ev.agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("gm"),
    )
    cells = (
        ev.join(F.broadcast(gm), how="cross")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            F.sum((F.col("value") > F.col("gm")).cast("long"))
            .cast("bigint")
            .alias("a_g"),
        )
    )
    tot = cells.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("a_g").cast("bigint").alias("n_above"),
        F.lit(1).alias("one"),
    )
    j = cells.join(F.broadcast(tot), how="cross")
    nd = F.col("n").cast("double")
    e_above = F.col("n_g").cast("double") * F.col("n_above").cast("double") / nd
    e_below = (
        F.col("n_g").cast("double")
        * (F.col("n") - F.col("n_above")).cast("double")
        / nd
    )
    o_above = F.col("a_g").cast("double")
    o_below = (F.col("n_g") - F.col("a_g")).cast("double")
    term = (o_above - e_above) * (o_above - e_above) / e_above + (
        o_below - e_below
    ) * (o_below - e_below) / e_below
    agg = j.groupBy("k_groups", "n", "n_above").agg(
        F.round(
            F.sum(term.cast("decimal(38,12)")).cast("double"), 6
        ).alias("chi2")
    )
    df_col = (F.col("k_groups") - 1).cast("int")
    return agg.select(
        "k_groups",
        "n",
        "n_above",
        df_col.alias("df"),
        F.col("chi2").cast("double"),
        (F.col("chi2") > _chi2_crit_case_spark(df_col)).alias("significant"),
    )


MOODS_MEDIAN_TEST_EVENT_VALUES_ORACLE = f"""
WITH gm AS (
    SELECT ROUND(quantile_cont(value, 0.5), 6) AS gm FROM events
), cells AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(CASE WHEN value > gm THEN 1 ELSE 0 END) AS BIGINT) AS a_g
    FROM events CROSS JOIN gm GROUP BY event_type
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
           CAST(SUM(n_g) AS BIGINT) AS n,
           CAST(SUM(a_g) AS BIGINT) AS n_above
    FROM cells
), agg AS (
    SELECT k_groups, n, n_above,
           CAST(ROUND(CAST(SUM(CAST(
               (CAST(a_g AS DOUBLE)
                - CAST(n_g AS DOUBLE) * CAST(n_above AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(a_g AS DOUBLE)
                  - CAST(n_g AS DOUBLE) * CAST(n_above AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(n_g AS DOUBLE) * CAST(n_above AS DOUBLE)
                  / CAST(n AS DOUBLE))
               + (CAST(n_g - a_g AS DOUBLE)
                  - CAST(n_g AS DOUBLE) * CAST(n - n_above AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 * (CAST(n_g - a_g AS DOUBLE)
                    - CAST(n_g AS DOUBLE) * CAST(n - n_above AS DOUBLE)
                      / CAST(n AS DOUBLE))
               / (CAST(n_g AS DOUBLE) * CAST(n - n_above AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS DECIMAL(38,12)))
               AS DOUBLE), 6) AS DOUBLE) AS chi2
    FROM cells CROSS JOIN tot
    GROUP BY k_groups, n, n_above
)
SELECT k_groups, n, n_above, CAST(k_groups - 1 AS INT) AS df, chi2,
       chi2 > {_chi2_crit_case_sql("CAST(k_groups - 1 AS INT)")} AS significant
FROM agg
"""


def friedman_test_event_type_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (Friedman 1937) of per-user mean event values across
    event types — the within-block rank test the k-sample tier lacks:
    Kruskal–Wallis pools all rows and a heavy user dominates every
    group, while Friedman ranks each user's OWN per-type means 1..k and
    asks whether some type consistently ranks high across users — the
    repeated-measures ANOVA analogue, immune to between-user level
    differences. Blocks are the users holding ALL k types (complete
    blocks, the classical design; the fixture's every user qualifies).

    Exactness: per-(user,type) means fold in DECIMAL and round at 9
    BEFORE ranking (both engines rank bitwise-equal keys); within-block
    average ranks use the doubled-rank construction per user
    (2·r̄ = 2·cnt_less + cnt_eq + 1 — exact integers even under ties),
    so ΣR2_j², A2 = Σr2² and the tie-corrected statistic
    χ² = (k−1)(ΣR2_j² − n²k(k+1)²)/(A2 − nk(k+1)²) is integer algebra
    until one final double ratio rounded at 6. Scale shape: one
    hash-aggregation to (user, type) grain, per-user windows PARTITIONED
    by user (never global), folds in DECIMAL(38,0) at type grain."""
    ev = load_table(spark, sf_dir, "events")
    types = ev.agg(
        F.countDistinct("event_type").cast("bigint").alias("k"),
        F.lit(1).alias("one"),
    )
    ut = ev.groupBy("user_id", "event_type").agg(
        F.round(
            dec_sum(F.col("value"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("m")
        # (user,type)-grain corpus aggregate with MULTIPLE transitive
        # consumers (complete + utc, and utc itself is referenced by the
        # gv-rank chain AND the ur join): unpinned, the events scan + agg
        # replayed ~12× in one plan (36 parquet scans, r11 census). Pin —
        # deterministic content, lineage-only.
    ).localCheckpoint()
    complete = (
        ut.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("kt"), F.lit(1).alias("one"))
        .join(F.broadcast(types), "one")
        .filter(F.col("kt") == F.col("k"))
        .select("user_id")
    )
    utc = ut.join(complete, "user_id")
    # doubled average ranks within each user block (ties exact)
    gv = utc.groupBy("user_id", "m").agg(F.count("*").cast("bigint").alias("t"))
    wu = Window.partitionBy("user_id").orderBy("m").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = gv.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(wu), F.lit(0)).cast("bigint")
    ).select(
        "user_id",
        "m",
        (2 * F.col("cum_before") + F.col("t") + 1).cast("bigint").alias("r2"),
    )
    ur = (
        utc.join(ranked, ["user_id", "m"])
        .select("user_id", "event_type", "r2")
        # (user,type)-grain, THREE consumers (per_type, blocks, stats) —
        # pin so the rank chain runs once
        .localCheckpoint()
    )
    per_type = ur.groupBy("event_type").agg(
        F.sum("r2").cast("decimal(38,0)").alias("r2_sum")
    )
    blocks = ur.groupBy("user_id").agg(F.count("*").alias("_kt"))
    stats = ur.agg(
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2")).alias("a2"),
        F.lit(1).alias("one"),
    )
    nb = blocks.agg(
        F.count("*").cast("bigint").alias("n_blocks"), F.lit(1).alias("one")
    )
    tj = per_type.agg(
        F.count("*").cast("bigint").alias("k_types"),
        F.sum(F.col("r2_sum") * F.col("r2_sum")).alias("sr2"),
        F.lit(1).alias("one"),
    )
    j = tj.join(nb, "one").join(stats, "one")
    kd = F.col("k_types").cast("double")
    ndb = F.col("n_blocks").cast("double")
    kp1sq = (kd + F.lit(1.0)) * (kd + F.lit(1.0))
    num = (kd - F.lit(1.0)) * (
        F.col("sr2").cast("double") - ndb * ndb * kd * kp1sq
    )
    den = F.col("a2").cast("double") - ndb * kd * kp1sq
    chi2 = F.round(F.when(den > F.lit(0.0), num / den), 6)
    df_col = (F.col("k_types") - 1).cast("int")
    return j.select(
        F.col("n_blocks"),
        F.col("k_types"),
        df_col.alias("df"),
        chi2.cast("double").alias("chi2"),
        F.coalesce(
            chi2 > _chi2_crit_case_spark(df_col), F.lit(False)
        ).alias("significant"),
    )


FRIEDMAN_TEST_EVENT_TYPE_VALUES_ORACLE = f"""
WITH types AS (
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
), ut AS (
    SELECT user_id, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS m
    FROM events GROUP BY user_id, event_type
), complete AS (
    SELECT user_id FROM ut, types GROUP BY user_id, k
    HAVING COUNT(*) = k
), utc AS (
    SELECT ut.* FROM ut JOIN complete USING (user_id)
), gv AS (
    SELECT user_id, m, CAST(COUNT(*) AS BIGINT) AS t
    FROM utc GROUP BY user_id, m
), ranked AS (
    SELECT user_id, m,
           CAST(2 * (SUM(t) OVER (PARTITION BY user_id ORDER BY m) - t)
                + t + 1 AS BIGINT) AS r2
    FROM gv
), ur AS (
    SELECT utc.user_id, utc.event_type, r.r2
    FROM utc JOIN ranked r ON utc.user_id = r.user_id AND utc.m = r.m
), per_type AS (
    SELECT event_type, CAST(SUM(r2) AS DECIMAL(38,0)) AS r2_sum
    FROM ur GROUP BY event_type
), tj AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k_types,
           SUM(r2_sum * r2_sum) AS sr2
    FROM per_type
), nb AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_blocks FROM ur
), stats AS (
    SELECT SUM(CAST(r2 AS DECIMAL(38,0)) * r2) AS a2 FROM ur
)
SELECT n_blocks, k_types, CAST(k_types - 1 AS INT) AS df,
       CAST(ROUND(CASE WHEN CAST(a2 AS DOUBLE)
                            - CAST(n_blocks AS DOUBLE) * CAST(k_types AS DOUBLE)
                              * POWER(CAST(k_types AS DOUBLE) + 1.0, 2) > 0.0
            THEN (CAST(k_types AS DOUBLE) - 1.0)
                 * (CAST(sr2 AS DOUBLE)
                    - CAST(n_blocks AS DOUBLE) * CAST(n_blocks AS DOUBLE)
                      * CAST(k_types AS DOUBLE)
                      * POWER(CAST(k_types AS DOUBLE) + 1.0, 2))
                 / (CAST(a2 AS DOUBLE)
                    - CAST(n_blocks AS DOUBLE) * CAST(k_types AS DOUBLE)
                      * POWER(CAST(k_types AS DOUBLE) + 1.0, 2))
            END, 6) AS DOUBLE) AS chi2,
       COALESCE(ROUND(CASE WHEN CAST(a2 AS DOUBLE)
                                - CAST(n_blocks AS DOUBLE)
                                  * CAST(k_types AS DOUBLE)
                                  * POWER(CAST(k_types AS DOUBLE) + 1.0, 2)
                                > 0.0
            THEN (CAST(k_types AS DOUBLE) - 1.0)
                 * (CAST(sr2 AS DOUBLE)
                    - CAST(n_blocks AS DOUBLE) * CAST(n_blocks AS DOUBLE)
                      * CAST(k_types AS DOUBLE)
                      * POWER(CAST(k_types AS DOUBLE) + 1.0, 2))
                 / (CAST(a2 AS DOUBLE)
                    - CAST(n_blocks AS DOUBLE) * CAST(k_types AS DOUBLE)
                      * POWER(CAST(k_types AS DOUBLE) + 1.0, 2))
            END, 6)
            > {_chi2_crit_case_sql("CAST(k_types - 1 AS INT)")}, FALSE)
           AS significant
FROM tj CROSS JOIN nb CROSS JOIN stats
"""


def cochrans_q_event_types_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (Cochran 1950) of k matched binary outcomes —
    the dichotomous sibling of ``friedman_test_event_type_values``:
    per user (block) and event type (treatment), the outcome is the
    binary "is this user's MEAN value for the type above the POOLED
    median of all (user, type) means" — do some event types put
    significantly more users above the one shared bar than others,
    holding the user fixed? (Two rejected outcome designs, documented:
    any-event-above-median is degenerate here — every active user
    clears it for every type; a PER-TYPE median bar fixes every column
    margin at exactly half by construction, making Q ≡ 0 — the bar must
    be shared across treatments for the column totals to carry signal.)
    Q = k(k−1)·Σ_j(C_j − N/k)² / (k·N − ΣR_u²) is the within-block
    extension of McNemar to k > 2 treatments (it reduces to McNemar's
    χ² at k = 2), distributed χ²(k−1) under exchangeability.

    Exactness: per-(user,type) means fold in DECIMAL and round at 9;
    the pooled median over those means is ONE exact interpolated
    percentile rounded at 6 before comparison; outcomes, column totals C_j, row
    totals R_u and ΣR_u² are exact bigints (ΣR_u² folds in
    DECIMAL(38,0)); Q is one double ratio rounded at 6. Blocks are the
    users holding all k types (complete blocks — Cochran's design).
    Scale shape: one percentile pass at type grain, one hash-aggregation
    to (user, type), folds at user/type grain — no windows at all."""
    ev = load_table(spark, sf_dir, "events")
    types = ev.agg(
        F.countDistinct("event_type").cast("bigint").alias("k"),
        F.lit(1).alias("one"),
    )
    um = ev.groupBy("user_id", "event_type").agg(
        F.round(
            dec_sum(F.col("value"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("m")
        # (user,type)-grain corpus aggregate, consumed by the median pass
        # AND the outcome relation (whose own consumers multiply it to ~5
        # replays / 20 parquet scans, r11 census): pin — deterministic,
        # lineage-only (the friedman `ut` fix, same grain).
    ).localCheckpoint()
    med = um.agg(F.round(F.percentile("m", F.lit(0.5)), 6).alias("med"))
    ut = um.join(F.broadcast(med), how="cross").select(
        "user_id",
        "event_type",
        (F.col("m") > F.col("med")).cast("bigint").alias("x"),
    )
    complete = (
        ut.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("kt"), F.lit(1).alias("one"))
        .join(F.broadcast(types), "one")
        .filter(F.col("kt") == F.col("k"))
        .select("user_id")
    )
    # complete-block outcome relation, TWO consumers (column and row
    # totals): pin so the completeness join runs once
    utc = ut.join(complete, "user_id").localCheckpoint()
    cols = utc.groupBy("event_type").agg(F.sum("x").cast("bigint").alias("c_j"))
    rows_ = utc.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("r_u"))
    cj = cols.agg(
        F.count("*").cast("bigint").alias("k_types"),
        F.sum("c_j").cast("bigint").alias("n_tot"),
        F.sum(F.col("c_j").cast("decimal(38,0)") * F.col("c_j")).alias("sc2"),
        F.lit(1).alias("one"),
    )
    ru = rows_.agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("r_u").cast("decimal(38,0)") * F.col("r_u")).alias("sr2"),
        F.lit(1).alias("one"),
    )
    j = cj.join(ru, "one")
    kd = F.col("k_types").cast("double")
    ntd = F.col("n_tot").cast("double")
    num = (
        kd
        * (kd - F.lit(1.0))
        * (F.col("sc2").cast("double") - ntd * ntd / kd)
    )
    den = kd * ntd - F.col("sr2").cast("double")
    q = F.round(F.when(den > F.lit(0.0), num / den), 6)
    df_col = (F.col("k_types") - 1).cast("int")
    return j.select(
        "n_blocks",
        "k_types",
        F.col("n_tot"),
        df_col.alias("df"),
        q.cast("double").alias("q_stat"),
        F.coalesce(q > _chi2_crit_case_spark(df_col), F.lit(False)).alias(
            "significant"
        ),
    )


COCHRANS_Q_EVENT_TYPES_USERS_ORACLE = f"""
WITH types AS (
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
), um AS (
    SELECT user_id, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS m
    FROM events GROUP BY user_id, event_type
), med AS (
    SELECT ROUND(quantile_cont(m, 0.5), 6) AS med FROM um
), ut AS (
    SELECT um.user_id, um.event_type,
           CAST(CASE WHEN um.m > med.med THEN 1 ELSE 0 END AS BIGINT) AS x
    FROM um CROSS JOIN med
), complete AS (
    SELECT user_id FROM ut, types GROUP BY user_id, k HAVING COUNT(*) = k
), utc AS (
    SELECT ut.* FROM ut JOIN complete USING (user_id)
), cj AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k_types,
           CAST(SUM(c_j) AS BIGINT) AS n_tot,
           SUM(CAST(c_j AS DECIMAL(38,0)) * c_j) AS sc2
    FROM (SELECT event_type, CAST(SUM(x) AS BIGINT) AS c_j
          FROM utc GROUP BY event_type)
), ru AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
           SUM(CAST(r_u AS DECIMAL(38,0)) * r_u) AS sr2
    FROM (SELECT user_id, CAST(SUM(x) AS BIGINT) AS r_u
          FROM utc GROUP BY user_id)
)
SELECT n_blocks, k_types, n_tot, CAST(k_types - 1 AS INT) AS df,
       CAST(ROUND(CASE WHEN CAST(k_types AS DOUBLE) * CAST(n_tot AS DOUBLE)
                            - CAST(sr2 AS DOUBLE) > 0.0
            THEN CAST(k_types AS DOUBLE) * (CAST(k_types AS DOUBLE) - 1.0)
                 * (CAST(sc2 AS DOUBLE)
                    - CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                      / CAST(k_types AS DOUBLE))
                 / (CAST(k_types AS DOUBLE) * CAST(n_tot AS DOUBLE)
                    - CAST(sr2 AS DOUBLE))
            END, 6) AS DOUBLE) AS q_stat,
       COALESCE(ROUND(CASE WHEN CAST(k_types AS DOUBLE) * CAST(n_tot AS DOUBLE)
                                - CAST(sr2 AS DOUBLE) > 0.0
            THEN CAST(k_types AS DOUBLE) * (CAST(k_types AS DOUBLE) - 1.0)
                 * (CAST(sc2 AS DOUBLE)
                    - CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                      / CAST(k_types AS DOUBLE))
                 / (CAST(k_types AS DOUBLE) * CAST(n_tot AS DOUBLE)
                    - CAST(sr2 AS DOUBLE))
            END, 6)
            > {_chi2_crit_case_sql("CAST(k_types - 1 AS INT)")}, FALSE)
           AS significant
FROM cj CROSS JOIN ru
"""


def transitivity_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (clustering coefficient) of the support-≥2
    co-purchase graph — the RATIO ``triangle_count_copurchase`` stops
    short of: C = 3·triangles / wedges, where wedges = Σ_v d_v(d_v−1)/2
    counts the open-or-closed 2-paths. Transitivity is what makes the
    raw triangle census comparable across catalogs of different size —
    the probability that two parts co-purchased with a common third are
    also co-purchased with each other (Watts & Strogatz 1998's global
    variant; Newman 2003 eq. 3.3).

    Reuses the census's degree-orientation shape verbatim (each
    triangle counted once; wedge-join fan-out bounded by out-degree ≤
    O(√E)); the wedge denominator is ONE more aggregate over the same
    degree relation. Exactness: triangles, degrees and the wedge sum
    are exact bigints (wedge products fold in DECIMAL(38,0)); C is one
    double ratio rounded at 6."""
    und = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select("a", "b")
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint()
    )
    e1 = ori.select(F.col("u").alias("u1"), F.col("v").alias("v1"))
    e2 = ori.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    wedges_j = e1.join(e2, "v1")
    closing = ori.select(F.col("u").alias("u1"), F.col("v").alias("v2"))
    tri = wedges_j.join(closing, ["u1", "v2"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    wed = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (
            F.sum(
                (F.col("d").cast("decimal(38,0)") * (F.col("d") - 1))
            )
            / 2
        )
        .cast("bigint")
        .alias("n_wedges"),
    )
    j = tri.crossJoin(F.broadcast(wed))
    c = F.when(
        F.col("n_wedges") > 0,
        F.round(
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
            6,
        ),
    )
    return j.select(
        "n_nodes",
        "n_triangles",
        "n_wedges",
        c.cast("double").alias("transitivity"),
    )


TRANSITIVITY_COPURCHASE_PARTS_ORACLE = """
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
    SELECT p1.l_partkey AS a, p2.l_partkey AS b
    FROM po p1 JOIN po p2
      ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
), deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
    ) GROUP BY node
), ori AS (
    SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
           CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v
    FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b
), tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM ori e1
    JOIN ori e2 ON e1.v = e2.u
    JOIN ori e3 ON e3.u = e1.u AND e3.v = e2.v
), wed AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CAST(d AS DECIMAL(38,0)) * (d - 1)) / 2 AS BIGINT)
               AS n_wedges
    FROM deg
)
SELECT n_nodes, n_triangles, n_wedges,
       CAST(CASE WHEN n_wedges > 0 THEN
            ROUND(3.0 * CAST(n_triangles AS DOUBLE)
                  / CAST(n_wedges AS DOUBLE), 6) END AS DOUBLE)
           AS transitivity
FROM tri CROSS JOIN wed
"""


_JT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def jonckheere_terpstra_priority_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere–Terpstra test (Jonckheere 1954; Terpstra 1952) for a
    MONOTONE trend of order value across the ordered priority levels —
    the ordered-alternative k-sample test Kruskal–Wallis cannot express
    (KW's H is direction-blind; JT pools the pairwise dominance counts
    U_ij over every ordered group pair i<j, gaining power exactly when
    the alternative is "price rises (or falls) with priority"). The
    five TPC-H priority literals are the a-priori ordering.

    J = Σ_{i<j} U_ij = Σ_v Σ_g t_g(v)·Σ_{i<g} cum_i(<v)
        + ½·Σ_v Σ_{i<g} t_i(v)·t_g(v),
    all exact integers from the value-grain relation; E[J] =
    (N² − Σn_i²)/4 and the TIE-CORRECTED variance is Hollander &
    Wolfe's three-term form (the clinfun::jonckheere.test formula) —
    every term an exact DECIMAL(38,0) fold; z is the only derived
    float, continuity-corrected and rounded at 6.

    Scale shape: the five per-group cumulatives ride ONE
    range-partition + chunk-offset stitch over the distinct-value
    domain (never a single-partition sort; all five cums AND the chunk
    totals derive from the same window output — the cliffs_delta
    determinism rule), then two bounded folds. The group set is pinned
    to the five TPC-H literals and guarded (fail loudly on drift, the
    shapley bound idiom)."""
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    extra = od.filter(~F.col("g").isin(*_JT_PRIORITIES)).limit(1).count()
    if extra:
        raise ValueError(
            "jonckheere_terpstra_priority_price: unknown o_orderpriority "
            "value — the a-priori group ordering is pinned to the five "
            "TPC-H literals"
        )
    k = len(_JT_PRIORITIES)
    pts = od.groupBy("v").agg(
        *[
            F.sum((F.col("g") == F.lit(p)).cast("long"))
            .cast("bigint")
            .alias(f"t{i + 1}")
            for i, p in enumerate(_JT_PRIORITIES)
        ]
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "v").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("v")
    local = chunked.select(
        "v",
        "pid",
        *[F.col(f"t{i}") for i in range(1, k + 1)],
        *[F.sum(f"t{i}").over(w).alias(f"lc{i}") for i in range(1, k + 1)],
    ).localCheckpoint(eager=False)
    # pinned: totals AND ranked consume this relation, and with 11 carried
    # columns Catalyst prunes the two branches differently — two
    # specialized range exchanges re-SAMPLE different chunk boundaries and
    # the offset stitch silently corrupts (the cliffs_delta hazard,
    # reproduced live here at sf0.01 before the pin)
    totals = local.groupBy("pid").agg(
        *[F.max(f"lc{i}").cast("bigint").alias(f"tt{i}") for i in range(1, k + 1)]
    )
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid",
        *[
            F.coalesce(F.sum(f"tt{i}").over(bw), F.lit(0))
            .cast("bigint")
            .alias(f"off{i}")
            for i in range(1, k + 1)
        ],
    )
    ranked = local.join(offs, "pid").select(
        "v",
        *[F.col(f"t{i}") for i in range(1, k + 1)],
        *[
            (F.col(f"lc{i}") + F.col(f"off{i}") - F.col(f"t{i}"))
            .cast("bigint")
            .alias(f"cb{i}")
            for i in range(1, k + 1)
        ],
    )
    # J terms per value row: strict dominance + half-ties, exact ints
    # (doubled to keep the half exact: J2 = 2J)
    strict = None
    ties_t = None
    for g in range(2, k + 1):
        cum_lower = None
        tie_lower = None
        for i in range(1, g):
            cum_lower = (
                F.col(f"cb{i}")
                if cum_lower is None
                else cum_lower + F.col(f"cb{i}")
            )
            tie_lower = (
                F.col(f"t{i}")
                if tie_lower is None
                else tie_lower + F.col(f"t{i}")
            )
        term = F.col(f"t{g}").cast("decimal(38,0)") * cum_lower
        tie = F.col(f"t{g}").cast("decimal(38,0)") * tie_lower
        strict = term if strict is None else strict + term
        ties_t = tie if ties_t is None else ties_t + tie
    tv = None
    for i in range(1, k + 1):
        tv = F.col(f"t{i}") if tv is None else tv + F.col(f"t{i}")
    folds = ranked.select(
        strict.alias("s"),
        ties_t.alias("e"),
        tv.cast("bigint").alias("tv"),
    ).agg(
        F.sum(F.col("s")).cast("decimal(38,0)").alias("strict"),
        F.sum(F.col("e")).cast("decimal(38,0)").alias("tie_pairs"),
        F.sum(F.col("tv").cast("decimal(38,0)")).alias("n"),
        F.sum(
            F.col("tv").cast("decimal(38,0)") * (F.col("tv") - 1)
        ).alias("u2"),
        F.sum(
            F.col("tv").cast("decimal(38,0)")
            * (F.col("tv") - 1)
            * (2 * F.col("tv") + 5)
        ).alias("u25"),
        F.sum(
            F.col("tv").cast("decimal(38,0)")
            * (F.col("tv") - 1)
            * (F.col("tv") - 2)
        ).alias("u3"),
        F.lit(1).alias("one"),
    )
    grp = od.groupBy("g").agg(F.count("*").cast("bigint").alias("ng"))
    gf = grp.agg(
        F.sum(F.col("ng").cast("decimal(38,0)") * F.col("ng")).alias("g2"),
        F.sum(
            F.col("ng").cast("decimal(38,0)")
            * (F.col("ng") - 1)
            * (2 * F.col("ng") + 5)
        ).alias("g25"),
        F.sum(
            F.col("ng").cast("decimal(38,0)") * (F.col("ng") - 1)
        ).alias("gp2"),
        F.sum(
            F.col("ng").cast("decimal(38,0)")
            * (F.col("ng") - 1)
            * (F.col("ng") - 2)
        ).alias("gp3"),
        F.lit(1).alias("one"),
    )
    j = folds.join(F.broadcast(gf), "one")
    nD = F.col("n").cast("double")
    j2 = 2 * F.col("strict") + F.col("tie_pairs")  # doubled J, exact
    e2 = (
        F.col("n").cast("double") * nD - F.col("g2").cast("double")
    ) / F.lit(2.0)  # doubled E[J]
    var = (
        (
            nD * (nD - F.lit(1.0)) * (F.lit(2.0) * nD + F.lit(5.0))
            - F.col("g25").cast("double")
            - F.col("u25").cast("double")
        )
        / F.lit(72.0)
        + F.col("gp3").cast("double")
        * F.col("u3").cast("double")
        / (F.lit(36.0) * nD * (nD - F.lit(1.0)) * (nD - F.lit(2.0)))
        + F.col("gp2").cast("double")
        * F.col("u2").cast("double")
        / (F.lit(8.0) * nD * (nD - F.lit(1.0)))
    )
    dev2 = j2.cast("double") - e2  # doubled deviation
    z = F.when(
        var > F.lit(0.0),
        F.round(
            (dev2 - F.signum(dev2)) / (F.lit(2.0) * F.sqrt(var)), 6
        ),  # continuity correction: |J - E| - 0.5 on the undoubled scale
    )
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        (j2.cast("double") / F.lit(2.0)).alias("jt_stat"),
        F.round(e2 / F.lit(2.0), 6).cast("double").alias("jt_expected"),
        F.round(var, 6).cast("double").alias("jt_variance"),
        z.cast("double").alias("z"),
        F.coalesce(F.abs(z) > F.lit(1.959964), F.lit(False)).alias(
            "significant"
        ),
    )


JONCKHEERE_TERPSTRA_PRIORITY_PRICE_ORACLE = """
WITH od AS (
    SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
    FROM orders
), pts AS (
    SELECT v,
           CAST(SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS t1,
           CAST(SUM(CASE WHEN g = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS t2,
           CAST(SUM(CASE WHEN g = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS t3,
           CAST(SUM(CASE WHEN g = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS t4,
           CAST(SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS t5
    FROM od GROUP BY v
), ranked AS (
    SELECT v, t1, t2, t3, t4, t5,
           CAST(SUM(t1) OVER (ORDER BY v) - t1 AS BIGINT) AS cb1,
           CAST(SUM(t2) OVER (ORDER BY v) - t2 AS BIGINT) AS cb2,
           CAST(SUM(t3) OVER (ORDER BY v) - t3 AS BIGINT) AS cb3,
           CAST(SUM(t4) OVER (ORDER BY v) - t4 AS BIGINT) AS cb4,
           CAST(SUM(t5) OVER (ORDER BY v) - t5 AS BIGINT) AS cb5
    FROM pts
), folds AS (
    SELECT CAST(SUM(CAST(t2 AS DECIMAL(38,0)) * cb1
                 + CAST(t3 AS DECIMAL(38,0)) * (cb1 + cb2)
                 + CAST(t4 AS DECIMAL(38,0)) * (cb1 + cb2 + cb3)
                 + CAST(t5 AS DECIMAL(38,0)) * (cb1 + cb2 + cb3 + cb4))
               AS DECIMAL(38,0)) AS strict,
           CAST(SUM(CAST(t2 AS DECIMAL(38,0)) * t1
                 + CAST(t3 AS DECIMAL(38,0)) * (t1 + t2)
                 + CAST(t4 AS DECIMAL(38,0)) * (t1 + t2 + t3)
                 + CAST(t5 AS DECIMAL(38,0)) * (t1 + t2 + t3 + t4))
               AS DECIMAL(38,0)) AS tie_pairs,
           CAST(SUM(CAST(t1 + t2 + t3 + t4 + t5 AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS n,
           SUM(CAST(t1 + t2 + t3 + t4 + t5 AS DECIMAL(38,0))
               * (t1 + t2 + t3 + t4 + t5 - 1)) AS u2,
           SUM(CAST(t1 + t2 + t3 + t4 + t5 AS DECIMAL(38,0))
               * (t1 + t2 + t3 + t4 + t5 - 1)
               * (2 * (t1 + t2 + t3 + t4 + t5) + 5)) AS u25,
           SUM(CAST(t1 + t2 + t3 + t4 + t5 AS DECIMAL(38,0))
               * (t1 + t2 + t3 + t4 + t5 - 1)
               * (t1 + t2 + t3 + t4 + t5 - 2)) AS u3
    FROM ranked
), gf AS (
    SELECT SUM(CAST(ng AS DECIMAL(38,0)) * ng) AS g2,
           SUM(CAST(ng AS DECIMAL(38,0)) * (ng - 1) * (2 * ng + 5)) AS g25,
           SUM(CAST(ng AS DECIMAL(38,0)) * (ng - 1)) AS gp2,
           SUM(CAST(ng AS DECIMAL(38,0)) * (ng - 1) * (ng - 2)) AS gp3
    FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng FROM od GROUP BY g)
), c AS (
    SELECT CAST(n AS BIGINT) AS n,
           CAST(2 * strict + tie_pairs AS DOUBLE) AS j2,
           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(g2 AS DOUBLE)) / 2.0
               AS e2,
           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
              * (2.0 * CAST(n AS DOUBLE) + 5.0)
            - CAST(g25 AS DOUBLE) - CAST(u25 AS DOUBLE)) / 72.0
           + CAST(gp3 AS DOUBLE) * CAST(u3 AS DOUBLE)
             / (36.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                * (CAST(n AS DOUBLE) - 2.0))
           + CAST(gp2 AS DOUBLE) * CAST(u2 AS DOUBLE)
             / (8.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
    FROM folds CROSS JOIN gf
)
SELECT n,
       j2 / 2.0 AS jt_stat,
       CAST(ROUND(e2 / 2.0, 6) AS DOUBLE) AS jt_expected,
       CAST(ROUND(var, 6) AS DOUBLE) AS jt_variance,
       CAST(CASE WHEN var > 0.0 THEN
            ROUND((j2 - e2 - SIGN(j2 - e2)) / (2.0 * SQRT(var)), 6)
            END AS DOUBLE) AS z,
       COALESCE(ABS(CASE WHEN var > 0.0 THEN
            ROUND((j2 - e2 - SIGN(j2 - e2)) / (2.0 * SQRT(var)), 6) END)
            > 1.959964, FALSE) AS significant
FROM c
"""


def brunner_munzel_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel test (Brunner & Munzel 2000) between purchase and
    view event values — the rank-based BEHRENS–FISHER test: Mann–Whitney
    assumes the two distributions differ only by shift, and its level
    breaks when shapes/variances differ; BM studentizes the same
    stochastic-superiority estimand p̂ = P(X<Y) + ½P(X=Y) with separate
    within-group rank variances (the scipy.stats.brunnermunzel
    formulation), staying calibrated under heteroscedasticity — the
    Welch-vs-Student move made inside the rank world.

    Exactness: overall AND within-group average ranks are the doubled
    exact integers of the value-grain construction (2r̄ = 2·cum_before
    + t + 1 — overall cums from the ONE chunk-stitched window, per-group
    cums derived from the same window output, the JT pin applied); mean
    ranks and the deviation terms are fixed doubles rounded at 9 before
    squaring; S² folds in DECIMAL(38,12); W, df and p̂ round at 6.
    Scale shape: one value-grain aggregation, one stitched cumulative,
    two bounded folds — never a row-level rank or a pair join."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("t1"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("bigint")
        .alias("t2"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select(
        "value",
        "pid",
        "t1",
        "t2",
        F.sum("t1").over(w).alias("lc1"),
        F.sum("t2").over(w).alias("lc2"),
    ).localCheckpoint(eager=False)  # totals + ranked read it (the JT pin)
    totals = local.groupBy("pid").agg(
        F.max("lc1").cast("bigint").alias("tt1"),
        F.max("lc2").cast("bigint").alias("tt2"),
    )
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid",
        F.coalesce(F.sum("tt1").over(bw), F.lit(0)).cast("bigint").alias("off1"),
        F.coalesce(F.sum("tt2").over(bw), F.lit(0)).cast("bigint").alias("off2"),
    )
    ranked = local.join(offs, "pid").select(
        "t1",
        "t2",
        (F.col("lc1") + F.col("off1") - F.col("t1")).cast("bigint").alias("cb1"),
        (F.col("lc2") + F.col("off2") - F.col("t2")).cast("bigint").alias("cb2"),
    )
    # doubled overall and within-group average ranks at this value
    r2 = 2 * (F.col("cb1") + F.col("cb2")) + (F.col("t1") + F.col("t2")) + 1
    r2g1 = 2 * F.col("cb1") + F.col("t1") + 1
    r2g2 = 2 * F.col("cb2") + F.col("t2") + 1
    base = ranked.select(
        "t1",
        "t2",
        r2.cast("bigint").alias("r2"),
        r2g1.cast("bigint").alias("r2g1"),
        r2g2.cast("bigint").alias("r2g2"),
    ).localCheckpoint(eager=False)  # two folds below share it
    sums = base.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum("t2").cast("bigint").alias("n2"),
        F.sum(F.col("t1").cast("decimal(38,0)") * F.col("r2")).alias("sr1"),
        F.sum(F.col("t2").cast("decimal(38,0)") * F.col("r2")).alias("sr2"),
        F.lit(1).alias("one"),
    )
    j = base.withColumn("one", F.lit(1)).join(F.broadcast(sums), "one")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m1 = F.col("sr1").cast("double") / (F.lit(2.0) * n1)  # mean overall rank, group 1
    m2 = F.col("sr2").cast("double") / (F.lit(2.0) * n2)
    d1 = F.round(
        (F.col("r2") - F.col("r2g1")).cast("double") / F.lit(2.0)
        - m1
        + (n1 + F.lit(1.0)) / F.lit(2.0),
        9,
    )
    d2 = F.round(
        (F.col("r2") - F.col("r2g2")).cast("double") / F.lit(2.0)
        - m2
        + (n2 + F.lit(1.0)) / F.lit(2.0),
        9,
    )
    var = j.groupBy("n1", "n2", "sr1", "sr2").agg(
        F.sum((F.col("t1").cast("double") * d1 * d1).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss1"),
        F.sum((F.col("t2").cast("double") * d2 * d2).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss2"),
    )
    s1 = F.col("ss1") / (n1 - F.lit(1.0))
    s2 = F.col("ss2") / (n2 - F.lit(1.0))
    nt = n1 + n2
    wstat = (
        n1
        * n2
        * (F.col("sr2").cast("double") / (F.lit(2.0) * n2)
           - F.col("sr1").cast("double") / (F.lit(2.0) * n1))
        / (nt * F.sqrt(n1 * s1 + n2 * s2))
    )
    dfree = (
        (n1 * s1 + n2 * s2)
        * (n1 * s1 + n2 * s2)
        / (
            (n1 * s1) * (n1 * s1) / (n1 - F.lit(1.0))
            + (n2 * s2) * (n2 * s2) / (n2 - F.lit(1.0))
        )
    )
    phat = (
        F.col("sr2").cast("double") / (F.lit(2.0) * n2)
        - (n2 + F.lit(1.0)) / F.lit(2.0)
    ) / n1
    return var.select(
        F.col("n1"),
        F.col("n2"),
        F.round(phat, 6).cast("double").alias("p_hat"),
        F.round(wstat, 6).cast("double").alias("w_stat"),
        F.round(dfree, 6).cast("double").alias("df"),
        (F.abs(F.round(wstat, 6)) > F.lit(1.959964)).alias("significant"),
    )


BRUNNER_MUNZEL_PURCHASE_VIEW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'view')
), pts AS (
    SELECT value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS t1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS t2
    FROM ev GROUP BY value
), ranked AS (
    SELECT t1, t2,
           CAST(SUM(t1) OVER (ORDER BY value) - t1 AS BIGINT) AS cb1,
           CAST(SUM(t2) OVER (ORDER BY value) - t2 AS BIGINT) AS cb2
    FROM pts
), base AS (
    SELECT t1, t2,
           CAST(2 * (cb1 + cb2) + t1 + t2 + 1 AS BIGINT) AS r2,
           CAST(2 * cb1 + t1 + 1 AS BIGINT) AS r2g1,
           CAST(2 * cb2 + t2 + 1 AS BIGINT) AS r2g2
    FROM ranked
), sums AS (
    SELECT CAST(SUM(t1) AS BIGINT) AS n1, CAST(SUM(t2) AS BIGINT) AS n2,
           SUM(CAST(t1 AS DECIMAL(38,0)) * r2) AS sr1,
           SUM(CAST(t2 AS DECIMAL(38,0)) * r2) AS sr2
    FROM base
), var_ AS (
    SELECT n1, n2, sr1, sr2,
           CAST(SUM(CAST(CAST(t1 AS DOUBLE)
               * ROUND(CAST(r2 - r2g1 AS DOUBLE) / 2.0
                       - CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE))
                       + (CAST(n1 AS DOUBLE) + 1.0) / 2.0, 9)
               * ROUND(CAST(r2 - r2g1 AS DOUBLE) / 2.0
                       - CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE))
                       + (CAST(n1 AS DOUBLE) + 1.0) / 2.0, 9)
               AS DECIMAL(38,12))) AS DOUBLE) AS ss1,
           CAST(SUM(CAST(CAST(t2 AS DOUBLE)
               * ROUND(CAST(r2 - r2g2 AS DOUBLE) / 2.0
                       - CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                       + (CAST(n2 AS DOUBLE) + 1.0) / 2.0, 9)
               * ROUND(CAST(r2 - r2g2 AS DOUBLE) / 2.0
                       - CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                       + (CAST(n2 AS DOUBLE) + 1.0) / 2.0, 9)
               AS DECIMAL(38,12))) AS DOUBLE) AS ss2
    FROM base CROSS JOIN sums
    GROUP BY n1, n2, sr1, sr2
), c AS (
    SELECT n1, n2, sr1, sr2,
           ss1 / (CAST(n1 AS DOUBLE) - 1.0) AS s1,
           ss2 / (CAST(n2 AS DOUBLE) - 1.0) AS s2
    FROM var_
)
SELECT n1, n2,
       CAST(ROUND((CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                   - (CAST(n2 AS DOUBLE) + 1.0) / 2.0)
                  / CAST(n1 AS DOUBLE), 6) AS DOUBLE) AS p_hat,
       CAST(ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                     - CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)))
                  / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * SQRT(CAST(n1 AS DOUBLE) * s1
                            + CAST(n2 AS DOUBLE) * s2)), 6) AS DOUBLE)
           AS w_stat,
       CAST(ROUND((CAST(n1 AS DOUBLE) * s1 + CAST(n2 AS DOUBLE) * s2)
                  * (CAST(n1 AS DOUBLE) * s1 + CAST(n2 AS DOUBLE) * s2)
                  / ((CAST(n1 AS DOUBLE) * s1) * (CAST(n1 AS DOUBLE) * s1)
                     / (CAST(n1 AS DOUBLE) - 1.0)
                     + (CAST(n2 AS DOUBLE) * s2) * (CAST(n2 AS DOUBLE) * s2)
                       / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS DOUBLE) AS df,
       ABS(ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 * (CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                    - CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)))
                 / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                    * SQRT(CAST(n1 AS DOUBLE) * s1
                           + CAST(n2 AS DOUBLE) * s2)), 6)) > 1.959964
           AS significant
FROM c
"""


def cramer_von_mises_purchase_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér–von Mises test (Anderson 1962's two-sample T)
    between purchase and view values — the INTEGRATED-ECDF companion to
    ``ks_test_purchase_view``: KS reads the single worst ECDF gap (peak
    sensitivity), CvM integrates the SQUARED gap over the whole pooled
    sample, T = n₁n₂/(n₁+n₂)² · Σ_x t(x)·(F₁(x) − F₂(x))², catching
    distributed-everywhere differences a single crossing hides. The
    5% asymptotic critical value 0.461 (Anderson–Darling 1952 table) is
    the shared literal.

    Exactness: cumulative counts per group ride the SAME range-partition
    + chunk-offset stitch as KS (never a single-partition sort); each
    ECDF is an exact bigint ratio; the weighted squared-gap terms round
    at 12 before the DECIMAL(38,15) fold; T rounds at 6. Scale shape:
    one value-grain aggregation, one stitched cumulative, one fold."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("c1"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("bigint")
        .alias("c2"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select(
        "pid",
        "c1",
        "c2",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c2").over(w).alias("l2"),
    ).localCheckpoint(eager=False)  # totals + cum read it (the JT pin)
    totals = local.groupBy("pid").agg(
        F.max("l1").cast("bigint").alias("t1"),
        F.max("l2").cast("bigint").alias("t2"),
    )
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid",
        F.coalesce(F.sum("t1").over(bw), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(bw), F.lit(0)).cast("bigint").alias("o2"),
    )
    nn = pts.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.lit(1).alias("one"),
    )
    cum = (
        local.join(offs, "pid")
        .select(
            "c1",
            "c2",
            (F.col("l1") + F.col("o1")).cast("bigint").alias("cum1"),
            (F.col("l2") + F.col("o2")).cast("bigint").alias("cum2"),
        )
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
    )
    gap = F.round(
        F.col("cum1").cast("double") / F.col("n1").cast("double")
        - F.col("cum2").cast("double") / F.col("n2").cast("double"),
        12,
    )
    folded = cum.groupBy("n1", "n2").agg(
        F.sum(
            ((F.col("c1") + F.col("c2")).cast("double") * gap * gap).cast(
                "decimal(38,15)"
            )
        )
        .cast("double")
        .alias("s")
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    t = F.round(n1 * n2 / ((n1 + n2) * (n1 + n2)) * F.col("s"), 6)
    return folded.select(
        F.col("n1"),
        F.col("n2"),
        t.cast("double").alias("cvm_t"),
        (t > F.lit(0.461)).alias("significant"),
    )


CRAMER_VON_MISES_PURCHASE_VIEW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'view')
), pts AS (
    SELECT value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS c2
    FROM ev GROUP BY value
), cum AS (
    SELECT c1, c2,
           CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
    FROM pts
), nn AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM pts
), folded AS (
    SELECT n1, n2,
           CAST(SUM(CAST(CAST(c1 + c2 AS DOUBLE)
               * ROUND(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE), 12)
               * ROUND(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE), 12)
               AS DECIMAL(38,15))) AS DOUBLE) AS s
    FROM cum CROSS JOIN nn
    GROUP BY n1, n2
)
SELECT n1, n2,
       CAST(ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) * s, 6)
            AS DOUBLE) AS cvm_t,
       ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) * s, 6) > 0.461
           AS significant
FROM folded
"""


def anderson_darling_purchase_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Anderson–Darling rank test (Pettitt 1976) between
    purchase and view values — the TAIL-weighted member of the ECDF-gap
    family: KS reads the worst gap, ``cramer_von_mises_purchase_view``
    integrates the squared gap uniformly, and AD divides the integrand
    by H(1−H) so gaps in the distribution tails (where H(1−H)→0) count
    for more, A² = n₁n₂/N · Σ (t/N)·(F₁−F₂)²/(H(1−H)). Pettitt shows
    the two-sample A² shares the one-sample AD limit law, so the 5%
    asymptotic critical value 2.492 is the shared literal.

    Exactness: cumulative counts ride the SAME range-partition +
    chunk-offset stitch as KS/CvM (never a single-partition sort); the
    pooled-ECDF weight t/(h(1−h)) and the squared gap are doubles built
    from exact bigint ratios with the oracle's expression structure;
    per-point terms round at DECIMAL(38,15) in the fold; A² rounds at
    6. The H=1 endpoint (weight pole) is excluded on both engines.
    Scale shape: one value-grain aggregation, one stitched cumulative,
    one fold."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("c1"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("bigint")
        .alias("c2"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select(
        "pid",
        "c1",
        "c2",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c2").over(w).alias("l2"),
    ).localCheckpoint(eager=False)  # totals + cum read it (the JT pin)
    totals = local.groupBy("pid").agg(
        F.max("l1").cast("bigint").alias("t1"),
        F.max("l2").cast("bigint").alias("t2"),
    )
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid",
        F.coalesce(F.sum("t1").over(bw), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(bw), F.lit(0)).cast("bigint").alias("o2"),
    )
    nn = pts.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.lit(1).alias("one"),
    )
    cum = (
        local.join(offs, "pid")
        .select(
            "c1",
            "c2",
            (F.col("l1") + F.col("o1")).cast("bigint").alias("cum1"),
            (F.col("l2") + F.col("o2")).cast("bigint").alias("cum2"),
        )
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
        .filter(F.col("cum1") + F.col("cum2") < F.col("n1") + F.col("n2"))
    )
    nD = (F.col("n1") + F.col("n2")).cast("double")
    h = (F.col("cum1") + F.col("cum2")).cast("double") / nD
    gap = F.round(
        F.col("cum1").cast("double") / F.col("n1").cast("double")
        - F.col("cum2").cast("double") / F.col("n2").cast("double"),
        12,
    )
    wgt = (F.col("c1") + F.col("c2")).cast("double") / (h * (F.lit(1.0) - h))
    folded = cum.groupBy("n1", "n2").agg(
        F.sum((wgt * gap * gap).cast("decimal(38,15)"))
        .cast("double")
        .alias("s")
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nT = n1 + n2
    a2 = F.round(n1 * n2 / (nT * nT) * F.col("s"), 6)
    return folded.select(
        F.col("n1"),
        F.col("n2"),
        a2.cast("double").alias("ad_a2"),
        (a2 > F.lit(2.492)).alias("significant"),
    )


ANDERSON_DARLING_PURCHASE_VIEW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'view')
), pts AS (
    SELECT value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS c2
    FROM ev GROUP BY value
), nn AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM pts
), cum AS (
    SELECT c1, c2,
           CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
    FROM pts
), folded AS (
    SELECT n1, n2,
           CAST(SUM(CAST(
               (CAST(c1 + c2 AS DOUBLE)
                / ((CAST(cum1 + cum2 AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE)))
                   * (1.0 - CAST(cum1 + cum2 AS DOUBLE)
                            / (CAST(n1 + n2 AS DOUBLE)))))
               * ROUND(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE), 12)
               * ROUND(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE), 12)
               AS DECIMAL(38,15))) AS DOUBLE) AS s
    FROM cum CROSS JOIN nn
    WHERE cum1 + cum2 < n1 + n2
    GROUP BY n1, n2
)
SELECT n1, n2,
       CAST(ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) * s, 6)
            AS DOUBLE) AS ad_a2,
       ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) * s, 6)
           > 2.492 AS significant
FROM folded
"""


def wasserstein_purchase_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between purchase and
    view value distributions — the family member that reports the
    answer in DOLLARS: KS/CvM/AD read ECDF gaps dimensionlessly, W₁ =
    ∫|F₁−F₂|dx is the minimum average transport, i.e. "how many dollars
    must the view distribution move per event to become the purchase
    distribution". For ECDFs it is exactly Σ_j |F₁(v_j)−F₂(v_j)|·
    (v_{j+1}−v_j) over pooled distinct values.

    Exactness: FULLY integer until one final division — values are
    2-decimal currency, so v rides as exact cents via a DECIMAL(12,2)
    cast; the per-segment term |cum₁·n₂ − cum₂·n₁|·Δcents is bigint,
    folded in DECIMAL(38,0), and W₁ = Σ/(n₁·n₂·100). The global value
    order needs a NEXT-VALUE stitch on top of the cumulative stitch:
    within-chunk lead plus each chunk's successor-first-value from a
    per-chunk bounds relation (range partitioning guarantees chunk p's
    values all precede chunk p+1's). Scale shape: one value-grain
    aggregation, one stitched cumulative + stitched lead, one fold."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("c1"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("bigint")
        .alias("c2"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select(
        "pid",
        "value",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c2").over(w).alias("l2"),
        F.lead("value").over(w).alias("lv"),
    ).localCheckpoint(eager=False)  # totals + cum read it (the JT pin)
    totals = local.groupBy("pid").agg(
        F.max("l1").cast("bigint").alias("t1"),
        F.max("l2").cast("bigint").alias("t2"),
        F.min("value").alias("fv"),
    )
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lw = Window.partitionBy(F.col("pid") % 1).orderBy("pid")
    offs = totals.select(
        "pid",
        F.coalesce(F.sum("t1").over(bw), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(bw), F.lit(0)).cast("bigint").alias("o2"),
        F.lead("fv").over(lw).alias("next_fv"),
    )
    nn = pts.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.lit(1).alias("one"),
    )
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    next_v = F.coalesce(F.col("lv"), F.col("next_fv"))
    next_cents = (next_v.cast("decimal(12,2)") * 100).cast("bigint")
    seg = (
        local.join(offs, "pid")
        .select(
            (F.col("l1") + F.col("o1")).cast("bigint").alias("cum1"),
            (F.col("l2") + F.col("o2")).cast("bigint").alias("cum2"),
            cents.alias("vc"),
            next_cents.alias("nvc"),
        )
        .filter(F.col("nvc").isNotNull())
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
    )
    num = seg.groupBy("n1", "n2").agg(
        F.sum(
            (
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
                * (F.col("nvc") - F.col("vc"))
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("s")
    )
    w1 = F.round(
        F.col("s")
        / (F.col("n1").cast("double") * F.col("n2").cast("double") * 100.0),
        6,
    )
    return num.select(
        F.col("n1"), F.col("n2"), w1.cast("double").alias("w1_dollars")
    )


WASSERSTEIN_PURCHASE_VIEW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'view')
), pts AS (
    SELECT value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS c2
    FROM ev GROUP BY value
), nn AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM pts
), cum AS (
    SELECT CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS cum2,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
           CAST(CAST(LEAD(value) OVER (ORDER BY value) AS DECIMAL(12,2))
                * 100 AS BIGINT) AS nvc
    FROM pts
), num AS (
    SELECT n1, n2,
           CAST(SUM(CAST(
               ABS(cum1 * n2 - cum2 * n1) * (nvc - vc)
               AS DECIMAL(38,0))) AS DOUBLE) AS s
    FROM cum CROSS JOIN nn
    WHERE nvc IS NOT NULL
    GROUP BY n1, n2
)
SELECT n1, n2,
       CAST(ROUND(s / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0), 6)
            AS DOUBLE) AS w1_dollars
FROM num
"""


def energy_distance_purchase_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy distance (Székely–Rizzo 2004) between purchase and view
    values, E = √(2·E|X−Y| − E|X−X′| − E|Y−Y′|) — the CHARACTERISTIC-
    FUNCTION member of the two-sample family: zero iff the
    distributions coincide, metric in the distribution space, and reads
    in dollars like ``wasserstein_purchase_view`` but weights by pair
    distance rather than transport. The naive form is O(n²) pairs; in
    1-D each pairwise-|Δ| expectation collapses to a sorted prefix-sum
    identity Σ_{pairs}|a−b| = Σ_j [v_j·(cnt_j·cntcum′_j) − cnt_j·Scum′_j],
    so the whole statistic is one stitched cumulative — never a pair
    join.

    Exactness: FULLY integer until three final divisions — exact cents
    via DECIMAL(12,2), per-row terms are bigint products of counts and
    prefix sums, folded in DECIMAL(38,0); the three expectations divide
    in double with the oracle's structure, D² combines and rounds at 9,
    E rounds at 6. Scale shape: one value-grain aggregation, one
    stitched cumulative (4 running sums), one fold."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    pts = (
        ev.groupBy("value")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("bigint")
            .alias("c1"),
            F.sum((F.col("event_type") == "view").cast("long"))
            .cast("bigint")
            .alias("c2"),
        )
        .select(
            "value",
            "c1",
            "c2",
            cents.alias("vc"),
            (cents * F.col("c1")).alias("s1"),
            (cents * F.col("c2")).alias("s2"),
        )
    )
    n_chunks = spark.sparkContext.defaultParallelism
    chunked = pts.repartitionByRange(n_chunks, "value").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("value")
    local = chunked.select(
        "pid",
        "c1",
        "c2",
        "vc",
        "s1",
        "s2",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c2").over(w).alias("l2"),
        F.sum("s1").over(w).alias("ls1"),
        F.sum("s2").over(w).alias("ls2"),
    ).localCheckpoint(eager=False)  # totals + cum read it (the JT pin)
    totals = local.groupBy("pid").agg(
        F.max("l1").cast("bigint").alias("t1"),
        F.max("l2").cast("bigint").alias("t2"),
        F.max("ls1").cast("bigint").alias("ts1"),
        F.max("ls2").cast("bigint").alias("ts2"),
    )
    bw = (
        Window.partitionBy(F.col("pid") % 1)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "pid",
        F.coalesce(F.sum("t1").over(bw), F.lit(0)).cast("bigint").alias("o1"),
        F.coalesce(F.sum("t2").over(bw), F.lit(0)).cast("bigint").alias("o2"),
        F.coalesce(F.sum("ts1").over(bw), F.lit(0))
        .cast("bigint")
        .alias("os1"),
        F.coalesce(F.sum("ts2").over(bw), F.lit(0))
        .cast("bigint")
        .alias("os2"),
    )
    nn = pts.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.lit(1).alias("one"),
    )
    # prefix-STRICTLY-before sums: inclusive stitched cum minus own row
    rows = (
        local.join(offs, "pid")
        .select(
            "c1",
            "c2",
            "vc",
            "s1",
            "s2",
            (F.col("l1") + F.col("o1") - F.col("c1"))
            .cast("bigint")
            .alias("p1"),
            (F.col("l2") + F.col("o2") - F.col("c2"))
            .cast("bigint")
            .alias("p2"),
            (F.col("ls1") + F.col("os1") - F.col("s1"))
            .cast("bigint")
            .alias("ps1"),
            (F.col("ls2") + F.col("os2") - F.col("s2"))
            .cast("bigint")
            .alias("ps2"),
        )
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
    )
    folded = rows.groupBy("n1", "n2").agg(
        F.sum(
            (
                F.col("vc") * (F.col("c1") * F.col("p2") + F.col("c2") * F.col("p1"))
                - (F.col("c1") * F.col("ps2") + F.col("c2") * F.col("ps1"))
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("cab"),
        F.sum(
            (F.col("vc") * F.col("c1") * F.col("p1") - F.col("c1") * F.col("ps1"))
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("caa"),
        F.sum(
            (F.col("vc") * F.col("c2") * F.col("p2") - F.col("c2") * F.col("ps2"))
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("cbb"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    exy = F.col("cab") / (n1 * n2 * 100.0)
    exx = 2.0 * F.col("caa") / (n1 * n1 * 100.0)
    eyy = 2.0 * F.col("cbb") / (n2 * n2 * 100.0)
    d2 = F.round(2.0 * exy - exx - eyy, 9)
    return folded.select(
        F.col("n1"),
        F.col("n2"),
        F.round(exy, 6).cast("double").alias("e_xy_dollars"),
        F.round(exx, 6).cast("double").alias("e_xx_dollars"),
        F.round(eyy, 6).cast("double").alias("e_yy_dollars"),
        F.round(F.sqrt(F.greatest(d2, F.lit(0.0))), 6)
        .cast("double")
        .alias("energy_distance"),
    )


ENERGY_DISTANCE_PURCHASE_VIEW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'view')
), pts AS (
    SELECT value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS c2,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
    FROM ev GROUP BY value
), nn AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
    FROM pts
), cum AS (
    SELECT c1, c2, vc,
           vc * c1 AS s1,
           vc * c2 AS s2,
           CAST(SUM(c1) OVER (ORDER BY value) - c1 AS BIGINT) AS p1,
           CAST(SUM(c2) OVER (ORDER BY value) - c2 AS BIGINT) AS p2,
           CAST(SUM(vc * c1) OVER (ORDER BY value) - vc * c1
                AS BIGINT) AS ps1,
           CAST(SUM(vc * c2) OVER (ORDER BY value) - vc * c2
                AS BIGINT) AS ps2
    FROM pts
), folded AS (
    SELECT n1, n2,
           CAST(SUM(CAST(vc * (c1 * p2 + c2 * p1) - (c1 * ps2 + c2 * ps1)
               AS DECIMAL(38,0))) AS DOUBLE) AS cab,
           CAST(SUM(CAST(vc * c1 * p1 - c1 * ps1
               AS DECIMAL(38,0))) AS DOUBLE) AS caa,
           CAST(SUM(CAST(vc * c2 * p2 - c2 * ps2
               AS DECIMAL(38,0))) AS DOUBLE) AS cbb
    FROM cum CROSS JOIN nn
    GROUP BY n1, n2
)
SELECT n1, n2,
       CAST(ROUND(cab / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0), 6)
            AS DOUBLE) AS e_xy_dollars,
       CAST(ROUND(2.0 * caa / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                               * 100.0), 6) AS DOUBLE) AS e_xx_dollars,
       CAST(ROUND(2.0 * cbb / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
                               * 100.0), 6) AS DOUBLE) AS e_yy_dollars,
       CAST(ROUND(SQRT(GREATEST(ROUND(
            2.0 * (cab / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0))
            - 2.0 * caa / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * 100.0)
            - 2.0 * cbb / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0),
            9), 0.0)), 6) AS DOUBLE) AS energy_distance
FROM folded
"""


def goodman_kruskal_priority_price_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordinal-association panel between order priority (1-URGENT …
    5-LOW) and the $25k total-price band: Goodman–Kruskal γ, Somers'
    D in both directions, and Kendall τ_b — the CONTINGENCY-grade
    ordinal measures the series-grade ``kendall_tau_daily_purchase_view``
    can't give (γ discards all ties; D_yx penalizes ties on the
    dependent side only; τ_b penalizes both — reporting the four side
    by side is the standard ordinal-association diagnostic).

    Exactness: FULLY integer until the final divisions — the n-row
    table collapses to a ≤5×20-cell contingency relation, concordant/
    discordant pair MASSES come from one inequality join over the cell
    relation (C = Σ n_a·n_b over cell pairs up-right of each other —
    never a row-level pair join), tie masses from the margins via
    m(m−1)/2, all bigint; the four ratios divide in double and round at
    6. Scale shape: one grouped count, then everything is cell-grade;
    the inequality join is broadcast (≤100 cells ⇒ BNLJ, no shuffle,
    no cartesian flag)."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.select(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
            F.floor(F.col("o_totalprice") / 25000.0).cast("int").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # pair join + margins read it
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    pairs = a.join(F.broadcast(b), F.col("xb") > F.col("xa")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), F.col("ca") * F.col("cb")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(F.col("yb") < F.col("ya"), F.col("ca") * F.col("cb")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("disc"),
    )
    margins = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint").alias("txy"),
    )
    xm = (
        cells.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("bigint").alias("tx"))
    )
    ym = (
        cells.groupBy("y")
        .agg(F.sum("c").cast("bigint").alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("bigint").alias("ty"))
    )
    s = (
        pairs.withColumn("one", F.lit(1))
        .join(F.broadcast(margins.withColumn("one", F.lit(1))), "one")
        .join(F.broadcast(xm.withColumn("one", F.lit(1))), "one")
        .join(F.broadcast(ym.withColumn("one", F.lit(1))), "one")
    )
    nD = F.col("n").cast("double")
    t0 = nD * (nD - 1.0) / 2.0
    cd = (F.col("conc") - F.col("disc")).cast("double")
    gamma = F.round(cd / (F.col("conc") + F.col("disc")).cast("double"), 6)
    d_yx = F.round(cd / (t0 - F.col("tx").cast("double")), 6)
    d_xy = F.round(cd / (t0 - F.col("ty").cast("double")), 6)
    tau_b = F.round(
        cd
        / F.sqrt(
            (t0 - F.col("tx").cast("double")) * (t0 - F.col("ty").cast("double"))
        ),
        6,
    )
    return s.select(
        F.col("n"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.col("tx").alias("ties_x"),
        F.col("ty").alias("ties_y"),
        gamma.cast("double").alias("gamma"),
        d_yx.cast("double").alias("somers_d_yx"),
        d_xy.cast("double").alias("somers_d_xy"),
        tau_b.cast("double").alias("tau_b"),
    )


GOODMAN_KRUSKAL_PRIORITY_PRICE_ORDERS_ORACLE = """
WITH cells AS (
    SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS x,
           CAST(FLOOR(o_totalprice / 25000.0) AS INT) AS y,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM orders GROUP BY 1, 2
), pairs AS (
    SELECT CAST(SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END)
                AS BIGINT) AS conc,
           CAST(SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END)
                AS BIGINT) AS disc
    FROM cells a JOIN cells b ON b.x > a.x
), margins AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS txy
    FROM cells
), xm AS (
    SELECT CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS tx
    FROM (SELECT CAST(SUM(c) AS BIGINT) AS m FROM cells GROUP BY x)
), ym AS (
    SELECT CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS ty
    FROM (SELECT CAST(SUM(c) AS BIGINT) AS m FROM cells GROUP BY y)
)
SELECT n, conc AS concordant, disc AS discordant, tx AS ties_x, ty AS ties_y,
       CAST(ROUND(CAST(conc - disc AS DOUBLE)
                  / CAST(conc + disc AS DOUBLE), 6) AS DOUBLE) AS gamma,
       CAST(ROUND(CAST(conc - disc AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                     - CAST(tx AS DOUBLE)), 6) AS DOUBLE) AS somers_d_yx,
       CAST(ROUND(CAST(conc - disc AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                     - CAST(ty AS DOUBLE)), 6) AS DOUBLE) AS somers_d_xy,
       CAST(ROUND(CAST(conc - disc AS DOUBLE)
                  / SQRT((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                          - CAST(tx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                            - CAST(ty AS DOUBLE))), 6) AS DOUBLE) AS tau_b
FROM pairs CROSS JOIN margins CROSS JOIN xm CROSS JOIN ym
"""


def wilcoxon_signed_rank_purchase_view_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED daily totals (purchase $ vs
    view $ per calendar day) — the paired companion the two-sample book
    lacks: ``welch_ttest_purchase_view_daily`` compares the daily means
    parametrically and ``mann_whitney_purchase_view_values`` ranks the
    two populations independently, but day-pairing removes the shared
    day-level traffic factor, and the signed-rank statistic needs only
    symmetry of the paired differences. Zero differences drop (Wilcoxon's
    exclusion rule); ties in |d| take average ranks; the normal
    approximation carries the standard tie-corrected variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48.

    Exactness: daily sums are exact DECIMAL(12,2) folds, so the paired
    difference is exact cents (bigint); DOUBLED average ranks are exact
    integers (2r̄ = 2·cum_before + t + 1, the Mann–Whitney value-grain
    construction), so 2W⁺ = Σ t⁺·2r̄ is bigint; the z numerator scales
    by 4 (4W⁺ − n(n+1), integer) and the variance by 48 (2n(n+1)(2n+1)
    − Σ(t³−t), integer), so z = (num4/4)/√(var48/48) is the only float,
    rounded at 6. Scale shape: one calendar-bounded daily aggregation,
    then |d|-grain (≤ day count) windows — the documented bounded
    class."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(12,2)"),
            ).otherwise(F.lit(0).cast("decimal(12,2)"))
        ).alias("p"),
        F.sum(
            F.when(
                F.col("event_type") == "view",
                F.col("value").cast("decimal(12,2)"),
            ).otherwise(F.lit(0).cast("decimal(12,2)"))
        ).alias("v"),
    )
    d = daily.select(
        ((F.col("p") - F.col("v")) * 100).cast("bigint").alias("dc")
    ).filter(F.col("dc") != 0)
    g = d.groupBy(F.abs(F.col("dc")).alias("a")).agg(
        F.count("*").cast("bigint").alias("t"),
        F.count(F.when(F.col("dc") > 0, 1)).cast("bigint").alias("tp"),
    )
    w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "dr",
        (
            2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1
        ).cast("bigint"),
    )
    s = ranked.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("tp") * F.col("dr")).cast("bigint").alias("w2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie_term"),
    )
    num4 = (2 * F.col("w2") - F.col("n") * (F.col("n") + 1)).cast("double")
    var48 = (
        2 * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
    ).cast("decimal(38,0)") - F.col("tie_term")
    z = F.round(
        (num4 / F.lit(4.0)) / F.sqrt(var48.cast("double") / F.lit(48.0)), 6
    )
    return s.select(
        F.col("n").alias("n_days_nonzero"),
        (F.col("w2").cast("double") / F.lit(2.0)).alias("w_plus"),
        z.cast("double").alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("significant"),
    )


WILCOXON_SIGNED_RANK_PURCHASE_VIEW_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS p,
           SUM(CASE WHEN event_type = 'view'
                    THEN CAST(value AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS v
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
), d AS (
    SELECT CAST((p - v) * 100 AS BIGINT) AS dc FROM daily
    WHERE CAST((p - v) * 100 AS BIGINT) <> 0
), g AS (
    SELECT ABS(dc) AS a, CAST(COUNT(*) AS BIGINT) AS t,
           CAST(COUNT(CASE WHEN dc > 0 THEN 1 END) AS BIGINT) AS tp
    FROM d GROUP BY 1
), ranked AS (
    SELECT t, tp,
           CAST(2 * COALESCE(SUM(t) OVER (ORDER BY a
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS BIGINT) AS dr
    FROM g
), s AS (
    SELECT CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(tp * dr) AS BIGINT) AS w2,
           SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie_term
    FROM ranked
)
SELECT n AS n_days_nonzero,
       CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
       CAST(ROUND(
           (CAST(2 * w2 - n * (n + 1) AS DOUBLE) / 4.0)
           / SQRT(CAST(CAST(2 * n * (n + 1) * (2 * n + 1) AS DECIMAL(38,0))
                       - tie_term AS DOUBLE) / 48.0), 6) AS DOUBLE) AS z_score,
       ABS(ROUND(
           (CAST(2 * w2 - n * (n + 1) AS DOUBLE) / 4.0)
           / SQRT(CAST(CAST(2 * n * (n + 1) * (2 * n + 1) AS DECIMAL(38,0))
                       - tie_term AS DOUBLE) / 48.0), 6)) > 1.959964
           AS significant
FROM s
"""


def cochran_armitage_trend_priority_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran–Armitage trend test: does the fraction of FULFILLED
    orders (o_orderstatus = 'F') trend monotonically across the ORDERED
    priority classes 1-URGENT … 5-LOW? The ordered-alternative
    proportions test the unordered ``chi_square_event_dow`` family
    can't express — χ² spends k−1 degrees of freedom on any deviation,
    CA spends one on the linear-in-score alternative (scores s_i =
    priority rank), z = Σs_i(r_i − n_i·R/N) / √(p(1−p)(Σn_is_i² −
    (Σn_is_i)²/N)).

    Exactness: the table collapses to ≤5 (score, n, r) rows; N, R,
    Σsn, Σs²n, Σsr are exact bigint folds; z is the only float,
    assembled with the oracle's expression structure and rounded at 6.
    Scale shape: one grouped count, then constant-size arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    rows = (
        o.select(
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s"),
            (F.col("o_orderstatus") == "F").cast("long").alias("f"),
        )
        .groupBy("s")
        .agg(
            F.count("*").cast("bigint").alias("ni"),
            F.sum("f").cast("bigint").alias("ri"),
        )
    )
    agg = rows.agg(
        F.sum("ni").cast("bigint").alias("n"),
        F.sum("ri").cast("bigint").alias("r"),
        F.sum(F.col("s") * F.col("ni")).cast("bigint").alias("sx"),
        F.sum(F.col("s") * F.col("s") * F.col("ni")).cast("bigint").alias("sxx"),
        F.sum(F.col("s") * F.col("ri")).cast("bigint").alias("t"),
    )
    nD = F.col("n").cast("double")
    rD = F.col("r").cast("double")
    p = rD / nD
    num = F.col("t").cast("double") - rD * F.col("sx").cast("double") / nD
    varr = (
        p
        * (F.lit(1.0) - p)
        * (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double") / nD
        )
    )
    z = F.round(num / F.sqrt(varr), 6)
    return agg.select(
        F.col("n"),
        F.col("r").alias("fulfilled"),
        F.round(p, 6).cast("double").alias("overall_rate"),
        z.cast("double").alias("z_trend"),
        (F.abs(z) > F.lit(1.959964)).alias("significant"),
    )


COCHRAN_ARMITAGE_TREND_PRIORITY_ORDERS_ORACLE = """
WITH rows_ AS (
    SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS ni,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS ri
    FROM orders GROUP BY 1
), agg AS (
    SELECT CAST(SUM(ni) AS BIGINT) AS n,
           CAST(SUM(ri) AS BIGINT) AS r,
           CAST(SUM(s * ni) AS BIGINT) AS sx,
           CAST(SUM(s * s * ni) AS BIGINT) AS sxx,
           CAST(SUM(s * ri) AS BIGINT) AS t
    FROM rows_
)
SELECT n, r AS fulfilled,
       CAST(ROUND(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE)
           AS overall_rate,
       CAST(ROUND(
           (CAST(t AS DOUBLE)
            - CAST(r AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           / SQRT((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       / CAST(n AS DOUBLE))), 6) AS DOUBLE) AS z_trend,
       ABS(ROUND(
           (CAST(t AS DOUBLE)
            - CAST(r AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           / SQRT((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       / CAST(n AS DOUBLE))), 6)) > 1.959964 AS significant
FROM agg
"""


def theils_u_event_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between event type and ISO
    weekday — the NORMALIZED and DIRECTIONAL member of the association
    family: χ²/Cramér's V read departure-from-independence, the MI scan
    reports nats; U(X|Y) = I(X;Y)/H(X) rescales that to "what fraction
    of event-type uncertainty does knowing the weekday remove" (0..1),
    and its asymmetry (U(X|Y) ≠ U(Y|X)) tells WHICH variable predicts
    which — the categorical analogue of R². Publishes both directions
    plus the symmetric form 2I/(H(X)+H(Y)).

    Exactness: one 35-cell contingency aggregate; all three entropies
    use the integer-log policy (ln of bigint counts rounded at 9,
    weighted by exact count ratios, decimal-folded) so I = H_x+H_y−H_xy
    is engine-identical; the ratios round at 6. Scale shape: one facts
    pass, then cell-grade algebra."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).cast("int").alias("isodow")
    ).agg(F.count("*").cast("bigint").alias("obs"))
    nx = F.sum("obs").over(Window.partitionBy("event_type")).cast("bigint")
    ny = F.sum("obs").over(Window.partitionBy("isodow")).cast("bigint")
    n = F.sum("obs").over(Window.partitionBy()).cast("bigint")
    m = cells.select(
        "event_type",
        "isodow",
        "obs",
        nx.alias("nx"),
        ny.alias("ny"),
        n.alias("n"),
    )

    def ln9(c: Column) -> Column:
        return F.round(F.log(c.cast("double")), 9)

    nD = F.col("n").cast("double")
    # H(XY) folds over all cells; H(X)/H(Y) fold the same cells weighted
    # by 1/(cells in the margin) — instead fold margins exactly by
    # summing each margin term once via the distinct margin relations
    hx = (
        m.select("event_type", "nx", "n")
        .distinct()
        .agg(
            F.sum(
                F.round(
                    (F.col("nx").cast("double") / F.col("n").cast("double"))
                    * (ln9(F.col("n")) - ln9(F.col("nx"))),
                    12,
                ).cast("decimal(27,12)")
            )
            .cast("double")
            .alias("h_x"),
            F.lit(1).alias("one"),
        )
    )
    hy = (
        m.select("isodow", "ny", "n")
        .distinct()
        .agg(
            F.sum(
                F.round(
                    (F.col("ny").cast("double") / F.col("n").cast("double"))
                    * (ln9(F.col("n")) - ln9(F.col("ny"))),
                    12,
                ).cast("decimal(27,12)")
            )
            .cast("double")
            .alias("h_y"),
            F.lit(1).alias("one"),
        )
    )
    hxy = m.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(
                (F.col("obs").cast("double") / nD)
                * (ln9(F.col("n")) - ln9(F.col("obs"))),
                12,
            ).cast("decimal(27,12)")
        )
        .cast("double")
        .alias("h_xy"),
        F.lit(1).alias("one"),
    )
    j = hxy.join(F.broadcast(hx), "one").join(F.broadcast(hy), "one")
    i = F.col("h_x") + F.col("h_y") - F.col("h_xy")
    return j.select(
        F.col("n"),
        F.round(F.col("h_x"), 6).cast("double").alias("h_type"),
        F.round(F.col("h_y"), 6).cast("double").alias("h_dow"),
        F.round(F.col("h_xy"), 6).cast("double").alias("h_joint"),
        F.round(i / F.col("h_x"), 6)
        .cast("double")
        .alias("u_type_given_dow"),
        F.round(i / F.col("h_y"), 6)
        .cast("double")
        .alias("u_dow_given_type"),
        F.round(2.0 * i / (F.col("h_x") + F.col("h_y")), 6)
        .cast("double")
        .alias("u_symmetric"),
    )


THEILS_U_EVENT_TYPE_DOW_ORACLE = """
WITH cells AS (
    SELECT event_type, CAST(isodow(ts) AS INTEGER) AS isodow,
           CAST(COUNT(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
), m AS (
    SELECT event_type, isodow, obs,
           CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS nx,
           CAST(SUM(obs) OVER (PARTITION BY isodow) AS BIGINT) AS ny,
           CAST(SUM(obs) OVER () AS BIGINT) AS n
    FROM cells
), hx AS (
    SELECT CAST(SUM(CAST(ROUND(
               (CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
               * (ROUND(ln(CAST(n AS DOUBLE)), 9)
                  - ROUND(ln(CAST(nx AS DOUBLE)), 9)), 12)
               AS DECIMAL(27,12))) AS DOUBLE) AS h_x
    FROM (SELECT DISTINCT event_type, nx, n FROM m)
), hy AS (
    SELECT CAST(SUM(CAST(ROUND(
               (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * (ROUND(ln(CAST(n AS DOUBLE)), 9)
                  - ROUND(ln(CAST(ny AS DOUBLE)), 9)), 12)
               AS DECIMAL(27,12))) AS DOUBLE) AS h_y
    FROM (SELECT DISTINCT isodow, ny, n FROM m)
), hxy AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(
               (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * (ROUND(ln(CAST(n AS DOUBLE)), 9)
                  - ROUND(ln(CAST(obs AS DOUBLE)), 9)), 12)
               AS DECIMAL(27,12))) AS DOUBLE) AS h_xy
    FROM m
)
SELECT n,
       CAST(ROUND(h_x, 6) AS DOUBLE) AS h_type,
       CAST(ROUND(h_y, 6) AS DOUBLE) AS h_dow,
       CAST(ROUND(h_xy, 6) AS DOUBLE) AS h_joint,
       CAST(ROUND((h_x + h_y - h_xy) / h_x, 6) AS DOUBLE)
           AS u_type_given_dow,
       CAST(ROUND((h_x + h_y - h_xy) / h_y, 6) AS DOUBLE)
           AS u_dow_given_type,
       CAST(ROUND(2.0 * (h_x + h_y - h_xy) / (h_x + h_y), 6) AS DOUBLE)
           AS u_symmetric
FROM hxy CROSS JOIN hx CROSS JOIN hy
"""


def local_clustering_topk_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node local clustering coefficients (Watts & Strogatz 1998)
    on the support-≥2 co-purchase graph — the NODE-level refinement of
    ``transitivity_copurchase_parts``: global transitivity answers "how
    clustered is the catalog", c_v = 2T_v/(d_v(d_v−1)) answers WHICH
    parts sit inside tight co-purchase communities (candidate bundles)
    versus hub parts bridging unrelated baskets (c_v→0 at equal
    degree). Publishes the top 15 by coefficient (degree ≥ 2,
    deterministic tiebreak) with the graph-wide average as a context
    column.

    Reuses the degree-orientation triangle enumeration verbatim; each
    triangle's 3 corners explode to per-node counts, so T_v is an
    exact bigint and c_v an exact ratio rounded at 6. Scale shape:
    identical to the triangle census (fan-out bounded by out-degree
    ≤ O(√E)) plus one node-grain aggregate and a TakeOrdered(15)."""
    und = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey")
        .groupBy("a", "b")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select("a", "b")
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint()
    )
    e1 = ori.select(F.col("u").alias("u1"), F.col("v").alias("v1"))
    e2 = ori.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    wedges_j = e1.join(e2, "v1")
    closing = ori.select(F.col("u").alias("u1"), F.col("v").alias("v2"))
    tri_nodes = (
        wedges_j.join(closing, ["u1", "v2"])
        .select(
            F.explode(
                F.array(F.col("u1"), F.col("v1"), F.col("v2"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    cc = (
        deg.join(tri_nodes, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("t"),
        )
        .filter(F.col("d") >= 2)
        .withColumn(
            "c",
            F.round(
                2.0
                * F.col("t").cast("double")
                / (F.col("d").cast("double") * (F.col("d").cast("double") - 1.0)),
                6,
            ),
        )
    )
    avg_cc = cc.agg(
        F.round(
            F.sum(F.col("c").cast("decimal(27,12)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("avg_cc"),
        F.lit(1).alias("one"),
    )
    return (
        cc.withColumn("one", F.lit(1))
        .join(F.broadcast(avg_cc), "one")
        .orderBy(F.col("c").desc(), F.col("node").asc())
        .limit(15)
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.col("t").alias("triangles"),
            F.col("c").cast("double").alias("local_cc"),
            F.col("avg_cc").cast("double").alias("avg_local_cc"),
        )
    )


LOCAL_CLUSTERING_TOPK_PARTS_ORACLE = """
WITH po AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
    SELECT a.l_partkey AS a, b.l_partkey AS b
    FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
), deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
    GROUP BY node
), ori AS (
    SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                THEN u.a ELSE u.b END AS u,
           CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                THEN u.b ELSE u.a END AS v
    FROM und u
    JOIN deg da ON da.node = u.a
    JOIN deg db ON db.node = u.b
), tri AS (
    SELECT e1.u AS u1, e1.v AS v1, e2.v AS v2
    FROM ori e1
    JOIN ori e2 ON e2.u = e1.v
    JOIN ori c ON c.u = e1.u AND c.v = e2.v
), tri_nodes AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS t
    FROM (
        SELECT u1 AS node FROM tri
        UNION ALL SELECT v1 FROM tri
        UNION ALL SELECT v2 FROM tri
    )
    GROUP BY node
), cc AS (
    SELECT d.node, d.d,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS t,
           ROUND(2.0 * CAST(COALESCE(t.t, 0) AS DOUBLE)
                 / (CAST(d.d AS DOUBLE) * (CAST(d.d AS DOUBLE) - 1.0)), 6)
               AS c
    FROM deg d LEFT JOIN tri_nodes t ON t.node = d.node
    WHERE d.d >= 2
), avg_cc AS (
    SELECT ROUND(CAST(SUM(CAST(c AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_cc
    FROM cc
)
SELECT node AS part, d AS degree, t AS triangles,
       CAST(c AS DOUBLE) AS local_cc,
       CAST(avg_cc AS DOUBLE) AS avg_local_cc
FROM cc CROSS JOIN avg_cc
ORDER BY c DESC, node ASC
LIMIT 15
"""


def seasonal_mann_kendall_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal Mann–Kendall trend test (Hirsch & Slack 1984) of the
    daily value series with ISO-weekday seasons — the
    SEASONALITY-ROBUST form of ``mann_kendall_daily_trend``: the plain
    test reads a strong weekly cycle as alternating pseudo-trend noise
    that inflates Var(S); the seasonal form compares days only WITHIN
    the same weekday (Monday to Mondays…), then sums the seven
    statistics, S' = ΣS_g, Var' = ΣVar_g, killing the cycle's
    contribution entirely. The standard form for ops metrics with a
    weekly rhythm.

    Exactness: identical to the base test per season — S_g, n_g and
    tie cubes are exact integers (DECIMAL(38,0) tie folds), the pair
    relation is within-season days² over the AGGREGATED series (1/7th
    the base test's pairs); z with continuity correction rounds at 9.
    Scale shape: one daily aggregation, one within-season pair join on
    the bounded day grain, season-grade algebra."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(F.col("value"), 27, 12).cast("double").alias("v")
    ).withColumn("g", (F.weekday("day") + F.lit(1)).cast("int"))
    a = daily.select("g", F.col("day").alias("d1"), F.col("v").alias("v1"))
    b = daily.select(
        F.col("g").alias("g2"), F.col("day").alias("d2"), F.col("v").alias("v2")
    )
    s_g = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("d1") < F.col("d2")))
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.signum(F.col("v2") - F.col("v1")).cast("bigint"))
            .cast("bigint")
            .alias("s"),
        )
    )
    ties_g = (
        daily.groupBy("g", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("g")
        .agg(
            F.sum("t").cast("bigint").alias("ng"),
            F.sum(
                F.col("t").cast("decimal(38,0)")
                * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            ).alias("tie_term"),
        )
    )
    per = s_g.join(ties_g, "g")
    ngd = F.col("ng").cast("double")
    var_g = (
        ngd * (ngd - 1) * (2 * ngd + 5) - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    tot = per.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count("*").cast("int").alias("n_seasons"),
        F.sum("n_pairs").cast("bigint").alias("n_pairs"),
        F.sum("s").cast("bigint").alias("s_total"),
        F.sum(F.round(var_g, 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("var_total"),
    )
    sd = F.col("s_total").cast("double")
    z = F.round(
        F.when(
            F.col("s_total") > 0, (sd - 1) / F.sqrt(F.col("var_total"))
        )
        .when(F.col("s_total") < 0, (sd + 1) / F.sqrt(F.col("var_total")))
        .otherwise(F.lit(0.0)),
        9,
    )
    return tot.select(
        "n",
        "n_seasons",
        "n_pairs",
        "s_total",
        F.round(F.col("var_total"), 6).cast("double").alias("var_total"),
        z.cast("double").alias("z"),
        (F.abs(z) > 1.96).alias("trend_at_05"),
    )


SEASONAL_MANN_KENDALL_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS v,
           CAST(isodow(CAST(ts AS DATE)) AS INTEGER) AS g
    FROM events GROUP BY CAST(ts AS DATE)
), s_g AS (
    SELECT a.g,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(SIGN(b.v - a.v) AS BIGINT)) AS BIGINT) AS s
    FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
    GROUP BY a.g
), ties_g AS (
    SELECT g, CAST(SUM(t) AS BIGINT) AS ng,
           SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)) AS tie_term
    FROM (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
          FROM daily GROUP BY g, v)
    GROUP BY g
), per AS (
    SELECT s.g, s.n_pairs, s.s, t.ng,
           (CAST(t.ng AS DOUBLE) * (CAST(t.ng AS DOUBLE) - 1)
            * (2 * CAST(t.ng AS DOUBLE) + 5)
            - CAST(t.tie_term AS DOUBLE)) / 18.0 AS var_g
    FROM s_g s JOIN ties_g t USING (g)
), tot AS (
    SELECT CAST(SUM(ng) AS BIGINT) AS n,
           CAST(COUNT(*) AS INT) AS n_seasons,
           CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
           CAST(SUM(s) AS BIGINT) AS s_total,
           CAST(SUM(CAST(ROUND(var_g, 9) AS DECIMAL(38,9))) AS DOUBLE)
               AS var_total
    FROM per
), z AS (
    SELECT n, n_seasons, n_pairs, s_total, var_total,
           ROUND(CASE WHEN s_total > 0
                      THEN (CAST(s_total AS DOUBLE) - 1) / SQRT(var_total)
                      WHEN s_total < 0
                      THEN (CAST(s_total AS DOUBLE) + 1) / SQRT(var_total)
                      ELSE 0.0 END, 9) AS z
    FROM tot
)
SELECT n, n_seasons, n_pairs, s_total,
       CAST(ROUND(var_total, 6) AS DOUBLE) AS var_total,
       CAST(z AS DOUBLE) AS z,
       ABS(z) > 1.96 AS trend_at_05
FROM z
"""


def kendalls_w_weekday_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939) treating the 7 ISO weekdays as JUDGES each ranking the
    5 event types by total dollar value — the agreement statistic
    behind ``friedman_test_event_type_values``: Friedman answers "do
    the types differ at all", W answers "HOW consistently do the
    weekly rankings agree" on a 0..1 scale (1 = every weekday ranks
    the types identically), with χ² = m(k−1)W sharing Friedman's null.

    Exactness: per-judge DOUBLED ranks are exact integers (value-grain
    average-rank construction within each weekday), the doubled rank-sum
    deviation D₂ = ΣR₂ − m(k+1) is integer, and with the tie term
    T = Σ(t³−t) both W = 3ΣD₂²/(m²(k³−k) − mΣT) numerator and
    denominator are EXACT bigints — W is one division rounded at 6.
    Scale shape: one facts pass to the 35-cell (judge, item) grain,
    then cell algebra."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("int").alias("g"), "event_type"
    ).agg(
        F.round(dec_sum(F.col("value"), 38, 12).cast("double"), 9).alias("s")
    )
    gv = cells.groupBy("g", "s").agg(F.count("*").cast("bigint").alias("t"))
    wv = Window.partitionBy("g").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = gv.select(
        "g",
        "s",
        "t",
        (
            2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
        ).cast("bigint").alias("dr"),
    )
    joined = cells.join(ranked, ["g", "s"]).select("g", "event_type", "dr")
    dims = joined.agg(
        F.countDistinct("g").cast("bigint").alias("m"),
        F.countDistinct("event_type").cast("bigint").alias("k"),
        F.lit(1).alias("one"),
    )
    r2 = joined.groupBy("event_type").agg(
        F.sum("dr").cast("bigint").alias("r2")
    )
    tie = (
        gv.agg(
            F.sum(
                F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                - F.col("t")
            ).alias("tt")
        )
        .select(F.col("tt").cast("bigint").alias("tt"), F.lit(1).alias("one"))
    )
    dev = (
        r2.withColumn("one", F.lit(1))
        .join(F.broadcast(dims), "one")
        .select(
            (F.col("r2") - F.col("m") * (F.col("k") + 1)).alias("d2"),
            "m",
            "k",
            "one",
        )
        .groupBy("m", "k", "one")
        .agg(F.sum(F.col("d2") * F.col("d2")).cast("bigint").alias("sd2"))
    )
    j = dev.join(F.broadcast(tie), "one")
    den = (
        F.col("m") * F.col("m") * (F.col("k") * F.col("k") * F.col("k") - F.col("k"))
        - F.col("m") * F.col("tt")
    ).cast("double")
    w = F.round(3.0 * F.col("sd2").cast("double") / den, 6)
    chi2 = F.round(
        F.col("m").cast("double") * (F.col("k").cast("double") - 1.0) * w, 6
    )
    return j.select(
        F.col("m").alias("n_judges"),
        F.col("k").alias("n_items"),
        w.cast("double").alias("kendalls_w"),
        chi2.cast("double").alias("chi2"),
        (chi2 > F.lit(9.487729)).alias("significant"),
    )


KENDALLS_W_WEEKDAY_EVENT_TYPES_ORACLE = """
WITH cells AS (
    SELECT CAST(isodow(ts) AS INTEGER) AS g, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE), 9) AS s
    FROM events GROUP BY 1, 2
), gv AS (
    SELECT g, s, CAST(COUNT(*) AS BIGINT) AS t FROM cells GROUP BY g, s
), ranked AS (
    SELECT g, s, t,
           CAST(2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS BIGINT) AS dr
    FROM gv
), joined AS (
    SELECT c.g, c.event_type, r.dr
    FROM cells c JOIN ranked r USING (g, s)
), dims AS (
    SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS m,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
    FROM joined
), r2 AS (
    SELECT event_type, CAST(SUM(dr) AS BIGINT) AS r2
    FROM joined GROUP BY event_type
), tie AS (
    SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS BIGINT) AS tt
    FROM gv
), dev AS (
    SELECT m, k,
           CAST(SUM((r2 - m * (k + 1)) * (r2 - m * (k + 1))) AS BIGINT)
               AS sd2
    FROM r2 CROSS JOIN dims
    GROUP BY m, k
)
SELECT m AS n_judges, k AS n_items,
       CAST(ROUND(3.0 * CAST(sd2 AS DOUBLE)
                  / CAST(m * m * (k * k * k - k) - m * tt AS DOUBLE), 6)
            AS DOUBLE) AS kendalls_w,
       CAST(ROUND(CAST(m AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)
                  * ROUND(3.0 * CAST(sd2 AS DOUBLE)
                          / CAST(m * m * (k * k * k - k) - m * tt
                                 AS DOUBLE), 6), 6) AS DOUBLE) AS chi2,
       ROUND(CAST(m AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)
             * ROUND(3.0 * CAST(sd2 AS DOUBLE)
                     / CAST(m * m * (k * k * k - k) - m * tt AS DOUBLE), 6),
             6) > 9.487729 AS significant
FROM dev CROSS JOIN tie
"""


def ansari_bradley_purchase_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ansari–Bradley rank test of SCALE (dispersion) between purchase
    and view values — the rank member of the spread family:
    ``levene_bf_event_values``/``bartlett_test_event_values`` compare
    variances through moments (outlier-sensitive), AB scores each
    pooled observation by its distance from the ends, a_i =
    min(rank, N+1−rank) — small at the extremes, large in the middle —
    so a sample concentrated centrally (smaller spread) collects a
    LARGER score sum. Ties take the average score of the tied span;
    the z reads W against the conditional linear-rank moments
    E[W] = n₁s̄, Var[W] = n₁n₂(Σs²−Ns̄²)/(N(N−1)) — exact given the
    observed (tied) score vector.

    Exactness: the end-distance score prefix M(p) = Σ min(q, N+1−q)
    has an integer closed form, so every tied span's DOUBLED score sum
    M₂(cb+t)−M₂(cb) is exact bigint; per-span score means and the
    moment sums round at 12 into decimal folds; z rounds at 6. Scale
    shape: one value-grain aggregation, one stitched-free bounded
    cumulative (the mann-whitney window class), constant algebra."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    g = ev.groupBy("value").agg(
        F.count("*").cast("bigint").alias("t"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("t1"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    nn = g.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum("t1").cast("bigint").alias("n1"),
        F.lit(1).alias("one"),
    )
    spans = (
        g.withColumn(
            "cb", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint")
        )
        .withColumn("one", F.lit(1))
        .join(F.broadcast(nn), "one")
    )

    def m2(p):
        # 2·Σ_{q=1..p} min(q, N+1-q): m = (N+1) DIV 2 midpoint
        m = F.floor((F.col("n") + 1) / 2).cast("bigint")
        lo = F.least(p, m)
        head = lo * (lo + 1)
        tail = F.when(
            p > m,
            ((F.col("n") + 1 - p) + (F.col("n") - m)) * (p - m),
        ).otherwise(F.lit(0))
        return head + tail

    s2span = (m2(F.col("cb") + F.col("t")) - m2(F.col("cb"))).cast("bigint")
    avg = s2span.cast("double") / (2.0 * F.col("t").cast("double"))
    terms = spans.select(
        "t",
        "t1",
        "n",
        "n1",
        F.round(F.col("t1").cast("double") * avg, 12).alias("w_term"),
        F.round(F.col("t").cast("double") * avg, 12).alias("s_term"),
        F.round(F.col("t").cast("double") * avg * avg, 12).alias("ss_term"),
    )
    agg = terms.groupBy("n", "n1").agg(
        F.sum(F.col("w_term").cast("decimal(38,12)"))
        .cast("double")
        .alias("w_stat"),
        F.sum(F.col("s_term").cast("decimal(38,12)"))
        .cast("double")
        .alias("s_tot"),
        F.sum(F.col("ss_term").cast("decimal(38,12)"))
        .cast("double")
        .alias("ss_tot"),
    )
    nD = F.col("n").cast("double")
    n1D = F.col("n1").cast("double")
    n2D = nD - n1D
    sbar = F.col("s_tot") / nD
    ew = n1D * sbar
    varw = (
        n1D
        * n2D
        * (F.col("ss_tot") - nD * sbar * sbar)
        / (nD * (nD - 1.0))
    )
    z = F.round((F.col("w_stat") - ew) / F.sqrt(varw), 6)
    return agg.select(
        F.col("n1"),
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        F.round(F.col("w_stat"), 4).cast("double").alias("ab_w"),
        F.round(ew, 4).cast("double").alias("expected_w"),
        z.cast("double").alias("z_score"),
        (F.abs(z) > F.lit(1.959964)).alias("scale_differs"),
    )


ANSARI_BRADLEY_PURCHASE_VIEW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'view')
), g AS (
    SELECT value, CAST(COUNT(*) AS BIGINT) AS t,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS t1
    FROM ev GROUP BY value
), nn AS (
    SELECT CAST(SUM(t) AS BIGINT) AS n, CAST(SUM(t1) AS BIGINT) AS n1
    FROM g
), spans AS (
    SELECT t, t1, n, n1,
           CAST(COALESCE(SUM(t) OVER (ORDER BY value
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cb
    FROM g CROSS JOIN nn
), scored AS (
    SELECT t, t1, n, n1,
           (LEAST(cb + t, CAST(FLOOR((n + 1) / 2) AS BIGINT))
              * (LEAST(cb + t, CAST(FLOOR((n + 1) / 2) AS BIGINT)) + 1)
            + CASE WHEN cb + t > CAST(FLOOR((n + 1) / 2) AS BIGINT)
                   THEN ((n + 1 - (cb + t))
                         + (n - CAST(FLOOR((n + 1) / 2) AS BIGINT)))
                        * ((cb + t) - CAST(FLOOR((n + 1) / 2) AS BIGINT))
                   ELSE 0 END)
           - (LEAST(cb, CAST(FLOOR((n + 1) / 2) AS BIGINT))
                * (LEAST(cb, CAST(FLOOR((n + 1) / 2) AS BIGINT)) + 1)
              + CASE WHEN cb > CAST(FLOOR((n + 1) / 2) AS BIGINT)
                     THEN ((n + 1 - cb)
                           + (n - CAST(FLOOR((n + 1) / 2) AS BIGINT)))
                          * (cb - CAST(FLOOR((n + 1) / 2) AS BIGINT))
                     ELSE 0 END) AS s2span
    FROM spans
), terms AS (
    SELECT n, n1,
           ROUND(CAST(t1 AS DOUBLE)
                 * (CAST(s2span AS DOUBLE) / (2.0 * CAST(t AS DOUBLE))),
                 12) AS w_term,
           ROUND(CAST(t AS DOUBLE)
                 * (CAST(s2span AS DOUBLE) / (2.0 * CAST(t AS DOUBLE))),
                 12) AS s_term,
           ROUND(CAST(t AS DOUBLE)
                 * (CAST(s2span AS DOUBLE) / (2.0 * CAST(t AS DOUBLE)))
                 * (CAST(s2span AS DOUBLE) / (2.0 * CAST(t AS DOUBLE))),
                 12) AS ss_term
    FROM scored
), agg AS (
    SELECT n, n1,
           CAST(SUM(CAST(w_term AS DECIMAL(38,12))) AS DOUBLE) AS w_stat,
           CAST(SUM(CAST(s_term AS DECIMAL(38,12))) AS DOUBLE) AS s_tot,
           CAST(SUM(CAST(ss_term AS DECIMAL(38,12))) AS DOUBLE) AS ss_tot
    FROM terms GROUP BY n, n1
)
SELECT n1, CAST(n - n1 AS BIGINT) AS n2,
       CAST(ROUND(w_stat, 4) AS DOUBLE) AS ab_w,
       CAST(ROUND(CAST(n1 AS DOUBLE) * (s_tot / CAST(n AS DOUBLE)), 4)
            AS DOUBLE) AS expected_w,
       CAST(ROUND((w_stat - CAST(n1 AS DOUBLE) * (s_tot / CAST(n AS DOUBLE)))
                  / SQRT(CAST(n1 AS DOUBLE)
                         * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
                         * (ss_tot - CAST(n AS DOUBLE)
                            * (s_tot / CAST(n AS DOUBLE))
                            * (s_tot / CAST(n AS DOUBLE)))
                         / (CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0))), 6) AS DOUBLE)
           AS z_score,
       ABS(ROUND((w_stat - CAST(n1 AS DOUBLE) * (s_tot / CAST(n AS DOUBLE)))
                 / SQRT(CAST(n1 AS DOUBLE)
                        * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
                        * (ss_tot - CAST(n AS DOUBLE)
                           * (s_tot / CAST(n AS DOUBLE))
                           * (s_tot / CAST(n AS DOUBLE)))
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0))), 6)) > 1.959964
           AS scale_differs
FROM agg
"""


def canonical_correlation_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Canonical correlation analysis (Hotelling 1936) between the
    daily DOLLAR pair X = (purchase $, view $) and the daily COUNT
    pair Y = (click #, error #) — the SET-to-SET member of the
    association family: pairwise correlations scan 4 numbers and miss
    the aligned linear combinations; CCA finds the ρ₁ ≥ ρ₂ between
    the best-aligned projections, with Wilks' Λ = Π(1−ρᵢ²) and
    Bartlett's χ² = −(n−1−(p+q+1)/2)·ln Λ on pq = 4 df as the joint
    independence test.

    Exactness: the 2×2 blocks S_xx, S_yy, S_xy come from ONE daily
    pass of decimal cross-product folds, each entry rounded at 9; the
    eigenvalues of S_xx⁻¹S_xyS_yy⁻¹S_yx come from the CLOSED 2×2
    trace/determinant quadratic (tr via the adjugate contraction,
    det = det(C)²/(det A·det B)) — no iteration; ρ/Λ/χ² round at 6.
    Scale shape: one daily aggregation, one 15-sum fold, constant
    algebra."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(F.lit(0.0)),
            27,
            12,
        )
        .cast("double")
        .alias("x1"),
        dec_sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(
                F.lit(0.0)
            ),
            27,
            12,
        )
        .cast("double")
        .alias("x2"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("double")
        .alias("y1"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("double")
        .alias("y2"),
    )
    cols = ["x1", "x2", "y1", "y2"]
    aggs = [F.count("*").cast("bigint").alias("n")]
    for c in cols:
        aggs.append(dec_sum(F.col(c), 38, 12).cast("double").alias(f"s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                dec_sum(F.col(a) * F.col(b), 38, 9)
                .cast("double")
                .alias(f"p_{a}{b}")
            )
    s = daily.agg(*aggs)
    nd = F.col("n").cast("double")

    def c(a, b):
        key = f"p_{a}{b}" if f"p_{a}{b}" in [
            f"p_{x}{y}" for i, x in enumerate(cols) for y in cols[i:]
        ] else f"p_{b}{a}"
        return F.round(
            F.col(key) - F.col(f"s_{a}") * F.col(f"s_{b}") / nd, 9
        )

    m = s.select(
        "n",
        c("x1", "x1").alias("a11"),
        c("x1", "x2").alias("a12"),
        c("x2", "x2").alias("a22"),
        c("y1", "y1").alias("b11"),
        c("y1", "y2").alias("b12"),
        c("y2", "y2").alias("b22"),
        c("x1", "y1").alias("c11"),
        c("x1", "y2").alias("c12"),
        c("x2", "y1").alias("c21"),
        c("x2", "y2").alias("c22"),
    )
    detA = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    detB = F.col("b11") * F.col("b22") - F.col("b12") * F.col("b12")
    detC = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c21")
    e11 = F.col("c11") * F.col("b22") - F.col("c12") * F.col("b12")
    e12 = -F.col("c11") * F.col("b12") + F.col("c12") * F.col("b11")
    e21 = F.col("c21") * F.col("b22") - F.col("c22") * F.col("b12")
    e22 = -F.col("c21") * F.col("b12") + F.col("c22") * F.col("b11")
    d11 = e11 * F.col("c11") + e12 * F.col("c12")
    d12 = e11 * F.col("c21") + e12 * F.col("c22")
    d21 = e21 * F.col("c11") + e22 * F.col("c12")
    d22 = e21 * F.col("c21") + e22 * F.col("c22")
    tr = (
        F.col("a22") * d11 - F.col("a12") * (d12 + d21) + F.col("a11") * d22
    ) / (detA * detB)
    dt = detC * detC / (detA * detB)
    disc = F.sqrt(F.greatest(tr * tr - 4.0 * dt, F.lit(0.0)))
    l1 = F.least(F.greatest((tr + disc) / 2.0, F.lit(0.0)), F.lit(1.0))
    l2 = F.least(F.greatest((tr - disc) / 2.0, F.lit(0.0)), F.lit(1.0))
    wilks = (1.0 - l1) * (1.0 - l2)
    chi2 = F.round(
        -(nd - 1.0 - 2.5) * F.log(wilks), 6
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(F.sqrt(l1), 6).cast("double").alias("rho1"),
        F.round(F.sqrt(l2), 6).cast("double").alias("rho2"),
        F.round(wilks, 6).cast("double").alias("wilks_lambda"),
        chi2.cast("double").alias("bartlett_chi2"),
        F.lit(4).cast("int").alias("df"),
        (chi2 > F.lit(9.487729)).alias("significant"),
    )


CANONICAL_CORRELATION_DAILY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE)
               AS x1,
           CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value
                              ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE)
               AS x2,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS DOUBLE) AS y1,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS DOUBLE) AS y2
    FROM events GROUP BY 1
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x1 AS DECIMAL(38,12))) AS DOUBLE) AS s_x1,
           CAST(SUM(CAST(x2 AS DECIMAL(38,12))) AS DOUBLE) AS s_x2,
           CAST(SUM(CAST(y1 AS DECIMAL(38,12))) AS DOUBLE) AS s_y1,
           CAST(SUM(CAST(y2 AS DECIMAL(38,12))) AS DOUBLE) AS s_y2,
           CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,9))) AS DOUBLE) AS p_x1x1,
           CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,9))) AS DOUBLE) AS p_x1x2,
           CAST(SUM(CAST(x1 * y1 AS DECIMAL(38,9))) AS DOUBLE) AS p_x1y1,
           CAST(SUM(CAST(x1 * y2 AS DECIMAL(38,9))) AS DOUBLE) AS p_x1y2,
           CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,9))) AS DOUBLE) AS p_x2x2,
           CAST(SUM(CAST(x2 * y1 AS DECIMAL(38,9))) AS DOUBLE) AS p_x2y1,
           CAST(SUM(CAST(x2 * y2 AS DECIMAL(38,9))) AS DOUBLE) AS p_x2y2,
           CAST(SUM(CAST(y1 * y1 AS DECIMAL(38,9))) AS DOUBLE) AS p_y1y1,
           CAST(SUM(CAST(y1 * y2 AS DECIMAL(38,9))) AS DOUBLE) AS p_y1y2,
           CAST(SUM(CAST(y2 * y2 AS DECIMAL(38,9))) AS DOUBLE) AS p_y2y2
    FROM daily
), m AS (
    SELECT n,
           ROUND(p_x1x1 - s_x1 * s_x1 / CAST(n AS DOUBLE), 9) AS a11,
           ROUND(p_x1x2 - s_x1 * s_x2 / CAST(n AS DOUBLE), 9) AS a12,
           ROUND(p_x2x2 - s_x2 * s_x2 / CAST(n AS DOUBLE), 9) AS a22,
           ROUND(p_y1y1 - s_y1 * s_y1 / CAST(n AS DOUBLE), 9) AS b11,
           ROUND(p_y1y2 - s_y1 * s_y2 / CAST(n AS DOUBLE), 9) AS b12,
           ROUND(p_y2y2 - s_y2 * s_y2 / CAST(n AS DOUBLE), 9) AS b22,
           ROUND(p_x1y1 - s_x1 * s_y1 / CAST(n AS DOUBLE), 9) AS c11,
           ROUND(p_x1y2 - s_x1 * s_y2 / CAST(n AS DOUBLE), 9) AS c12,
           ROUND(p_x2y1 - s_x2 * s_y1 / CAST(n AS DOUBLE), 9) AS c21,
           ROUND(p_x2y2 - s_x2 * s_y2 / CAST(n AS DOUBLE), 9) AS c22
    FROM s
), alg AS (
    SELECT n,
           ((a22 * (( c11 * b22 - c12 * b12) * c11
                    + (-c11 * b12 + c12 * b11) * c12)
             - a12 * ((( c11 * b22 - c12 * b12) * c21
                       + (-c11 * b12 + c12 * b11) * c22)
                      + (( c21 * b22 - c22 * b12) * c11
                         + (-c21 * b12 + c22 * b11) * c12))
             + a11 * (( c21 * b22 - c22 * b12) * c21
                      + (-c21 * b12 + c22 * b11) * c22))
            / ((a11 * a22 - a12 * a12) * (b11 * b22 - b12 * b12))) AS tr,
           ((c11 * c22 - c12 * c21) * (c11 * c22 - c12 * c21)
            / ((a11 * a22 - a12 * a12) * (b11 * b22 - b12 * b12))) AS dt
    FROM m
), eig AS (
    SELECT n,
           LEAST(GREATEST((tr + SQRT(GREATEST(tr * tr - 4.0 * dt, 0.0)))
                          / 2.0, 0.0), 1.0) AS l1,
           LEAST(GREATEST((tr - SQRT(GREATEST(tr * tr - 4.0 * dt, 0.0)))
                          / 2.0, 0.0), 1.0) AS l2
    FROM alg
)
SELECT n AS n_days,
       CAST(ROUND(SQRT(l1), 6) AS DOUBLE) AS rho1,
       CAST(ROUND(SQRT(l2), 6) AS DOUBLE) AS rho2,
       CAST(ROUND((1.0 - l1) * (1.0 - l2), 6) AS DOUBLE) AS wilks_lambda,
       CAST(ROUND(-(CAST(n AS DOUBLE) - 1.0 - 2.5)
                  * ln((1.0 - l1) * (1.0 - l2)), 6) AS DOUBLE)
           AS bartlett_chi2,
       CAST(4 AS INT) AS df,
       ROUND(-(CAST(n AS DOUBLE) - 1.0 - 2.5)
             * ln((1.0 - l1) * (1.0 - l2)), 6) > 9.487729 AS significant
FROM eig
"""


def quade_test_event_type_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quade test (Quade 1979) for treatment differences across event
    types with ISO-weekday blocks — the WEIGHTED member of the blocked
    trio: Friedman ranks within blocks and weights every weekday
    equally; Quade multiplies each block's centered ranks by the rank
    of the block's RANGE, so weekdays where the types actually spread
    apart carry more evidence — uniformly more powerful than Friedman
    at k ≤ 5 (Conover's recommendation). F = (n−1)B/(A−B) on
    (k−1, (n−1)(k−1)) df; perfect concordance (A=B) publishes a NULL F
    with the significant flag forced true on both engines (the
    textbook convention).

    Exactness: cell means round at 9; within-block treatment ranks AND
    the cross-block range ranks use the doubled-rank integer
    construction, so the scores S₄ = dQ·(dr−(k+1)) are exact bigints
    and A = ΣS₄²/16, B = Σ(ΣS₄)²/(16n) are exact rationals — F is one
    double expression rounded at 6. Scale shape: one facts pass to the
    35-cell grain, block-keyed windows, constant algebra."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("int").alias("g"), "event_type"
    ).agg(
        F.round(
            dec_sum(F.col("value"), 38, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("m")
    ).localCheckpoint(eager=False)  # 4 consumers read the 35-cell relation
    gv = cells.groupBy("g", "m").agg(F.count("*").cast("bigint").alias("t"))
    wv = Window.partitionBy("g").orderBy("m").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = gv.select(
        "g",
        "m",
        (
            2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
        ).cast("bigint").alias("dr"),
    )
    ranges = cells.groupBy("g").agg(
        (F.max("m") - F.min("m")).alias("rng")
    )
    rv = ranges.groupBy("rng").agg(F.count("*").cast("bigint").alias("t"))
    wr = Window.orderBy("rng").rowsBetween(Window.unboundedPreceding, -1)
    rranked = rv.select(
        "rng",
        (
            2 * F.coalesce(F.sum("t").over(wr), F.lit(0)) + F.col("t") + 1
        ).cast("bigint").alias("dq"),
    )
    kk = cells.agg(
        F.countDistinct("event_type").cast("bigint").alias("k"),
        F.countDistinct("g").cast("bigint").alias("n"),
        F.lit(1).alias("one"),
    )
    scored = (
        cells.join(ranked, ["g", "m"])
        .join(ranges, "g")
        .join(F.broadcast(rranked), "rng")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(kk), "one")
        .select(
            "event_type",
            "n",
            "k",
            (F.col("dq") * (F.col("dr") - (F.col("k") + 1)))
            .cast("bigint")
            .alias("s4"),
        )
    )
    per_t = scored.groupBy("event_type", "n", "k").agg(
        F.sum("s4").cast("bigint").alias("t4"),
        F.sum(F.col("s4") * F.col("s4")).cast("bigint").alias("sa_part"),
    )
    agg = per_t.groupBy("n", "k").agg(
        F.sum("sa_part").cast("bigint").alias("sa"),
        F.sum(F.col("t4") * F.col("t4")).cast("bigint").alias("sb"),
    )
    nd = F.col("n").cast("double")
    a_minus_b = F.col("sa").cast("double") - F.col("sb").cast("double") / nd
    f = F.when(
        a_minus_b > 0.0,
        F.round(
            (nd - 1.0) * (F.col("sb").cast("double") / nd) / a_minus_b, 6
        ),
    )
    return agg.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        f.cast("double").alias("f_stat"),
        ((F.col("k") - 1)).cast("int").alias("df1"),
        ((F.col("n") - 1) * (F.col("k") - 1)).cast("int").alias("df2"),
        F.coalesce(f > F.lit(2.776289), F.lit(True)).alias("significant"),
    )


QUADE_TEST_EVENT_TYPE_VALUES_ORACLE = """
WITH cells AS (
    SELECT CAST(isodow(ts) AS INTEGER) AS g, event_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS m
    FROM events GROUP BY 1, 2
), gv AS (
    SELECT g, m, CAST(COUNT(*) AS BIGINT) AS t FROM cells GROUP BY g, m
), ranked AS (
    SELECT g, m,
           CAST(2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS BIGINT) AS dr
    FROM gv
), ranges AS (
    SELECT g, MAX(m) - MIN(m) AS rng FROM cells GROUP BY g
), rv AS (
    SELECT rng, CAST(COUNT(*) AS BIGINT) AS t FROM ranges GROUP BY rng
), rranked AS (
    SELECT rng,
           CAST(2 * COALESCE(SUM(t) OVER (ORDER BY rng
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1 AS BIGINT) AS dq
    FROM rv
), kk AS (
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n
    FROM cells
), scored AS (
    SELECT c.event_type, kk.n, kk.k,
           CAST(rr.dq * (r.dr - (kk.k + 1)) AS BIGINT) AS s4
    FROM cells c
    JOIN ranked r USING (g, m)
    JOIN ranges ra USING (g)
    JOIN rranked rr USING (rng)
    CROSS JOIN kk
), per_t AS (
    SELECT event_type, n, k,
           CAST(SUM(s4) AS BIGINT) AS t4,
           CAST(SUM(s4 * s4) AS BIGINT) AS sa_part
    FROM scored GROUP BY event_type, n, k
), agg AS (
    SELECT n, k,
           CAST(SUM(sa_part) AS BIGINT) AS sa,
           CAST(SUM(t4 * t4) AS BIGINT) AS sb
    FROM per_t GROUP BY n, k
)
SELECT n AS n_blocks, k AS k_treatments,
       CAST(CASE WHEN CAST(sa AS DOUBLE)
                      - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
                 THEN ROUND((CAST(n AS DOUBLE) - 1.0)
                            * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))
                            / (CAST(sa AS DOUBLE)
                               - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)), 6)
            END AS DOUBLE) AS f_stat,
       CAST(k - 1 AS INT) AS df1,
       CAST((n - 1) * (k - 1) AS INT) AS df2,
       COALESCE(CASE WHEN CAST(sa AS DOUBLE)
                          - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
                     THEN ROUND((CAST(n AS DOUBLE) - 1.0)
                                * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))
                                / (CAST(sa AS DOUBLE)
                                   - CAST(sb AS DOUBLE)
                                     / CAST(n AS DOUBLE)), 6) > 2.776289
                END, TRUE) AS significant
FROM agg
"""
