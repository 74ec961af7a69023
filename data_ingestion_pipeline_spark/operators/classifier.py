"""In-engine classifier training and evaluation — the fastText-style
"train a quality/language classifier on corpus features" step every
curation pipeline eventually runs (CCNet/LLaMA-style quality filtering
trains a linear classifier over cheap document features).

Two operators:

- ``logistic_quality_classifier_documents`` — batch gradient-descent
  logistic regression (5 fixed full-batch steps, lr 0.1) predicting
  lang='en' from two cheap features (scaled char count, mean word
  length). Each step is ONE aggregation over the feature relation
  (map-side partial sums); the 3 learned weights are bounded driver
  state between steps (the ``kmeans_lloyd`` loop policy). Published
  output: the weight vector after every step.
- ``auc_lang_by_length_documents`` — exact ROC AUC of a scorer via the
  rank-sum identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with average
  ranks from the VALUE-GROUPED relation (the ``mann_whitney`` rank
  construction — ties handled exactly, never a row-level sort).

Cross-engine determinism: sigmoids round to 9 decimals BEFORE entering
the decimal gradient sums (the house libm policy — exp/ln agree across
engines well past 1e-9 for the bounded z range here); published weights
round to 10 decimals and re-enter the next step as plan literals on both
engines, so the oracle replays the identical unrolled training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum
from data_ingestion_pipeline_spark.sources.catalog import load_table


N_STEPS = 5
LR = 0.1


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    n_words = F.size(toks)
    return docs.select(
        (F.col("lang") == "en").cast("int").cast("double").alias("y"),
        (F.col("n_chars").cast("double") / 1000.0).alias("x1"),
        (
            F.col("n_chars").cast("double") / F.greatest(n_words, F.lit(1)).cast("double") / 10.0
        ).alias("x2"),
    )


def _train(spark: SparkSession, sf_dir: str) -> list[tuple[int, float, float, float]]:
    """Weight history [(step, w0, w1, w2), ...] of the 5-step GD loop —
    shared by the training query and the calibration report so both
    evaluate the SAME model the oracle replays."""
    feats = _features(spark, sf_dir).localCheckpoint(eager=False)
    w = [0.0, 0.0, 0.0]
    rows: list[tuple[int, float, float, float]] = []
    for step in range(1, N_STEPS + 1):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        sig = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
        err = sig - F.col("y")
        g = feats.agg(
            F.count("*").cast("double").alias("n"),
            dec_sum(err, 27, 12).cast("double").alias("g0"),
            dec_sum(err * F.col("x1"), 27, 12).cast("double").alias("g1"),
            dec_sum(err * F.col("x2"), 27, 12).cast("double").alias("g2"),
        ).collect()[0]
        w = [
            round(w[i] - LR * g[f"g{i}"] / g["n"], 10)
            for i in range(3)
        ]
        rows.append((step, w[0], w[1], w[2]))
    return rows


def logistic_quality_classifier_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(step, w0, w1, w2) after each of 5 full-batch GD steps from w=0."""
    return spark.createDataFrame(
        _train(spark, sf_dir), "step int, w0 double, w1 double, w2 double"
    )


def _logistic_oracle(n_steps: int = N_STEPS) -> str:
    head = r"""
WITH feats AS (
    SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y,
           CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
           CAST(n_chars AS DOUBLE)
               / CAST(GREATEST(len(regexp_split_to_array(trim(text), '\s+')), 1)
                      AS DOUBLE) / 10.0 AS x2
    FROM documents
), w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"""
    blocks = []
    for i in range(1, n_steps + 1):
        p = i - 1
        blocks.append(f"""
, g{i} AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(e AS DECIMAL(27,12))) AS DOUBLE) AS g0,
           CAST(SUM(CAST(e * x1 AS DECIMAL(27,12))) AS DOUBLE) AS g1,
           CAST(SUM(CAST(e * x2 AS DECIMAL(27,12))) AS DOUBLE) AS g2
    FROM (
        SELECT x1, x2,
               ROUND(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))), 9)
                   - y AS e
        FROM feats, w{p} w
    )
), w{i} AS (
    SELECT ROUND(w.w0 - {LR} * g.g0 / g.n, 10) AS w0,
           ROUND(w.w1 - {LR} * g.g1 / g.n, 10) AS w1,
           ROUND(w.w2 - {LR} * g.g2 / g.n, 10) AS w2
    FROM w{p} w, g{i} g
)""")
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS step, w0, w1, w2 FROM w{i}"
        for i in range(1, n_steps + 1)
    )
    return head + "".join(blocks) + "\n" + tail


LOGISTIC_QUALITY_CLASSIFIER_DOCUMENTS_ORACLE = _logistic_oracle()


def auc_lang_by_length_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of n_chars as a ranking score for lang='en' — the
    evaluation half of the classifier story, from the rank-sum identity
    over the value-grouped relation (exact tie handling, no row sort)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("t"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("t_pos"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint")
    ).withColumn(
        "avg_rank",
        F.col("cum_before").cast("double")
        + (F.col("t").cast("double") + F.lit(1.0)) / F.lit(2.0),
    )
    s = ranked.agg(
        F.sum("t_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("t") - F.col("t_pos")).cast("bigint").alias("n_neg"),
        F.sum(
            (F.col("t_pos").cast("double") * F.col("avg_rank")).cast(
                "decimal(27,6)"
            )
        )
        .cast("double")
        .alias("r_pos"),
    )
    np_, nn = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = (F.col("r_pos") - np_ * (np_ + 1.0) / 2.0) / (np_ * nn)
    return s.select(
        "n_pos", "n_neg", F.round(auc, 6).cast("double").alias("auc")
    )


AUC_LANG_BY_LENGTH_DOCUMENTS_ORACLE = """
WITH g AS (
    SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS t,
           CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS t_pos
    FROM documents GROUP BY n_chars
), ranked AS (
    SELECT t, t_pos,
           CAST(COALESCE(SUM(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
    FROM g
), s AS (
    SELECT CAST(SUM(t_pos) AS BIGINT) AS n_pos,
           CAST(SUM(t - t_pos) AS BIGINT) AS n_neg,
           CAST(SUM(CAST(CAST(t_pos AS DOUBLE) *
                         (CAST(cum_before AS DOUBLE)
                          + (CAST(t AS DOUBLE) + 1.0) / 2.0)
                         AS DECIMAL(27,6))) AS DOUBLE) AS r_pos
    FROM ranked
)
SELECT n_pos, n_neg,
       CAST(ROUND((r_pos - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0)
                           / 2.0)
                  / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
            AS DOUBLE) AS auc
FROM s
"""


# ---------------------------------------------------------------------------
# Calibration: reliability diagram + Expected Calibration Error
# ---------------------------------------------------------------------------

N_CALIB_BINS = 10


def calibration_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error (Naeini et al.,
    AAAI 2015) of the trained quality classifier — the evaluation that
    tells a curation pipeline whether the classifier's scores can be used
    as sampling WEIGHTS (calibrated) or only as a ranking (not). Re-runs
    the same 5-step training (``_train``), scores every document, buckets
    predictions into 10 equal-width confidence bins, and reports per bin:
    count, mean confidence, observed positive rate, and |gap|; ECE (the
    count-weighted mean gap) rides along as a constant column.

    Determinism: predictions are the same round-9 sigmoids the training
    loop uses (bitwise-identical across engines since weights re-enter as
    plan literals); bin means fold in decimal; the ECE fold multiplies
    round-9 gaps by exact counts inside a decimal window sum over the
    10-row bin relation."""
    from pyspark.sql import Window

    hist = _train(spark, sf_dir)
    _, w0, w1, w2 = hist[-1]
    feats = _features(spark, sf_dir)
    z = F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    binned = feats.select(
        "y",
        p.alias("p"),
    ).withColumn(
        "bin",
        F.least(
            F.floor(F.col("p") * N_CALIB_BINS).cast("int"),
            F.lit(N_CALIB_BINS - 1),
        ),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        (dec_sum(F.col("p"), 27, 12).cast("double") / F.count("*").cast("double"))
        .alias("avg_conf_raw"),
        (F.sum("y").cast("double") / F.count("*").cast("double")).alias(
            "frac_pos_raw"
        ),
    )
    gap = F.round(F.abs(F.col("avg_conf_raw") - F.col("frac_pos_raw")), 9)
    scored = per.withColumn("gap9", gap)
    # bin%1: constant-valued non-foldable partition key — ≤10 rows
    wall = Window.partitionBy(F.col("bin") % 1)
    ece = (
        dec_sum(F.col("gap9") * F.col("n").cast("double"), 27, 12)
        .over(wall)
        .cast("double")
        / F.sum("n").over(wall).cast("double")
    )
    return scored.select(
        "bin",
        "n",
        F.round("avg_conf_raw", 6).cast("double").alias("avg_confidence"),
        F.round("frac_pos_raw", 6).cast("double").alias("frac_positive"),
        F.round("gap9", 6).cast("double").alias("gap"),
        F.round(ece, 6).cast("double").alias("ece"),
    )


def _calibration_oracle() -> str:
    head = _logistic_oracle()
    # reuse the unrolled training CTE chain; strip its final SELECT union
    head = head[: head.index("\nSELECT CAST(1 AS INT)")]
    return head + f"""
, preds AS (
    SELECT y,
           ROUND(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))), 9) AS p
    FROM feats, w{N_STEPS} w
), binned AS (
    SELECT y, p,
           LEAST(CAST(FLOOR(p * {N_CALIB_BINS}) AS INT),
                 {N_CALIB_BINS - 1}) AS bin
    FROM preds
), per AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(27,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_conf_raw,
           CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos_raw
    FROM binned GROUP BY bin
), scored AS (
    SELECT bin, n, avg_conf_raw, frac_pos_raw,
           ROUND(ABS(avg_conf_raw - frac_pos_raw), 9) AS gap9
    FROM per
)
SELECT bin, n,
       CAST(ROUND(avg_conf_raw, 6) AS DOUBLE) AS avg_confidence,
       CAST(ROUND(frac_pos_raw, 6) AS DOUBLE) AS frac_positive,
       CAST(ROUND(gap9, 6) AS DOUBLE) AS gap,
       CAST(ROUND(
           CAST(SUM(CAST(gap9 * CAST(n AS DOUBLE) AS DECIMAL(27,12))) OVER ()
                AS DOUBLE)
           / CAST(SUM(n) OVER () AS DOUBLE), 6) AS DOUBLE) AS ece
FROM scored
"""


CALIBRATION_REPORT_DOCUMENTS_ORACLE = _calibration_oracle()


# ---------------------------------------------------------------------------
# Decision stump — best single Gini split, the interpretable baseline
# ---------------------------------------------------------------------------

def decision_stump_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-threshold split of doc length predicting lang='en' by
    weighted Gini impurity — the depth-1 CART baseline every classifier
    comparison should include (if the stump matches the logistic model,
    the feature is doing all the work). Candidate thresholds are the
    50-char bucket boundaries; for each, left/right class counts come
    from ONE cumulative pass over the bucket aggregate (domain-bounded:
    length/50 buckets), and the winner minimizes the round-9 weighted
    Gini with smallest-threshold tie-break via orderBy().limit(1) on
    both engines — never a corpus sort.

    All probabilities are exact bigint ratios; Gini terms combine the
    resulting identical doubles with one expression structure; `gain`
    is parent Gini minus the winner's."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        (F.floor(F.col("n_chars") / 50) * 50).cast("bigint").alias("bucket"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )
    per = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    from pyspark.sql import Window

    # bucket%1: constant-valued non-foldable partition key — the cum pass
    # runs over the ≤dozens-row bucket relation on the partitioned path
    cw = (
        Window.partitionBy(F.col("bucket") % 1)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.partitionBy(F.col("bucket") % 1)
    cum = per.select(
        F.col("bucket").alias("threshold"),
        F.coalesce(F.sum("n").over(cw), F.lit(0)).cast("bigint").alias("n_l"),
        F.coalesce(F.sum("pos").over(cw), F.lit(0)).cast("bigint").alias("pos_l"),
        F.sum("n").over(tot).cast("bigint").alias("n_tot"),
        F.sum("pos").over(tot).cast("bigint").alias("pos_tot"),
    ).filter((F.col("n_l") > 0) & (F.col("n_l") < F.col("n_tot")))

    def gini(pos, n):
        p = pos.cast("double") / n.cast("double")
        return F.lit(1.0) - p * p - (F.lit(1.0) - p) * (F.lit(1.0) - p)

    n_r = F.col("n_tot") - F.col("n_l")
    pos_r = F.col("pos_tot") - F.col("pos_l")
    wg = F.round(
        (
            F.col("n_l").cast("double") * gini(F.col("pos_l"), F.col("n_l"))
            + n_r.cast("double") * gini(pos_r, n_r)
        )
        / F.col("n_tot").cast("double"),
        9,
    )
    scored = cum.select(
        "threshold",
        "n_l",
        "pos_l",
        n_r.alias("n_r"),
        pos_r.alias("pos_r"),
        "n_tot",
        "pos_tot",
        wg.alias("wg"),
    )
    best = scored.orderBy(F.col("wg").asc(), F.col("threshold").asc()).limit(1)
    parent = gini(F.col("pos_tot"), F.col("n_tot"))
    return best.select(
        "threshold",
        "n_l",
        "n_r",
        F.round(F.col("pos_l").cast("double") / F.col("n_l").cast("double"), 6)
        .cast("double")
        .alias("p_pos_left"),
        F.round(F.col("pos_r").cast("double") / F.col("n_r").cast("double"), 6)
        .cast("double")
        .alias("p_pos_right"),
        F.round("wg", 6).cast("double").alias("weighted_gini"),
        F.round(parent, 6).cast("double").alias("parent_gini"),
        F.round(parent - F.col("wg"), 6).cast("double").alias("gini_gain"),
    )


DECISION_STUMP_DOCUMENTS_ORACLE = """
WITH b AS (
    SELECT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
), per AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM b GROUP BY bucket
), cum AS (
    SELECT bucket AS threshold,
           CAST(COALESCE(SUM(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n_l,
           CAST(COALESCE(SUM(pos) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS pos_l,
           CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
           CAST(SUM(pos) OVER () AS BIGINT) AS pos_tot
    FROM per
), scored AS (
    SELECT threshold, n_l, pos_l,
           n_tot - n_l AS n_r, pos_tot - pos_l AS pos_r, n_tot, pos_tot,
           ROUND((CAST(n_l AS DOUBLE) *
                    (1.0 - (CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                         * (CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                         - (1.0 - CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE))
                         * (1.0 - CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE)))
                  + CAST(n_tot - n_l AS DOUBLE) *
                    (1.0 - (CAST(pos_tot - pos_l AS DOUBLE)
                            / CAST(n_tot - n_l AS DOUBLE))
                         * (CAST(pos_tot - pos_l AS DOUBLE)
                            / CAST(n_tot - n_l AS DOUBLE))
                         - (1.0 - CAST(pos_tot - pos_l AS DOUBLE)
                                / CAST(n_tot - n_l AS DOUBLE))
                         * (1.0 - CAST(pos_tot - pos_l AS DOUBLE)
                                / CAST(n_tot - n_l AS DOUBLE))))
                 / CAST(n_tot AS DOUBLE), 9) AS wg
    FROM cum WHERE n_l > 0 AND n_l < n_tot
)
SELECT threshold, n_l, n_r,
       CAST(ROUND(CAST(pos_l AS DOUBLE) / CAST(n_l AS DOUBLE), 6) AS DOUBLE)
           AS p_pos_left,
       CAST(ROUND(CAST(pos_r AS DOUBLE) / CAST(n_r AS DOUBLE), 6) AS DOUBLE)
           AS p_pos_right,
       CAST(ROUND(wg, 6) AS DOUBLE) AS weighted_gini,
       CAST(ROUND(1.0 - (CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * (CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      - (1.0 - CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * (1.0 - CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)),
                  6) AS DOUBLE) AS parent_gini,
       CAST(ROUND(1.0 - (CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * (CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      - (1.0 - CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * (1.0 - CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                  - wg, 6) AS DOUBLE) AS gini_gain
FROM scored ORDER BY wg ASC, threshold ASC LIMIT 1
"""


# ---------------------------------------------------------------------------
# Isotonic calibration — exact PAV fit over the binned score relation
# ---------------------------------------------------------------------------

def isotonic_calibration_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration map (Zadrozny & Elkan, KDD 2002)
    for the trained quality classifier — the monotone step function that
    turns raw scores into calibrated probabilities, the standard fix when
    ``calibration_report_documents`` shows a large ECE. The fit is the
    EXACT pool-adjacent-violators solution, computed through the minimax
    identity iso(k) = max_{i≤k} min_{j≥k} mean(y over bins i..j) (Ayer
    et al. 1955) instead of the sequential PAV scan.

    Scale shape: one distributed pass aggregates (n, positives) per score
    bin (two-phase groupBy); everything after runs on the ≤10-row bin
    relation — cumulative sums under the constant-key window trick, then
    two tiny non-equi self-joins for the O(bins³) minimax enumeration.
    At 100 TB only the two scans touch the table (score min/max, then the
    bin aggregate); the fit is O(1). PAV over the binned relation IS the
    exact isotonic fit for a binned scorer (within-bin ties make finer
    granularity moot). Bins are RANGE-ADAPTIVE — equal-width over the
    observed [min, max] score span, not over [0,1] — because an
    early-training classifier concentrates its scores in a narrow band
    and fixed deciles would collapse to one bin.

    Determinism: bin rates are exact-integer ratios; bin edges derive
    from round-9 score extrema through an identical double expression on
    both engines; the only floats are the final round-6 divisions, and
    min/max over identically-derived doubles agree bitwise."""
    from pyspark.sql import Window

    hist = _train(spark, sf_dir)
    _, w0, w1, w2 = hist[-1]
    feats = _features(spark, sf_dir)
    z = F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    preds = feats.select("y", p.alias("p"))
    span = preds.agg(
        F.min("p").alias("pmin"), F.max("p").alias("pmax")
    )
    binned = preds.join(F.broadcast(span)).withColumn(
        "bin",
        F.when(F.col("pmax") > F.col("pmin"),
            F.least(
                F.floor(
                    (F.col("p") - F.col("pmin"))
                    / (F.col("pmax") - F.col("pmin"))
                    * N_CALIB_BINS
                ).cast("int"),
                F.lit(N_CALIB_BINS - 1),
            ),
        ).otherwise(F.lit(0)),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
        # ≤10-row bin relation with the corpus feature+score pipeline in
        # its lineage and FOUR consumers (cum → lo/hi, ks, the final
        # join): unpinned, the pipeline replayed per consumer (16
        # parquet-scan refs, r11 census). Pin — deterministic,
        # lineage-only.
    ).localCheckpoint()
    # constant-key window: cumulative sums over the ≤10-row bin relation
    wcum = (
        Window.partitionBy(F.col("bin") % 1)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wcum).cast("bigint").alias("cn"),
        F.sum("pos").over(wcum).cast("bigint").alias("cp"),
    )
    lo = cum.select(
        F.col("bin").alias("i"),
        F.col("n").alias("ni"),
        F.col("pos").alias("pi"),
        F.col("cn").alias("cni"),
        F.col("cp").alias("cpi"),
    )
    hi = cum.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cnj"),
        F.col("cp").alias("cpj"),
    )
    ranges = lo.join(F.broadcast(hi), F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cpj") - F.col("cpi") + F.col("pi")).cast("double")
            / (F.col("cnj") - F.col("cni") + F.col("ni")).cast("double")
        ).alias("rate"),
    )
    ks = per.select(F.col("bin").alias("k"))
    inner = (
        ranges.join(
            F.broadcast(ks),
            (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j")),
        )
        .groupBy("k", "i")
        .agg(F.min("rate").alias("mn"))
    )
    iso = inner.groupBy("k").agg(F.max("mn").alias("iso_raw"))
    return (
        per.join(F.broadcast(iso), per.bin == iso.k)
        .select(
            "bin",
            "n",
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"), 6
            )
            .cast("double")
            .alias("frac_positive"),
            F.round("iso_raw", 6).cast("double").alias("iso_rate"),
        )
    )


def _isotonic_oracle() -> str:
    head = _logistic_oracle()
    head = head[: head.index("\nSELECT CAST(1 AS INT)")]
    return head + f"""
, preds AS (
    SELECT y,
           ROUND(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))), 9) AS p
    FROM feats, w{N_STEPS} w
), span AS (
    SELECT MIN(p) AS pmin, MAX(p) AS pmax FROM preds
), binned AS (
    SELECT y,
           CASE WHEN s.pmax > s.pmin THEN
               LEAST(CAST(FLOOR((p - s.pmin) / (s.pmax - s.pmin)
                                * {N_CALIB_BINS}) AS INT),
                     {N_CALIB_BINS - 1})
           ELSE 0 END AS bin
    FROM preds, span s
), per AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM binned GROUP BY bin
), cum AS (
    SELECT bin, n, pos,
           CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
           CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
    FROM per
), ranges AS (
    SELECT lo.bin AS i, hi.bin AS j,
           CAST(hi.cp - lo.cp + lo.pos AS DOUBLE)
               / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS rate
    FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
), inner_min AS (
    SELECT k.bin AS k, r.i, MIN(r.rate) AS mn
    FROM ranges r JOIN per k ON r.i <= k.bin AND k.bin <= r.j
    GROUP BY 1, 2
), iso AS (
    SELECT k, MAX(mn) AS iso_raw FROM inner_min GROUP BY k
)
SELECT per.bin, per.n,
       CAST(ROUND(CAST(per.pos AS DOUBLE) / CAST(per.n AS DOUBLE), 6)
            AS DOUBLE) AS frac_positive,
       CAST(ROUND(iso.iso_raw, 6) AS DOUBLE) AS iso_rate
FROM per JOIN iso ON per.bin = iso.k
"""


ISOTONIC_CALIBRATION_DOCUMENTS_ORACLE = _isotonic_oracle()


# ---------------------------------------------------------------------------
# k-fold cross-validated decision stump — one scan for all folds
# ---------------------------------------------------------------------------

N_FOLDS = 5


def kfold_cv_stump_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated decision stump: per fold, train the best
    Gini split of doc length on the OTHER four folds and report held-out
    accuracy — the estimator selection/overfitting check the single
    ``decision_stump_documents`` fit cannot give.

    The scale trick is the COMPLEMENT identity: one distributed pass
    aggregates (n, positives) per (fold, bucket); every fold's training
    histogram is then bucket_total − bucket_fold, so k-fold CV costs ONE
    table scan regardless of k — never k scans, never a per-fold shuffle.
    Everything after runs on the ≤ k×buckets-row relation (per-fold
    cumulative windows, argmin by round-9 Gini with smallest-threshold
    tie-break, integer-compare majority predictions 2·pos > n so no float
    enters the decision path). Folds are md5-stable, so the split is
    reproducible across engines, runs, and partitionings."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % N_FOLDS
    ).cast("int")
    b = docs.select(
        fold.alias("fold"),
        (F.floor(F.col("n_chars") / 50) * 50).cast("bigint").alias("bucket"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )
    per = b.groupBy("fold", "bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = per.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("n_t"),
        F.sum("pos").cast("bigint").alias("pos_t"),
    )
    folds = spark.range(N_FOLDS).select(F.col("id").cast("int").alias("fold"))
    train = (
        folds.crossJoin(F.broadcast(tot))
        .join(per, ["fold", "bucket"], "left")
        .select(
            "fold",
            "bucket",
            (F.col("n_t") - F.coalesce("n", F.lit(0))).alias("n_tr"),
            (F.col("pos_t") - F.coalesce("pos", F.lit(0))).alias("pos_tr"),
        )
    )
    cw = (
        Window.partitionBy("fold")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ft = Window.partitionBy("fold")
    cum = train.select(
        "fold",
        F.col("bucket").alias("threshold"),
        F.coalesce(F.sum("n_tr").over(cw), F.lit(0)).alias("n_l"),
        F.coalesce(F.sum("pos_tr").over(cw), F.lit(0)).alias("pos_l"),
        F.sum("n_tr").over(ft).alias("n_tot"),
        F.sum("pos_tr").over(ft).alias("pos_tot"),
    ).filter((F.col("n_l") > 0) & (F.col("n_l") < F.col("n_tot")))

    def gini(pos, n):
        p = pos.cast("double") / n.cast("double")
        return F.lit(1.0) - p * p - (F.lit(1.0) - p) * (F.lit(1.0) - p)

    n_r = F.col("n_tot") - F.col("n_l")
    pos_r = F.col("pos_tot") - F.col("pos_l")
    wg = F.round(
        (
            F.col("n_l").cast("double") * gini(F.col("pos_l"), F.col("n_l"))
            + n_r.cast("double") * gini(pos_r, n_r)
        )
        / F.col("n_tot").cast("double"),
        9,
    )
    scored = cum.select(
        "fold",
        "threshold",
        wg.alias("train_gini"),
        (F.lit(2) * F.col("pos_l") > F.col("n_l")).cast("int").alias("pred_l"),
        (F.lit(2) * pos_r > n_r).cast("int").alias("pred_r"),
    )
    pick = Window.partitionBy("fold").orderBy("train_gini", "threshold")
    best = (
        scored.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    correct = F.when(
        F.col("bucket") < F.col("threshold"),
        F.when(F.col("pred_l") == 1, F.col("pos")).otherwise(
            F.col("n") - F.col("pos")
        ),
    ).otherwise(
        F.when(F.col("pred_r") == 1, F.col("pos")).otherwise(
            F.col("n") - F.col("pos")
        )
    )
    ev = (
        per.join(F.broadcast(best), "fold")
        .select("fold", "threshold", "train_gini", "n", correct.alias("c"))
        .groupBy("fold", "threshold", "train_gini")
        .agg(
            F.sum("n").cast("bigint").alias("n_test"),
            F.round(
                F.sum("c").cast("double") / F.sum("n").cast("double"), 6
            )
            .cast("double")
            .alias("test_acc"),
        )
    )
    return ev.select(
        "fold",
        F.col("threshold").cast("bigint").alias("threshold"),
        F.round("train_gini", 6).cast("double").alias("train_gini"),
        "n_test",
        "test_acc",
    )


KFOLD_CV_STUMP_DOCUMENTS_ORACLE = f"""
WITH b AS (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
               % {N_FOLDS} AS INT) AS fold,
           CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket,
           CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
    FROM documents
), per AS (
    SELECT fold, bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM b GROUP BY 1, 2
), tot AS (
    SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_t,
           CAST(SUM(pos) AS BIGINT) AS pos_t
    FROM per GROUP BY 1
), folds AS (
    SELECT CAST(unnest(range({N_FOLDS})) AS INT) AS fold
), train AS (
    SELECT f.fold, t.bucket,
           t.n_t - COALESCE(p.n, 0) AS n_tr,
           t.pos_t - COALESCE(p.pos, 0) AS pos_tr
    FROM folds f CROSS JOIN tot t
    LEFT JOIN per p ON p.fold = f.fold AND p.bucket = t.bucket
), cum AS (
    SELECT fold, bucket AS threshold,
           COALESCE(SUM(n_tr) OVER (PARTITION BY fold ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_l,
           COALESCE(SUM(pos_tr) OVER (PARTITION BY fold ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_l,
           SUM(n_tr) OVER (PARTITION BY fold) AS n_tot,
           SUM(pos_tr) OVER (PARTITION BY fold) AS pos_tot
    FROM train
), scored AS (
    SELECT fold, threshold,
           ROUND((CAST(n_l AS DOUBLE) * (1.0
                    - (CAST(pos_l AS DOUBLE)/CAST(n_l AS DOUBLE))
                      * (CAST(pos_l AS DOUBLE)/CAST(n_l AS DOUBLE))
                    - (1.0 - CAST(pos_l AS DOUBLE)/CAST(n_l AS DOUBLE))
                      * (1.0 - CAST(pos_l AS DOUBLE)/CAST(n_l AS DOUBLE)))
                  + CAST(n_tot - n_l AS DOUBLE) * (1.0
                    - (CAST(pos_tot - pos_l AS DOUBLE)
                       / CAST(n_tot - n_l AS DOUBLE))
                      * (CAST(pos_tot - pos_l AS DOUBLE)
                         / CAST(n_tot - n_l AS DOUBLE))
                    - (1.0 - CAST(pos_tot - pos_l AS DOUBLE)
                           / CAST(n_tot - n_l AS DOUBLE))
                      * (1.0 - CAST(pos_tot - pos_l AS DOUBLE)
                             / CAST(n_tot - n_l AS DOUBLE))))
                 / CAST(n_tot AS DOUBLE), 9) AS train_gini,
           CAST(CASE WHEN 2 * pos_l > n_l THEN 1 ELSE 0 END AS INT) AS pred_l,
           CAST(CASE WHEN 2 * (pos_tot - pos_l) > (n_tot - n_l)
                THEN 1 ELSE 0 END AS INT) AS pred_r
    FROM cum WHERE n_l > 0 AND n_l < n_tot
), best AS (
    SELECT fold, threshold, train_gini, pred_l, pred_r FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fold
                   ORDER BY train_gini, threshold) AS rk
        FROM scored
    ) WHERE rk = 1
)
SELECT p.fold, CAST(b.threshold AS BIGINT) AS threshold,
       CAST(ROUND(b.train_gini, 6) AS DOUBLE) AS train_gini,
       CAST(SUM(p.n) AS BIGINT) AS n_test,
       CAST(ROUND(CAST(SUM(CASE WHEN p.bucket < b.threshold
                THEN CASE WHEN b.pred_l = 1 THEN p.pos ELSE p.n - p.pos END
                ELSE CASE WHEN b.pred_r = 1 THEN p.pos ELSE p.n - p.pos END
            END) AS DOUBLE) / CAST(SUM(p.n) AS DOUBLE), 6) AS DOUBLE)
           AS test_acc
FROM per p JOIN best b USING (fold)
GROUP BY 1, 2, 3
"""


def brier_decomposition_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score
    (Murphy 1973): BS = reliability − resolution + uncertainty over the
    10 calibration bins — the SCALAR summary triple behind
    ``calibration_report_documents``'s per-bin reliability diagram:
    reliability is the calibration gap ECE squares, resolution is how
    much the bins actually separate outcomes (a calibrated-but-useless
    classifier has 0), uncertainty ō(1−ō) is the irreducible floor.
    Also publishes the DIRECT Brier mean Σ(p−y)²/n and the decomposition
    gap (the within-bin variance term the 3-term identity drops when
    scores vary inside a bin) — a nonzero gap is expected and reported,
    not hidden.

    Determinism: the same round-9 sigmoids as the calibration report;
    per-bin means are decimal-fold ratios rounded at 9; every squared
    term folds in DECIMAL(27,12). Scale shape: one corpus pass for the
    direct Brier + bin sums, then 10-row algebra."""
    hist = _train(spark, sf_dir)
    _, w0, w1, w2 = hist[-1]
    feats = _features(spark, sf_dir)
    z = F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    binned = feats.select("y", p.alias("p")).withColumn(
        "bin",
        F.least(
            F.floor(F.col("p") * N_CALIB_BINS).cast("int"),
            F.lit(N_CALIB_BINS - 1),
        ),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.round(
            dec_sum(F.col("p"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("pbar"),
        F.round(
            F.sum("y").cast("double") / F.count("*").cast("double"), 9
        ).alias("obar_k"),
    )
    direct = binned.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(
            (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 27, 12
        )
        .cast("double")
        .alias("sq_sum"),
        F.sum("y").cast("bigint").alias("pos"),
        F.lit(1).alias("one"),
    )
    obar = F.round(
        F.col("pos").cast("double") / F.col("n").cast("double"), 9
    )
    folded = (
        per.withColumn("one", F.lit(1))
        .join(F.broadcast(direct), "one")
        .groupBy("n", "sq_sum", "pos")
        .agg(
            F.sum(
                (
                    F.col("nk").cast("double")
                    * (F.col("pbar") - F.col("obar_k"))
                    * (F.col("pbar") - F.col("obar_k"))
                ).cast("decimal(27,12)")
            )
            .cast("double")
            .alias("rel_sum"),
            F.sum(
                (
                    F.col("nk").cast("double")
                    * (F.col("obar_k") - obar)
                    * (F.col("obar_k") - obar)
                ).cast("decimal(27,12)")
            )
            .cast("double")
            .alias("res_sum"),
        )
    )
    nD = F.col("n").cast("double")
    bs = F.round(F.col("sq_sum") / nD, 9)
    rel = F.round(F.col("rel_sum") / nD, 9)
    res = F.round(F.col("res_sum") / nD, 9)
    unc = F.round(obar * (F.lit(1.0) - obar), 9)
    return folded.select(
        F.col("n"),
        F.round(bs, 6).cast("double").alias("brier_score"),
        F.round(rel, 6).cast("double").alias("reliability"),
        F.round(res, 6).cast("double").alias("resolution"),
        F.round(unc, 6).cast("double").alias("uncertainty"),
        F.round(bs - (rel - res + unc), 6)
        .cast("double")
        .alias("decomp_gap"),
    )


def _brier_oracle() -> str:
    head = _logistic_oracle()
    head = head[: head.index("\nSELECT CAST(1 AS INT)")]
    return head + f"""
, preds AS (
    SELECT y,
           ROUND(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))), 9) AS p
    FROM feats, w{N_STEPS} w
), binned AS (
    SELECT y, p,
           LEAST(CAST(FLOOR(p * {N_CALIB_BINS}) AS INT),
                 {N_CALIB_BINS - 1}) AS bin
    FROM preds
), per AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS pbar,
           ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
               AS obar_k
    FROM binned GROUP BY bin
), direct AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(27,12))) AS DOUBLE)
               AS sq_sum,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM binned
), folded AS (
    SELECT n, sq_sum, pos,
           CAST(SUM(CAST(CAST(nk AS DOUBLE) * (pbar - obar_k)
                         * (pbar - obar_k) AS DECIMAL(27,12)))
                AS DOUBLE) AS rel_sum,
           CAST(SUM(CAST(CAST(nk AS DOUBLE)
               * (obar_k - ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 9))
               * (obar_k - ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 9))
               AS DECIMAL(27,12))) AS DOUBLE) AS res_sum
    FROM per CROSS JOIN direct
    GROUP BY n, sq_sum, pos
)
SELECT n,
       CAST(ROUND(ROUND(sq_sum / CAST(n AS DOUBLE), 9), 6) AS DOUBLE)
           AS brier_score,
       CAST(ROUND(ROUND(rel_sum / CAST(n AS DOUBLE), 9), 6) AS DOUBLE)
           AS reliability,
       CAST(ROUND(ROUND(res_sum / CAST(n AS DOUBLE), 9), 6) AS DOUBLE)
           AS resolution,
       CAST(ROUND(ROUND(ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 9)
                  * (1.0 - ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 9)),
                  9), 6) AS DOUBLE) AS uncertainty,
       CAST(ROUND(ROUND(sq_sum / CAST(n AS DOUBLE), 9)
                  - (ROUND(rel_sum / CAST(n AS DOUBLE), 9)
                     - ROUND(res_sum / CAST(n AS DOUBLE), 9)
                     + ROUND(ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 9)
                             * (1.0 - ROUND(CAST(pos AS DOUBLE)
                                            / CAST(n AS DOUBLE), 9)), 9)), 6)
            AS DOUBLE) AS decomp_gap
FROM folded
"""


BRIER_DECOMPOSITION_DOCUMENTS_ORACLE = _brier_oracle()


def hosmer_lemeshow_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit for the quality classifier over
    the 10 fixed-width score bins (the equal-WIDTH variant — the house
    calibration binning; canonical HL uses score deciles, a global sort
    this engine deliberately avoids on fact grain, and the fixed-width
    form is the standard alternative when bins are pre-registered):
    HL = Σ_k (o_k − n_k·p̄_k)²/(n_k·p̄_k·(1−p̄_k)) ~ χ²(K−2); a
    significant HL says the sigmoid's FORM is wrong even where the
    ranking (AUC) is fine — the model-level verdict the per-bin
    calibration gaps don't aggregate to.

    Determinism: round-9 sigmoids, decimal bin sums, per-bin terms
    rounded at 9 before the 10-row decimal fold; empty-denominator bins
    (p̄ of exactly 0 or 1) contribute 0 on both engines. Scale shape:
    one corpus pass, 10-row algebra."""
    hist = _train(spark, sf_dir)
    _, w0, w1, w2 = hist[-1]
    feats = _features(spark, sf_dir)
    z = F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    binned = feats.select("y", p.alias("p")).withColumn(
        "bin",
        F.least(
            F.floor(F.col("p") * N_CALIB_BINS).cast("int"),
            F.lit(N_CALIB_BINS - 1),
        ),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.round(
            dec_sum(F.col("p"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("pbar"),
        F.sum("y").cast("bigint").alias("ok"),
    )
    den = (
        F.col("nk").cast("double")
        * F.col("pbar")
        * (F.lit(1.0) - F.col("pbar"))
    )
    term = F.when(
        den > 0.0,
        F.round(
            (F.col("ok").cast("double") - F.col("nk").cast("double") * F.col("pbar"))
            * (F.col("ok").cast("double") - F.col("nk").cast("double") * F.col("pbar"))
            / den,
            9,
        ),
    ).otherwise(F.lit(0.0))
    s = per.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.count("*").cast("int").alias("k_bins"),
        F.sum(term.cast("decimal(27,12)")).cast("double").alias("hl_raw"),
    )
    hl = F.round(F.col("hl_raw"), 6)
    return s.select(
        "n",
        "k_bins",
        hl.cast("double").alias("hl_stat"),
        (F.col("k_bins") - 2).cast("int").alias("df"),
        (hl > F.lit(15.507313)).alias("miscalibrated"),
    )


def _hosmer_lemeshow_oracle() -> str:
    head = _logistic_oracle()
    head = head[: head.index("\nSELECT CAST(1 AS INT)")]
    return head + f"""
, preds AS (
    SELECT y,
           ROUND(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))), 9) AS p
    FROM feats, w{N_STEPS} w
), binned AS (
    SELECT y, p,
           LEAST(CAST(FLOOR(p * {N_CALIB_BINS}) AS INT),
                 {N_CALIB_BINS - 1}) AS bin
    FROM preds
), per AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(27,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS pbar,
           CAST(SUM(y) AS BIGINT) AS ok
    FROM binned GROUP BY bin
), terms AS (
    SELECT nk, ok,
           CASE WHEN CAST(nk AS DOUBLE) * pbar * (1.0 - pbar) > 0.0
                THEN ROUND((CAST(ok AS DOUBLE) - CAST(nk AS DOUBLE) * pbar)
                           * (CAST(ok AS DOUBLE) - CAST(nk AS DOUBLE) * pbar)
                           / (CAST(nk AS DOUBLE) * pbar * (1.0 - pbar)), 9)
                ELSE 0.0 END AS term
    FROM per
)
SELECT CAST(SUM(nk) AS BIGINT) AS n,
       CAST(COUNT(*) AS INT) AS k_bins,
       CAST(ROUND(CAST(SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE), 6)
            AS DOUBLE) AS hl_stat,
       CAST(COUNT(*) - 2 AS INT) AS df,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE), 6)
           > 15.507313 AS miscalibrated
FROM terms
"""


HOSMER_LEMESHOW_DOCUMENTS_ORACLE = _hosmer_lemeshow_oracle()
