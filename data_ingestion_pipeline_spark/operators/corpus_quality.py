"""Corpus-quality operators for LLM training-data curation: Gopher-style
repetition rules and winnowing document fingerprints.

These extend the curation tier (``operators/llm_data.py``: quality filter,
hygiene, novelty, waterfall) with two standard published instruments:

- **Repetition filtering** (Rae et al., "Scaling Language Models: ...
  Gopher", 2021, §A1.1): documents dominated by a few repeated n-grams are
  low-quality (templates, boilerplate, generation loops). The published
  rules threshold the fraction of content inside the most frequent 2/3/4-
  gram and inside duplicated 5..10-grams. This port adapts them to token
  fractions (the fixture corpus has no newlines, so the line-based rules
  are vacuous here): top-2-gram / top-3-gram token share and the share of
  5-gram positions whose gram repeats within the document.
- **Winnowing fingerprints** (Schleimer, Wilkerson, Aiken, "Winnowing:
  Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
  algorithm): hash every k-gram, slide a w-window over the hash sequence,
  and keep each window's minimum (leftmost on ties). Guarantees any match
  of length ≥ w + k − 1 shares a fingerprint, at ~2/(w+1) selection
  density — the standard plagiarism / near-copy index at corpus scale.

Cross-engine determinism follows the house md5 pattern
(``llm_data.shard_shuffle_documents``): k-gram hashes are the first 8 hex
chars of md5 as a 32-bit integer, reproducible in any engine. The
window-min with leftmost tie-break is ONE bigint min over the composite
key ``hash·2²⁰ + position`` (positions < 2²⁰ by construction here;
a 100 TB deployment chunks documents long before that bound).

Scale shape: everything is tokenize → lead() windows partitioned by
doc_id → per-(doc, gram) hash aggregation — shuffle keys are (doc_id) or
(doc_id, gram), never corpus-global; no global sorts, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum
from data_ingestion_pipeline_spark.functions.partitioning import fan_out
from data_ingestion_pipeline_spark.sources.catalog import load_table


# Gopher §A1.1 thresholds, token-adapted (see module docstring)
TOP2_MAX = 0.20
TOP3_MAX = 0.18
DUP5_MAX = 0.30


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("token_idx", "token"),
    ).filter(F.col("token") != "")


def gopher_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher repetition report: top-2-gram and top-3-gram
    token share, duplicated-5-gram position share, and the keep verdict.

    Exact integer counts everywhere; the three shares are ratios of
    bigints (correctly-rounded doubles, identical across engines). A
    document too short for an n-gram family reports NULL for that share
    and the rule passes vacuously (matching the published semantics:
    nothing to repeat)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = _tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    grams = toks.select(
        "doc_id",
        "token_idx",
        *[F.lead("token", i).over(w).alias(f"t{i}") for i in range(1, 5)],
        F.col("token").alias("t0"),
    ).select(
        "doc_id",
        "token_idx",
        F.when(
            F.col("t1").isNotNull(), F.concat_ws(" ", "t0", "t1")
        ).alias("g2"),
        F.when(
            F.col("t2").isNotNull(), F.concat_ws(" ", "t0", "t1", "t2")
        ).alias("g3"),
        F.when(
            F.col("t4").isNotNull(),
            F.concat_ws(" ", "t0", "t1", "t2", "t3", "t4"),
        ).alias("g5"),
    )

    def top_share(col: str, n: int) -> DataFrame:
        per = (
            grams.filter(F.col(col).isNotNull())
            .groupBy("doc_id", col)
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        return per.groupBy("doc_id").agg(
            (F.max("c") * n).cast("bigint").alias(f"top{n}_tokens")
        )

    dup5 = (
        grams.filter(F.col("g5").isNotNull())
        .groupBy("doc_id", "g5")
        .agg(F.count("*").cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_5grams"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("dup_5gram_positions"),
        )
    )
    n_words = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words")
    )
    j = (
        n_words.join(top_share("g2", 2), "doc_id", "left")
        .join(top_share("g3", 3), "doc_id", "left")
        .join(dup5, "doc_id", "left")
    )
    top2 = F.round(
        F.col("top2_tokens").cast("double") / F.col("n_words").cast("double"), 6
    )
    top3 = F.round(
        F.col("top3_tokens").cast("double") / F.col("n_words").cast("double"), 6
    )
    d5 = F.round(
        F.col("dup_5gram_positions").cast("double")
        / F.col("n_5grams").cast("double"),
        6,
    )
    keep = (
        F.coalesce(top2 < TOP2_MAX, F.lit(True))
        & F.coalesce(top3 < TOP3_MAX, F.lit(True))
        & F.coalesce(d5 < DUP5_MAX, F.lit(True))
    )
    return j.select(
        "doc_id",
        "n_words",
        top2.cast("double").alias("top2gram_frac"),
        top3.cast("double").alias("top3gram_frac"),
        d5.cast("double").alias("dup5gram_frac"),
        keep.alias("keep"),
    )


GOPHER_REPETITION_DOCUMENTS_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, CAST(idx AS INT) AS token_idx, token
    FROM (
        SELECT doc_id,
               unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS idx,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), led AS (
    SELECT doc_id, token_idx, token AS t0,
           LEAD(token, 1) OVER (PARTITION BY doc_id ORDER BY token_idx) AS t1,
           LEAD(token, 2) OVER (PARTITION BY doc_id ORDER BY token_idx) AS t2,
           LEAD(token, 3) OVER (PARTITION BY doc_id ORDER BY token_idx) AS t3,
           LEAD(token, 4) OVER (PARTITION BY doc_id ORDER BY token_idx) AS t4
    FROM toks
), grams AS (
    SELECT doc_id, token_idx,
           CASE WHEN t1 IS NOT NULL
                THEN t0 || ' ' || t1 END AS g2,
           CASE WHEN t2 IS NOT NULL
                THEN t0 || ' ' || t1 || ' ' || t2 END AS g3,
           CASE WHEN t4 IS NOT NULL
                THEN t0 || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' || t4
                END AS g5
    FROM led
), top2 AS (
    SELECT doc_id, CAST(MAX(c) * 2 AS BIGINT) AS top2_tokens FROM (
        SELECT doc_id, g2, COUNT(*) AS c FROM grams
        WHERE g2 IS NOT NULL GROUP BY doc_id, g2
    ) GROUP BY doc_id
), top3 AS (
    SELECT doc_id, CAST(MAX(c) * 3 AS BIGINT) AS top3_tokens FROM (
        SELECT doc_id, g3, COUNT(*) AS c FROM grams
        WHERE g3 IS NOT NULL GROUP BY doc_id, g3
    ) GROUP BY doc_id
), dup5 AS (
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_5grams,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS dup_5gram_positions
    FROM (
        SELECT doc_id, g5, COUNT(*) AS c FROM grams
        WHERE g5 IS NOT NULL GROUP BY doc_id, g5
    ) GROUP BY doc_id
), nw AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words FROM toks GROUP BY doc_id
)
SELECT nw.doc_id, nw.n_words,
       CAST(ROUND(CAST(top2_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
            AS DOUBLE) AS top2gram_frac,
       CAST(ROUND(CAST(top3_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
            AS DOUBLE) AS top3gram_frac,
       CAST(ROUND(CAST(dup_5gram_positions AS DOUBLE) / CAST(n_5grams AS DOUBLE), 6)
            AS DOUBLE) AS dup5gram_frac,
       COALESCE(ROUND(CAST(top2_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
                < {TOP2_MAX}, TRUE)
       AND COALESCE(ROUND(CAST(top3_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
                < {TOP3_MAX}, TRUE)
       AND COALESCE(ROUND(CAST(dup_5gram_positions AS DOUBLE)
                          / CAST(n_5grams AS DOUBLE), 6) < {DUP5_MAX}, TRUE)
           AS keep
FROM nw
LEFT JOIN top2 USING (doc_id)
LEFT JOIN top3 USING (doc_id)
LEFT JOIN dup5 USING (doc_id)
"""


WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # k-gram hashes per winnowing window
_POS_BITS = 1 << 20  # composite-key position field (doc positions < 2^20)


def winnowing_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary: selected-fingerprint
    count, selection density, and the min/max fingerprint hash values.

    Construction (exact, cross-engine): token 4-grams hash via md5 (first
    8 hex chars as a 32-bit int); each full window of 4 consecutive k-gram
    hashes selects its minimum with LEFTMOST tie-break — one bigint MIN
    over ``hash·2²⁰ + position``; distinct selected (hash, position) pairs
    are the document's fingerprint set. Guarantee: two documents sharing
    any token run of ≥ w + k − 1 = 7 tokens share ≥ 1 fingerprint, which
    is what makes the fingerprint table joinable for near-copy detection
    at corpus scale (the cross-doc join is on the fingerprint hash — a
    bounded-fanout equi-join, the MOSS index shape)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = _tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    kgram = toks.select(
        "doc_id",
        "token_idx",
        F.concat_ws(
            " ",
            "token",
            *[F.lead("token", i).over(w).alias(f"t{i}") for i in range(1, WINNOW_K)],
        ).alias("gram"),
        F.lead("token", WINNOW_K - 1).over(w).alias("_full"),
    ).filter(F.col("_full").isNotNull())
    hashed = kgram.select(
        "doc_id",
        "token_idx",
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
            * _POS_BITS
            + F.col("token_idx")
        ).alias("key"),
    )
    wf = Window.partitionBy("doc_id").orderBy("token_idx")
    n_grams = hashed.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kgrams")
    )
    wins = (
        hashed.select(
            "doc_id",
            "token_idx",
            F.min("key")
            .over(wf.rowsBetween(Window.currentRow, WINNOW_W - 1))
            .alias("wmin"),
            F.lead("token_idx", WINNOW_W - 1).over(wf).alias("_full_w"),
        )
        .filter(F.col("_full_w").isNotNull())
        .select("doc_id", "wmin")
        .distinct()
    )
    fp = wins.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fingerprints"),
        F.min(F.floor(F.col("wmin") / _POS_BITS)).cast("bigint").alias("min_fp"),
        F.max(F.floor(F.col("wmin") / _POS_BITS)).cast("bigint").alias("max_fp"),
    )
    return n_grams.join(fp, "doc_id", "left").select(
        "doc_id",
        "n_kgrams",
        F.coalesce("n_fingerprints", F.lit(0)).cast("bigint").alias(
            "n_fingerprints"
        ),
        F.round(
            F.col("n_fingerprints").cast("double")
            / F.col("n_kgrams").cast("double"),
            6,
        )
        .cast("double")
        .alias("density"),
        "min_fp",
        "max_fp",
    )


WINNOWING_FINGERPRINTS_DOCUMENTS_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, CAST(idx AS INT) AS token_idx, token
    FROM (
        SELECT doc_id,
               unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS idx,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), led AS (
    SELECT doc_id, token_idx,
           token || ' '
             || LEAD(token, 1) OVER w || ' '
             || LEAD(token, 2) OVER w || ' '
             || LEAD(token, 3) OVER w AS gram,
           LEAD(token, 3) OVER w AS _full
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY token_idx)
), hashed AS (
    SELECT doc_id, token_idx,
           ('0x' || substr(md5(gram), 1, 8))::BIGINT * {_POS_BITS}
               + token_idx AS key
    FROM led WHERE _full IS NOT NULL
), wins AS (
    SELECT DISTINCT doc_id, wmin FROM (
        SELECT doc_id,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY token_idx
                              ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
                   AS wmin,
               LEAD(token_idx, {WINNOW_W - 1}) OVER (
                   PARTITION BY doc_id ORDER BY token_idx) AS _full_w
        FROM hashed
    ) WHERE _full_w IS NOT NULL
), ng AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kgrams
    FROM hashed GROUP BY doc_id
), fp AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(MIN(wmin // {_POS_BITS}) AS BIGINT) AS min_fp,
           CAST(MAX(wmin // {_POS_BITS}) AS BIGINT) AS max_fp
    FROM wins GROUP BY doc_id
)
SELECT ng.doc_id, ng.n_kgrams,
       CAST(COALESCE(n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       CAST(ROUND(CAST(n_fingerprints AS DOUBLE) / CAST(n_kgrams AS DOUBLE), 6)
            AS DOUBLE) AS density,
       min_fp, max_fp
FROM ng LEFT JOIN fp USING (doc_id)
"""


MIN_SHARED_FP = 2


def winnowing_near_copy_pairs_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-document near-copy detection from the winnowing index — the
    MOSS pair report: document pairs sharing ≥ 2 selected fingerprint
    hashes, with the shared count. Planted corpus (documents ∪ 80%-prefix
    copies, ``llm_data._near_dup_corpus``) guarantees true positives:
    every planted copy shares its whole prefix run with its source, and
    the winnowing guarantee (any common run ≥ w + k − 1 tokens shares a
    fingerprint) makes those pairs structurally unmissable.

    Shape: fingerprint extraction is the per-doc pipeline (doc-partitioned
    windows); the pair step is an equi-SELF-JOIN ON THE FINGERPRINT HASH —
    exactly the LSH band-join shape, carrying (hash, doc_id) longs only.
    Fan-out per hash is the number of docs containing it; a production
    deployment caps hot hashes (drop fingerprints appearing in > T docs —
    they're boilerplate, not copies) the way the banded joins document
    their hot-band policy. Exact DuckDB oracle: identical construction."""
    from data_ingestion_pipeline_spark.operators.llm_data import (
        _near_dup_corpus,
    )

    docs = _near_dup_corpus(
        fan_out(load_table(spark, sf_dir, "documents"))
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("token_idx", "token"),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    kgram = toks.select(
        "doc_id",
        "token_idx",
        F.concat_ws(
            " ",
            "token",
            *[F.lead("token", i).over(w) for i in range(1, WINNOW_K)],
        ).alias("gram"),
        F.lead("token", WINNOW_K - 1).over(w).alias("_full"),
    ).filter(F.col("_full").isNotNull())
    hashed = kgram.select(
        "doc_id",
        "token_idx",
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
            * _POS_BITS
            + F.col("token_idx")
        ).alias("key"),
    )
    fps = (
        hashed.select(
            "doc_id",
            "token_idx",
            F.min("key")
            .over(w.rowsBetween(Window.currentRow, WINNOW_W - 1))
            .alias("wmin"),
            F.lead("token_idx", WINNOW_W - 1).over(w).alias("_full_w"),
        )
        .filter(F.col("_full_w").isNotNull())
        .select("doc_id", F.floor(F.col("wmin") / _POS_BITS).alias("fp"))
        .distinct()
    )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= MIN_SHARED_FP)
    )


WINNOWING_NEAR_COPY_PAIRS_DOCUMENTS_ORACLE = rf"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(
               (regexp_split_to_array(trim(text), '\s+'))[
                   1 : GREATEST(CAST(CEIL(
                       len(regexp_split_to_array(trim(text), '\s+')) * 0.8
                   ) AS INT), 1)
               ], ' ')
    FROM documents WHERE doc_id % 20 = 0
), toks AS (
    SELECT doc_id, CAST(idx AS INT) AS token_idx, token
    FROM (
        SELECT doc_id,
               unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS idx,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM corpus
    ) WHERE token <> ''
), led AS (
    SELECT doc_id, token_idx,
           token || ' '
             || LEAD(token, 1) OVER w || ' '
             || LEAD(token, 2) OVER w || ' '
             || LEAD(token, 3) OVER w AS gram,
           LEAD(token, 3) OVER w AS _full
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY token_idx)
), hashed AS (
    SELECT doc_id, token_idx,
           ('0x' || substr(md5(gram), 1, 8))::BIGINT * {_POS_BITS}
               + token_idx AS key
    FROM led WHERE _full IS NOT NULL
), fps AS (
    SELECT DISTINCT doc_id, wmin // {_POS_BITS} AS fp FROM (
        SELECT doc_id,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY token_idx
                              ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
                   AS wmin,
               LEAD(token_idx, {WINNOW_W - 1}) OVER (
                   PARTITION BY doc_id ORDER BY token_idx) AS _full_w
        FROM hashed
    ) WHERE _full_w IS NOT NULL
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fp
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {MIN_SHARED_FP}
"""


VOCAB_SIZE = 500


def vocab_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document vocabulary coverage against the corpus top-V vocab —
    the loader-side OOV diagnostic run before tokenizer training settles:
    documents with high out-of-vocabulary rates are either foreign to the
    corpus domain or noise, and the aggregate OOV mass tells you whether
    V is large enough. Vocab = top-500 tokens by occurrence (the
    ``build_vocab_documents`` cut, TakeOrderedAndProject — never a full
    sort); membership is a broadcast LEFT SEMI-shaped join of the token
    stream against the V-row vocab, counted per document. Exact bigint
    counts; the rate is a ratio of bigints."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = _tokens(docs)
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(VOCAB_SIZE)
        .select("token")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_inv", F.lit(1))), "token", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("_inv").isNull(), 1))
        .cast("bigint")
        .alias("n_oov"),
        F.round(
            F.count(F.when(F.col("_inv").isNull(), 1)).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("oov_rate"),
    )


VOCAB_COVERAGE_DOCUMENTS_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, token
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), vocab AS (
    SELECT token FROM (
        SELECT token, COUNT(*) AS n_occ FROM toks GROUP BY token
        ORDER BY n_occ DESC, token ASC LIMIT {VOCAB_SIZE}
    )
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS BIGINT) AS n_oov,
       CAST(ROUND(CAST(COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY doc_id
"""


DSIR_BUCKETS = 256


def dsir_importance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., "Data
    Selection for Language Models via Importance Resampling", NeurIPS
    2023), the hashed-n-gram variant: score every document by how much it
    resembles a TARGET distribution (here lang='en', the curation target)
    relative to the full SOURCE corpus. Features are hashed token unigrams
    (md5 → 256 buckets, the paper's hashed feature space); both bucket
    distributions get Laplace smoothing; a document's log-importance is
    Σ_b n_b(doc) · ln(p_target(b) / p_source(b)).

    Scale shape: the two bucket distributions are 256-row aggregates
    (broadcast); scoring is one (doc, bucket) aggregation joined against
    them — shuffle ∝ distinct (doc, bucket) pairs, never corpus×vocab. At
    100 TB this is exactly the DSIR pipeline: fit two hashed bags, then
    one map-reduce scoring pass. Determinism: the ln of the smoothed
    bigint ratio rounds to 9 decimals BEFORE the decimal sum (the
    ``zipf_fit_tokens`` libm policy), so both engines sum identical terms.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    ).alias("bucket")
    tb = toks.select("doc_id", "lang", bucket)
    src = tb.groupBy("bucket").agg(F.count("*").cast("bigint").alias("cs"))
    tgt = (
        tb.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    ns = tb.count()
    nt = tb.filter(F.col("lang") == "en").count()
    # smoothed log ratio per bucket: ln(((ct+1)/(nt+B)) / ((cs+1)/(ns+B)))
    # == ln((ct+1)·(ns+B) / ((cs+1)·(nt+B))) — a ratio of exact bigints
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
        * F.lit(float(ns + DSIR_BUCKETS))
    ) / (
        (F.col("cs") + 1).cast("double") * F.lit(float(nt + DSIR_BUCKETS))
    )
    logw = src.join(tgt, "bucket", "left").select(
        "bucket", F.round(F.log(ratio), 9).alias("logw")
    )
    per = tb.groupBy("doc_id", "bucket").agg(
        F.count("*").cast("bigint").alias("n_b")
    )
    return (
        per.join(F.broadcast(logw), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n_b").cast("bigint").alias("n_tokens"),
            dec_sum(F.col("n_b").cast("double") * F.col("logw"), 27, 12)
            .cast("double")
            .alias("log_importance_raw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round("log_importance_raw", 6)
            .cast("double")
            .alias("log_importance"),
        )
    )


DSIR_IMPORTANCE_DOCUMENTS_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(token), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
    FROM (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), src AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cs FROM toks GROUP BY bucket
), tgt AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
    FROM toks WHERE lang = 'en' GROUP BY bucket
), totals AS (
    SELECT CAST(COUNT(*) AS DOUBLE) + {DSIR_BUCKETS} AS ns_b,
           CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS DOUBLE)
               + {DSIR_BUCKETS} AS nt_b
    FROM toks
), logw AS (
    SELECT bucket,
           ROUND(ln((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * ns_b)
                    / (CAST(cs + 1 AS DOUBLE) * nt_b)), 9) AS logw
    FROM src LEFT JOIN tgt USING (bucket), totals
), per AS (
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_b
    FROM toks GROUP BY doc_id, bucket
)
SELECT doc_id, CAST(SUM(n_b) AS BIGINT) AS n_tokens,
       CAST(ROUND(CAST(SUM(CAST(CAST(n_b AS DOUBLE) * logw
                                AS DECIMAL(27,12))) AS DOUBLE), 6) AS DOUBLE)
           AS log_importance
FROM per JOIN logw USING (bucket)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Fightin' Words — informative-Dirichlet log-odds between ingest batches
# ---------------------------------------------------------------------------

FW_ALPHA_SCALE = 0.01  # prior mass = 1% of the corpus term counts
FW_TOP_K = 15


def fightin_words_batches_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe, Colaresi & Quinn's "Fightin' Words" (2008): z-scored
    log-odds with an informative Dirichlet prior between two ingest
    batches (docs with even vs odd doc_id), surfacing the terms that most
    distinguish one batch from the other. This is the token-level drift
    drill-down the corpus-level monitors (PSI, JS divergence) can't give:
    THEY say "the mix moved", THIS says which words moved it. On a
    homogeneous corpus the top |z| values sit near sampling noise (~2-3),
    so the query doubles as a drift null-check.

    δ_w = [ln(y₁+α_w) − ln(n₁+α₀−y₁−α_w)] − [same for batch 2],
    σ² ≈ 1/(y₁+α_w) + 1/(y₂+α_w), with α_w = 1% of the corpus count of w.
    All counts are exact bigints; every ln rounds to 9 decimals pre-
    combination (the libm rule); the top-|z| cut is orderBy().limit() on
    the ROUNDED z (TakeOrderedAndProject, tie-broken by token — never a
    ranking window over the vocabulary)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(fan_out(docs)).select(
        "token", (F.col("doc_id") % 2 == 0).cast("int").alias("b1")
    )
    per = toks.groupBy("token").agg(
        F.sum("b1").cast("bigint").alias("y1"),
        (F.count("*") - F.sum("b1")).cast("bigint").alias("y2"),
    )
    tot = per.agg(
        F.sum("y1").cast("bigint").alias("n1"),
        F.sum("y2").cast("bigint").alias("n2"),
        F.sum(F.col("y1") + F.col("y2")).cast("bigint").alias("n_all"),
    )
    j = per.crossJoin(F.broadcast(tot))
    aw = F.lit(FW_ALPHA_SCALE) * (F.col("y1") + F.col("y2")).cast("double")
    a0 = F.lit(FW_ALPHA_SCALE) * F.col("n_all").cast("double")
    y1 = F.col("y1").cast("double")
    y2 = F.col("y2").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    delta = (
        F.round(F.log(y1 + aw), 9)
        - F.round(F.log(n1 + a0 - y1 - aw), 9)
        - F.round(F.log(y2 + aw), 9)
        + F.round(F.log(n2 + a0 - y2 - aw), 9)
    )
    var = F.lit(1.0) / (y1 + aw) + F.lit(1.0) / (y2 + aw)
    z = F.round(delta / F.sqrt(var), 9)
    scored = j.select(
        "token",
        "y1",
        "y2",
        z.alias("z_raw"),
        F.abs(z).alias("abs_z"),
    )
    top = scored.orderBy(
        F.col("abs_z").desc(), F.col("token").asc()
    ).limit(FW_TOP_K)
    return top.select(
        "token",
        "y1",
        "y2",
        F.round("z_raw", 6).cast("double").alias("log_odds_z"),
    )


FIGHTIN_WORDS_BATCHES_DOCUMENTS_ORACLE = rf"""
WITH toks AS (
    SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS b1, token
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), per AS (
    SELECT token, CAST(SUM(b1) AS BIGINT) AS y1,
           CAST(COUNT(*) - SUM(b1) AS BIGINT) AS y2
    FROM toks GROUP BY token
), tot AS (
    SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2,
           CAST(SUM(y1 + y2) AS BIGINT) AS n_all
    FROM per
), scored AS (
    SELECT token, y1, y2,
           ROUND((ROUND(ln(CAST(y1 AS DOUBLE)
                           + {FW_ALPHA_SCALE} * CAST(y1 + y2 AS DOUBLE)), 9)
                  - ROUND(ln(CAST(n1 AS DOUBLE)
                             + {FW_ALPHA_SCALE} * CAST(n_all AS DOUBLE)
                             - CAST(y1 AS DOUBLE)
                             - {FW_ALPHA_SCALE} * CAST(y1 + y2 AS DOUBLE)), 9)
                  - ROUND(ln(CAST(y2 AS DOUBLE)
                             + {FW_ALPHA_SCALE} * CAST(y1 + y2 AS DOUBLE)), 9)
                  + ROUND(ln(CAST(n2 AS DOUBLE)
                             + {FW_ALPHA_SCALE} * CAST(n_all AS DOUBLE)
                             - CAST(y2 AS DOUBLE)
                             - {FW_ALPHA_SCALE} * CAST(y1 + y2 AS DOUBLE)), 9))
                 / SQRT(1.0 / (CAST(y1 AS DOUBLE)
                               + {FW_ALPHA_SCALE} * CAST(y1 + y2 AS DOUBLE))
                        + 1.0 / (CAST(y2 AS DOUBLE)
                                 + {FW_ALPHA_SCALE} * CAST(y1 + y2 AS DOUBLE))),
                 9) AS z
    FROM per CROSS JOIN tot
)
SELECT token, y1, y2,
       CAST(ROUND(z, 6) AS DOUBLE) AS log_odds_z
FROM scored
ORDER BY ABS(z) DESC, token ASC
LIMIT {FW_TOP_K}
"""


def bigram_perplexity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram perplexity under the corpus's own add-one-
    smoothed bigram model — the CCNet-style fluency filter (Wenzek et al.
    2020 score documents with a KenLM n-gram model and drop the
    worst-perplexity tail; here the model is the corpus itself, so the
    score flags documents whose word transitions are atypical for the
    corpus). Distinct from ``dsir_importance_documents`` (domain-matching
    importance weights against a TARGET) and ``quality_filter_documents``
    (surface heuristics): this is the probabilistic fluency axis.

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V) with V = corpus
    vocabulary size; per-doc NLL = Σ c·(ln(c(w1,·)+V) − ln(c(w1,w2)+1))
    over the doc's bigrams, averaged per bigram instance;
    ppl = exp(avg). Documents with < 2 tokens have no bigrams and are
    excluded (documented contract).

    Exactness: every ln() argument is an INTEGER (identical on both
    engines), and each ln term rounds to 9 decimals BEFORE the decimal
    fold — the ``zipf_fit_tokens`` libm policy — so the per-doc sums are
    exact; exp() applies to the already-rounded average (one libm call on
    an identical double, ``msprt`` precedent) and rounds at 4.

    Scale shape: doc-bigram grain built by a lead() window partitioned on
    doc_id; the corpus model derives FROM that grain (one shuffle on the
    bigram key, context counts ride it on w1) — no second corpus scan
    except the V scalar; the model re-attaches by bigram-key hash join.
    At 100 TB the model table is vocab²-bounded and heavy-tailed — the
    production lever is top-k pruning + backoff, which changes the model,
    not this plan."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = _tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    db = (
        toks.select(
            "doc_id",
            F.col("token").alias("w1"),
            F.lead("token").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # doc-bigram grain feeds the corpus model AND the scoring join:
    # one materialization (GC-reclaimed, round-8 ask #4 style)
    db = db.localCheckpoint(eager=False)
    cb = db.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cu"))
    v = toks.agg(F.countDistinct("token").cast("bigint").alias("v"))
    term = F.col("c").cast("double") * (
        F.round(F.log((F.col("cu") + F.col("v")).cast("double")), 9)
        - F.round(F.log((F.col("cb") + F.lit(1)).cast("double")), 9)
    )
    scored = (
        db.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(
                dec_sum(term, 38, 12).cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("avg_nll"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 4).cast("double").alias("ppl"),
    )


BIGRAM_PERPLEXITY_DOCUMENTS_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\s+'),
                       x -> x <> '') AS t
    FROM documents
),
db AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM toks, UNNEST(range(1, len(t))) AS u(i)
    GROUP BY doc_id, t[i], t[i + 1]
),
cb AS (
    SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cb FROM db GROUP BY w1, w2
),
cu AS (
    SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY w1
),
v AS (
    SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
    FROM (SELECT unnest(t) AS tok FROM toks)
),
scored AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           ROUND(
               CAST(SUM(CAST(
                   CAST(c AS DOUBLE) *
                   (ROUND(ln(CAST(cu + v AS DOUBLE)), 9)
                    - ROUND(ln(CAST(cb + 1 AS DOUBLE)), 9))
                   AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE), 6) AS avg_nll
    FROM db JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
    GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_nll,
       CAST(ROUND(exp(avg_nll), 4) AS DOUBLE) AS ppl
FROM scored
"""


def cohens_kappa_quality_flags_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's κ (Cohen 1960) between two deterministic document-quality
    raters — the agreement statistic a labeling pipeline needs before
    trusting ANY pair of heuristic filters as interchangeable: rater A
    flags documents above the corpus-median character length, rater B
    flags documents above the corpus-median whitespace-token count.
    Raw agreement p_o overstates consensus when both raters mostly say
    "keep"; κ = (p_o − p_e)/(1 − p_e) subtracts the chance agreement
    p_e implied by each rater's own marginal rates. Published: the 2×2
    agreement cells, p_o, p_e, κ.

    Exactness: both medians are exact interpolated percentiles rounded
    at 6 before comparison; all four cells are exact bigints; p_o, p_e
    and κ are fixed double expressions over them rounded at 6 (κ NULL
    when p_e = 1 — a constant rater — identically in both engines).
    Scale shape: one tokenize-count pass to doc grain (the
    ``vocab_coverage`` token idiom), two percentile passes over doc
    grain, one bounded fold."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("nc"),
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda t: t != "",
            )
        )
        .cast("bigint")
        .alias("nt"),
    )
    meds = per_doc.agg(
        F.round(F.percentile("nc", F.lit(0.5)), 6).alias("mc"),
        F.round(F.percentile("nt", F.lit(0.5)), 6).alias("mt"),
    )
    flags = per_doc.crossJoin(F.broadcast(meds)).select(
        (F.col("nc").cast("double") > F.col("mc")).alias("a"),
        (F.col("nt").cast("double") > F.col("mt")).alias("b"),
    )
    cells = flags.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("a") & F.col("b")).cast("long")).cast("bigint").alias("n11"),
        F.sum((F.col("a") & ~F.col("b")).cast("long")).cast("bigint").alias("n10"),
        F.sum((~F.col("a") & F.col("b")).cast("long")).cast("bigint").alias("n01"),
        F.sum((~F.col("a") & ~F.col("b")).cast("long")).cast("bigint").alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pa = (F.col("n11") + F.col("n10")).cast("double") / nd
    pb = (F.col("n11") + F.col("n01")).cast("double") / nd
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    kappa = F.when(pe < F.lit(1.0), F.round((po - pe) / (F.lit(1.0) - pe), 6))
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).cast("double").alias("p_observed"),
        F.round(pe, 6).cast("double").alias("p_expected"),
        kappa.cast("double").alias("kappa"),
    )


COHENS_KAPPA_QUALITY_FLAGS_DOCUMENTS_ORACLE = r"""
WITH per_doc AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                t -> t <> '')) AS BIGINT) AS nt
    FROM documents
), meds AS (
    SELECT ROUND(quantile_cont(nc, 0.5), 6) AS mc,
           ROUND(quantile_cont(nt, 0.5), 6) AS mt
    FROM per_doc
), flags AS (
    SELECT CAST(nc AS DOUBLE) > mc AS a, CAST(nt AS DOUBLE) > mt AS b
    FROM per_doc CROSS JOIN meds
), cells AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
           CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
           CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
           CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
               AS n00
    FROM flags
)
SELECT n, n11, n10, n01, n00,
       CAST(ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
            AS DOUBLE) AS p_observed,
       CAST(ROUND(CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
                  * CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)
                  + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)),
                  6) AS DOUBLE) AS p_expected,
       CAST(CASE WHEN CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
                      * CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)
                      + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(n11 + n01 AS DOUBLE)
                           / CAST(n AS DOUBLE)) < 1.0
            THEN ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
                           * CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)
                           + (1.0 - CAST(n11 + n10 AS DOUBLE)
                              / CAST(n AS DOUBLE))
                             * (1.0 - CAST(n11 + n01 AS DOUBLE)
                                / CAST(n AS DOUBLE))))
                       / (1.0 - (CAST(n11 + n10 AS DOUBLE)
                                 / CAST(n AS DOUBLE)
                                 * CAST(n11 + n01 AS DOUBLE)
                                 / CAST(n AS DOUBLE)
                                 + (1.0 - CAST(n11 + n10 AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                                   * (1.0 - CAST(n11 + n01 AS DOUBLE)
                                      / CAST(n AS DOUBLE)))), 6)
            END AS DOUBLE) AS kappa
FROM cells
"""
