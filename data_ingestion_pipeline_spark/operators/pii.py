"""PII detection / redaction over the documents corpus — the C4/Dolma-
style scrubbing step every LLM training-data pipeline runs before
anything else sees the text.

Relationship to ``functions/text.py::redact_pii`` (used by
``text_hygiene_documents``): that is the 2-pattern (email/phone) inline
hygiene step of the general cleanup pass; this tier is the dedicated
scrub with per-class census, an md5-pinned rewrite audit, four classes
(+SSN, +IPv4), and the per-source prevalence report — the surface a
compliance review actually consumes. Patterns are maintained separately
on purpose: the hygiene step is deliberately conservative, this tier's
rule table is the place recall grows by stacking patterns.

The synthetic corpus is PII-free word soup, so each query first PLANTS
deterministic PII (emails / US phone numbers / SSNs / IPv4 addresses,
keyed on doc_id residues) with closed-form string expressions that the
DuckDB oracle replays verbatim — the same planted-fixture discipline as
the near-dup corpora. Detection and redaction then run on the augmented
text, so every match count and every redacted byte is hash-verified.

Patterns deliberately live in the Java-regex ∩ RE2 common subset
(character classes, bounded repetition, ASCII ``\\b``) so Spark's
codegen'd ``regexp_*`` and DuckDB's RE2 engine agree byte-for-byte.

Scale posture (100 TB): detection and redaction are pure per-row JVM
regexp expressions — zero UDFs, zero shuffles at the document grain
(the prevalence rollup shuffles one small per-source partial); rows
never widen beyond the original text plus a few ints. A 1000-executor
scan is embarrassingly parallel and the regex cost is the scan cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.sources.catalog import load_table


# (class, pattern, replacement) in FIXED application order — counts are
# order-independent (patterns are mutually non-overlapping: @-anchored /
# 3-3-4 dashes / 3-2-4 dashes / dotted quads), but redaction applies
# sequentially and the oracle must replay the same order.
_PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def _pii_corpus(docs: DataFrame) -> DataFrame:
    """Append deterministic PII to residue-selected documents: doc_id%7
    gets an email, %11 a phone, %13 an IPv4, %17 an SSN (residues
    overlap, so some docs carry several classes and doc 0 carries all
    four). Everything derives from doc_id, so the oracle replants
    byte-identically."""
    d = F.col("doc_id")
    piece = [
        F.when(
            d % 7 == 0,
            F.concat(
                F.lit(" reach user"),
                (d % 1000).cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 13 == 0,
            F.concat(
                F.lit(" host 10."),
                (d % 256).cast("string"),
                F.lit("."),
                ((d * 7) % 256).cast("string"),
                F.lit(".25"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 17 == 0,
            F.concat(
                F.lit(" ssn 219-09-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    ]
    return docs.withColumn("text", F.concat(F.col("text"), *piece))


# The oracle-side replant — identical residues/literals (DuckDB single-
# quoted strings do no backslash processing, so regex classes pass through)
_PII_CORPUS_SQL = """
aug AS (
    SELECT doc_id, source,
           text
           || CASE WHEN doc_id % 7 = 0 THEN ' reach user'
                   || CAST(doc_id % 1000 AS VARCHAR) || '@example.com'
              ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' call 415-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN ' host 10.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.'
                   || CAST((doc_id * 7) % 256 AS VARCHAR) || '.25'
              ELSE '' END
           || CASE WHEN doc_id % 17 = 0 THEN ' ssn 219-09-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
           AS text
    FROM documents
)
"""


def pii_detect_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII census: one match count per class, the total, and
    a routing bucket (clean / low / high) — the triage signal a curation
    pipeline keys retention and review policy on.

    Plan: four codegen'd regexp_extract_all sizes over one text column in
    a single projection — one scan, no shuffle, no UDF; every document
    (including clean ones) reports, so downstream set algebra is total.
    """
    aug = _pii_corpus(load_table(spark, sf_dir, "documents"))
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat, _ in _PII_RULES
    ]
    out = aug.select("doc_id", *counts)
    total = sum(F.col(f"n_{name}") for name, _, _ in _PII_RULES)
    return out.select(
        "doc_id",
        *[f"n_{name}" for name, _, _ in _PII_RULES],
        total.cast("bigint").alias("pii_total"),
        F.when(total == 0, "clean")
        .when(total <= 2, "low")
        .otherwise("high")
        .alias("risk"),
    )


PII_DETECT_DOCUMENTS_ORACLE = f"""
WITH {_PII_CORPUS_SQL.strip()},
counts AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
               AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
               '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text,
               '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text,
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
               AS BIGINT) AS n_ipv4
    FROM aug
)
SELECT doc_id, n_email, n_ssn, n_phone, n_ipv4,
       n_email + n_ssn + n_phone + n_ipv4 AS pii_total,
       CASE WHEN n_email + n_ssn + n_phone + n_ipv4 = 0 THEN 'clean'
            WHEN n_email + n_ssn + n_phone + n_ipv4 <= 2 THEN 'low'
            ELSE 'high' END AS risk
FROM counts
"""


def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction rewrite: every match replaced by its class token
    ([EMAIL]/[SSN]/[PHONE]/[IP]) in the fixed rule order, shipping the
    per-doc redaction count and the md5 of the REWRITTEN text — the md5
    pins the redacted content byte-for-byte against the oracle's replay,
    not just the counts (same contract as the excision rewrite).

    Plan: counts and the 4-deep regexp_replace chain fold into ONE
    projection over one scan — per-row JVM work only."""
    aug = _pii_corpus(load_table(spark, sf_dir, "documents"))
    red = F.col("text")
    for _, pat, rep in _PII_RULES:
        red = F.regexp_replace(red, pat, rep)
    total = sum(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        for _, pat, _ in _PII_RULES
    )
    return aug.select(
        "doc_id",
        total.cast("bigint").alias("n_redactions"),
        F.md5(red).alias("redacted_md5"),
    )


PII_REDACT_DOCUMENTS_ORACLE = f"""
WITH {_PII_CORPUS_SQL.strip()}
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
          + len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))
          + len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b'))
          + len(regexp_extract_all(text,
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
          AS BIGINT) AS n_redactions,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
           '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '[SSN]', 'g'),
           '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '[PHONE]', 'g'),
           '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[IP]', 'g'))
           AS redacted_md5
FROM aug
"""


def pii_prevalence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII prevalence per source feed: documents scanned,
    documents carrying ANY PII, and per-class match totals — the audit
    table a pipeline publishes after a scrub pass.

    Plan: the per-row detection projection feeds one partial-aggregated
    group-by over the (tiny) source key; shuffle state is a handful of
    longs per source."""
    aug = _pii_corpus(load_table(spark, sf_dir, "documents"))
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat, _ in _PII_RULES
    ]
    per_doc = aug.select("source", *counts)
    total = sum(F.col(f"n_{name}") for name, _, _ in _PII_RULES)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((total > 0).cast("long")).cast("bigint").alias("n_docs_pii"),
            *[
                F.sum(f"n_{name}").cast("bigint").alias(f"total_{name}")
                for name, _, _ in _PII_RULES
            ],
        )
        .orderBy("source")
    )


PII_PREVALENCE_BY_SOURCE_ORACLE = f"""
WITH {_PII_CORPUS_SQL.strip()},
counts AS (
    SELECT source,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
           len(regexp_extract_all(text,
               '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b')) AS n_ssn,
           len(regexp_extract_all(text,
               '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS n_phone,
           len(regexp_extract_all(text,
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
               AS n_ipv4
    FROM aug
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_ssn + n_phone + n_ipv4 > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
       CAST(SUM(n_email) AS BIGINT) AS total_email,
       CAST(SUM(n_ssn) AS BIGINT) AS total_ssn,
       CAST(SUM(n_phone) AS BIGINT) AS total_phone,
       CAST(SUM(n_ipv4) AS BIGINT) AS total_ipv4
FROM counts
GROUP BY source
ORDER BY source
"""
