"""LLM-training-data operators over the documents/embeddings/events tables.

These are the north-star additions (BASELINE.json): dedup, similarity
search, text analysis, JSON extraction — each as a driver-checkable query.
The fixture corpus has no natural duplicates, so dedup queries *plant*
deterministic duplicates derived from the table itself (a union with
transformed copies) — both the engine and the SQL oracle build the same
augmented corpus, which keeps the check non-vacuous and exact.

Hash-seeded operators (MinHash, SimHash, hyperplane LSH) can't be
recomputed by an external SQL engine; they register rows-only and get their
semantics tested in pytest with planted near-duplicates (tests/test_llm_data.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.dedup.embedding import (
    cosine_pairs_blas,
    lsh_cosine_pairs,
)
from data_ingestion_pipeline_spark.dedup.exact import exact_dedup_keys
from data_ingestion_pipeline_spark.dedup.minhash import (
    minhash_near_dup_pairs,
    minhash_verified_pairs_complete,
)
from data_ingestion_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets
from data_ingestion_pipeline_spark.dedup.simhash import simhash_near_dup_pairs
from data_ingestion_pipeline_spark.functions.text import (
    BPE_ISH_PATTERN,
    EMAIL_PATTERN,
    PHONE_PATTERN,
    clean_text,
    fingerprint_md5,
    lang_id,
    quality_features,
    redact_pii,
    repetition_ratio,
    rolling_fingerprint,
    token_count,
)
from data_ingestion_pipeline_spark.functions.partitioning import fan_out
from data_ingestion_pipeline_spark.similarity.brute_force import topk_cosine
from data_ingestion_pipeline_spark.similarity.ivf import ivf_topk
from data_ingestion_pipeline_spark.similarity.lsh import ann_topk_multitable
from data_ingestion_pipeline_spark.sources.catalog import load_table

# Embedding width of the fixture corpus — known at plan time, which lets
# every vector expression unroll into codegen'd multiply-adds.
EMB_DIM = 64


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + fingerprint + BPE-ish token count —
    the standard filtering signal set, all codegen'd expressions."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars_calc"),
        feats["n_tokens"].alias("n_tokens"),
        feats["n_distinct_tokens"].alias("n_distinct_tokens"),
        feats["type_token_ratio"].alias("type_token_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        fingerprint_md5(F.col("text")).alias("fingerprint"),
    )


TEXT_STATS_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
    FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
           AS type_token_ratio,
       ROUND(CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len,
       ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / CAST(GREATEST(length(text), 1) AS DOUBLE), 6) AS alpha_ratio,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
FROM t
"""


def _augmented_docs(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies of every 10th doc (ids shifted by 100000) —
    the planted-duplicate corpus used by the exact-dedup check."""
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(copies)


def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the planted-duplicate corpus: one surviving (min) id
    per fingerprint. Copies must collapse onto their originals."""
    return exact_dedup_keys(
        _augmented_docs(load_table(spark, sf_dir, "documents")), "text", "doc_id"
    )


EXACT_DEDUP_DOCUMENTS_ORACLE = r"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS doc_id
FROM aug GROUP BY 1
"""


def dedup_survivor_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a QUALITY survivor policy: instead of min-id, each
    fingerprint group keeps its longest (most tokens) member, doc_id as the
    deterministic tie-break. Real pipelines choose survivors by quality
    (longest, highest score, freshest) — expressed as the same struct-max
    argmax aggregate as latest_event_per_user: one two-phase hash agg, no
    ranking window, shuffle ∝ distinct fingerprints."""
    aug = _augmented_docs(load_table(spark, sf_dir, "documents"))
    best = F.max(
        F.struct(
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            # negated id: struct-max then prefers the SMALLEST id on token ties
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        aug.select(fingerprint_md5(F.col("text")).alias("fingerprint"), "doc_id", "text")
        .groupBy("fingerprint")
        .agg(best)
        .select(
            "fingerprint",
            (-F.col("best.neg_id")).alias("survivor_id"),
            F.col("best.n_tokens").alias("n_tokens"),
        )
    )


DEDUP_SURVIVOR_QUALITY_DOCUMENTS_ORACLE = r"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
), scored AS (
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM aug
)
SELECT fingerprint, survivor_id, n_tokens FROM (
    SELECT fingerprint, doc_id AS survivor_id, n_tokens,
           ROW_NUMBER() OVER (
               PARTITION BY fingerprint ORDER BY n_tokens DESC, doc_id ASC
           ) AS rn
    FROM scored
) WHERE rn = 1
"""


def _near_dup_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ 80%-prefix copies of every 20th doc (ids +1000000) —
    planted near-duplicates with shingle-Jaccard ≈ 0.8."""
    tok = F.split(F.trim(F.col("text")), r"\s+")
    prefix_len = F.greatest(
        F.ceil(F.size(tok) * 0.8).cast("int"), F.lit(1)
    )
    mutated = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(tok, F.lit(1), prefix_len)).alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(mutated)


def ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs on the planted corpus."""
    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    return jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.4)


def ngram_containment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs (directed) on the planted corpus:
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 0.9 — the
    asymmetric fragment detector (``dedup/ngram.py::containment_pairs``).
    Every planted 80%-prefix copy is contained in its source near-1.0
    even when its symmetric Jaccard sits at ~0.8."""
    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    from data_ingestion_pipeline_spark.dedup.ngram import containment_pairs

    return containment_pairs(aug, "text", "doc_id", n=3, threshold=0.9)


NGRAM_CONTAINMENT_DOCUMENTS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM aug
), exploded AS (
    SELECT doc_id, len(sset) AS sz, unnest(sset) AS shingle FROM sets
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a,
           COUNT(*) AS n_common
    FROM exploded a JOIN exploded b USING (shingle)
    WHERE a.doc_id <> b.doc_id
      AND CAST(b.sz AS DOUBLE) >= a.sz * 0.9
    GROUP BY 1, 2, 3
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / CAST(size_a AS DOUBLE), 6)
           AS containment
FROM inter
WHERE CAST(n_common AS DOUBLE) / CAST(size_a AS DOUBLE) >= 0.9
"""


def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    8-token window with a held-out benchmark set.

    Benchmark = every 97th document. Training corpus = the rest, plus
    planted leaks (80%-prefix copies of each benchmark doc, ids
    +2_000_000) so the check has positives by construction. Both sides
    shingle through the shared hashed-window representation
    (dedup/ngram.py::shingle_sets); the benchmark's distinct shingles are
    BROADCAST into an inner join against the exploded corpus shingles — the
    100 TB shape, since benchmark suites are KBs while the corpus is the
    big side: the corpus is scanned once, never shuffled on the pair key.
    Output: (doc_id, n_hits, contamination-fraction of the doc's windows).
    """
    docs = load_table(spark, sf_dir, "documents")
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
    tok = F.split(F.trim(F.col("text")), r"\s+")
    prefix_len = F.greatest(F.ceil(F.size(tok) * 0.8).cast("int"), F.lit(1))
    leaked = bench_docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(tok, F.lit(1), prefix_len)).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "text")
        .unionByName(leaked)
    )
    bench_sh = (
        shingle_sets(bench_docs, "text", "doc_id", n=8)
        .select(F.explode_outer("sset").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )
    corpus_sh = (
        shingle_sets(corpus, "text", "doc_id", n=8)
        .select("doc_id", "set_size", F.explode_outer("sset").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id", "set_size")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("set_size").cast("double"), 6
            ).alias("contamination"),
        )
    )


def bloom_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination behind a Bloom-filter pre-pass — the membership
    sketch that changes the 100 TB economics: the benchmark's distinct
    shingles build ONE fixed-size bitset (functions/bloom.py; ~1.2 MB for
    1M items at 1% FPR) that ships once per executor; the probe then drops
    the overwhelming majority of corpus shingles BEFORE the broadcast-hash
    verify join, so join probe work scales with candidate hits (true
    positives + ~1% FPs), not with corpus shingle volume. The exact join
    then removes the Bloom's false positives, making the output identical
    to ``decontaminate_documents`` — both run against the same SQL oracle,
    which pins the sketch+verify composition to the exact semantics.

    The bitset is built from a bounded collect of the BENCHMARK side only
    (benchmark suites are KBs by definition — same bounded-driver-state
    policy as IVF centroids and PQ codebooks); the corpus side never
    leaves executors unreduced.

    Same fixture construction as ``decontaminate_documents``: benchmark =
    every 97th doc, corpus = the rest + planted 80%-prefix leaks."""
    from data_ingestion_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_params,
        bloom_probe_udf,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
    tok = F.split(F.trim(F.col("text")), r"\s+")
    prefix_len = F.greatest(F.ceil(F.size(tok) * 0.8).cast("int"), F.lit(1))
    leaked = bench_docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(tok, F.lit(1), prefix_len)).alias("text"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "text")
        .unionByName(leaked)
    )
    bench_sh = (
        shingle_sets(bench_docs, "text", "doc_id", n=8)
        .select(F.explode_outer("sset").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )
    bench_keys = [r.sh for r in bench_sh.collect()]  # bounded: bench side
    m_bits, k = bloom_params(len(bench_keys), fpp=0.01)
    bits = bloom_build(bench_keys, m_bits, k)
    might_contain = bloom_probe_udf(bits, m_bits, k)
    corpus_sh = (
        shingle_sets(corpus, "text", "doc_id", n=8)
        .select("doc_id", "set_size", F.explode_outer("sset").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    candidates = corpus_sh.filter(might_contain(F.col("sh")))
    return (
        candidates.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id", "set_size")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("set_size").cast("double"), 6
            ).alias("contamination"),
        )
    )


def minhash_scale_recall_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the scale-tuned MinHash-LSH variant (B=8, R=4,
    J ≥ 0.5 verified): its pair set must recover ≥ 80% of the exact
    J ≥ 0.7 relation computed in the same plan by the inverted-index
    Jaccard verifier (pytest shows exact copies always collide and
    J≈0.85 near-dups miss a band with P < 1e-2). Precision needs no gate:
    every emitted pair carries an exactly-verified Jaccard ≥ 0.5 by
    construction. Oracle pins the boolean to TRUE."""
    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    scale = minhash_near_dup_pairs(aug, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    )
    # pin the exact pair set — it feeds BOTH count branches and Spark
    # re-plans the whole inverted-index Jaccard pipeline per reference
    # (no exchange reuse across these shapes; the pinned result is the
    # tiny verified pair list). Eager (r12): both branches read the pin
    # concurrently in the gate's one action, and a lazy pin does not
    # dedupe concurrent readers inside its materializing job.
    exact = (
        jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.7)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_hit = scale.join(exact, ["id_a", "id_b"]).agg(F.count("*").alias("n_hit"))
    return n_exact.crossJoin(n_hit).select(
        (F.col("n_hit") >= 0.8 * F.col("n_exact")).alias("recall_ok")
    )


MINHASH_SCALE_RECALL_DOCUMENTS_ORACLE = "SELECT TRUE AS recall_ok"


def simhash_exact_copy_recall_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural gate for SimHash: byte-identical documents hash to the
    SAME 64-bit signature, so every identical-text pair MUST appear in
    the hamming ≤ 3 pair set — zero misses, by construction, at any
    scale. The fixture corpus plants only prefix copies (no byte-identical
    pairs), so this gate plants its own: every 25th document duplicated
    verbatim under id +3,000,000. The exact side (pairs grouped by text
    hash) is computed in the same plan; the oracle pins TRUE."""
    base = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    aug = base.unionByName(
        base.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    sim = simhash_near_dup_pairs(aug, "text", "doc_id", max_hamming=3).select(
        "id_a", "id_b"
    )
    by_text = aug.select("doc_id", F.md5("text").alias("_h"))
    a = by_text.select(F.col("doc_id").alias("id_a"), "_h")
    b = by_text.select(F.col("doc_id").alias("id_b"), "_h")
    # pinned EAGER: feeds both count branches (see minhash_scale_recall);
    # the r11 lazy pin regressed at bench grain in both independent runs
    # (3.40 → 4.64/5.29 s) — its two branches race the materializing job
    # and recompute partitions ("Block already exists")
    exact_copies = (
        a.join(b, "_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    n_exact = exact_copies.agg(F.count("*").alias("n_exact"))
    n_miss = exact_copies.join(sim, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("n_miss")
    )
    return n_exact.crossJoin(n_miss).select(
        ((F.col("n_miss") == 0) & (F.col("n_exact") > 0)).alias(
            "all_exact_copies_found"
        )
    )


SIMHASH_EXACT_COPY_RECALL_DOCUMENTS_ORACLE = (
    "SELECT TRUE AS all_exact_copies_found"
)


def embedding_lsh_pair_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall + precision gate for the scale-tuned (4 bands × 6 planes)
    embedding-LSH near-dup variant against the exact blocked-BLAS ≥ 0.8
    pair set in the same plan: candidates are exactly re-scored (precision
    is structural), banding recall on the planted ≈0.97-cosine pairs
    clears 0.8 with margin (miss probability per pair ≈ (1−0.36)⁴)."""
    from data_ingestion_pipeline_spark.dedup.embedding import cosine_pairs_blas

    aug = _near_dup_embeddings(load_table(spark, sf_dir, "embeddings"))
    # pin both pair pipelines EAGER: exact feeds THREE branches (count,
    # hit join, fp anti-join) and scale two — unpinned, the blocked-BLAS
    # kernel and the LSH banding each re-planned per branch (60 parquet
    # scans in the r11 plan audit, 0 ReusedExchange); lazy (r11), the
    # branches raced the materializing job and recomputed partitions
    scale = (
        lsh_cosine_pairs(aug, "vec_id", "embedding", threshold=0.8, dim=EMB_DIM)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    exact = (
        cosine_pairs_blas(aug, "vec_id", "embedding", threshold=0.8)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_hit = scale.join(exact, ["id_a", "id_b"]).agg(F.count("*").alias("n_hit"))
    n_fp = scale.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("n_fp")
    )
    return (
        n_exact.crossJoin(n_hit)
        .crossJoin(n_fp)
        .select(
            (F.col("n_hit") >= 0.7 * F.col("n_exact")).alias("recall_ok"),
            (F.col("n_fp") == 0).alias("precision_exact"),
        )
    )


EMBEDDING_LSH_PAIR_RECALL_EMBEDDINGS_ORACLE = """
SELECT TRUE AS recall_ok, TRUE AS precision_exact
"""


def semantic_dedup_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup gate: cluster the corpus into coarse
    cells (deterministic IVF centroids), score candidate near-dup pairs
    only WITHIN each cell, and grade the blocking against the exact
    all-pairs relation in the same plan.

    This is the economics of semantic dedup at 100 TB: clustering turns
    O(N²) scored pairs into Σ n_c² (cell-local joins that co-partition on
    list_id), at the cost of missing cross-cell pairs. Near-identical
    vectors land in the same cell almost surely, so recall on true
    near-dups stays high — the gate publishes exactly that claim as two
    booleans the DuckDB oracle pins to TRUE:

    - ``recall_ok``: cell-blocked pairs recover ≥ 70% of the exact ≥0.8
      pair set (planted-pair recall measured 1.0 — copies sit ~0.99 cosine
      from their originals and share a cell);
    - ``precision_exact``: zero false pairs — within-cell candidates are
      exactly rescored, so the blocked set is a strict subset of exact.
    """
    from data_ingestion_pipeline_spark.dedup.embedding import cosine_pairs_blas
    from data_ingestion_pipeline_spark.functions.vector import as_double_array, cosine
    from data_ingestion_pipeline_spark.similarity.ivf import (
        ivf_assign,
        sample_centroids,
    )

    aug = _near_dup_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = sample_centroids(aug, n_centroids=16)
    assigned = ivf_assign(fan_out(aug), cents).select(
        "vec_id", "list_id", as_double_array(F.col("embedding")).alias("_v")
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"), "list_id", F.col("_v").alias("_va")
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), "list_id", F.col("_v").alias("_vb")
    )
    # both pair sets pinned: each feeds 2-3 count branches and Spark
    # re-plans the full blocking/BLAS pipeline per reference (see
    # embedding_lsh_pair_recall)
    within = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("s")
        )
        .filter(F.col("s") >= 0.8)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    exact = (
        cosine_pairs_blas(aug, "vec_id", "embedding", threshold=0.8)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_hit = within.join(exact, ["id_a", "id_b"]).agg(F.count("*").alias("n_hit"))
    n_fp = within.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("n_fp")
    )
    return (
        n_exact.crossJoin(n_hit)
        .crossJoin(n_fp)
        .select(
            (F.col("n_hit") >= 0.7 * F.col("n_exact")).alias("recall_ok"),
            (F.col("n_fp") == 0).alias("precision_exact"),
        )
    )


SEMANTIC_DEDUP_RECALL_EMBEDDINGS_ORACLE = """
SELECT TRUE AS recall_ok, TRUE AS precision_exact
"""


def build_vocab_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build — the tokenizer-training precursor: global
    token counts (occurrences + document frequency) with the top-V tokens
    ranked. One explode → two-phase hash aggregate; shuffle volume ∝
    distinct tokens, never corpus size, and the top-V cut is a
    TakeOrderedAndProject, not a global sort. At 100 TB this is exactly a
    (sharded) wordpiece/BPE seed-vocab count job."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    # cut FIRST via sort-limit (TakeOrderedAndProject — per-partition top-V
    # then a V-row merge), THEN rank: the single-partition ranking window
    # only ever sees V rows, not the whole vocabulary
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(500)
    # n_occurrences%1: constant-valued non-foldable partition key — single
    # group over the 500 surviving rows, partitioned WindowExec path
    w = Window.partitionBy(F.col("n_occurrences") % 1).orderBy(
        F.desc("n_occurrences"), F.asc("token")
    )
    return top.withColumn("vocab_rank", F.row_number().over(w).cast("int"))


BUILD_VOCAB_DOCUMENTS_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
), counts AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tok WHERE token <> '' GROUP BY token
)
SELECT token, n_occurrences, n_docs,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS INT)
           AS vocab_rank
FROM counts
QUALIFY vocab_rank <= 500
"""


def shard_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle into training shards — the step between
    curation and the data loader: shard = hash(doc_id) mod N, position
    within shard = rank of a second, independent hash. Every engine (and
    every rerun) derives the same permutation from the data alone — no RNG
    state to ship, resumable mid-epoch by (shard, pos).

    Scale shape: the shard assignment is a map-side expression; the
    within-shard ordering is a window PARTITIONED by shard (so each shard
    ranks independently — never a single global sort). md5-derived keys
    (not xxhash64) because the permutation must be reproducible outside
    Spark too — the loader or another engine can recompute it."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % 8).cast("int")
    order_key = F.substring(h, 7, 10)
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), order_key.alias("order_key"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("int"))
        .drop("order_key")
    )


SHARD_SHUFFLE_DOCUMENTS_ORACLE = """
WITH keyed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8
                AS INTEGER) AS shard,
           substr(md5(doc_id::VARCHAR), 7, 10) AS order_key
    FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY shard ORDER BY order_key, doc_id
       ) AS INT) AS pos_in_shard
FROM keyed
"""


def dup_span_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication profile — the signal behind exact-substring
    dedup of training corpora (drop repeated long spans, keep the first
    occurrence): for every document, how many of its 8-token windows
    already occurred earlier in the corpus (corpus order = (doc_id,
    position); first occurrence wins). Runs on the planted near-dup corpus
    so prefix copies produce fully-duplicated span profiles.

    Shape: positional windows explode to (doc_id, pos, hash); one groupBy
    per hash computes the global first occurrence as a struct-min (no
    ranking window over a hot key); an id-join marks each window dup/first.
    Shuffle ∝ windows, state ∝ distinct spans — the same inverted-index
    economics as the shingle dedup family."""
    aug = fan_out(_near_dup_corpus(load_table(spark, sf_dir, "documents")))
    return dup_span_profile(aug)


def dup_span_profile(aug: DataFrame) -> DataFrame:
    """Core span-duplication profile over a (doc_id, text) corpus."""
    tok = F.split(F.trim(F.col("text")), r"\s+")
    # try_element_at: a document (or 80%-prefix copy) shorter than 8 tokens
    # still emits its one partial window — out-of-range indexes yield NULL,
    # which xxhash64 skips, matching the oracle's partial-window slice
    # (element_at would throw INVALID_ARRAY_INDEX under ANSI mode)
    win = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(F.col("_tok")) - 7, F.lit(1))),
        lambda i: F.xxhash64(
            *[F.try_element_at(F.col("_tok"), i + j) for j in range(8)]
        ),
    )
    windows = (
        aug.select("doc_id", tok.alias("_tok"))
        .select("doc_id", F.posexplode_outer(win).alias("pos", "sh"))
        .filter(F.col("sh").isNotNull())
    )
    # corpus order encoded as one long (pos < 1e6 at any fixture SF) so the
    # first occurrence is a plain MIN — portable to the SQL oracle verbatim
    occ = (F.col("doc_id") * 1000000 + F.col("pos")).alias("occ")
    windows = windows.select("doc_id", "sh", occ)
    first = windows.groupBy("sh").agg(F.min("occ").alias("first_occ"))
    marked = windows.join(first, "sh").select(
        "doc_id",
        (F.col("occ") > F.col("first_occ")).cast("long").alias("is_dup"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("is_dup").cast("bigint").alias("n_dup_spans"),
        F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_frac"),
    )


DUP_SPAN_PROFILE_DOCUMENTS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), windows AS (
    SELECT doc_id, doc_id * 1000000 + (u.pos) AS occ, u.sh FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, GREATEST(len(toks) - 7, 1) + 1),
                   i -> struct_pack(pos := i - 1,
                                    sh := array_to_string(toks[i:i+7], ' '))
               )) AS u
        FROM aug
    )
), first_occ AS (
    SELECT sh, MIN(occ) AS first_occ FROM windows GROUP BY sh
)
SELECT w.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN w.occ > f.first_occ THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       ROUND(SUM(CASE WHEN w.occ > f.first_occ THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM windows w JOIN first_occ f USING (sh)
GROUP BY w.doc_id
"""


def exact_substring_excision_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring dedup with SPAN EXCISION — the Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better") rewrite
    step that ``dup_span_profile_documents`` only profiles: every ≥k-token
    span that already occurred earlier in the corpus (corpus order =
    (doc_id, position), first occurrence wins) is excised from the
    document, and the rewritten text ships back with a per-doc
    bytes-removed audit. Runs on the planted near-dup corpus so the
    80%-prefix copies excise down to their novel suffix remainder.

    Lee et al. build one corpus-wide suffix array; the Spark-shaped
    equivalent is the inverted-index form over k-token windows — a
    duplicated ≥k-token span is exactly a run of duplicated k-windows, so
    marking every window whose (doc_id<<32 | pos) exceeds its hash's
    corpus-wide min and excising the tokens those windows cover removes
    precisely the maximal duplicated spans. Shuffle ∝ windows, state ∝
    distinct spans (never a global sort, never all-pairs); the rewrite
    itself is a per-document array expression, embarrassingly parallel."""
    aug = fan_out(_near_dup_corpus(load_table(spark, sf_dir, "documents")))
    return exact_substring_excision(aug)


def exact_substring_excision(aug: DataFrame, k: int = 8) -> DataFrame:
    """Core first-occurrence-wins span excision over a (doc_id, text)
    corpus: k-token duplicated windows mark their covered token positions;
    covered tokens drop; the survivors re-join into the rewritten text.

    Published row: (doc_id, n_tokens, n_excised, kept_frac, rewritten_md5)
    — the md5 pins the rewritten CONTENT, so the DuckDB oracle (which
    replays the same windows as literal token strings) hash-verifies the
    excision byte-for-byte, not just the counts."""
    tok = F.split(F.trim(F.col("text")), r"\s+")
    base = aug.select("doc_id", tok.alias("toks"))
    # docs shorter than k tokens contribute NO windows (xxhash64 skips
    # NULL inputs, so an unguarded degenerate window would hash the whole
    # short doc and excise exact short-doc copies — sub-k spans are
    # outside the >=k-token contract)
    win = F.when(
        F.size("toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (k - 1)),
            lambda i: F.xxhash64(
                *[F.try_element_at(F.col("toks"), i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    windows = (
        base.select("doc_id", F.posexplode_outer(win).alias("pos", "sh"))
        .filter(F.col("sh").isNotNull())
        .select(
            "doc_id",
            "pos",
            "sh",
            # corpus order as ONE long so first-occurrence is a plain MIN:
            # doc_id<<32 | pos. pos comes from posexplode over a Spark array,
            # so pos < 2^31 < 2^32 by construction; doc_id needs [0, 2^31) or
            # the shift overflows and silently corrupts first-wins ordering —
            # and unlike dup_span_profile this drives a DESTRUCTIVE rewrite,
            # so out-of-range ids fail loudly instead.
            F.when(
                (F.col("doc_id") >= 0) & (F.col("doc_id") < F.lit(1 << 31)),
                F.shiftleft(F.col("doc_id"), 32) + F.col("pos"),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "exact_substring_excision: doc_id outside "
                            "[0, 2^31) corpus-order encoding range: "
                        ),
                        F.col("doc_id").cast("string"),
                    )
                )
            )
            .alias("occ"),
        )
    )
    first = windows.groupBy("sh").agg(F.min("occ").alias("first_occ"))
    # dup window starts per doc, sorted — bounded by the doc's own token
    # count, so the collect_list is per-document state, never corpus state
    dup_starts = (
        windows.join(first, "sh")
        .filter(F.col("occ") > F.col("first_occ"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    j = base.join(dup_starts, "doc_id", "left").withColumn(
        "starts",
        F.coalesce(F.col("starts"), F.expr("CAST(array() AS array<int>)")),
    )
    # token at 0-based position p is excised iff some duplicated window
    # [s, s+k-1] covers it — per-doc array work, O(tokens·dup_starts)
    # bounded by document length, not corpus size
    kept = F.filter(
        "toks",
        lambda t, p: ~F.exists(
            "starts", lambda s: (s <= p) & (p <= s + F.lit(k - 1))
        ),
    )
    j = j.withColumn("kept", kept)
    return j.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size("kept")).cast("bigint").alias("n_excised"),
        F.round(F.size("kept") / F.size("toks"), 6).alias("kept_frac"),
        F.md5(F.concat_ws(" ", F.col("kept"))).alias("rewritten_md5"),
    )


EXACT_SUBSTRING_EXCISION_DOCUMENTS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), windows AS (
    SELECT doc_id, u.pos AS pos, doc_id * 4294967296 + u.pos AS occ, u.sh FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 8 THEN list_transform(
                   range(1, len(toks) - 7 + 1),
                   i -> struct_pack(pos := i - 1,
                                    sh := array_to_string(toks[i:i+7], ' '))
               ) ELSE [] END) AS u
        FROM aug
    )
), first_occ AS (
    SELECT sh, MIN(occ) AS first_occ FROM windows GROUP BY sh
), dup_starts AS (
    SELECT doc_id, list_sort(list(pos)) AS starts
    FROM windows w JOIN first_occ f USING (sh)
    WHERE w.occ > f.first_occ GROUP BY doc_id
), j AS (
    SELECT a.doc_id, a.toks,
           COALESCE(d.starts, CAST([] AS INTEGER[])) AS starts
    FROM aug a LEFT JOIN dup_starts d USING (doc_id)
), rew AS (
    SELECT doc_id, toks,
           list_filter(toks, (t, i) -> len(list_filter(starts,
               s -> s <= i - 1 AND i - 1 <= s + 7)) = 0) AS kept
    FROM j
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - len(kept) AS BIGINT) AS n_excised,
       ROUND(len(kept) / CAST(len(toks) AS DOUBLE), 6) AS kept_frac,
       md5(COALESCE(array_to_string(kept, ' '), '')) AS rewritten_md5
FROM rew
"""


DECONTAMINATE_DOCUMENTS_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), corpus_toks AS (
    SELECT doc_id, toks FROM toks WHERE doc_id % 97 <> 0
    UNION ALL
    SELECT doc_id + 2000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM toks WHERE doc_id % 97 = 0
), sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 7, 1) + 1),
               i -> array_to_string(toks[i:i+7], ' ')
           )) AS sset
    FROM corpus_toks
), bench AS (
    SELECT DISTINCT unnest(list_transform(
               range(1, GREATEST(len(toks) - 7, 1) + 1),
               i -> array_to_string(toks[i:i+7], ' ')
           )) AS sh
    FROM toks WHERE doc_id % 97 = 0
), corpus AS (
    SELECT doc_id, len(sset) AS sz, unnest(sset) AS sh FROM sets
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(sz AS DOUBLE), 6) AS contamination
FROM corpus JOIN bench USING (sh)
GROUP BY doc_id, sz
"""


BLOOM_DECONTAMINATE_DOCUMENTS_ORACLE = DECONTAMINATE_DOCUMENTS_ORACLE


NGRAM_JACCARD_DOCUMENTS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM aug
), exploded AS (
    SELECT doc_id, unnest(sset) AS shingle FROM sets
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
    FROM exploded a JOIN exploded b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) /
             CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN (SELECT doc_id, len(sset) AS sz FROM sets) sa ON sa.doc_id = id_a
JOIN (SELECT doc_id, len(sset) AS sz FROM sets) sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.4
"""


def _md5_planes_cte(n_tables: int, planes_per_table: int) -> str:
    """The DuckDB CTE chain (digest -> weights -> planes) replaying
    similarity/lsh.py::hyperplanes for every table/band: component
    (tbl, plane, coord) = md5("{971+tbl}:{plane}:{coord}") first 8 bytes
    little-endian as an exact HUGEINT, ONE cast to double, /2^63 - 1 —
    the same rounding point as Python's u / float(1 << 63), verified
    bit-identical component-for-component. Shared by every oracle that
    replays an md5-hyperplane LSH surface."""
    return f"""
digest AS (
    SELECT t.b AS tbl, j.j AS plane, i.i AS coord,
           md5(CAST(971 + t.b AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)
               || ':' || CAST(i.i AS VARCHAR)) AS h
    FROM range({n_tables}) t(b), range({planes_per_table}) j(j), range(64) i(i)
),
weights AS (
    SELECT tbl, plane, coord,
           CAST(list_sum(list_transform(range(16),
               k -> CAST(instr('0123456789abcdef',
                        substr(concat(substr(h,15,2), substr(h,13,2),
                               substr(h,11,2), substr(h,9,2), substr(h,7,2),
                               substr(h,5,2), substr(h,3,2), substr(h,1,2)),
                        CAST(k + 1 AS INTEGER), 1)) - 1 AS HUGEINT)
                    * (CAST(1 AS HUGEINT) << CAST(4 * (15 - k) AS INTEGER)))) AS DOUBLE)
           / 9223372036854775808.0 - 1.0 AS w
    FROM digest
),
planes AS (
    SELECT tbl, plane, list(w ORDER BY coord) AS pv
    FROM weights GROUP BY tbl, plane
)"""


def minhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs on the planted corpus — the scale-tuned
    (B=8, R=4) xxhash64 production path. Retired from the driver registry
    in round 10: seeded xxhash64 signatures aren't reproducible in an
    external engine, and the family's driver evidence is carried by the
    hash-exact ``minhash_md5_replay_near_dup_documents`` sibling (same
    pipeline, md5 primitive), ``minhash_verified_near_dup_documents``
    (real-SQL output contract), and the scale-recall gate. Recall /
    precision / banded-plan shape stay pytest-pinned."""
    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    return minhash_near_dup_pairs(aug, "text", "doc_id", threshold=0.5)


def minhash_verified_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH in the recall-complete configuration (B=16, R=2 —
    dedup/minhash.py): candidates verified with exact Jaccard ≥ 0.7
    reproduce the full exact pair relation, so this seeded-hash pipeline
    gets a real DuckDB oracle (the exact J ≥ 0.7 SQL) instead of a
    rows-only check. The scale-tuned (B=8, R=4) variant stays exported as
    `minhash_near_dup_documents` (pytest-gated; deregistered in r10)."""
    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    return minhash_verified_pairs_complete(aug, "text", "doc_id", threshold=0.7)


# Same pair relation as NGRAM_JACCARD_DOCUMENTS_ORACLE but cut at 0.7 —
# candidate recall at the cut is 1 − 2e-5 per pair (see minhash.py), so the
# verified LSH output and the exhaustive SQL agree.
MINHASH_VERIFIED_NEAR_DUP_DOCUMENTS_ORACLE = NGRAM_JACCARD_DOCUMENTS_ORACLE.replace(
    ">= 0.4", ">= 0.7"
)
assert ">= 0.7" in MINHASH_VERIFIED_NEAR_DUP_DOCUMENTS_ORACLE


def simhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the planted corpus — xxhash64 production
    path, deregistered in r10 in favor of the md5-replay sibling + the
    exact-copy recall gate (see ``minhash_near_dup_documents``)."""
    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    return simhash_near_dup_pairs(aug, "text", "doc_id", max_hamming=3)


def minhash_md5_replay_near_dup_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash-LSH pipeline in the scale configuration (K=32, B=8, R=4
    — the same banding as rows-only ``minhash_near_dup_documents``) with
    the ONE engine-private primitive swapped out so the whole thing
    replays in SQL: shingles hash through md5 (first 8 hex chars → 32-bit
    int, folded to 31 bits) instead of multi-arg xxhash64, and band keys
    are md5 hex strings of the signature slice instead of xxhash64. The
    permutation family (a·x+b mod 2³¹−1, dedup/minhash.py::_perm_params),
    element-wise min signatures, banded self-join, and exact-Jaccard
    verification are the identical algorithm — so the green hash row
    converts the MinHash family's structural gate (candidate counts +
    recall pytests) into a hash-exact one, the ann_lsh/ivf/pq promotion
    pattern applied to the last unreplayed dedup family. xxhash64 stays
    the production hash (cheaper: no string digest, no hex decode); this
    sibling is the correctness instrument, same split as
    ``minhash_verified_near_dup_documents`` (which oracle-checks only the
    verified OUTPUT contract, not the banding).

    Scale shape is unchanged from the production path: shuffle O(docs·K)
    via map-side partial mins, candidates ∝ band collisions (never
    all-pairs), verification only on candidates. The shingle-set relation
    is pinned — it feeds the signature build AND both verify sides."""
    from data_ingestion_pipeline_spark.dedup.minhash import _perm_params

    aug = fan_out(_near_dup_corpus(load_table(spark, sf_dir, "documents")))
    tok = F.split(F.trim(F.col("text")), r"\s+")
    win = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(F.col("_tok")) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_tok"), i, 3)),
    )
    sets = (
        aug.select("doc_id", tok.alias("_tok"))
        .select("doc_id", F.array_distinct(win).alias("sset"))
        .localCheckpoint()  # feeds sigs + both verify sides (eager, r12)
    )
    x32 = F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("bigint")
    hashed = sets.select(
        "doc_id", F.explode("sset").alias("sh")
    ).select("doc_id", x32.bitwiseAND(F.lit((1 << 31) - 1)).alias("x31"))
    params = _perm_params(32)
    sigs = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x31") + F.lit(b)) % F.lit((1 << 31) - 1)).alias(
                f"sig_{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                ":",
                F.lit(str(j)),
                *[F.col(f"sig_{j * 4 + r}").cast("string") for r in range(4)],
            )
        )
        for j in range(8)
    ]
    banded = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    )
    a = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ga = sets.select(F.col("doc_id").alias("id_a"), F.col("sset").alias("set_a"))
    gb = sets.select(F.col("doc_id").alias("id_b"), F.col("sset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size(F.array_union("set_a", "set_b")).cast("double")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def simhash_md5_replay_near_dup_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Charikar SimHash with the feature hash swapped xxhash64 → md5 so the
    WHOLE pipeline (per-occurrence ±1 bit sums → sign signature → 4×16-bit
    pigeonhole chunks → chunk-collision self-join → Hamming verify ≤ 3)
    replays in DuckDB — the md5-replay gate for the simhash family, same
    split as ``minhash_md5_replay_near_dup_documents`` one function up:
    ``simhash_near_dup_documents`` stays the xxhash64 production path
    (cheaper hash, same algorithm), this sibling is the hash-checked
    correctness instrument. The 64-bit feature hash is carried as two
    32-bit halves (hi/lo from the digest's first 16 hex chars) so neither
    engine ever casts an unsigned 64-bit value into a signed long, and the
    signature lives as the 4 chunk ints directly — Hamming distance is the
    sum of per-chunk XOR popcounts, bit-identical integer arithmetic on
    both engines with no float policy at all."""
    aug = fan_out(_near_dup_corpus(load_table(spark, sf_dir, "documents")))
    exploded = (
        aug.select(
            "doc_id",
            F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    md5c = F.md5(F.col("tok"))
    hashed = exploded.select(
        "doc_id",
        F.conv(F.substring(md5c, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(md5c, 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("lo" if i < 32 else "hi"), i % 32)
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    chunk_cols = []
    for j in range(4):
        c = F.lit(0)
        for r in range(16):
            c = c + F.when(F.col(f"b{j * 16 + r}") > 0, F.lit(1 << r)).otherwise(0)
        chunk_cols.append(c.cast("bigint").alias(f"c{j}"))
    sigs = sums.select("doc_id", *chunk_cols)
    chunked = sigs.select(
        "doc_id",
        "c0",
        "c1",
        "c2",
        "c3",
        F.posexplode(F.array("c0", "c1", "c2", "c3")).alias("chunk_idx", "chunk_val"),
    )
    a = chunked.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"c{j}").alias(f"a{j}") for j in range(4)],
        "chunk_idx",
        "chunk_val",
    )
    b = chunked.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"c{j}").alias(f"b{j}") for j in range(4)],
        "chunk_idx",
        "chunk_val",
    )
    ham = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}"))) for j in range(4)
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def _simhash_md5_replay_oracle() -> str:
    """DuckDB replay of the md5-SimHash pipeline above: same augmented
    corpus, per-occurrence token hashes (hi/lo 32-bit halves, big-endian
    nibble decode), 64 conditional bit sums, chunk assembly, pigeonhole
    self-join, XOR-popcount Hamming ≤ 3. Pure integer arithmetic."""

    def bit(i: int) -> str:
        return f"((lo >> {i}) & 1)" if i < 32 else f"((hi >> {i - 32}) & 1)"

    def half(start: int) -> str:
        return f"""CAST(list_sum(list_transform(range(8),
               k -> CAST(instr('0123456789abcdef',
                               substr(md5(tok), CAST(k + {start} AS INTEGER), 1)) - 1
                         AS BIGINT)
                    * (CAST(1 AS BIGINT) << CAST(4 * (7 - k) AS INTEGER))))
                AS BIGINT)"""

    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN {bit(i)} = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(64)
    )
    chunk_exprs = ",\n           ".join(
        "("
        + " | ".join(
            f"(CASE WHEN b{j * 16 + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(16)
        )
        + f") AS c{j}"
        for j in range(4)
    )
    ham = " + ".join(f"bit_count(CAST(xor(a.c{j}, b.c{j}) AS BIGINT))" for j in range(4))
    return rf"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS MATERIALIZED (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), exploded AS (
    SELECT doc_id, unnest(toks) AS tok FROM aug
), hashed AS (
    SELECT doc_id,
           {half(1)} AS hi,
           {half(9)} AS lo
    FROM exploded
), sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed GROUP BY doc_id
), sigs AS MATERIALIZED (
    SELECT doc_id,
           {chunk_exprs}
    FROM sums
), chunked AS MATERIALIZED (
    SELECT doc_id, c0, c1, c2, c3, v.chunk_idx,
           CASE v.chunk_idx WHEN 0 THEN c0 WHEN 1 THEN c1
                            WHEN 2 THEN c2 ELSE c3 END AS chunk_val
    FROM sigs, (VALUES (0), (1), (2), (3)) v(chunk_idx)
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           {ham} AS hamming
    FROM chunked a JOIN chunked b USING (chunk_idx, chunk_val)
    WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
FROM cand WHERE hamming <= 3
"""


SIMHASH_MD5_REPLAY_NEAR_DUP_DOCUMENTS_ORACLE = _simhash_md5_replay_oracle()


def _minhash_md5_replay_oracle() -> str:
    """DuckDB replay of the md5-MinHash pipeline above, step for step:
    same augmented corpus, same string shingles, same md5→31-bit fold
    (big-endian nibble decode of the first 8 hex chars), the same 32
    (a,b) literals from _perm_params, md5 band keys, banded self-join,
    exact-Jaccard verify at 0.5. Multiply-consumed CTEs are MATERIALIZED
    (DuckDB inlines CTEs; the sets relation feeds three consumers)."""
    from data_ingestion_pipeline_spark.dedup.minhash import _perm_params

    p31 = (1 << 31) - 1
    sig_exprs = ",\n           ".join(
        f"MIN(({a} * x31 + {b}) % {p31}) AS sig_{i}"
        for i, (a, b) in enumerate(_perm_params(32))
    )
    band_rows = ",\n".join(
        "        ({j}, md5('{j}' || ':' || ".format(j=j)
        + " || ':' || ".join(f"CAST(sig_{4 * j + r} AS VARCHAR)" for r in range(4))
        + "))"
        for j in range(8)
    )
    return rf"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS MATERIALIZED (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), sets AS MATERIALIZED (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM aug
), exploded AS (
    SELECT doc_id, unnest(sset) AS shingle FROM sets
), hashed AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(8),
               k -> CAST(instr('0123456789abcdef',
                               substr(md5(shingle), CAST(k + 1 AS INTEGER), 1)) - 1
                         AS BIGINT)
                    * (CAST(1 AS BIGINT) << CAST(4 * (7 - k) AS INTEGER))))
                AS BIGINT) & {p31} AS x31
    FROM exploded
), sigs AS MATERIALIZED (
    SELECT doc_id,
           {sig_exprs}
    FROM hashed GROUP BY doc_id
), banded AS MATERIALIZED (
    SELECT doc_id, b.band_idx, b.band_hash
    FROM sigs, LATERAL (SELECT * FROM (VALUES
{band_rows}
    ) v(band_idx, band_hash)) b
), cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b USING (band_idx, band_hash)
    WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
             / CAST(len(sa.sset) + len(sb.sset)
                    - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE), 6) AS jaccard
FROM cand
JOIN sets sa ON sa.doc_id = id_a
JOIN sets sb ON sb.doc_id = id_b
WHERE ROUND(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
            / CAST(len(sa.sset) + len(sb.sset)
                   - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE), 6) >= 0.5
"""


MINHASH_MD5_REPLAY_NEAR_DUP_DOCUMENTS_ORACLE = _minhash_md5_replay_oracle()


def _near_dup_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings ∪ perturbed copies of every 10th vector (ids +100000):
    first coordinate +0.25 → cosine ≈ 0.99 against the original, far above
    the corpus's natural max pair similarity (0.513 at sf0.01), so the 0.8
    threshold splits planted from natural pairs with a wide margin on every
    engine."""
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == 0, x + F.lit(0.25)).otherwise(x),
        ).alias("embedding"),
    )
    return emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(
        copies
    )


def embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs on the planted corpus — the
    semantic-dedup correctness baseline (all-pairs; the candidate-pruned
    scale path is ``embedding_lsh_near_dup``). Runs the cogrouped BLAS
    kernel (~6× the per-pair expression form, identical output — equality
    asserted in pytest)."""
    aug = _near_dup_embeddings(load_table(spark, sf_dir, "embeddings"))
    return cosine_pairs_blas(aug, "vec_id", "embedding", threshold=0.8)


EMBEDDING_COSINE_DEDUP_ORACLE = """
WITH aug AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000,
           list_transform(range(1, len(embedding) + 1),
                          i -> CASE WHEN i = 1 THEN (embedding::DOUBLE[])[i] + 0.25
                               ELSE (embedding::DOUBLE[])[i] END)
    FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS score
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.8
"""


def embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded embedding near-dup on the planted corpus — the
    O(N·bucket) scale path for semantic dedup. HASH-CHECKED since round 9:
    the scale-tuned (4 bands × 6 planes) candidate generation is
    deterministic given the md5-derived hyperplanes, so DuckDB replays the
    banding, the bucket-collision pair set, and the exact-cosine ≥ 0.8
    scoring end-to-end (``_md5_planes_cte``) — including the ~2.5%
    per-planted-pair recall misses this configuration makes by design
    (both engines miss the SAME pairs, because the miss is a property of
    the deterministic buckets, not of chance). The recall-complete
    64 × 12 sibling stays ``embedding_lsh_verified_near_dup`` (oracled
    against the exact pair relation)."""
    aug = _near_dup_embeddings(load_table(spark, sf_dir, "embeddings"))
    return lsh_cosine_pairs(aug, "vec_id", "embedding", threshold=0.8, dim=EMB_DIM)


EMBEDDING_LSH_NEAR_DUP_ORACLE = f"""
WITH {_md5_planes_cte(4, 6)},
aug AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000,
           list_transform(range(1, len(embedding) + 1),
                          i -> CASE WHEN i = 1 THEN (embedding::DOUBLE[])[i] + 0.25
                               ELSE (embedding::DOUBLE[])[i] END)
    FROM embeddings WHERE vec_id % 10 = 0
),
vb AS (
    SELECT a.vec_id, p.tbl,
           CAST(SUM(CASE WHEN list_inner_product(a.v, p.pv) >= 0
                         THEN (1 << p.plane) ELSE 0 END) AS BIGINT) AS bucket
    FROM aug a CROSS JOIN planes p
    GROUP BY a.vec_id, p.tbl
),
cand AS (
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM vb x JOIN vb y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.id_a, c.id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS score
FROM cand c
JOIN aug a ON a.vec_id = c.id_a
JOIN aug b ON b.vec_id = c.id_b
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.8
"""


def embedding_lsh_verified_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH in a recall-complete configuration for this corpus's
    pair distribution (64 bands × 12 planes). The ≥0.8 pair relation is
    exactly the planted near-dups: measured planted cosines span
    [0.968, 0.976] while the maximum non-planted pair is ≈0.52 (checked at
    sf0.001/0.01/0.1), so recall at the *planted* band is what decides
    oracle equality. At cosine 0.968 a pair collides per band with
    p = (1 − θ/π)¹² ≈ 0.36, missing all 64 bands with ≈2.6e-13 — ~zero
    expected misses across the few hundred planted pairs — and exact-cosine
    scoring of the candidates reproduces the full ≥0.8 relation, giving the
    seeded pipeline the SAME SQL oracle as the exact blocked-BLAS path.
    12 planes/band (4096 buckets) keeps random collisions ≈2⁻¹² per band,
    so candidates stay ≈1.5% of N² instead of all-pairs. The scale-tuned
    (4×6) variant stays registered as `embedding_lsh_near_dup`
    (rows-only)."""
    aug = _near_dup_embeddings(load_table(spark, sf_dir, "embeddings"))
    return lsh_cosine_pairs(
        aug, "vec_id", "embedding", threshold=0.8, n_bands=64, planes_per_band=12,
        dim=EMB_DIM,
    )


EMBEDDING_LSH_VERIFIED_NEAR_DUP_ORACLE = EMBEDDING_COSINE_DEDUP_ORACLE


def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-20 for the vec_id=0 query vector.

    Exactness across engines holds because both fold the dot product
    sequentially in double (verified bitwise; see functions/vector.py).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("qvec")
    )
    return topk_cosine(emb, q, k=20)


COSINE_TOPK_EMBEDDINGS_ORACLE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS score
FROM embeddings, q
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
LIMIT 20
"""


def matryoshka_truncation_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka/truncation evaluation: how much of the FULL-dimension
    cosine top-10 survives when vectors are truncated to their first
    8/16/32 dims — the measurement behind the embedding-compression
    decision (store/search a prefix at 1/8th the IO, or not). Distinct
    from the ANN recall gates: those grade an INDEX against exact search
    at full width; this grades the REPRESENTATION width itself under
    exact search on both sides.

    Per (trunc_dim, probe query) one row: |trunc top-10 ∩ full top-10|.
    Both rankings run through ``topk_cosine_batch`` (two-phase window,
    non-foldable local key) on the same deterministic 3-probe batch the
    ANN gates use; prefix slicing happens before the double-cast
    projection so the unrolled dot indexes bound attributes. Exactness:
    both engines fold the (identically sliced) dot sequentially in
    double, and rank ties break on vec_id — the published overlap counts
    are integers, immune to rounding. The full top-k is pinned (eager
    localCheckpoint, r12) exactly as the original note here prescribed for
    scale: it feeds all three truncation branches and Spark re-plans the
    whole ranking subtree per reference (r11 measurement; ~30-row pin)."""
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    full = (
        topk_cosine_batch(emb, q, k=10)
        .select("query_id", "vec_id", F.lit(1).alias("hit"))
        .localCheckpoint()
    )
    parts = []
    for d in (8, 16, 32):
        emb_d = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        q_d = q.select("query_id", F.slice("qvec", 1, d).alias("qvec"))
        trunc = topk_cosine_batch(emb_d, q_d, k=10, dim=d).select(
            "query_id", "vec_id"
        )
        parts.append(
            trunc.join(full, ["query_id", "vec_id"], "left")
            .groupBy("query_id")
            .agg(
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("bigint")
                .alias("overlap_at_10")
            )
            .select(
                F.lit(d).alias("trunc_dim"), "query_id", "overlap_at_10"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


MATRYOSHKA_TRUNCATION_RECALL_EMBEDDINGS_ORACLE = """
WITH dims(trunc_dim) AS (VALUES (8), (16), (32)),
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
    FROM embeddings WHERE vec_id IN (0, 1, 2)
), full_rank AS (
    SELECT q.query_id, e.vec_id
    FROM embeddings e, q
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qe) DESC,
                 e.vec_id ASC) <= 10
), trunc_rank AS (
    SELECT d.trunc_dim, q.query_id, e.vec_id
    FROM embeddings e, q, dims d
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY d.trunc_dim, q.query_id
        ORDER BY list_cosine_similarity(
                     (e.embedding::DOUBLE[])[1:d.trunc_dim],
                     (q.qe)[1:d.trunc_dim]) DESC,
                 e.vec_id ASC) <= 10
)
SELECT t.trunc_dim, t.query_id,
       CAST(COUNT(f.vec_id) AS BIGINT) AS overlap_at_10
FROM trunc_rank t
LEFT JOIN full_rank f
       ON f.query_id = t.query_id AND f.vec_id = t.vec_id
GROUP BY 1, 2
"""


def hard_negative_mining_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard negative mining for retrieval/embedding training: for each
    anchor query (vec_id 0/1/2), the vectors ranked 4..13 by exact cosine —
    close enough to be informative negatives, but past the top-3 band that
    is presumed positive/duplicate. This is the standard contrastive-
    training data step (negatives too easy → no gradient; too hard → false
    negatives), expressed as the brute-force ranking window with a rank
    BAND filter instead of a head cut. Same exactness argument as
    ``cosine_topk_embeddings`` (sequential double fold, bitwise
    cross-engine); the rank semantics (score desc, vec_id asc) make the
    band deterministic."""
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    ranked = topk_cosine_batch(emb, q, k=13)
    return ranked.filter(F.col("rank") >= 4).select(
        "query_id",
        F.col("vec_id").alias("negative_id"),
        "score",
        "rank",
    )


HARD_NEGATIVE_MINING_EMBEDDINGS_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
    FROM embeddings WHERE vec_id IN (0, 1, 2)
), ranked AS (
    SELECT q.query_id, e.vec_id AS negative_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6)
               AS score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qe)
                            DESC, e.vec_id ASC
           ) AS INT) AS rank
    FROM embeddings e CROSS JOIN q
)
SELECT query_id, negative_id, score, rank
FROM ranked WHERE rank BETWEEN 4 AND 13
"""


def knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine kNN graph (top-5 neighbors for EVERY vector) via the
    B×B blocked cogrouped-BLAS kernel + a per-source ranking window — the
    batch similarity primitive behind semantic dedup and retrieval-index
    bootstrapping (similarity/knn.py). Never materializes the N² pair
    relation: each block pair emits only its local top-5."""
    from data_ingestion_pipeline_spark.similarity.knn import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, "vec_id", "embedding", k=5)


# Ranking on the 6-decimal ROUNDED score with nbr_id tiebreak on both sides
# makes the order engine-independent (matmul vs sequential-fold summation
# agree at 6 decimals; see cosine_pairs_blas).
KNN_GRAPH_EMBEDDINGS_ORACLE = """
SELECT src_id, nbr_id, score, CAST(rnk AS INT) AS rnk FROM (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS score,
         ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[]), 6) DESC,
                      b.vec_id
         ) AS rnk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rnk <= 5
"""


def ann_lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH approximate top-10 for a small query batch.
    HASH-CHECKED since round 9 (round-8 verdict ask #3): the whole
    pipeline is deterministic — hyperplane components are md5-derived
    (seed 971+table, similarity/lsh.py::hyperplanes), bucket bit j is
    sign(<v, plane_j>), candidates are the union of per-table bucket
    collisions, top-k orders (score desc, id asc) — so DuckDB replays it
    end-to-end, md5 plane derivation included (bit-exact: digest first 8
    bytes little-endian as exact HUGEINT, cast to double, /2^63 - 1, the
    same value Python's u / float(1<<63) produces). "Approximate" means
    approximate w.r.t. brute force (``ann_lsh_recall_embeddings``'s job),
    not nondeterministic. The one engine-dependence is FP summation order
    on a dot product EXACTLY at 0 flipping a bucket bit (lsh.py
    band_buckets docstring) — probability ~1e-9 on these fixtures,
    verified green at all three SFs.

    16 tables × 4 planes (OR-amplification): measured recall@10 ≥ 0.8 vs
    brute force across sf0.001–0.1, vs ~0.1 for the single-bucket probe
    (``ann_topk``, which remains the harder-pruning building block —
    candidate fraction ~L·2^-P dials with corpus similarity
    concentration)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_topk_multitable(
        emb, q, k=10, n_tables=16, planes_per_table=4, dim=EMB_DIM
    )


ANN_LSH_TOPK_EMBEDDINGS_ORACLE = f"""
WITH {_md5_planes_cte(16, 4)},
-- band_buckets: bucket bit j = (dot >= 0), weight 2^j, per table
vb AS (
    SELECT e.vec_id, p.tbl,
           CAST(SUM(CASE WHEN list_inner_product(e.embedding::DOUBLE[], p.pv) >= 0
                         THEN (1 << p.plane) ELSE 0 END) AS BIGINT) AS bucket
    FROM embeddings e CROSS JOIN planes p
    GROUP BY e.vec_id, p.tbl
),
qb AS (
    SELECT vec_id AS query_id, tbl, bucket FROM vb WHERE vec_id IN (0, 1, 2)
),
-- candidate = collides with the query in ANY table, scored exactly once
cand AS (
    SELECT DISTINCT qb.query_id, vb.vec_id
    FROM vb JOIN qb USING (tbl, bucket)
),
scored AS (
    SELECT c.query_id, c.vec_id,
           list_cosine_similarity(e.embedding::DOUBLE[],
                                  q.embedding::DOUBLE[]) AS s
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN embeddings q ON q.vec_id = c.query_id
)
SELECT query_id, vec_id, ROUND(s, 6) AS score, CAST(rnk AS INT) AS rank
FROM (
    SELECT query_id, vec_id, s,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY s DESC, vec_id ASC
           ) AS rnk
    FROM scored
) WHERE rnk <= 10
"""


def ann_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-10 for a small query batch. HASH-CHECKED
    since round 8 (round-7 verdict ask #6): every stage of the index is
    deterministic — strided centroid sample, first-wins argmax assignment,
    (dot desc, larger-cell-first) probe policy, (score desc, id asc) top-k
    — so the whole pipeline replays as SQL in DuckDB; "approximate" means
    approximate w.r.t. brute force (the recall gate's job), not
    nondeterministic. Complements the LSH variant — data-adaptive cells,
    partition-prunable."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(emb, q, k=10, n_centroids=16, nprobe=4)


ANN_IVF_TOPK_EMBEDDINGS_ORACLE = """
WITH params AS (
    SELECT GREATEST(COUNT(*) // 16, 1) AS stride FROM embeddings
),
-- strided_sample_rows: ids 0, stride, 2*stride, ... < stride*16, by id;
-- cid = position in that order (similarity/ivf.py::sample_centroids)
cent AS (
    SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS cid,
           e.embedding::DOUBLE[] AS cv
    FROM embeddings e, params p
    WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * 16
),
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id IN (0, 1, 2)
),
-- select_probe_cells: nprobe=4 highest-dot cells, larger cid first on ties
probes AS (
    SELECT query_id, list_id, qv FROM (
        SELECT q.query_id, c.cid AS list_id, q.qv,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_inner_product(c.cv, q.qv) DESC, c.cid DESC
               ) AS pr
        FROM q CROSS JOIN cent c
    ) WHERE pr <= 4
),
-- _assign_batched: np.argmax = first-wins -> smallest cid on ties
assigned AS (
    SELECT vec_id, embedding, list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid AS list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.embedding::DOUBLE[], c.cv) DESC,
                            c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
),
scored AS (
    SELECT p.query_id, a.vec_id,
           list_cosine_similarity(a.embedding::DOUBLE[], p.qv) AS s
    FROM assigned a JOIN probes p USING (list_id)
)
SELECT query_id, vec_id, ROUND(s, 6) AS score, CAST(rnk AS INT) AS rank
FROM (
    SELECT query_id, vec_id, s,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY s DESC, vec_id ASC
           ) AS rnk
    FROM scored
) WHERE rnk <= 10
"""


def ann_pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-20 for the vec_id=0 query
    (deregistered in r10: approximate by construction, so no SQL oracle —
    the encode/ADC/rank plumbing is hash-checked by the registered
    ``ann_pq_sample_adc_topk_embeddings`` replay and recall vs brute
    force stays asserted in pytest).

    The third ANN leg beside LSH (data-independent buckets) and IVF
    (coarse cells): PQ compresses every vector to 16 one-byte subspace
    codes — a 16× scan-size reduction, which is what makes exhaustive
    *approximate* scoring affordable at corpus scale — and answers with one
    S×K lookup table per query (similarity/pq.py). Vectors are unit-norm,
    so the asymmetric inner product approximates cosine directly
    (recall@20 ≈ 0.8 vs brute force on this corpus, pinned in pytest)."""
    from data_ingestion_pipeline_spark.similarity.pq import (
        pq_encode,
        pq_topk,
        train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir, emb)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return pq_topk(pq_encode(emb, books), q, books, k=20)


_PQ_BOOKS_CACHE: dict[str, object] = {}


def _pq_codebooks(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """Codebook training is deterministic per fixture, so memoize per
    (sf_dir, file identity) — the 'train once, encode many' lifecycle a
    real index build has; a regenerated fixture invalidates the entry."""
    import os

    from data_ingestion_pipeline_spark.operators.scratch import source_stamp
    from data_ingestion_pipeline_spark.similarity.pq import train_codebooks

    key = f"{sf_dir}|{source_stamp(os.path.join(sf_dir, 'embeddings.parquet'))}"
    if key not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[key] = train_codebooks(emb)
    return _PQ_BOOKS_CACHE[key]


def ann_pq_sample_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-20 with REPLAYABLE codebooks — the hash-checked gate for
    the PQ family's plumbing (``ann_pq_topk``/``ann_ivfpq_topk`` stay
    rows-only because their Lloyd-trained codebooks would need 10 k-means
    iterations unrolled in SQL). Codebooks here are the IVF-style strided
    sample verbatim (``train_codebooks(n_iters=0)`` — first-K init, zero
    Lloyd steps), which the oracle rebuilds with the same stride CTE the
    IVF replay uses; everything downstream is the REAL production kernel:
    ``pq_encode``'s per-Arrow-batch ‖x−c‖² argmin matmul (first-wins),
    ``pq_topk``'s S×K ADC table and rank-limit. So a green hash row here
    proves encode → lookup-table → lookup-sum → (score desc, id asc) top-k
    bit-exact end to end; only the codebook TRAINING remains under the
    pytest recall pins.

    Exactness notes, each verified bitwise in a 3-SF prototype before
    registration: the encode distance is ``Σc² − 2·(x·c)`` with numpy's
    matmul matching DuckDB's list_inner_product (the LSH/IVF-promotion
    precedent), and the 8-term ADC sum replays as an EXPLICIT
    left-parenthesized addition chain — numpy sums a length-8 axis
    sequentially, and a SQL SUM() over the lookup rows would not pin that
    order. S=8 subspaces × K=16 codes (vs the Lloyd variant's 16×256) keep
    the oracle's encode CTE at corpus×128 rows."""
    from data_ingestion_pipeline_spark.similarity.pq import (
        pq_encode,
        pq_topk,
        train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Oracle precondition (one bounded aggregate on the small modality
    # table): the stride CTE assumes dense 0-based vec_ids and at least
    # n_codes=16 vectors — train_codebooks TILES a short sample, which
    # the SQL replay does not, so fail loudly instead of diverging on
    # sparse or non-zero-based id data.
    meta = emb.agg(
        F.count("*").alias("c"), F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).collect()[0]
    assert meta["c"] >= 16 and meta["lo"] == 0 and meta["hi"] == meta["c"] - 1, (
        f"sample-ADC replay needs >=16 dense 0-based vec_ids, got "
        f"count={meta['c']} range=[{meta['lo']}, {meta['hi']}]"
    )
    books = train_codebooks(
        emb, n_subspaces=8, n_codes=16, sample_size=16, n_iters=0
    )
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return pq_topk(pq_encode(emb, books), q, books, k=20)


def _pq_sample_adc_oracle(s_sub: int = 8, n_codes: int = 16, k: int = 20) -> str:
    sub = EMB_DIM // s_sub
    chain = "MAX(CASE WHEN e.s=0 THEN l.t END)"
    for s in range(1, s_sub):
        chain = f"({chain} + MAX(CASE WHEN e.s={s} THEN l.t END))"
    return f"""
WITH params AS (SELECT GREATEST(COUNT(*) // {n_codes}, 1) AS stride FROM embeddings),
-- train_codebooks(n_iters=0): the strided sample rows ARE the codewords,
-- cid = position in vec_id order (the IVF replay's cent CTE)
cent AS (
    SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS cid,
           e.embedding::DOUBLE[] AS cv
    FROM embeddings e, params p
    WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * {n_codes}
),
cw AS (
    SELECT CAST(t.s AS INT) AS s, c.cid,
           list_slice(c.cv, CAST(t.s*{sub}+1 AS INT), CAST((t.s+1)*{sub} AS INT)) AS cvec
    FROM cent c CROSS JOIN range({s_sub}) t(s)
),
cw2 AS (SELECT s, cid, cvec, list_inner_product(cvec, cvec) AS cc FROM cw),
-- pq_encode: argmin over codes of cc - 2*x.c, np.argmin first-wins = cid asc
enc AS (
    SELECT vec_id, s, cid AS code FROM (
        SELECT e.vec_id, w.s, w.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, w.s
                   ORDER BY w.cc - 2.0 * list_inner_product(
                       list_slice(e.embedding::DOUBLE[], w.s*{sub}+1, (w.s+1)*{sub}),
                       w.cvec) ASC,
                   w.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cw2 w
    ) WHERE rn = 1
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
-- pq_topk's S x K ADC table: subspace dots of the query against every code
lut AS (
    SELECT w.s, w.cid,
           list_inner_product(w.cvec, list_slice(q.qv, w.s*{sub}+1, (w.s+1)*{sub})) AS t
    FROM cw2 w CROSS JOIN q
),
-- the 8-term lookup sum as an explicit left-assoc chain (numpy axis order)
sc AS (
    SELECT e.vec_id, {chain} AS score
    FROM enc e JOIN lut l ON l.s = e.s AND l.cid = e.code
    GROUP BY e.vec_id
)
SELECT vec_id, ROUND(score, 6) AS approx_score FROM (
    SELECT vec_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rnk
    FROM sc
) WHERE rnk <= {k}
"""


ANN_PQ_SAMPLE_ADC_TOPK_EMBEDDINGS_ORACLE = _pq_sample_adc_oracle()


def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document — the cheap
    content-defined signature (vs the md5 fingerprint in text_stats)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


DOC_FINGERPRINT_ROLLING_ORACLE = r"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            WHEN length(text) > 0 THEN
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(text) + 1),
                       i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647)
       ELSE 0 END AS fingerprint
FROM documents
"""


def quality_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality gate: keep documents passing the standard filter
    thresholds (length window, lexical diversity, alphabetic ratio) — the
    composition of the text_stats signals into an actual filter, which is
    how a training-data pipeline consumes them. All codegen'd expressions;
    the filter runs pre-shuffle, so at scale rejected rows never leave
    their scan task."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    feats = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["type_token_ratio"].alias("type_token_ratio"),
        feats["alpha_ratio"].alias("alpha_ratio"),
    )
    return scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 2000)
        & (F.col("type_token_ratio") >= 0.2)
        & (F.col("alpha_ratio") >= 0.6)
    )


QUALITY_FILTER_DOCUMENTS_ORACLE = r"""
WITH t AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
    FROM documents
), scored AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 6) AS type_token_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / CAST(GREATEST(length(text), 1) AS DOUBLE), 6) AS alpha_ratio
    FROM t
)
SELECT * FROM scored
WHERE n_tokens BETWEEN 20 AND 2000
  AND type_token_ratio >= 0.2 AND alpha_ratio >= 0.6
"""


def text_hygiene_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleanup + redaction + repetition signal in one pass over a corpus
    with planted mess: every 4th doc gets HTML tags, an email, a phone
    number, and doubled-up whitespace spliced in (built identically in the
    oracle). Output: cleaned+redacted text's fingerprint (not the text —
    keeps the hash small), PII hit counts, and the bigram repetition ratio."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dirty = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit("<div class='x'>Contact bob.smith@example.com  or "
                  "+1 555-123-4567 now!</div>  "),
            F.col("text"),
        ),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", dirty.alias("dirty"))
    cleaned = staged.select(
        "doc_id",
        clean_text(F.col("dirty")).alias("cleaned"),
    )
    return cleaned.select(
        "doc_id",
        fingerprint_md5(redact_pii(F.col("cleaned"))).alias("redacted_fp"),
        F.regexp_count("cleaned", F.lit(EMAIL_PATTERN)).cast("int").alias("n_emails"),
        F.regexp_count("cleaned", F.lit(PHONE_PATTERN)).cast("int").alias("n_phones"),
        repetition_ratio(F.col("cleaned"), n=2).alias("bigram_repetition"),
    )


TEXT_HYGIENE_DOCUMENTS_ORACLE = r"""
WITH dirty AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN
               '<div class=''x''>Contact bob.smith@example.com  or '
               || '+1 555-123-4567 now!</div>  ' || text
           ELSE text END AS dirty
    FROM documents
), cleaned AS (
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(dirty, '<[^>]*>', ' ', 'g'),
                               '\s+', ' ', 'g')) AS cleaned
    FROM dirty
), toks AS (
    SELECT doc_id, cleaned, regexp_split_to_array(trim(cleaned), '\s+') AS t
    FROM cleaned
)
SELECT doc_id,
       md5(lower(regexp_replace(trim(
           regexp_replace(regexp_replace(cleaned,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{1,3}[- ]?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}', '<PHONE>', 'g')
       ), '\s+', ' ', 'g'))) AS redacted_fp,
       CAST(len(regexp_extract_all(cleaned,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(cleaned,
           '\+[0-9]{1,3}[- ]?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}')) AS INT) AS n_phones,
       ROUND(1.0 - CAST(len(list_distinct(list_transform(
               range(1, GREATEST(len(t) - 1, 1) + 1),
               i -> array_to_string(t[i:i+1], ' ')
           ))) AS DOUBLE) / CAST(GREATEST(len(t) - 1, 1) AS DOUBLE), 6)
           AS bigram_repetition
FROM toks
"""


def near_dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → groups: connected components over the exact n-gram Jaccard
    near-dup pairs on the planted corpus; each member labeled with its
    cluster's canonical (min) doc id and the survivor flag. The iterative
    min-label propagation is the non-SQL-expressible part on the Spark
    side; the oracle recomputes components with a recursive CTE over the
    same pair set (the graph is transitively closed in SQL — fine at
    fixture scale, which is exactly what oracles are for)."""
    from data_ingestion_pipeline_spark.dedup.clustering import dedup_groups

    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.4)
    return dedup_groups(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id", "keep"
    )


def near_dup_clusters_star_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components, two-phase star contraction instead of label
    propagation (dedup/clustering.py::connected_components_star): O(log n)
    alternation rounds regardless of component diameter — the fallback for
    chain-shaped dup graphs where propagation's O(diameter) degrades.
    Output contract and oracle are identical to
    ``near_dup_clusters_documents``; registering both keeps the two
    algorithms mutually pinned on the driver."""
    from data_ingestion_pipeline_spark.dedup.clustering import (
        connected_components_star,
    )

    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.4)
    cc = connected_components_star(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).cast("boolean").alias("keep"),
    )


NEAR_DUP_CLUSTERS_DOCUMENTS_ORACLE = rf"""
WITH RECURSIVE pairs AS (
    {NGRAM_JACCARD_DOCUMENTS_ORACLE}
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
)
SELECT node AS doc_id, MIN(other) AS cluster_id,
       (node = MIN(other)) AS keep
FROM reach GROUP BY node
"""


NEAR_DUP_CLUSTERS_STAR_DOCUMENTS_ORACLE = NEAR_DUP_CLUSTERS_DOCUMENTS_ORACLE


def leakage_safe_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: every document is assigned by
    md5(CLUSTER root), not md5(doc_id), so a near-duplicate pair can never
    straddle train and test — the eval-contamination hole a plain
    per-document split leaves open even AFTER deduplication (survivors of
    distinct-but-similar documents still leak evaluation content; cf. the
    train-test overlap analyses in Lee et al. 2021 §6 and GPT-3 App. C).
    Composition of the repo's two certified pieces: connected components
    over the exact-Jaccard near-dup graph (star contraction, O(log n)
    rounds — dedup/clustering.py) and the stable md5 80/10/10 split
    (``train_val_test_split_documents``). Singleton documents (no
    near-dup edge) are their own root, so the whole corpus is covered and
    a doc's split never changes when unrelated docs arrive.

    Scale shape: the pair graph is banded/thresholded (never all-pairs),
    contraction is O(log n) bounded-degree rounds, the root join is one
    keyed equi-join, and the split itself is a map-side expression."""
    from data_ingestion_pipeline_spark.dedup.clustering import (
        connected_components_star,
    )

    aug = _near_dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.4)
    cc = connected_components_star(pairs)
    assigned = (
        aug.select("doc_id")
        .join(
            cc.select(F.col("node").alias("doc_id"), "cluster_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_root")
        )
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("cluster_root").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise("test")
    )
    return assigned.select("doc_id", "cluster_root", split.alias("split"))


LEAKAGE_SAFE_SPLIT_DOCUMENTS_ORACLE = rf"""
WITH RECURSIVE pairs AS MATERIALIZED (
    {NGRAM_JACCARD_DOCUMENTS_ORACLE}
), edges AS MATERIALIZED (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), nodes AS (
    SELECT DISTINCT u AS node FROM edges
), reach(node, other) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.other
), cc AS (
    SELECT node AS doc_id, MIN(other) AS cluster_id FROM reach GROUP BY node
), aug AS (
    SELECT doc_id FROM documents
    UNION ALL
    SELECT doc_id + 1000000 FROM documents WHERE doc_id % 20 = 0
), assigned AS (
    SELECT a.doc_id, COALESCE(cc.cluster_id, a.doc_id) AS cluster_root
    FROM aug a LEFT JOIN cc ON cc.doc_id = a.doc_id
)
SELECT doc_id, cluster_root,
       CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END
           AS split
FROM (
    SELECT doc_id, cluster_root,
           ('0x' || substr(md5(cluster_root::VARCHAR), 1, 6))::BIGINT % 100 AS h
    FROM assigned
)
"""


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: every 5th document per language
    stratum in doc_id order (row_number % k). Unlike rand()-based sampling
    this is reproducible across engines, runs, and partitionings — the
    property a training-data pipeline needs for auditable subsets. One
    shuffle (the per-stratum window)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 5 == 0)
        .select("doc_id", "lang", F.col("rn").cast("int").alias("stratum_rank"))
    )


STRATIFIED_SAMPLE_DOCUMENTS_ORACLE = """
WITH ranked AS (
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS INT)
               AS stratum_rank
    FROM documents
)
SELECT doc_id, lang, stratum_rank FROM ranked WHERE (stratum_rank - 1) % 5 = 0
"""


def ann_ivf_exhaustive_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe = n_centroids: every inverted list is probed, so the
    result must EQUAL brute force — which makes the whole IVF plumbing
    (centroid sampling, batched assignment, probe join, ranking) provable
    against the brute-force SQL oracle. The pruned (nprobe=4) variant stays
    registered rows-only as the scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(emb, q, k=10, n_centroids=16, nprobe=16)


ANN_IVF_EXHAUSTIVE_TOPK_EMBEDDINGS_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
)
SELECT query_id, vec_id, ROUND(score, 6) AS score, CAST(rnk AS INT) AS rank
FROM (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS score,
         ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                      e.vec_id
         ) AS rnk
  FROM embeddings e CROSS JOIN q
) WHERE rnk <= 10
"""


def _recall_gate(
    ann: DataFrame, brute: DataFrame, k: int, floor: float
) -> DataFrame:
    """Per-query recall@k of ``ann`` against the in-plan exhaustive
    ``brute`` top-k, emitted as a threshold boolean.

    The boolean (not the raw recall value) is the published column: the
    floor is set with margin below measured recall, so the driver row is
    stable across fixture regenerations yet flips red the moment a
    structural regression (broken banding/probing/encoding) sends recall
    toward zero. Both inputs carry (query_id, vec_id); the brute side is
    ~queries·k rows, so the overlap join broadcasts.

    Both inputs are PINNED (EAGER localCheckpoint): Spark plans duplicate
    subtrees per reference and exchange-reuse does not fire across these
    shapes (measured r11: the brute top-k subtree — a full corpus scoring
    pass — appeared twice per gate, the ANN pipeline once more in the
    anti/hit branches; plan showed 16-60 parquet scans per gate, 0
    ReusedExchange). Pinning the ≤ queries·k-row results computes each
    pipeline exactly once; values are unchanged. Eager (r12): the gate's
    single action reads both pins through 2-3 concurrent branches, and a
    lazily-pinned RDD does not dedupe concurrent readers inside its own
    materializing job ("Block already exists" duplicate compute) — eager
    materializes each pipeline once, with full parallelism, before the
    branches fan out."""
    ann = ann.localCheckpoint()
    brute = brute.localCheckpoint()
    hits = (
        ann.join(brute.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).cast("int").alias("k"),
            (F.coalesce(F.col("_hits"), F.lit(0)) / k >= floor).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


def _ann_query_batch(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _ann_recall_oracle(k: int, query_ids: str = "(0, 1, 2)") -> str:
    """Oracle for the recall gates: the expected rows are fully
    data-derived (query ids from the fixture, constant k, literal TRUE), so
    the check survives fixture regeneration — no pinned measured values."""
    return f"""
    SELECT CAST(vec_id AS BIGINT) AS query_id, CAST({k} AS INT) AS k,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id IN {query_ids}
    """


def ann_lsh_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading recall gate for the multi-table LSH ANN: recall@10 vs
    the in-plan brute-force top-10 must clear 0.5 per query (measured
    ≥ 0.8 across sf0.001–0.1 at 16 tables × 4 planes)."""
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    ann = ann_topk_multitable(
        emb, q, k=10, n_tables=16, planes_per_table=4, dim=EMB_DIM
    )
    brute = topk_cosine_batch(emb, q, k=10)
    return _recall_gate(ann, brute, k=10, floor=0.5)


ANN_LSH_RECALL_EMBEDDINGS_ORACLE = _ann_recall_oracle(10)


def ann_ivf_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading recall gate for pruned IVF (nprobe=4 of 16 lists):
    recall@10 vs in-plan brute force must clear 0.3 per query (measured
    0.5–1.0 across sf0.001–0.1; a broken centroid assignment or probe join
    drops it to ~0.1 — the query's own list only)."""
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    ann = ivf_topk(emb, q, k=10, n_centroids=16, nprobe=4)
    brute = topk_cosine_batch(emb, q, k=10)
    return _recall_gate(ann, brute, k=10, floor=0.3)


ANN_IVF_RECALL_EMBEDDINGS_ORACLE = _ann_recall_oracle(10)


def ann_pq_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading recall gate for PQ-ADC: recall@20 for the vec_id=0
    query vs in-plan exact top-20 must clear 0.5 (measured 0.70–0.80
    across sf0.001–0.1; a corrupted codebook or code layout collapses the
    overlap to near-random ≈ 20/N)."""
    from data_ingestion_pipeline_spark.similarity.pq import pq_encode, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir, emb)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ann = pq_topk(pq_encode(emb, books), qvec, books, k=20).select(
        F.lit(0).cast("long").alias("query_id"), "vec_id"
    )
    # query_id from the COLUMN, not a literal: a foldable constant would
    # fold out of downstream window partition keys (see topk_cosine_batch)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
    )

    brute = topk_cosine_batch(emb, q, k=20)
    return _recall_gate(ann, brute, k=20, floor=0.5)


ANN_PQ_RECALL_EMBEDDINGS_ORACLE = _ann_recall_oracle(20, "(0)")


_IVFPQ_MODEL_CACHE: dict[str, object] = {}


def _ivfpq_model(sf_dir: str, emb: DataFrame):
    """Coarse centroids + residual codebooks are deterministic per fixture
    — memoize per (sf_dir, file identity), the 'train once, serve many'
    index lifecycle (same policy as ``_pq_codebooks``)."""
    import os

    from data_ingestion_pipeline_spark.operators.scratch import source_stamp
    from data_ingestion_pipeline_spark.similarity.ivfpq import train_ivfpq

    key = f"{sf_dir}|{source_stamp(os.path.join(sf_dir, 'embeddings.parquet'))}"
    if key not in _IVFPQ_MODEL_CACHE:
        _IVFPQ_MODEL_CACHE[key] = train_ivfpq(emb)
    return _IVFPQ_MODEL_CACHE[key]


def ann_ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVF-ADC + exact refine) approximate top-10 for a small
    query batch (rows-only: approximate by construction; recall gated by
    ``ann_ivfpq_recall_embeddings``). Not a registered query: its
    Lloyd-trained codebooks (10 numpy k-means iterations, pairwise-summation
    means) are not bitwise-replayable in SQL, and every downstream stage is
    hash-checked by ``ann_ivfpq_sample_adc_topk_embeddings``,
    ``ann_ivf_topk_embeddings`` (routing) and
    ``ann_pq_sample_adc_topk_embeddings`` (flat-PQ ADC).

    The composed billion-scale index (similarity/ivfpq.py): coarse cells
    prune candidates to ~N·nprobe/C, product-quantized residuals score
    them as S table lookups, and the ADC top-100 shortlist re-scores
    against full vectors (FAISS refine) — on this near-uniform corpus the
    refine step is what keeps recall at the IVF cell ceiling (~0.4-1.0 vs
    0.1-0.5 ADC-only, measured sf0.001-0.1)."""
    from data_ingestion_pipeline_spark.similarity.ivfpq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    return ivfpq_topk(
        emb, q, k=10, n_centroids=16, nprobe=4, model=_ivfpq_model(sf_dir, emb)
    )


def ann_ivfpq_sample_adc_topk_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ end to end, hash-checked: the COMPOSED pipeline (coarse-cell
    routing → residual PQ encode → per-query ADC over the probed cells →
    rerank-50 shortlist → exact-cosine refine → top-10) with a
    sample-deterministic model so the whole thing replays in DuckDB — the
    `ann_pq_sample_adc` promotion pattern applied to the composition, which
    was the registry's last rows-only-gated family. Model: 16 strided
    coarse centroids (the IVF replay's cent CTE), residual codebooks =
    `train_ivfpq(sample_size=48, n_iters=0)` — the first 16 residuals of a
    48-row strided sample under S=8×K=16 (first-K init, zero Lloyd steps;
    48 ≠ 16 matters: a 16-row sample would coincide with the centroids and
    train all-zero residual books). Everything downstream is the REAL
    production kernel: `ivfpq_encode`'s per-Arrow-batch assign/residual/
    encode matmuls, `ivfpq_topk`'s probe-table broadcast, ADC gather,
    shortlist and refine. Only codebook TRAINING (the Lloyd iterations)
    stays under the pytest recall pins — same split as the PQ sibling.

    Exactness, each verified bitwise in a 2-SF prototype before wiring
    (.proto/ivfpq_replay.py protocol): residuals replay as elementwise
    list_transform subtraction THEN list_inner_product (linearity
    expansion of the dots would re-round differently); the 8-term ADC sum
    is an explicit left-assoc chain (numpy sums the short axis
    sequentially); probe-cell ties break (dot DESC, cid DESC) =
    select_probe_cells' (-s, -i), while assignment/encode argmax/argmin
    break first-wins (cid ASC). Scale shape: the oracle (and the plan)
    score only PROBED-cell vectors — candidates ∝ nprobe/C of the corpus,
    codes are S bytes/vector, the refine touches queries·rerank rows.

    Precondition (asserted): dense 0-based vec_ids, ≥ 48 vectors — the
    stride CTEs and the operator must pick identical samples."""
    from data_ingestion_pipeline_spark.similarity.ivfpq import (
        ivfpq_topk,
        train_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    meta = emb.agg(
        F.count("*").alias("c"), F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).collect()[0]
    assert meta["c"] >= 48 and meta["lo"] == 0 and meta["hi"] == meta["c"] - 1, (
        f"ivfpq sample-ADC replay needs >=48 dense 0-based vec_ids, got "
        f"count={meta['c']} range=[{meta['lo']}, {meta['hi']}]"
    )
    model = train_ivfpq(
        emb, n_centroids=16, n_subspaces=8, n_codes=16, sample_size=48, n_iters=0
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivfpq_topk(
        emb, q, k=10, n_centroids=16, nprobe=4, n_subspaces=8, n_codes=16,
        rerank=50, model=model,
    )


def _ivfpq_sample_adc_oracle(
    s_sub: int = 8, n_codes: int = 16, n_cents: int = 16, nprobe: int = 4,
    sample: int = 48, rerank: int = 50, k: int = 10,
) -> str:
    sub = EMB_DIM // s_sub
    chain = "MAX(CASE WHEN l.s=0 THEN l.t END)"
    for s in range(1, s_sub):
        chain = f"({chain} + MAX(CASE WHEN l.s={s} THEN l.t END))"
    return f"""
WITH params AS (SELECT COUNT(*) AS n FROM embeddings),
cent AS MATERIALIZED (
    SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS cid,
           e.embedding::DOUBLE[] AS cv
    FROM embeddings e, params p
    WHERE e.vec_id % GREATEST(p.n // {n_cents}, 1) = 0
      AND e.vec_id < GREATEST(p.n // {n_cents}, 1) * {n_cents}
),
samp AS MATERIALIZED (
    SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS sid,
           e.embedding::DOUBLE[] AS sv
    FROM embeddings e, params p
    WHERE e.vec_id % GREATEST(p.n // {sample}, 1) = 0
      AND e.vec_id < GREATEST(p.n // {sample}, 1) * {sample}
),
-- train_ivfpq: residual sample rows assign to their nearest centroid
-- (argmax dot, np first-wins = cid ASC)
samp_assign AS MATERIALIZED (
    SELECT sid, sv, cid, cv FROM (
        SELECT s.sid, s.sv, c.cid, c.cv,
               ROW_NUMBER() OVER (PARTITION BY s.sid
                   ORDER BY list_inner_product(s.sv, c.cv) DESC, c.cid ASC) AS rn
        FROM samp s CROSS JOIN cent c
    ) WHERE rn = 1
),
-- n_iters=0 books: the first {n_codes} residuals, sliced per subspace.
-- Elementwise subtract THEN slice/dot — the numpy op order; a linearity
-- expansion of the dots would round differently.
cw2 AS MATERIALIZED (
    SELECT CAST(t.s AS INT) AS s, a.sid AS code,
           list_slice(list_transform(range(1, {EMB_DIM + 1}), i -> a.sv[i] - a.cv[i]),
                      CAST(t.s*{sub}+1 AS INT), CAST((t.s+1)*{sub} AS INT)) AS wslice
    FROM samp_assign a CROSS JOIN range({s_sub}) t(s)
    WHERE a.sid < {n_codes}
),
cw3 AS MATERIALIZED (
    SELECT s, code, wslice, list_inner_product(wslice, wslice) AS ww FROM cw2
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
-- select_probe_cells: top-nprobe by q-dot, ties LARGER cid first ((-s,-i))
probe AS MATERIALIZED (
    SELECT cid, q_dot_c FROM (
        SELECT c.cid, list_inner_product(c.cv, q.qv) AS q_dot_c,
               ROW_NUMBER() OVER (
                   ORDER BY list_inner_product(c.cv, q.qv) DESC, c.cid DESC) AS rn
        FROM cent c CROSS JOIN q
    ) WHERE rn <= {nprobe}
),
-- ivfpq_encode's cell assignment, kept only where the query probes
assigned AS MATERIALIZED (
    SELECT a.vec_id, a.v, a.cv, p.q_dot_c FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid, c.cv,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.embedding::DOUBLE[], c.cv) DESC,
                            c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) a JOIN probe p USING (cid)
    WHERE a.rn = 1
),
res AS MATERIALIZED (
    SELECT vec_id, q_dot_c,
           list_transform(range(1, {EMB_DIM + 1}), i -> v[i] - cv[i]) AS rv
    FROM assigned
),
-- residual encode: argmin over codes of ww - 2*(r_s . w), first-wins
enc AS MATERIALIZED (
    SELECT vec_id, q_dot_c, s, code FROM (
        SELECT r.vec_id, r.q_dot_c, w.s, w.code,
               ROW_NUMBER() OVER (PARTITION BY r.vec_id, w.s
                   ORDER BY w.ww - 2.0 * list_inner_product(
                       list_slice(r.rv, CAST(w.s*{sub}+1 AS INT),
                                  CAST((w.s+1)*{sub} AS INT)),
                       w.wslice) ASC,
                   w.code ASC) AS rn
        FROM res r CROSS JOIN cw3 w
    ) WHERE rn = 1
),
-- ivfpq_topk's per-query ADC table: FULL query slices against the
-- residual books (q.v-hat = q.c + q.r-hat; the table is cell-independent)
lut AS MATERIALIZED (
    SELECT w.s, w.code,
           list_inner_product(w.wslice,
               list_slice(q.qv, CAST(w.s*{sub}+1 AS INT),
                          CAST((w.s+1)*{sub} AS INT))) AS t
    FROM cw3 w CROSS JOIN q
),
-- approx score: q_dot_c + the {s_sub}-term left-assoc ADC chain
sc AS MATERIALIZED (
    SELECT e.vec_id, e.q_dot_c + ({chain}) AS approx
    FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
    GROUP BY e.vec_id, e.q_dot_c
),
short AS MATERIALIZED (
    SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY approx DESC, vec_id ASC) AS rnk
        FROM sc
    ) WHERE rnk <= {rerank}
),
refined AS (
    SELECT e.vec_id,
           list_inner_product(e.embedding::DOUBLE[], q.qv)
             / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_inner_product(q.qv, q.qv))) AS score
    FROM embeddings e JOIN short s USING (vec_id) CROSS JOIN q
)
SELECT CAST(0 AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(ROUND(score, 6) AS DOUBLE) AS score, CAST(rnk AS INT) AS rank
FROM (
    SELECT vec_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rnk
    FROM refined
) WHERE rnk <= {k}
"""


ANN_IVFPQ_SAMPLE_ADC_TOPK_EMBEDDINGS_ORACLE = _ivfpq_sample_adc_oracle()


def ann_ivfpq_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading recall gate for IVF-PQ with refine: recall@10 vs the
    in-plan brute-force top-10 must clear 0.3 per query (measured 0.4-1.0
    across sf0.001-0.1 — the IVF cell ceiling; a corrupted codebook,
    broken residual layout, or lost refine join sends it to ~0.1)."""
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
    )
    from data_ingestion_pipeline_spark.similarity.ivfpq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    ann = ivfpq_topk(
        emb, q, k=10, n_centroids=16, nprobe=4, model=_ivfpq_model(sf_dir, emb)
    )
    brute = topk_cosine_batch(emb, q, k=10)
    return _recall_gate(ann, brute, k=10, floor=0.3)


ANN_IVFPQ_RECALL_EMBEDDINGS_ORACLE = _ann_recall_oracle(10)


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props payload column."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


def variant_shred_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over Spark 4's VARIANT type: the props
    JSON parses ONCE into the binary variant encoding (``parse_json``) and
    typed paths shred out with ``variant_get`` — repeated path access reads
    the binary form instead of re-parsing text, which is the point at
    scale (get_json_object re-parses the string per extraction;
    ``json_extract_events`` keeps that baseline registered). Aggregates
    per k-decade so the check exercises extraction + downstream grouping."""
    events = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        events.select((k - k % 10).alias("k_decade"), k.alias("_k"))
        .groupBy("k_decade")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("_k").alias("k_min"),
            F.max("_k").alias("k_max"),
        )
    )


VARIANT_SHRED_EVENTS_ORACLE = """
WITH shred AS (SELECT CAST(props->>'k' AS BIGINT) AS k FROM events)
SELECT k - k % 10 AS k_decade,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(k) AS k_min,
       MAX(k) AS k_max
FROM shred GROUP BY 1
"""


JSON_EXTRACT_EVENTS_ORACLE = """
SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_value FROM events
"""


def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID per document. The script-range + stopword-vote
    rule tables live once in functions/text.py and the DuckDB oracle below
    is GENERATED from them, so both engines evaluate the identical ruleset
    — no transcription drift. (Real multilingual samples additionally
    exercise the script branches in pytest; the fixture corpus itself is
    latin word soup, so those branches must fire 0 on both engines.)"""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


def _lang_id_oracle() -> str:
    """DuckDB SQL generated from functions/text.py's rule tables: same
    script thresholds, same stopword sets, same first-entry-wins tie-break
    (the Spark expression's nested CASE resolves ties to the FIRST dict
    entry with the max vote; CASE order below replicates that)."""
    from data_ingestion_pipeline_spark.functions.text import (
        _SCRIPT_RULES,
        _STOPWORDS,
    )

    vote_exprs = ",\n           ".join(
        "len(list_intersect(toks, [{}])) AS v_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in _STOPWORDS.items()
    )
    script_cases = "\n        ".join(
        "WHEN CAST(len(regexp_extract_all(text, '{}')) AS DOUBLE) / n_chars > {}"
        " THEN '{}'".format(pattern, threshold, lang)
        for lang, pattern, threshold in _SCRIPT_RULES
    )
    langs = list(_STOPWORDS)
    best = "GREATEST({})".format(", ".join(f"v_{lang}" for lang in langs))
    tie_cases = "\n                 ".join(
        f"WHEN v_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return rf"""
WITH t AS (
    SELECT doc_id, lang, text,
           GREATEST(length(text), 1) AS n_chars,
           list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
    FROM documents
), votes AS (
    SELECT doc_id, lang, text, n_chars,
           {vote_exprs}
    FROM t
)
SELECT doc_id, lang,
    CASE
        {script_cases}
        WHEN {best} > 0 THEN
            CASE {tie_cases}
            END
        ELSE 'und'
    END AS lang_pred
FROM votes
"""


LANG_ID_DOCUMENTS_ORACLE = _lang_id_oracle()


def doc_tokens_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral flatten: one row per token with its position (posexplode) —
    the table-generating shape every token-level pipeline starts from.
    Stays JVM-side: split + posexplode are codegen'd, no Python in the
    per-token path. Positions index the raw split (empties filtered after),
    so token_idx is stable under tokenizer changes that only drop tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("token_idx", "token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", F.col("token_idx").cast("int").alias("token_idx"), "token")
    )


DOC_TOKENS_EXPLODED_ORACLE = r"""
SELECT doc_id, CAST(idx AS INT) AS token_idx, token
FROM (
  SELECT doc_id,
         unnest(range(len(regexp_split_to_array(text, '\s+')))) AS idx,
         unnest(regexp_split_to_array(text, '\s+')) AS token
  FROM documents
) WHERE token <> ''
"""


# Top-k cut shared by the builder and its oracle text — a caller-tunable k
# would silently diverge from the registered oracle (the registry always ran
# the default), so the cut is a single module constant instead of a parameter.
TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per document, top-k terms: the classic relevance weighting as
    three aggregates over the exploded token table — tf per (doc, term), df
    per term, idf = ln((N+1)/(df+1)) — then a ranking window per doc. All
    shuffles key on doc or term; the df relation (one row per distinct
    term) broadcasts back onto tf. No UDF anywhere."""
    tokens = doc_tokens_exploded(spark, sf_dir).select("doc_id", "token")
    n_docs = load_table(spark, sf_dir, "documents").count()
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
    )


TFIDF_TOP_TERMS_ORACLE = rf"""
WITH tokens AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tokens WHERE token <> ''
  GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, token, tfidf, CAST(term_rank AS INT) AS term_rank FROM (
  SELECT tf.doc_id, tf.token,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf,
         ROW_NUMBER() OVER (
             PARTITION BY tf.doc_id
             ORDER BY ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) DESC,
                      tf.token ASC
         ) AS term_rank
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
) WHERE term_rank <= {TFIDF_TOP_K}
"""


def curation_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    pipeline actually runs, as ONE lazy plan: exact dedup (min-id survivor
    per fingerprint, planted copies collapse onto originals) → quality gate
    (length window, lexical diversity, alphabetic ratio) → deterministic
    ~80% sample keyed on md5(doc_id) so the subset is stable across runs
    and engines. Catalyst pipelines all three into two stages: the
    fingerprint groupBy is the only shuffle; the gate and sample run
    map-side on survivors."""
    aug = _augmented_docs(load_table(spark, sf_dir, "documents"))
    survivor = (
        aug.select(fingerprint_md5(F.col("text")).alias("fingerprint"), "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.min(F.struct("doc_id", "text")).alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.text").alias("text"))
    )
    feats = quality_features(F.col("text"))
    scored = survivor.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["type_token_ratio"].alias("type_token_ratio"),
        feats["alpha_ratio"].alias("alpha_ratio"),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 2000)
        & (F.col("type_token_ratio") >= 0.2)
        & (F.col("alpha_ratio") >= 0.6)
    )
    sample_byte = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    return gated.filter(sample_byte < 205)


CURATION_PIPELINE_DOCUMENTS_ORACLE = r"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
), survivor AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
            ORDER BY doc_id
        ) AS rn FROM aug
    ) WHERE rn = 1
), scored AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
                 / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6)
               AS type_token_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / CAST(GREATEST(length(text), 1) AS DOUBLE), 6) AS alpha_ratio,
           (CAST(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) * 16
            + CAST(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS INT))
               AS sample_byte
    FROM survivor
)
SELECT doc_id, n_tokens, type_token_ratio, alpha_ratio
FROM scored
WHERE n_tokens BETWEEN 20 AND 2000
  AND type_token_ratio >= 0.2 AND alpha_ratio >= 0.6
  AND sample_byte < 205
"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document split into 32-token chunks
    with 8-token overlap (stride 24) — the standard training-data prep for
    bounded-context models. Entirely JVM-side: sequence() builds the chunk
    starts, posexplode fans them out, slice() cuts each window from the
    one tokenization. Rows carry the chunk's md5 (not its text) so the
    result stays narrow. Every document yields at least one chunk."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    size, overlap = 32, 8
    stride = size - overlap
    tok = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", tok.alias("_tok"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_tok") - overlap, F.lit(1)),
        F.lit(stride),
    )
    chunk_tok = F.slice(F.col("_tok"), F.col("chunk_start"), size)
    return (
        base.select(
            "doc_id",
            F.posexplode(starts).alias("chunk_idx", "chunk_start"),
            "_tok",
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.size(chunk_tok).cast("int").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk_tok)).alias("chunk_md5"),
        )
    )


CHUNK_DOCUMENTS_ORACLE = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
    FROM documents
), s AS (
    SELECT doc_id, toks,
           unnest(range(0, len(range(1, GREATEST(len(toks) - 8, 1) + 1, 24))))
               AS chunk_idx,
           unnest(range(1, GREATEST(len(toks) - 8, 1) + 1, 24)) AS chunk_start
    FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_start AS INT) AS chunk_start,
       CAST(len(toks[chunk_start:chunk_start + 31]) AS INT) AS n_chunk_tokens,
       md5(array_to_string(toks[chunk_start:chunk_start + 31], ' ')) AS chunk_md5
FROM s
"""


def pack_documents_context_windows(
    spark: SparkSession, sf_dir: str, budget_tokens: int = 2048
) -> DataFrame:
    """Training-batch assembly: assign documents to context-window packs by
    a running token budget per source — the deterministic sequential-fill
    form of sample packing (a doc goes to the pack its running-total start
    offset falls in; doc order pinned by doc_id). One window shuffle keyed
    on source; token counting stays in codegen. At corpus scale the
    partition key is (source, day-bucket) so no single source funnels
    through one task."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = F.sum(n_tok).over(w)
    return docs.select(
        "source",
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        F.floor((running - n_tok) / budget_tokens).cast("int").alias("pack_id"),
    )


PACK_DOCUMENTS_CONTEXT_WINDOWS_ORACLE = r"""
SELECT source, doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(FLOOR(
           (SUM(len(regexp_split_to_array(trim(text), '\s+'))) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - len(regexp_split_to_array(trim(text), '\s+'))) / 2048.0
       ) AS INT) AS pack_id
FROM documents
"""


def corpus_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: each source tier gets a sampling rate
    (pretraining mixtures up/down-weight sources) and membership is decided
    by a deterministic hash byte of doc_id — the same subset on every run,
    every engine, every cluster size. Pure map-side filter: no shuffle, no
    RNG state, trivially resumable."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_replace("source", "[^0-9]", "").cast("int")
    rate_byte = (
        F.when(src_num % 4 == 0, 230)  # ~0.9
        .when(src_num % 4 == 1, 128)   # ~0.5
        .when(src_num % 4 == 2, 64)    # ~0.25
        .otherwise(26)                 # ~0.1
    )
    hash_byte = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            rate_byte.cast("int").alias("rate_byte"),
        )
        .filter(hash_byte < F.col("rate_byte"))
    )


CORPUS_MIXTURE_DOCUMENTS_ORACLE = """
SELECT doc_id, source, lang,
       CAST(CASE CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 4
            WHEN 0 THEN 230 WHEN 1 THEN 128 WHEN 2 THEN 64 ELSE 26 END AS INT)
           AS rate_byte
FROM documents
WHERE (CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) * 16
       + CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS INT))
      < CASE CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 4
        WHEN 0 THEN 230 WHEN 1 THEN 128 WHEN 2 THEN 64 ELSE 26 END
"""


def incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) near-dup detection: the corpus splits
    into an EXISTING snapshot (doc_id % 5 ≠ 0) and an INCOMING delta
    (doc_id % 5 = 0, plus planted 80%-prefix copies of existing docs with
    doc_id % 20 = 1, ids +1_000_000 — true cross-set near-dups at J≈0.8).
    Incoming minhash bands probe only the existing side's band index
    (``dedup/minhash.py::minhash_incremental_pairs``), then candidates
    verify with exact Jaccard ≥ 0.7 — the shape a daily ingest runs
    against yesterday's corpus without re-clustering it. NEAR-complete
    banding (miss p ≈ 2e-5 per true pair at J = 0.7, dedup/minhash.py) ⇒
    the oracle is the exact cross-set J ≥ 0.7 relation at this scale;
    the probabilistic residual is gated by the oracle-green recall
    sibling ``minhash_scale_recall_documents``."""
    from data_ingestion_pipeline_spark.dedup.minhash import (
        minhash_incremental_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = F.split(F.trim(F.col("text")), r"\s+")
    prefix_len = F.greatest(F.ceil(F.size(tok) * 0.8).cast("int"), F.lit(1))
    planted = docs.filter(F.col("doc_id") % 20 == 1).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(tok, F.lit(1), prefix_len)).alias("text"),
    )
    incoming = docs.filter(F.col("doc_id") % 5 == 0).unionByName(planted)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return minhash_incremental_pairs(
        incoming, existing, "text", "doc_id", threshold=0.7
    )


INCREMENTAL_DEDUP_DOCUMENTS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), inc AS (
    SELECT doc_id, toks FROM base WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 1
), ex AS (
    SELECT doc_id, toks FROM base WHERE doc_id % 5 <> 0
), sets_in AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM inc
), sets_ex AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM ex
), einc AS (
    SELECT doc_id, unnest(sset) AS shingle FROM sets_in
), eex AS (
    SELECT doc_id, unnest(sset) AS shingle FROM sets_ex
), inter AS (
    SELECT a.doc_id AS inc_id, b.doc_id AS ex_id, COUNT(*) AS n_common
    FROM einc a JOIN eex b USING (shingle)
    GROUP BY 1, 2
)
SELECT inc_id, ex_id,
       ROUND(CAST(n_common AS DOUBLE) /
             CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN (SELECT doc_id, len(sset) AS sz FROM sets_in) sa ON sa.doc_id = inc_id
JOIN (SELECT doc_id, len(sset) AS sz FROM sets_ex) sb ON sb.doc_id = ex_id
WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.7
"""


def curation_waterfall_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage waterfall of the curation pipeline — the
    observability view every data team puts next to the pipeline itself:
    how many documents enter, survive dedup, pass the quality gate, and
    land in the deterministic sample. Rules are IDENTICAL to
    ``curation_pipeline_documents`` (and its oracle) — change together.
    Four 1-row aggregates over one shared lineage; within the single
    action the fingerprint shuffle executes once and the later stages'
    counts reuse it."""
    aug = _augmented_docs(load_table(spark, sf_dir, "documents"))
    survivor = (
        aug.select(fingerprint_md5(F.col("text")).alias("fingerprint"), "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.min(F.struct("doc_id", "text")).alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.text").alias("text"))
    )
    feats = quality_features(F.col("text"))
    scored = survivor.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["type_token_ratio"].alias("type_token_ratio"),
        feats["alpha_ratio"].alias("alpha_ratio"),
    )
    gated = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 2000)
        & (F.col("type_token_ratio") >= 0.2)
        & (F.col("alpha_ratio") >= 0.6)
    )
    sample_byte = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    sampled = gated.filter(sample_byte < 205)

    def stage(order: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_docs")).select(
            F.lit(order).cast("int").alias("stage_order"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    return (
        stage(1, "raw", aug)
        .unionByName(stage(2, "dedup", survivor))
        .unionByName(stage(3, "quality", gated))
        .unionByName(stage(4, "sample", sampled))
    )


CURATION_WATERFALL_DOCUMENTS_ORACLE = r"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
), survivor AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
            ORDER BY doc_id
        ) AS rn FROM aug
    ) WHERE rn = 1
), scored AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
                 / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6)
               AS type_token_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / CAST(GREATEST(length(text), 1) AS DOUBLE), 6) AS alpha_ratio,
           (CAST(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) * 16
            + CAST(strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS INT))
               AS sample_byte
    FROM survivor
), gated AS (
    SELECT * FROM scored
    WHERE n_tokens BETWEEN 20 AND 2000
      AND type_token_ratio >= 0.2 AND alpha_ratio >= 0.6
)
SELECT CAST(1 AS INT) AS stage_order, 'raw' AS stage,
       CAST((SELECT COUNT(*) FROM aug) AS BIGINT) AS n_docs
UNION ALL
SELECT 2, 'dedup', CAST((SELECT COUNT(*) FROM survivor) AS BIGINT)
UNION ALL
SELECT 3, 'quality', CAST((SELECT COUNT(*) FROM gated) AS BIGINT)
UNION ALL
SELECT 4, 'sample',
       CAST((SELECT COUNT(*) FROM gated WHERE sample_byte < 205) AS BIGINT)
"""


def ngram_novelty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in doc_id ingest order), the
    fraction of its distinct shingles that no earlier document contains —
    the diversity signal that flattens when a crawl starts re-reading
    itself. First-introducer is a single groupBy-min over the exploded
    shingle table (the same relation the dedup stack already builds);
    fractions are bigint ratios rounded on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    sets = shingle_sets(docs, "text", "doc_id", 3)
    exploded = sets.select(
        "doc_id", F.explode_outer("sset").alias("sh")
    ).filter(F.col("sh").isNotNull())
    first = exploded.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        exploded.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
                6,
            )
            .cast("double")
            .alias("novelty"),
        )
    )


NGRAM_NOVELTY_DOCUMENTS_ORACLE = r"""
WITH sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(regexp_split_to_array(trim(text), '\s+')) - 2, 1) + 1),
               i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
           )) AS sset
    FROM documents
), exploded AS (
    SELECT doc_id, unnest(sset) AS sh FROM sets
), first AS (
    SELECT sh, MIN(doc_id) AS first_doc FROM exploded GROUP BY sh
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(CASE WHEN f.first_doc = e.doc_id THEN 1 END) AS BIGINT) AS n_novel,
       CAST(ROUND(CAST(COUNT(CASE WHEN f.first_doc = e.doc_id THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS novelty
FROM exploded e JOIN first f USING (sh)
GROUP BY e.doc_id
"""


def language_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing plan: given a uniform per-language target, the
    downsample-only rates that reach the closest achievable mixture (the
    scarcest language pins the total — no upsampling). Pure aggregate
    algebra over the per-language counts: scale = min_l(n_l · k), kept_l =
    scale / k, rate_l = kept_l / n_l — all exact bigint-derived doubles.
    The plan TABLE is the operator here; applying it is the existing
    deterministic hash-gate (``corpus_mixture_documents``)."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    w = Window.partitionBy()
    k = F.count("*").over(w).cast("double")
    min_n = F.min("n_docs").over(w).cast("double")
    kept = min_n  # uniform target: every language keeps min_l(n_l) docs
    rate = kept / F.col("n_docs").cast("double")
    return per_lang.select(
        "lang",
        "n_docs",
        F.round(rate, 6).cast("double").alias("sample_rate"),
        F.round(F.lit(1.0) / k, 6).cast("double").alias("target_share"),
        min_n.cast("bigint").alias("n_keep"),
    )


LANGUAGE_REBALANCE_PLAN_ORACLE = """
WITH per_lang AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       CAST(ROUND(CAST(MIN(n_docs) OVER () AS DOUBLE)
                  / CAST(n_docs AS DOUBLE), 6) AS DOUBLE) AS sample_rate,
       CAST(ROUND(1.0 / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS DOUBLE)
           AS target_share,
       CAST(MIN(n_docs) OVER () AS BIGINT) AS n_keep
FROM per_lang
"""


def epoch_reshuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic reshuffle: the shard-shuffle construction
    (``shard_shuffle_documents``) salted with the epoch number, for epochs
    0 and 1 — each epoch is a DIFFERENT reproducible permutation (loaders
    must not repeat epoch order), recomputable by any engine from the data
    alone. Within-shard ranking stays partitioned by (epoch, shard);
    nothing sorts globally."""
    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    keyed = docs.select("doc_id").crossJoin(F.broadcast(epochs))
    h = F.md5(F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % 8).cast("int")
    order_key = F.substring(h, 7, 10)
    w = Window.partitionBy("epoch", "shard").orderBy("order_key", "doc_id")
    return (
        keyed.select("epoch", "doc_id", shard.alias("shard"), order_key.alias("order_key"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("int"))
        .drop("order_key")
    )


EPOCH_RESHUFFLE_DOCUMENTS_ORACLE = """
WITH keyed AS (
    SELECT e.epoch, d.doc_id,
           CAST(('0x' || substr(md5(e.epoch::VARCHAR || ':' || d.doc_id::VARCHAR),
                                1, 6))::BIGINT % 8 AS INTEGER) AS shard,
           substr(md5(e.epoch::VARCHAR || ':' || d.doc_id::VARCHAR), 7, 10)
               AS order_key
    FROM documents d
    CROSS JOIN (SELECT CAST(unnest(range(2)) AS INT) AS epoch) e
)
SELECT epoch, doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
                               ORDER BY order_key, doc_id) AS INT) AS pos_in_shard
FROM keyed
"""


# ---------------------------------------------------------------------------
# Okapi BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ["vector", "stream", "hash", "window", "merge"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (Robertson & Walker, SIGIR '94) for a
    fixed 5-term query over the documents table — the length-normalized
    saturation upgrade of ``tfidf_top_terms`` and the standard first-stage
    retriever in every RAG / retrieval-augmented training-data stack.

    Plan shape: the query-term IN-list filters the exploded token stream
    BEFORE the (doc, term) aggregate, so tf is computed only for matching
    tokens; df is a ≤5-row broadcast; dl (per-doc length) joins back on
    doc_id. Per-term contributions use idf = ln(1 + (N-df+0.5)/(df+0.5))
    with tf saturation tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)); the ≤5-term
    per-doc score is an exact DECIMAL(27,12) sum of bitwise-deterministic
    double terms (house rule), and the top-20 cut is orderBy().limit() —
    TakeOrderedAndProject, never a global ranking window."""
    from data_ingestion_pipeline_spark.functions.numeric import dec_sum

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tokens = doc_tokens_exploded(spark, sf_dir).select("doc_id", "token")
    dl = tokens.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    total_tokens = dl.agg(F.sum("dl").cast("bigint").alias("t")).collect()[0]["t"]
    avgdl = F.lit(total_tokens).cast("double") / F.lit(n_docs).cast("double")
    tf = (
        tokens.filter(F.col("token").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs).cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    contrib = idf * (
        tf_d
        * (F.lit(BM25_K1) + F.lit(1.0))
        / (
            tf_d
            + F.lit(BM25_K1)
            * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * dl_d / avgdl)
        )
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(dec_sum(contrib, 27, 12).cast("double"), 6).alias("bm25"),
            F.count("*").cast("int").alias("n_terms_hit"),
        )
    )
    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(
        BM25_TOP_K
    )
    return top.withColumn(
        "rank",
        F.row_number()
        .over(
            # constant-valued but non-foldable partition key (n_terms_hit is
            # a never-null count): bounded 20-row window stays on the
            # partitioned WindowExec path (see build_vocab_documents)
            Window.partitionBy(F.col("n_terms_hit") % 1).orderBy(
                F.col("bm25").desc(), F.col("doc_id").asc()
            )
        )
        .cast("int"),
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

BM25_SEARCH_DOCUMENTS_ORACLE = rf"""
WITH tokens AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
  FROM documents
), tok AS (
  SELECT doc_id, token FROM tokens WHERE token <> ''
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS total_tokens
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
), contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5))
         * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0)
            / (CAST(tf.tf AS DOUBLE)
               + {BM25_K1} * (1.0 - {BM25_B}
                              + {BM25_B} * CAST(dl.dl AS DOUBLE)
                                / (CAST(s.total_tokens AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE)))))
             AS c
  FROM tf JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
), scored AS (
  SELECT doc_id,
         CAST(ROUND(CAST(SUM(CAST(c AS DECIMAL(27,12))) AS DOUBLE), 6)
              AS DOUBLE) AS bm25,
         CAST(COUNT(*) AS INT) AS n_terms_hit
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, bm25, n_terms_hit,
       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

CDC_MOD = 8
CDC_COPY_OFFSET = 1_000_000


def cdc_chunk_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the LBFS/rsync/storage-dedup
    technique): chunk boundaries come from the CONTENT (a token is a cut
    point when its md5 prefix ≡ 0 mod 8, mean chunk ≈ 8 tokens), so a
    prefix insertion or deletion shifts chunk FRAMES but not chunk
    CONTENTS — exactly what fixed-stride chunking (``chunk_documents``)
    cannot survive. The planted corpus proves it: every 20th document
    gains a copy with its first three tokens dropped; fixed-stride chunks
    of the copy all differ from the original's, while CDC chunks
    re-synchronize at the first content boundary and match from there on.
    Plan: one posexplode token stream, a per-doc running sum for chunk
    ids (partitioned window, never global), one (doc, chunk) aggregate,
    then chunk-hash groupBys — every shuffle keys on doc or hash."""
    docs = load_table(spark, sf_dir, "documents")
    shifted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(CDC_COPY_OFFSET)).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+\S+\s+\S+\s+", "").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(shifted)
    toks = (
        corpus.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("idx", "token"),
        )
        .filter(F.col("token") != "")
        .withColumn(
            "cut",
            (
                F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("bigint")
                % CDC_MOD
                == 0
            ).cast("int"),
        )
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.withColumn(
        "chunk_id", F.coalesce(F.sum("cut").over(w_prev), F.lit(0)).cast("bigint")
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "token"))),
                    lambda s: s.getField("token"),
                ),
            )
        ).alias("chunk_hash"),
        F.count("*").cast("bigint").alias("chunk_len"),
    )
    by_hash = chunks.groupBy("chunk_hash").agg(
        F.count("*").cast("bigint").alias("n_inst"),
        F.max((F.col("doc_id") < CDC_COPY_OFFSET).cast("int")).alias("in_base"),
        F.max((F.col("doc_id") >= CDC_COPY_OFFSET).cast("int")).alias("in_copy"),
    )
    totals = chunks.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.round(
            F.sum("chunk_len").cast("double") / F.count("*"), 6
        ).alias("avg_chunk_len"),
    )
    uniq = by_hash.agg(
        F.count("*").cast("bigint").alias("n_distinct_chunks"),
        F.count(F.when((F.col("in_base") == 1) & (F.col("in_copy") == 1), 1))
        .cast("bigint")
        .alias("n_cross_copy_shared"),
    )
    n_docs = corpus.agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        n_docs.crossJoin(totals)
        .crossJoin(uniq)
        .select(
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            (F.col("n_chunks") - F.col("n_distinct_chunks"))
            .cast("bigint")
            .alias("n_dup_chunk_instances"),
            "n_cross_copy_shared",
            "avg_chunk_len",
        )
    )


CDC_CHUNK_DEDUP_DOCUMENTS_ORACLE = rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CDC_COPY_OFFSET},
         regexp_replace(text, '^\S+\s+\S+\s+\S+\s+', '')
  FROM documents WHERE doc_id % 20 = 0
), toks0 AS (
  SELECT doc_id,
         unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS idx,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM corpus
), toks AS (
  SELECT doc_id, idx, token,
         CASE WHEN ('0x' || substr(md5(token), 1, 4))::BIGINT % {CDC_MOD} = 0
              THEN 1 ELSE 0 END AS cut
  FROM toks0 WHERE token <> ''
), chunked AS (
  SELECT doc_id, idx, token,
         CAST(COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS chunk_id
  FROM toks
), chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(token, ' ' ORDER BY idx)) AS chunk_hash,
         CAST(COUNT(*) AS BIGINT) AS chunk_len
  FROM chunked GROUP BY doc_id, chunk_id
), by_hash AS (
  SELECT chunk_hash,
         MAX(CASE WHEN doc_id < {CDC_COPY_OFFSET} THEN 1 ELSE 0 END) AS in_base,
         MAX(CASE WHEN doc_id >= {CDC_COPY_OFFSET} THEN 1 ELSE 0 END) AS in_copy
  FROM chunks GROUP BY chunk_hash
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM chunks) AS n_chunks,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM by_hash) AS n_distinct_chunks,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM chunks)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM by_hash)
           AS n_dup_chunk_instances,
       (SELECT CAST(COUNT(CASE WHEN in_base = 1 AND in_copy = 1 THEN 1 END)
                    AS BIGINT) FROM by_hash) AS n_cross_copy_shared,
       (SELECT CAST(ROUND(CAST(SUM(chunk_len) AS DOUBLE) / COUNT(*), 6)
                    AS DOUBLE) FROM chunks) AS avg_chunk_len
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + query-likelihood LM
# ---------------------------------------------------------------------------

QL_MU = 2000.0
RRF_K = 60
HYBRID_TOP_K = 10


def hybrid_search_rrf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid first-stage retrieval: reciprocal-rank fusion (Cormack,
    Clarke & Büttcher, SIGIR '09) of two genuinely different rankers over
    the same 5-term query — Okapi BM25 (``bm25_search_documents``) and a
    Dirichlet-smoothed query-likelihood language model (Zhai & Lafferty,
    SIGIR '01; μ=2000). RRF(d) = Σ_r 1/(60 + rank_r(d)) over the rankers
    that retrieved d in their top-20; top-10 fused.

    The QL score decomposes so only term HITS need per-doc work:
    score(d) = C₀ + Σ_hits[ln(tf+μp_t) − ln(μp_t)] − |q|·ln(dl+μ), with
    C₀ = Σ_t ln(μp_t) a ≤5-row broadcast constant (OOV terms would drop —
    all five query terms occur in the corpus). Every ln is rounded to 9
    decimals pre-sum (libm rule); per-doc folds are decimal. Both
    rankers' top-20 cuts are orderBy().limit() (TakeOrderedAndProject);
    the fusion is a 20×20 full-outer join; ranking windows only ever see
    ≤20 rows on the partitioned path.

    Plan economics: the exploded token stream is scanned exactly TWICE
    (once into the cached per-doc lengths, once into the cached query-term
    tf relation); both rankers' statistics — df for BM25's idf, cf for
    QL's collection model — derive from the tiny cached tf relation, so
    adding the second ranker costs no extra corpus pass. The BM25 scoring
    expression is verbatim ``bm25_search_documents``'s (same oracle
    parity)."""
    from data_ingestion_pipeline_spark.functions.numeric import dec_sum

    tokens = doc_tokens_exploded(spark, sf_dir).select("doc_id", "token")
    n_docs = load_table(spark, sf_dir, "documents").count()
    dl = (
        tokens.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("dl"))
        .cache()
    )
    total_tokens = dl.agg(F.sum("dl").cast("bigint").alias("t")).collect()[0]["t"]
    tf = (
        tokens.filter(F.col("token").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .cache()
    )
    # both rankers' term statistics come from the tiny cached tf relation:
    # df = doc frequency (BM25 idf), cf = collection frequency (QL p(t|C))
    stats = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    # --- BM25 branch (expression verbatim from bm25_search_documents) ---
    avgdl = F.lit(total_tokens).cast("double") / F.lit(n_docs).cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs).cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    contrib = idf * (
        tf_d
        * (F.lit(BM25_K1) + F.lit(1.0))
        / (
            tf_d
            + F.lit(BM25_K1)
            * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * dl_d / avgdl)
        )
    )
    bm_scored = (
        tf.join(F.broadcast(stats), "token")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(dec_sum(contrib, 27, 12).cast("double"), 6).alias("bm25"))
    )
    bm_top = bm_scored.orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(BM25_TOP_K)
    bm = bm_top.select(
        "doc_id",
        F.row_number()
        .over(
            # constant-valued non-foldable partition key — 20-row window on
            # the partitioned WindowExec path (see bm25_search_documents)
            Window.partitionBy(F.col("doc_id") % 1).orderBy(
                F.col("bm25").desc(), F.col("doc_id").asc()
            )
        )
        .cast("int")
        .alias("bm25_rank"),
    )
    # --- query-likelihood branch ---
    mu_p = F.lit(QL_MU) * F.col("cf").cast("double") / F.lit(total_tokens).cast(
        "double"
    )
    consts = stats.agg(
        dec_sum(F.round(F.log(mu_p), 9), 27, 12).cast("double").alias("c0"),
        F.count("*").cast("int").alias("n_terms"),
    )
    delta = F.round(F.log(F.col("tf").cast("double") + mu_p), 9) - F.round(
        F.log(mu_p), 9
    )
    per_doc = (
        tf.join(F.broadcast(stats), "token")
        .select("doc_id", delta.alias("delta"))
        .groupBy("doc_id")
        .agg(dec_sum(F.col("delta"), 27, 12).cast("double").alias("dsum"))
    )
    ql = (
        dl.crossJoin(F.broadcast(consts))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("c0")
                + F.coalesce(F.col("dsum"), F.lit(0.0))
                - F.col("n_terms").cast("double")
                * F.round(F.log(F.col("dl").cast("double") + F.lit(QL_MU)), 9)
            ).alias("ql_score"),
        )
    )
    ql_top = ql.orderBy(F.col("ql_score").desc(), F.col("doc_id").asc()).limit(
        BM25_TOP_K
    )
    ql_ranked = ql_top.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(F.col("doc_id") % 1).orderBy(
                F.col("ql_score").desc(), F.col("doc_id").asc()
            )
        )
        .cast("int")
        .alias("ql_rank"),
    )
    fused = bm.join(ql_ranked, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "ql_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("ql_rank")).cast("double"),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        HYBRID_TOP_K
    )
    return top.select(
        F.row_number()
        .over(
            Window.partitionBy(F.col("doc_id") % 1).orderBy(
                F.col("rrf").desc(), F.col("doc_id").asc()
            )
        )
        .cast("int")
        .alias("fused_rank"),
        "doc_id",
        F.round("rrf", 9).cast("double").alias("rrf_score"),
        "bm25_rank",
        "ql_rank",
    )


HYBRID_SEARCH_RRF_DOCUMENTS_ORACLE = rf"""
WITH tokens AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
  FROM documents
), tok AS (
  SELECT doc_id, token FROM tokens WHERE token <> ''
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS total_tokens
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
), contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5))
         * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0)
            / (CAST(tf.tf AS DOUBLE)
               + {BM25_K1} * (1.0 - {BM25_B}
                              + {BM25_B} * CAST(dl.dl AS DOUBLE)
                                / (CAST(s.total_tokens AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE)))))
             AS c
  FROM tf JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
), bm_scored AS (
  SELECT doc_id,
         CAST(ROUND(CAST(SUM(CAST(c AS DECIMAL(27,12))) AS DOUBLE), 6)
              AS DOUBLE) AS bm25
  FROM contrib GROUP BY doc_id
), bm_top AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
             AS bm25_rank
  FROM bm_scored ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOP_K}
), cf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cf FROM tok
  WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY token
), consts AS (
  SELECT CAST(SUM(CAST(ROUND(ln({QL_MU} * CAST(cf AS DOUBLE)
                                / CAST(s.total_tokens AS DOUBLE)), 9)
                       AS DECIMAL(27,12))) AS DOUBLE) AS c0,
         CAST(COUNT(*) AS INT) AS n_terms
  FROM cf CROSS JOIN stats s
), per_doc AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(
             ROUND(ln(CAST(tf.tf AS DOUBLE)
                      + {QL_MU} * CAST(cf.cf AS DOUBLE)
                        / CAST(s.total_tokens AS DOUBLE)), 9)
             - ROUND(ln({QL_MU} * CAST(cf.cf AS DOUBLE)
                        / CAST(s.total_tokens AS DOUBLE)), 9)
             AS DECIMAL(27,12))) AS DOUBLE) AS dsum
  FROM tf JOIN cf ON tf.token = cf.token CROSS JOIN stats s
  GROUP BY tf.doc_id
), ql AS (
  SELECT dl.doc_id,
         consts.c0 + COALESCE(per_doc.dsum, 0.0)
         - CAST(consts.n_terms AS DOUBLE)
           * ROUND(ln(CAST(dl.dl AS DOUBLE) + {QL_MU}), 9) AS ql_score
  FROM dl CROSS JOIN consts
  LEFT JOIN per_doc ON dl.doc_id = per_doc.doc_id
), ql_top AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY ql_score DESC, doc_id ASC) AS INT)
             AS ql_rank
  FROM ql ORDER BY ql_score DESC, doc_id ASC LIMIT {BM25_TOP_K}
), fused AS (
  SELECT COALESCE(b.doc_id, q.doc_id) AS doc_id, b.bm25_rank, q.ql_rank,
         COALESCE(1.0 / ({RRF_K} + b.bm25_rank), 0.0)
         + COALESCE(1.0 / ({RRF_K} + q.ql_rank), 0.0) AS rrf
  FROM bm_top b FULL OUTER JOIN ql_top q ON b.doc_id = q.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT)
           AS fused_rank,
       doc_id,
       CAST(ROUND(rrf, 9) AS DOUBLE) AS rrf_score,
       bm25_rank, ql_rank
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {HYBRID_TOP_K}
"""


# ---------------------------------------------------------------------------
# Minority-language oversampling — executing the rebalance plan
# ---------------------------------------------------------------------------

def oversample_minority_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the corpus rebalance that ``language_rebalance_plan`` only
    plans: replicate minority-language documents toward the majority
    count. Each doc gets floor(target/N_h) copies plus one extra when its
    md5-derived uniform draw falls under the fractional remainder — the
    same stable-hash discipline as ``train_val_test_split_documents``
    (deterministic per doc, stable under corpus growth, reproducible
    outside Spark; the post-balance count is therefore within hash noise
    of the target rather than exactly it, which the published ratio
    column makes visible). The replication itself is a map-side
    ``explode(sequence(1, reps))`` — no shuffle until the final
    strata-sized count."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_before"))
    target = per.agg(F.max("n_before").cast("bigint").alias("target"))
    h6 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("bigint")
    base = F.floor(F.col("target") / F.col("n_before")).cast("int")
    rem = F.col("target") % F.col("n_before")
    reps = base + ((h6 % F.col("n_before")) < rem).cast("int")
    resampled = (
        docs.join(F.broadcast(per), "lang")
        .crossJoin(F.broadcast(target))
        .select("lang", "n_before", "target", F.explode(F.sequence(F.lit(1), reps)))
    )
    return (
        resampled.groupBy("lang", "n_before", "target")
        .agg(F.count("*").cast("bigint").alias("n_after"))
        .select(
            "lang",
            "n_before",
            "target",
            "n_after",
            F.round(
                F.col("n_after").cast("double") / F.col("target").cast("double"),
                4,
            )
            .cast("double")
            .alias("balance_ratio"),
        )
    )


OVERSAMPLE_MINORITY_DOCUMENTS_ORACLE = """
WITH per AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_before
    FROM documents GROUP BY lang
), t AS (
    SELECT CAST(MAX(n_before) AS BIGINT) AS target FROM per
), reps AS (
    SELECT d.lang, p.n_before, t.target,
           CAST(FLOOR(t.target / p.n_before) AS INT)
           + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT
                       % p.n_before < t.target % p.n_before
                  THEN 1 ELSE 0 END AS reps
    FROM documents d JOIN per p ON d.lang = p.lang CROSS JOIN t
)
SELECT lang, n_before, target,
       CAST(SUM(reps) AS BIGINT) AS n_after,
       CAST(ROUND(CAST(SUM(reps) AS DOUBLE) / CAST(target AS DOUBLE), 4)
            AS DOUBLE) AS balance_ratio
FROM reps GROUP BY lang, n_before, target
"""


# ---------------------------------------------------------------------------
# MMR diversified re-ranking over the brute-force candidate set
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_CAND = 30
_MMR_K = 10


def mmr_rerank_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) of the vec_id=0 retrieval: from the exact top-30 cosine
    candidates, greedily pick 10 maximizing λ·rel(d) − (1−λ)·max_{s∈S}
    sim(d,s) — the diversity-aware serving stage every dense retriever
    needs (and, in a training-data pipeline, the anti-redundancy pick for
    few-shot example selection).

    Scale shape: stage 1 is the distributed brute-force scan →
    TakeOrderedAndProject top-30 (the ``cosine_topk`` plan); stage 2
    builds the 30×30 candidate-pair cosine matrix with a broadcast
    self-join (bounded); stage 3 collects the ≤30+900 bounded rows and
    runs the O(k·N) greedy driver-side — the ``kmeans_lloyd`` bounded-
    driver-state policy: a production reranker always runs its greedy on
    the service side over a bounded candidate page; the data-parallel
    work is producing that page.

    Determinism: relevance and pairwise sims round to 9 BEFORE the
    greedy, so comparisons see identical doubles on both engines; the
    oracle replays the same greedy as a 10-step unrolled CTE chain
    (the ``logistic_quality_classifier`` unrolling pattern) with the
    same (score desc, vec_id) tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    from data_ingestion_pipeline_spark.functions.vector import (
        as_double_array,
        cosine,
    )

    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("_qv")
    )
    scored = (
        fan_out(emb)
        .select("vec_id", as_double_array(F.col("embedding")).alias("_v"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", F.round(cosine(F.col("_v"), F.col("_qv")), 9).alias("rel")
        )
    )
    cand = scored.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(
        _MMR_CAND
    )
    cvec = cand.join(emb, "vec_id").select(
        "vec_id", "rel", as_double_array(F.col("embedding")).alias("_v")
    )
    a = cvec.select(
        F.col("vec_id").alias("ai"), F.col("_v").alias("_va")
    )
    b = cvec.select(F.col("vec_id").alias("bi"), F.col("_v").alias("_vb"))
    sims_df = a.crossJoin(F.broadcast(b)).select(
        "ai", "bi", F.round(cosine(F.col("_va"), F.col("_vb")), 9).alias("sim")
    )
    # bounded-by-design collects: ≤30 candidates + ≤900 pair sims
    cand_rows = [(r.vec_id, r.rel) for r in cand.collect()]
    sim = {(r.ai, r.bi): r.sim for r in sims_df.collect()}
    lam = _MMR_LAMBDA
    picked: list[tuple[int, int, float, float]] = []  # rank, id, rel, mmr
    sel: list[int] = []
    rel = dict(cand_rows)
    while len(picked) < _MMR_K and len(sel) < len(cand_rows):
        best = None
        for vid, r in cand_rows:
            if vid in rel and vid not in sel:
                pen = max((sim[(vid, s)] for s in sel), default=0.0)
                score = lam * r - (1.0 - lam) * pen
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid, r, score)
        _, vid, r, score = best
        sel.append(vid)
        picked.append((len(sel), vid, round(r, 6), round(score, 6)))
    return spark.createDataFrame(
        picked, "rank int, vec_id bigint, relevance double, mmr_score double"
    )


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    blocks = [
        f"""
, s1 AS MATERIALIZED (
    SELECT vec_id, rel, {lam!r} * rel AS mmr
    FROM cand ORDER BY {lam!r} * rel DESC, vec_id LIMIT 1
)"""
    ]
    for i in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i)
        )
        blocks.append(f"""
, s{i} AS MATERIALIZED (
    SELECT vec_id, rel, mmr FROM (
        SELECT c.vec_id, c.rel,
               {lam!r} * c.rel - {1.0 - lam!r} * (
                   SELECT MAX(s.sim) FROM sims s
                   WHERE s.ai = c.vec_id AND s.bi IN ({prev})
               ) AS mmr
        FROM cand c WHERE c.vec_id NOT IN ({prev})
    ) ORDER BY mmr DESC, vec_id LIMIT 1
)""")
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS rank, vec_id, "
        f"CAST(ROUND(rel, 6) AS DOUBLE) AS relevance, "
        f"CAST(ROUND(mmr, 6) AS DOUBLE) AS mmr_score FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
cand AS MATERIALIZED (
    SELECT vec_id,
           ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 9) AS rel
    FROM embeddings, q
    ORDER BY ROUND(list_cosine_similarity(embedding::DOUBLE[], qe), 9) DESC,
             vec_id
    LIMIT {_MMR_CAND}
), cvec AS (
    SELECT c.vec_id, c.rel, e.embedding::DOUBLE[] AS v
    FROM cand c JOIN embeddings e USING (vec_id)
), sims AS MATERIALIZED (
    SELECT a.vec_id AS ai, b.vec_id AS bi,
           ROUND(list_cosine_similarity(a.v, b.v), 9) AS sim
    FROM cvec a, cvec b
){''.join(blocks)}
{tail}
"""


MMR_RERANK_TOPK_EMBEDDINGS_ORACLE = _mmr_oracle()


# ---------------------------------------------------------------------------
# Temperature-scaled mixture allocation (p_l ∝ n_l^α)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3
_MIX_BUDGET = 100_000


def mixture_temperature_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling allocation p_l ∝ n_l^α (α = 0.3), the
    multilingual-pretraining mixture rule from mT5/XLM-R (Xue et al. 2021
    §3.1; Conneau et al. 2020 eq. 1): α < 1 up-weights low-resource
    languages relative to their natural share without the hard uniform
    floor of ``language_rebalance_plan``. For a sampling budget of 100k
    documents the report gives each language its natural share, the
    tempered share, the expected sampled count, and the implied effective
    epochs (expected/n — how many times a low-resource doc repeats, the
    overfitting-risk signal that caps α in practice).

    Pure aggregate algebra over the per-language counts (one shuffle, then
    a ≤|langs|-row relation under the constant-key window). Cross-engine:
    n^α runs as exp(α·ln n) with the round-9-libm house policy on BOTH
    the ln and the exp, so the tempered weights are identical doubles;
    shares divide round-9 weights and round to 6."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    # n_docs % 1: constant-valued non-foldable partition key — the window
    # runs over the ≤|langs|-row aggregate on the partitioned path
    wfull = Window.partitionBy(F.col("n_docs") % 1)
    tw = F.round(
        F.exp(
            F.lit(_MIX_ALPHA) * F.round(F.log(F.col("n_docs").cast("double")), 9)
        ),
        9,
    )
    scored = per_lang.withColumn("tw", tw)
    tot_n = F.sum("n_docs").over(wfull).cast("double")
    tot_w = F.sum(F.col("tw").cast("decimal(27,12)")).over(wfull).cast("double")
    raw_share = F.col("n_docs").cast("double") / tot_n
    temp_share = F.col("tw") / tot_w
    expected = temp_share * F.lit(float(_MIX_BUDGET))
    return scored.select(
        "lang",
        "n_docs",
        F.round(raw_share, 6).cast("double").alias("raw_share"),
        F.round(temp_share, 6).cast("double").alias("temp_share"),
        F.round(expected, 2).cast("double").alias("expected_docs"),
        F.round(expected / F.col("n_docs").cast("double"), 6)
        .cast("double")
        .alias("effective_epochs"),
    )


MIXTURE_TEMPERATURE_ALLOCATION_ORACLE = f"""
WITH per_lang AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), scored AS (
    SELECT lang, n_docs,
           ROUND(exp({_MIX_ALPHA!r}
                     * ROUND(ln(CAST(n_docs AS DOUBLE)), 9)), 9) AS tw
    FROM per_lang
)
SELECT lang, n_docs,
       CAST(ROUND(CAST(n_docs AS DOUBLE)
                  / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS DOUBLE)
           AS raw_share,
       CAST(ROUND(tw / CAST(SUM(CAST(tw AS DECIMAL(27,12))) OVER ()
                            AS DOUBLE), 6) AS DOUBLE) AS temp_share,
       CAST(ROUND(tw / CAST(SUM(CAST(tw AS DECIMAL(27,12))) OVER ()
                            AS DOUBLE) * {float(_MIX_BUDGET)!r}, 2)
            AS DOUBLE) AS expected_docs,
       CAST(ROUND(tw / CAST(SUM(CAST(tw AS DECIMAL(27,12))) OVER ()
                            AS DOUBLE) * {float(_MIX_BUDGET)!r}
                  / CAST(n_docs AS DOUBLE), 6) AS DOUBLE)
           AS effective_epochs
FROM scored
"""


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste report
# ---------------------------------------------------------------------------

_PAD_BUCKET_W = 16


def length_bucket_padding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed batching: documents are
    grouped into 16-token-wide length buckets and padded to the observed
    bucket max (the dynamic-batching model every trainer uses to avoid
    padding short sequences to the global max). Per bucket: doc count,
    token mass, the bucket pad target, the padded fraction wasted, and —
    for contrast — the waste the same docs would suffer padded to the
    GLOBAL max. The gap between the two columns is the throughput case
    for length bucketing (padding is pure wasted FLOPs).

    One groupBy over the token-length projection (two-phase, map-side
    combined); the global max rides a constant-key window over the
    ≤(max_len/16)-row bucket relation. No ranking, no per-doc window:
    the pad-to-bucket-max model needs only per-bucket aggregates, which
    is what keeps it scale-safe (batch-membership simulation would need
    a corpus-wide rank)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    lens = docs.select(n_tok.alias("len")).filter(F.col("len") > 0)
    b = lens.withColumn(
        "bucket", F.floor((F.col("len") - 1) / _PAD_BUCKET_W).cast("int")
    )
    per = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("len").cast("bigint")).cast("bigint").alias("total_tokens"),
        F.max("len").cast("bigint").alias("pad_to"),
    )
    # bucket % 1: constant non-foldable key over the ≤(max_len/16)-row relation
    wall = Window.partitionBy(F.col("bucket") % 1)
    gmax = F.max("pad_to").over(wall).cast("double")
    waste_b = F.lit(1.0) - F.col("total_tokens").cast("double") / (
        F.col("n_docs").cast("double") * F.col("pad_to").cast("double")
    )
    waste_g = F.lit(1.0) - F.col("total_tokens").cast("double") / (
        F.col("n_docs").cast("double") * gmax
    )
    return per.select(
        "bucket",
        (F.col("bucket") * _PAD_BUCKET_W + 1).cast("bigint").alias("len_lo"),
        ((F.col("bucket") + 1) * _PAD_BUCKET_W).cast("bigint").alias("len_hi"),
        "n_docs",
        "total_tokens",
        "pad_to",
        F.round(waste_b, 6).cast("double").alias("bucket_pad_waste"),
        F.round(waste_g, 6).cast("double").alias("global_pad_waste"),
    )


LENGTH_BUCKET_PADDING_REPORT_ORACLE = f"""
WITH lens AS (
    SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS len
    FROM documents
    WHERE len(regexp_split_to_array(trim(text), '\\s+')) > 0
), per AS (
    SELECT CAST((len - 1) // {_PAD_BUCKET_W} AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len) AS BIGINT) AS total_tokens,
           CAST(MAX(len) AS BIGINT) AS pad_to
    FROM lens GROUP BY 1
)
SELECT bucket,
       CAST(bucket * {_PAD_BUCKET_W} + 1 AS BIGINT) AS len_lo,
       CAST((bucket + 1) * {_PAD_BUCKET_W} AS BIGINT) AS len_hi,
       n_docs, total_tokens, pad_to,
       CAST(ROUND(1.0 - CAST(total_tokens AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * CAST(pad_to AS DOUBLE)), 6)
            AS DOUBLE) AS bucket_pad_waste,
       CAST(ROUND(1.0 - CAST(total_tokens AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE)
                     * CAST(MAX(pad_to) OVER () AS DOUBLE)), 6)
            AS DOUBLE) AS global_pad_waste
FROM per
"""


# ---------------------------------------------------------------------------
# Curriculum schedule: easy-to-hard source ordering with cumulative budget
# ---------------------------------------------------------------------------

def curriculum_schedule_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule (Bengio et al., ICML 2009) over the
    source tiers: order sources easy→hard by mean document length (the
    classic difficulty proxy — short documents first), then report each
    source's phase in the schedule as cumulative document and token
    shares. A trainer consumes the schedule top-down: "switch to source X
    once Y% of tokens are seen". Difficulty ties break by source name so
    the schedule is total and reproducible.

    One shuffle (per-source aggregate); ranking and cumulative sums run
    under the constant-key window over the ≤|sources|-row relation —
    never over documents. Mean length is an exact bigint ratio rounded
    to 6; cumulative shares divide exact bigint partial sums."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    per = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_tok.cast("bigint")).cast("bigint").alias("n_tokens"),
    )
    mean_len = F.round(
        F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"), 6
    )
    scored = per.withColumn("mean_len", mean_len)
    # n_docs % 1: constant non-foldable key over the ≤|sources|-row relation
    wall = Window.partitionBy(F.col("n_docs") % 1)
    worder = Window.partitionBy(F.col("n_docs") % 1).orderBy(
        "mean_len", "source"
    )
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return scored.select(
        "source",
        "n_docs",
        "n_tokens",
        F.col("mean_len").cast("double").alias("mean_len"),
        F.row_number().over(worder).cast("int").alias("phase"),
        F.round(
            F.sum("n_docs").over(wcum).cast("double")
            / F.sum("n_docs").over(wall).cast("double"),
            6,
        )
        .cast("double")
        .alias("cum_doc_share"),
        F.round(
            F.sum("n_tokens").over(wcum).cast("double")
            / F.sum("n_tokens").over(wall).cast("double"),
            6,
        )
        .cast("double")
        .alias("cum_token_share"),
    )


CURRICULUM_SCHEDULE_DOCUMENTS_ORACLE = """
WITH per AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
), scored AS (
    SELECT source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
               AS mean_len
    FROM per
)
SELECT source, n_docs, n_tokens,
       CAST(mean_len AS DOUBLE) AS mean_len,
       CAST(ROW_NUMBER() OVER (ORDER BY mean_len, source) AS INT) AS phase,
       CAST(ROUND(CAST(SUM(n_docs) OVER (ORDER BY mean_len, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS DOUBLE)
           AS cum_doc_share,
       CAST(ROUND(CAST(SUM(n_tokens) OVER (ORDER BY mean_len, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS DOUBLE)
           AS cum_token_share
FROM scored
"""


# ---------------------------------------------------------------------------
# Self-similarity (Self-BLEU-style) corpus diversity probe
# ---------------------------------------------------------------------------

_SELFSIM_SAMPLE = 40


def self_similarity_sample_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus diversity probe in the Self-BLEU family (Zhu et al. 2018,
    Texygen): on a deterministic 40-document sample, the full pairwise
    bigram-Jaccard grid — mean/max overlap and the share of pairs with
    ANY overlap. Generative-corpus audits read this as mode-collapse
    (high mean) vs healthy diversity (low); for training data it ranks
    sources/snapshots by internal redundancy on a fixed yardstick.

    Scale shape: the sample is an md5-ordered orderBy().limit(40) —
    TakeOrderedAndProject over the scan, never a full sort — and every
    downstream relation (≤40 docs × bigrams, 780 pairs) is
    broadcast-small by construction; the corpus never self-joins. That
    bounded-probe design is the point: diversity metrics that touch all
    N² pairs don't exist at 100 TB, fixed-size sampled grids do.

    Pairs with zero shared bigrams stay in the mean via the left join
    against the 780-row pair grid (dropping them would bias the metric
    up). Jaccards are exact-integer ratios rounded to 6."""
    docs = load_table(spark, sf_dir, "documents")
    sample = (
        docs.select(
            "doc_id",
            F.split(F.trim("text"), r"\s+").alias("toks"),
            F.md5(F.col("doc_id").cast("string")).alias("hkey"),
        )
        .orderBy("hkey", "doc_id")
        .limit(_SELFSIM_SAMPLE)
    )
    grams = (
        sample.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size("toks") - 2, F.lit(1)),
                        ),
                        lambda i: F.concat_ws(
                            " ", F.slice("toks", i, 2)
                        ),
                    )
                )
            ).alias("gram"),
        )
    )
    counts = grams.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    inter = (
        grams.alias("a")
        .join(F.broadcast(grams.alias("b")), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    grid = (
        counts.alias("x")
        .crossJoin(F.broadcast(counts.alias("y")))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.n_grams").alias("na"),
            F.col("y.n_grams").alias("nb"),
        )
        .join(F.broadcast(inter), ["id_a", "id_b"], "left")
        .select(
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (
                    F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0))
                ).cast("double")
            ).alias("jacc")
        )
    )
    return grid.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("jacc").cast("decimal(27,12)")).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_jaccard"),
        F.round(F.max("jacc"), 6).cast("double").alias("max_jaccard"),
        F.round(
            F.count(F.when(F.col("jacc") > 0, 1)).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("frac_overlapping"),
    )


SELF_SIMILARITY_SAMPLE_DOCUMENTS_ORACLE = rf"""
WITH sample AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT {_SELFSIM_SAMPLE}
), grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+1], ' ')
           ))) AS gram
    FROM sample
), counts AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM grams GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM grams a JOIN grams b USING (gram)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), grid AS (
    SELECT COALESCE(i.n_common, 0) AS c, x.n_grams AS na, y.n_grams AS nb
    FROM counts x JOIN counts y ON x.doc_id < y.doc_id
    LEFT JOIN inter i ON i.id_a = x.doc_id AND i.id_b = y.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(SUM(CAST(CAST(c AS DOUBLE) / (na + nb - c)
                              AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean_jaccard,
       CAST(ROUND(MAX(CAST(c AS DOUBLE) / (na + nb - c)), 6) AS DOUBLE)
           AS max_jaccard,
       CAST(ROUND(CAST(COUNT(CASE WHEN c > 0 THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
           AS frac_overlapping
FROM grid
"""


# ---------------------------------------------------------------------------
# Cross-source overlap matrix: which sources leak into which
# ---------------------------------------------------------------------------

def cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: exact trigram-Jaccard near-dup
    pairs at J ≥ 0.3 rolled up by (source_a, source_b) — the provenance
    view of deduplication. A curation team reads this to find the mirror
    site, the re-crawled domain, or the dataset that was folded into
    another (diagonal = within-source redundancy; off-diagonal = leakage
    between tiers). Runs on the planted corpus with the 80%-prefix copies
    labeled source='mirror', so the matrix provably surfaces a
    cross-source leak at every SF on top of whatever organic overlap the
    corpus has; source names order within each pair (upper-triangular,
    deterministic rollup).

    Reuses the exact inverted-index pair machinery (``jaccard_pairs``:
    shingle → explode → size-filtered index join — never all-pairs), adds
    two broadcast joins to attach sources, and aggregates to the
    ≤|sources|² matrix. Jaccards and their mean are exact-integer-derived
    doubles rounded to 6."""
    docs = load_table(spark, sf_dir, "documents")
    aug = _near_dup_corpus(docs)
    pairs = jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.3)
    src = docs.select("doc_id", "source").unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("mirror").alias("source"),
        )
    )
    labeled = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("_da"), F.col("source").alias("src_a")
                )
            ),
            F.col("id_a") == F.col("_da"),
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("_db"), F.col("source").alias("src_b")
                )
            ),
            F.col("id_b") == F.col("_db"),
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("jaccard").cast("decimal(27,12)")).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_jaccard"),
        F.round(F.max("jaccard"), 6).cast("double").alias("max_jaccard"),
    )


# Same augmented pair relation as NGRAM_JACCARD_DOCUMENTS_ORACLE at 0.3,
# rolled up by ordered source pair (copies labeled 'mirror').
CROSS_SOURCE_OVERLAP_MATRIX_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
    FROM documents
), aug AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), src AS (
    SELECT doc_id, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000, 'mirror' FROM documents WHERE doc_id % 20 = 0
), sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM aug
), exploded AS (
    SELECT doc_id, unnest(sset) AS shingle FROM sets
), counts AS (
    SELECT doc_id, COUNT(*) AS n FROM exploded GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
    FROM exploded a JOIN exploded b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT * FROM (
        SELECT id_a, id_b,
               ROUND(CAST(n_common AS DOUBLE)
                     / (x.n + y.n - n_common), 6) AS jaccard
        FROM inter JOIN counts x ON id_a = x.doc_id
                   JOIN counts y ON id_b = y.doc_id
    ) WHERE jaccard >= 0.3
), labeled AS (
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           jaccard
    FROM pairs JOIN src sa ON pairs.id_a = sa.doc_id
               JOIN src sb ON pairs.id_b = sb.doc_id
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean_jaccard,
       CAST(ROUND(MAX(jaccard), 6) AS DOUBLE) AS max_jaccard
FROM labeled GROUP BY 1, 2
"""


def near_dup_threshold_sweep_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup YIELD CURVE: exact 3-gram Jaccard near-dup pairs on the
    planted corpus swept across retention thresholds τ ∈ {0.3 … 0.9} —
    the threshold-picking evidence every dedup rollout needs before
    committing (``ngram_jaccard_documents`` fixes one τ; curation teams
    choose τ by exactly this curve): per τ, the surviving pair count,
    the documents dropped under the keep-smallest-id survivor policy,
    and the corpus drop fraction. The planted 80%-prefix copies sit at
    J≈0.8, so the curve's knee between 0.7 and 0.9 is structural.

    Exactness: ONE candidate-pair build at the loosest τ=0.3 (the
    size-band pruning is recall-complete for every τ ≥ 0.3 since
    J ≥ τ forces |A|/|B| ≥ τ), then the sweep is a broadcast 7-row
    fan-out over the bounded pair relation — integer counts, fractions
    round at 6. Scale shape: the shingle inverted-index join builds
    pairs once; the sweep adds zero corpus passes."""
    docs = load_table(spark, sf_dir, "documents")
    aug = _near_dup_corpus(docs)
    pairs = jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.3)
    taus = spark.createDataFrame(
        [(t,) for t in (30, 40, 50, 60, 70, 80, 90)], "tau int"
    )
    tot = aug.agg(
        F.count("*").cast("bigint").alias("n_docs"), F.lit(1).alias("one")
    )
    swept = (
        pairs.crossJoin(F.broadcast(taus))
        .filter(
            F.col("jaccard") >= F.col("tau").cast("double") / F.lit(100.0)
        )
        .groupBy("tau")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("docs_dropped"),
        )
    )
    return (
        taus.join(swept, "tau", "left")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(tot), "one")
        .select(
            (F.col("tau").cast("double") / F.lit(100.0)).alias("threshold"),
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce(F.col("docs_dropped"), F.lit(0))
            .cast("bigint")
            .alias("docs_dropped"),
            "n_docs",
            F.round(
                F.coalesce(F.col("docs_dropped"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            )
            .cast("double")
            .alias("drop_fraction"),
        )
        .orderBy("threshold")
    )


NEAR_DUP_THRESHOLD_SWEEP_DOCUMENTS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), aug AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000,
           toks[1:GREATEST(CAST(CEIL(len(toks) * 0.8) AS INTEGER), 1)]
    FROM base WHERE doc_id % 20 = 0
), sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
           )) AS sset
    FROM aug
), exploded AS (
    SELECT doc_id, unnest(sset) AS shingle FROM sets
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
    FROM exploded a JOIN exploded b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT id_a, id_b,
           ROUND(CAST(n_common AS DOUBLE) /
                 CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN (SELECT doc_id, len(sset) AS sz FROM sets) sa ON sa.doc_id = id_a
    JOIN (SELECT doc_id, len(sset) AS sz FROM sets) sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE)
          >= 0.3
), taus AS (
    SELECT CAST(t AS INT) AS tau FROM (VALUES (30), (40), (50), (60),
                                              (70), (80), (90)) v(t)
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM aug
), swept AS (
    SELECT tau,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT id_b) AS BIGINT) AS docs_dropped
    FROM pairs CROSS JOIN taus
    WHERE jaccard >= CAST(tau AS DOUBLE) / 100.0
    GROUP BY tau
)
SELECT CAST(t.tau AS DOUBLE) / 100.0 AS threshold,
       COALESCE(s.n_pairs, 0) AS n_pairs,
       COALESCE(s.docs_dropped, 0) AS docs_dropped,
       tot.n_docs,
       CAST(ROUND(CAST(COALESCE(s.docs_dropped, 0) AS DOUBLE)
                  / CAST(tot.n_docs AS DOUBLE), 6) AS DOUBLE)
           AS drop_fraction
FROM taus t LEFT JOIN swept s USING (tau) CROSS JOIN tot
ORDER BY threshold
"""


def ann_ivf_nprobe_sweep_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF recall-vs-cost SWEEP: the same 16-cell index probed at
    nprobe ∈ {1, 2, 4, 8, 16} — the tuning curve behind
    ``ann_ivf_recall_embeddings``'s single point (nprobe is THE knob an
    IVF deployment turns; candidate cost scales ~nprobe/C while recall
    climbs toward exact): per nprobe, the scanned-cell fraction and two
    structural gates — per-query recall@10 clears a with-margin floor,
    and the sweep-wide property that MEAN recall is nondecreasing in
    nprobe AND nprobe=C reproduces the exhaustive top-10 EXACTLY (at
    full probe the pruned index scans every cell, so any deviation is a
    probe-join or tie-break bug — both rankers break ties by vec_id).

    Oracle style: the data-derived boolean contract of the recall-gate
    family (floors hold with margin across fixture regenerations).
    Scale shape: ONE probe join + ONE cosine pass over the assigned
    corpus at full probe (every cell), each candidate tagged with its
    cell's per-query probe RANK; every depth is then a prefix filter
    (rank < nprobe) plus the shared top-k over the pinned scored
    relation. Per depth the candidate set — and therefore the top-k —
    is byte-identical to an ``ivf_topk(nprobe=d)`` call, because
    ``select_probe_cells(…, d)`` is exactly the first d entries of
    ``select_probe_cells(…, C)`` (same total order, prefix slice), and
    the scoring expression is the same ``cosine(_v, _qv)``. The
    pre-r11 shape paid the scoring join 5× (31/16 of the corpus in
    total); this pays it once (16/16)."""
    import numpy as np

    from data_ingestion_pipeline_spark.functions.vector import cosine
    from data_ingestion_pipeline_spark.similarity.brute_force import (
        topk_cosine_batch,
        topk_per_query,
    )
    from data_ingestion_pipeline_spark.similarity.ivf import (
        ivf_build_index,
        select_probe_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_query_batch(emb)
    brute = topk_cosine_batch(emb, q, k=10).localCheckpoint()
    # ONE centroid sample + ONE pinned assignment pass + ONE query collect
    # shared by all five probe depths (the sweep paid 5× each before r11 —
    # 5 mapInPandas assignment passes and 10 bounded collects; the shared
    # index is exactly what ivf_topk computed inline, so per-nprobe results
    # are unchanged)
    centroids, assigned, qrows = ivf_build_index(emb, q, n_centroids=16)
    cents = np.array(centroids)
    pairs = []
    for r in qrows:
        qv = np.asarray(r["_qv"], dtype="float64")
        pairs.extend(
            (li, int(r["query_id"]), [float(x) for x in qv], rank)
            for rank, li in enumerate(select_probe_cells(cents, qv, len(centroids)))
        )
    probes = spark.createDataFrame(
        pairs, "list_id int, query_id long, _qv array<double>, prank int"
    )
    # nq × N candidate rows (3 queries here) — pinned so the one scoring
    # join materializes once and all five depths read it
    scored = (
        assigned.join(F.broadcast(probes), ["list_id"])
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("_v"), F.col("_qv")).alias("score"),
            "prank",
        )
        .localCheckpoint()
    )
    floors = {1: 0.05, 2: 0.05, 4: 0.2, 8: 0.3, 16: 0.99}
    per = []
    for nprobe in (1, 2, 4, 8, 16):
        ann = topk_per_query(
            scored.filter(F.col("prank") < nprobe).drop("prank"), 10, "vec_id"
        )
        hits = (
            ann.join(
                brute.select("query_id", "vec_id"), ["query_id", "vec_id"]
            )
            .groupBy("query_id")
            .agg(F.count("*").alias("h"))
        )
        rec = (
            brute.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                "query_id",
                (F.coalesce(F.col("h"), F.lit(0)).cast("double") / 10.0).alias(
                    "recall"
                ),
            )
        )
        per.append(rec)
    allrec = per[0]
    for r in per[1:]:
        allrec = allrec.unionByName(r)
    flr = F.create_map(
        *[F.lit(x) for kv in floors.items() for x in kv]
    )
    stats = allrec.groupBy("nprobe").agg(
        F.min("recall").alias("min_recall"),
        F.avg("recall").alias("mean_recall"),
    )
    wmono = Window.partitionBy(F.lit(1) % 1).orderBy("nprobe")
    sweep = stats.select(
        "nprobe",
        "min_recall",
        "mean_recall",
        F.lag("mean_recall").over(wmono).alias("prev_mean"),
    )
    mono_all = sweep.agg(
        F.min(
            F.when(
                F.col("prev_mean").isNull()
                | (F.col("mean_recall") >= F.col("prev_mean") - 1e-9),
                True,
            ).otherwise(False)
        ).alias("monotone"),
        F.min(
            F.when(F.col("nprobe") == 16, F.col("min_recall") >= 1.0)
        ).alias("exact_at_full"),
        F.lit(1).alias("one"),
    )
    return (
        sweep.withColumn("one", F.lit(1))
        .join(F.broadcast(mono_all), "one")
        .select(
            "nprobe",
            F.lit(10).cast("int").alias("k"),
            F.round(F.col("nprobe").cast("double") / 16.0, 6)
            .cast("double")
            .alias("cell_fraction"),
            (F.col("min_recall") >= flr[F.col("nprobe")]).alias(
                "recall_ok"
            ),
            (F.col("monotone") & F.col("exact_at_full")).alias(
                "sweep_sound"
            ),
        )
        .orderBy("nprobe")
    )


ANN_IVF_NPROBE_SWEEP_EMBEDDINGS_ORACLE = """
SELECT CAST(np AS INT) AS nprobe, CAST(10 AS INT) AS k,
       CAST(ROUND(CAST(np AS DOUBLE) / 16.0, 6) AS DOUBLE)
           AS cell_fraction,
       TRUE AS recall_ok,
       TRUE AS sweep_sound
FROM (VALUES (1), (2), (4), (8), (16)) v(np)
ORDER BY np
"""
