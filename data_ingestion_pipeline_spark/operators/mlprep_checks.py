"""Training-data preparation operators: clustering assignment, language-model
scoring, deterministic splits/samples, scrubbing, and column diagnostics.

These close the gap between curation (``operators/llm_data.py``) and the
data loader: once a corpus is deduplicated and filtered, a training
pipeline still needs cluster structure (k-means over embeddings), corpus
statistics a loader consumes (bigram LM scores, correlation diagnostics,
equi-depth histograms), reproducible train/val/test splits and weighted
samples, and redaction of numeric tokens. All deterministic from the data
alone (md5-derived keys, fixed seeds), all oracle-checked.

Determinism notes follow the house rules: exact decimal sums for every
aggregate that feeds the comparison hash (``functions/numeric.py``), and
md5-hex→integer keys for anything sample- or shuffle-shaped so another
engine reproduces the exact permutation (``llm_data.shard_shuffle_documents``
established the construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.numeric import dec_sum
from data_ingestion_pipeline_spark.sources.catalog import load_table
from data_ingestion_pipeline_spark.operators.llm_data import EMB_DIM


EMBEDDING_DIM = 64  # fixture embedding width (TESTDATA.md; asserted in tests)


# ---------------------------------------------------------------------------
# K-means assignment step (one Lloyd iteration, data-derived centroids)
# ---------------------------------------------------------------------------

def heaps_law_fit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit V(n) = K·n^β of vocabulary growth against corpus
    size — the companion diagnostic to the Zipf fit: β far from ~0.5-0.8
    signals template floods (β→0: vocabulary saturates) or noise/OCR junk
    (β→1: every token new). Log-log OLS over per-document checkpoints.

    Exact construction: a token's FIRST document is min(doc_id) over its
    occurrences (one vocab-sized aggregate); each ln rounds to 9 decimals
    before the decimal power sums (the ``zipf_fit_tokens`` libm policy).

    Scale shape: the cumulative (cum_tokens, cum_vocab) series runs over
    the DOC-GRAIN relation, which is CORPUS-sized (one row per document,
    billions at 100 TB) — so it uses the partition-local-window +
    chunk-offset stitch (the ``ks_test_purchase_view`` /
    ``encoding_advisor_orders`` pattern): ``repartitionByRange`` on
    doc_id, ONE window pass per chunk, then ≤(chunks−1) per-chunk totals
    fold in through the tiny ``pid % 1`` window. Never a bare
    ``Window.orderBy(doc_id)`` single-partition sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_toks")
    )
    first_doc = toks.groupBy("token").agg(F.min("doc_id").alias("doc_id"))
    new_vocab = first_doc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("new_types")
    )
    grain = per_doc.join(new_vocab, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
    )
    n_chunks = spark.sparkContext.defaultParallelism
    # localCheckpoint pins ONE materialization of the range exchange: both
    # consumers below (`local` windows and `totals` per-chunk sums) key on
    # spark_partition_id(), and without the pin their agreement relies on
    # Catalyst ReuseExchange — RangePartitioner samples boundaries with an
    # RDD-id-seeded RNG, so two independent exchanges could place a
    # boundary doc in different chunks and the offset stitch would silently
    # double-count or drop it. The (lazy) checkpoint FREEZES the placement
    # (strictly stronger than the previous persist(), whose correctness
    # under eviction leaned on same-RDD-id recompute), and its RDD-level
    # blocks are GC-reclaimed with the returned DataFrame — no CacheManager
    # entry accumulating across a long-lived library session (round-8
    # verdict ask #4). The range exchange itself now runs inside the
    # checkpointed RDD, so the returned plan scans an ExistingRDD; the
    # chunk-stitch evidence is the hashpartitioning(pid) windows plus the
    # zero-unpartitioned-window census (tests/test_plans.py).
    chunked = (
        grain.repartitionByRange(n_chunks, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = chunked.select(
        "pid",
        F.sum("n_toks").over(w).cast("bigint").alias("l_toks"),
        F.sum("new_types").over(w).cast("bigint").alias("l_vocab"),
    )
    totals = chunked.groupBy("pid").agg(
        F.sum("n_toks").cast("bigint").alias("t_toks"),
        F.sum("new_types").cast("bigint").alias("t_vocab"),
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
        F.coalesce(F.sum("t_toks").over(bw), F.lit(0))
        .cast("bigint")
        .alias("o_toks"),
        F.coalesce(F.sum("t_vocab").over(bw), F.lit(0))
        .cast("bigint")
        .alias("o_vocab"),
    )
    cum = local.join(offs, "pid").select(
        (F.col("l_toks") + F.col("o_toks")).cast("bigint").alias("cum_tokens"),
        (F.col("l_vocab") + F.col("o_vocab")).cast("bigint").alias("cum_vocab"),
    )
    x = F.round(F.log(F.col("cum_tokens").cast("double")), 9)
    y = F.round(F.log(F.col("cum_vocab").cast("double")), 9)
    st = cum.agg(
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
    beta = cov_n / varx_n
    return st.select(
        "n",
        F.round(beta, 6).cast("double").alias("heaps_beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / nd), 6)
        .cast("double")
        .alias("heaps_k"),
        F.round((cov_n * cov_n) / (varx_n * vary_n), 6)
        .cast("double")
        .alias("r2"),
    )


HEAPS_LAW_FIT_DOCUMENTS_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, token FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks GROUP BY doc_id
), first_doc AS (
    SELECT token, MIN(doc_id) AS doc_id FROM toks GROUP BY token
), new_vocab AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
    FROM first_doc GROUP BY doc_id
), grain AS (
    SELECT p.doc_id, p.n_toks, COALESCE(v.new_types, 0) AS new_types
    FROM per_doc p LEFT JOIN new_vocab v USING (doc_id)
), cum AS (
    SELECT CAST(SUM(n_toks) OVER w AS BIGINT) AS cum_tokens,
           CAST(SUM(new_types) OVER w AS BIGINT) AS cum_vocab
    FROM grain
    WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
), terms AS (
    SELECT ROUND(ln(CAST(cum_tokens AS DOUBLE)), 9) AS x,
           ROUND(ln(CAST(cum_vocab AS DOUBLE)), 9) AS y
    FROM cum
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM terms
)
SELECT n,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS DOUBLE)
           AS heaps_beta,
       CAST(ROUND(exp((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                      / CAST(n AS DOUBLE)), 6) AS DOUBLE) AS heaps_k,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  * (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE)
           AS r2
FROM s
"""


def target_encoding_loo_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of o_orderpriority against
    o_totalprice — the standard high-cardinality categorical encoding for
    tabular ML, in its leakage-safe LOO form: each row's encoding is the
    group mean EXCLUDING the row itself, (Σ_g − x)/(n_g − 1). One group
    aggregation broadcast back onto the fact scan — no window, no second
    shuffle; singleton groups yield NULL (no leak-free encoding exists).
    Sums are exact decimal; the final ratio is one rounded double."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("s_g"),
        F.count("*").cast("bigint").alias("n_g"),
    )
    loo = (
        (F.col("s_g") - F.col("o_totalprice").cast("decimal(18,6)")).cast(
            "double"
        )
        / (F.col("n_g") - 1).cast("double")
    )
    return (
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(F.col("n_g") > 1, F.round(loo, 6))
            .cast("double")
            .alias("priority_te_loo"),
        )
    )


TARGET_ENCODING_LOO_ORDERS_ORACLE = """
WITH g AS (
    SELECT o_orderpriority,
           SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s_g,
           CAST(COUNT(*) AS BIGINT) AS n_g
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o_orderpriority,
       CASE WHEN n_g > 1 THEN
           CAST(ROUND(CAST(s_g - CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE)
                      / CAST(n_g - 1 AS DOUBLE), 6) AS DOUBLE)
       END AS priority_te_loo
FROM orders JOIN g USING (o_orderpriority)
"""


def kmeans_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every embedding to its nearest of K=8 centroids (the 8
    lowest-vec_id embeddings — deterministic, data-derived, no RNG state),
    reporting per-cluster size and mean squared distance.

    This is the exact-parity check for the assignment kernel: distances are
    per-dimension squared differences (bitwise-identical doubles) summed in
    decimal, so argmin ties and the comparison hash are engine-independent.
    The production-scale path for repeated Lloyd iterations is the blocked
    numpy matmul in ``dedup/embedding.py`` (O(N·K) Arrow-batched); this
    query pins its semantics with a shape DuckDB can mirror. The centroid
    side is K·dim rows and broadcasts; the explode is dim× the vector count
    but carries only (id, dim, value) — never a cartesian over vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.orderBy("vec_id").limit(8)
    ce = cents.select(
        F.col("vec_id").alias("cid"),
        F.posexplode("embedding").alias("d", "c"),
    )
    ve = emb.select("vec_id", F.posexplode("embedding").alias("d", "v"))
    term = F.col("v").cast("double") - F.col("c").cast("double")
    dist = (
        ve.join(F.broadcast(ce), "d")
        .select("vec_id", "cid", (term * term).cast("decimal(20,12)").alias("t2"))
        .groupBy("vec_id", "cid")
        .agg(F.sum("t2").alias("dist2"))
    )
    pick = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cid").asc()
    )
    best = dist.withColumn("rn", F.row_number().over(pick)).filter(F.col("rn") == 1)
    return best.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(
            F.sum("dist2").cast("double") / F.count("*").cast("double"), 6
        )
        .cast("double")
        .alias("avg_dist2"),
    )


KMEANS_ASSIGN_EMBEDDINGS_ORACLE = """
WITH cents AS (
    SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT 8
), ce AS (
    SELECT cid, CAST(i AS INT) AS d, CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS c
    FROM cents CROSS JOIN range(64) t(i)
), ve AS (
    SELECT vec_id, CAST(i AS INT) AS d, CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
), dist AS (
    SELECT vec_id, cid,
           SUM(CAST((v - c) * (v - c) AS DECIMAL(20,12))) AS dist2
    FROM ve JOIN ce USING (d) GROUP BY vec_id, cid
), best AS (
    SELECT vec_id, cid, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2 ASC, cid ASC) AS rn
    FROM dist
)
SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(ROUND(CAST(SUM(dist2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
            AS DOUBLE) AS avg_dist2
FROM best WHERE rn = 1 GROUP BY cid
"""


# ---------------------------------------------------------------------------
# Bigram language-model scoring (+0 smoothing not needed: scored on train set)
# ---------------------------------------------------------------------------

def bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the mean conditional bigram probability of
    its own tokens under the corpus-wide bigram model — the classic cheap
    fluency/perplexity proxy for quality filtering (higher = more typical).

    Probabilities are ratios of bigints (``count(w1,w2)/count(w1·)``) whose
    double quotients are correctly rounded and therefore bitwise identical
    across engines; the per-doc mean sums them in decimal. Shuffle shape:
    tokenize → one groupBy for the model, then two key-joins to attach
    counts (vocabulary-sized sides — at corpus scale the model tables are
    the small sides and broadcast; here plain joins keep the oracle shape).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("token_idx", "token"),
        )
        .filter(F.col("token") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    big = (
        toks.select(
            "doc_id",
            F.col("token").alias("w1"),
            F.lead("token").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    p = F.col("c2").cast("double") / F.col("c1").cast("double")
    return (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select("doc_id", p.alias("p"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                dec_sum(F.col("p"), 18, 12).cast("double")
                / F.count("*").cast("double"),
                8,
            )
            .cast("double")
            .alias("avg_condprob"),
        )
    )


BIGRAM_LM_DOC_SCORES_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, CAST(idx AS INT) AS token_idx, token
    FROM (
        SELECT doc_id,
               unnest(range(len(regexp_split_to_array(text, '\s+')))) AS idx,
               unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), big AS (
    SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, token AS w1,
               LEAD(token) OVER (PARTITION BY doc_id ORDER BY token_idx) AS w2
        FROM toks
    ) WHERE w2 IS NOT NULL
), c2 AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
), c1 AS (
    SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(ROUND(CAST(SUM(CAST(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
                                 AS DECIMAL(18,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 8) AS DOUBLE) AS avg_condprob
FROM big b
JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
JOIN c1 ON b.w1 = c1.w1
GROUP BY b.doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

def als_rank1_part_factors(
    spark: SparkSession, sf_dir: str, n_iters: int = 4
) -> DataFrame:
    """Rank-1 alternating least squares over the customer×part quantity
    matrix — the smallest real instance of the distributed matrix
    factorization every recommender pipeline runs (Koren/Bell/Volinsky
    2009; Zhou et al. 2008 ALS-WR): minimize Σ(r_cp − u_c·v_p)² by
    alternating the CLOSED-FORM rank-1 updates
    v_p = Σ_c r·u / Σ_c u²  and  u_c = Σ_p r·v / Σ_p v².
    Rank 1 is exactly the alternating power iteration on the rating
    matrix (the dominant singular pair), so the published per-part factor
    is a purchase-volume-weighted popularity embedding; higher ranks
    change only the per-group solve (k×k), not the data flow this
    operator certifies.

    Scale shape — the part that matters at 100 TB: each half-iteration is
    ONE keyed join of the pinned ratings relation against a
    dimension-sized factor table plus ONE grouped aggregation; the
    ratings grain (customer, part, Σqty) is built once from
    lineitem⋈orders and localCheckpoint-pinned so iteration subtrees
    never replay the fact join. No driver-side matrix, no collect.
    Exactness: quantities are exact integers (the DOUBLE column carries
    whole numbers — summed as BIGINT), every Σr·u / Σu² folds in
    DECIMAL(38,12), factors re-round at 9 per half-iteration (the house
    iterative contract), u init = 1.0. Degenerate zero denominators
    yield NULL identically in both engines (unreachable on r ≥ 1 data,
    guarded anyway)."""
    from data_ingestion_pipeline_spark.plans.join_strategies import (
        auto_broadcast_threshold,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("double")
            .alias("r")
        )
        .localCheckpoint(eager=False)  # feeds every half-iteration
    )
    # Factor maps are node-grain (O(customers) / O(parts)) vs the
    # edge-grain ratings relation — broadcast them into the ratings scan
    # while n·32 B fits the SESSION's broadcast ceiling (the
    # PageRank/HITS gate; honors a lowered/disabled threshold), so no
    # half-iteration ever shuffles the ratings table. Plan: 16
    # SortMergeJoin (ratings re-shuffled by c/p every half-iteration) →
    # BroadcastHashJoin + map-side partial agg; only the ≤|c|/≤|p|-row
    # partial-aggregate outputs cross the wire. Past the ceiling the same
    # joins run as shuffles — the correct strategy for factor vectors
    # that outgrew the broadcast. Aggregation values are decimal folds
    # (order-invariant), so the join strategy cannot change the result.
    ceiling = auto_broadcast_threshold(spark)
    # bounded scalar actions (the PageRank-n policy) — ONE pass over the
    # pinned ratings for both distinct counts (r12: was two distinct+count
    # jobs; a two-distinct aggregate plans one Expand pass instead)
    _cnts = ratings.agg(
        F.countDistinct("c").alias("nc"), F.countDistinct("p").alias("np")
    ).first()
    n_c, n_p = int(_cnts["nc"]), int(_cnts["np"])

    def gated(node_map: DataFrame, n: int) -> DataFrame:
        return (
            F.broadcast(node_map)
            if (ceiling >= 0 and n * 32 <= ceiling)
            else node_map
        )

    u = ratings.select("c").distinct().select("c", F.lit(1.0).alias("u"))
    v = None
    for it in range(n_iters):
        last = it == n_iters - 1
        # r12: the final half-iteration's part-grain aggregate also carries
        # count(*) — that IS n_raters (u has exactly one row per c, so the
        # inner join preserves every ratings row), which removes the old
        # separate raters aggregation pass and its join. The v values are
        # untouched.
        v_aggs = [
            F.sum((F.col("r") * F.col("u")).cast("decimal(38,12)"))
            .cast("double")
            .alias("num"),
            F.sum((F.col("u") * F.col("u")).cast("decimal(38,12)"))
            .cast("double")
            .alias("den"),
        ]
        if last:
            v_aggs.append(F.count("*").cast("bigint").alias("n_raters"))
        v = (
            ratings.join(gated(u, n_c), "c")
            .groupBy("p")
            .agg(*v_aggs)
            .select(
                "p",
                *(["n_raters"] if last else []),
                F.when(
                    F.col("den") > F.lit(0.0),
                    F.round(F.col("num") / F.col("den"), 9),
                ).alias("v"),
            )
        )
        if last:
            break
        u = (
            ratings.join(gated(v, n_p), "p")
            .groupBy("c")
            .agg(
                F.sum((F.col("r") * F.col("v")).cast("decimal(38,12)"))
                .cast("double")
                .alias("num"),
                F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
                .cast("double")
                .alias("den"),
            )
            .select(
                "c",
                F.when(
                    F.col("den") > F.lit(0.0),
                    F.round(F.col("num") / F.col("den"), 9),
                ).alias("u"),
            )
        )
    return v.select(
        F.col("p").alias("p_partkey"),
        "n_raters",
        F.round("v", 6).cast("double").alias("v_factor"),
    )


def _als_rank1_oracle(n_iters: int = 4) -> str:
    head = """
WITH ratings AS MATERIALIZED (
    SELECT o_custkey AS c, l_partkey AS p,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS r
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
), u0 AS (SELECT DISTINCT c, 1.0 AS u FROM ratings)"""
    blocks = []
    for m in range(1, n_iters + 1):
        blocks.append(f"""
, v{m} AS MATERIALIZED (
    SELECT p, CASE WHEN den > 0.0 THEN ROUND(num / den, 9) END AS v FROM (
        SELECT rt.p,
               CAST(SUM(CAST(rt.r * f.u AS DECIMAL(38,12))) AS DOUBLE) AS num,
               CAST(SUM(CAST(f.u * f.u AS DECIMAL(38,12))) AS DOUBLE) AS den
        FROM ratings rt JOIN u{m-1} f USING (c) GROUP BY rt.p
    )
), u{m} AS MATERIALIZED (
    SELECT c, CASE WHEN den > 0.0 THEN ROUND(num / den, 9) END AS u FROM (
        SELECT rt.c,
               CAST(SUM(CAST(rt.r * f.v AS DECIMAL(38,12))) AS DOUBLE) AS num,
               CAST(SUM(CAST(f.v * f.v AS DECIMAL(38,12))) AS DOUBLE) AS den
        FROM ratings rt JOIN v{m} f USING (p) GROUP BY rt.c
    )
)""")
    return (
        head
        + "".join(blocks)
        + f"""
SELECT v{n_iters}.p AS p_partkey,
       CAST(n.n_raters AS BIGINT) AS n_raters,
       CAST(ROUND(v{n_iters}.v, 6) AS DOUBLE) AS v_factor
FROM v{n_iters}
JOIN (SELECT p, COUNT(*) AS n_raters FROM ratings GROUP BY p) n
  ON n.p = v{n_iters}.p
"""
    )


ALS_RANK1_PART_FACTORS_ORACLE = _als_rank1_oracle()


def train_val_test_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split by md5(doc_id) — stable under corpus growth (a doc's
    split never changes when other docs are added, unlike randomSplit),
    reproducible outside Spark, and skew-free. Reports per-split size and
    mean length. Pure map-side expression + one tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "bigint"
    ) % 100
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise("test")
    )
    return (
        docs.select(split.alias("split"), F.col("n_chars").cast("double").alias("nc"))
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                dec_sum(F.col("nc"), 27, 6).cast("double")
                / F.count("*").cast("double"),
                4,
            )
            .cast("double")
            .alias("avg_chars"),
        )
    )


TRAIN_VAL_TEST_SPLIT_DOCUMENTS_ORACLE = """
WITH keyed AS (
    SELECT CASE
               WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 < 80
                   THEN 'train'
               WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 < 90
                   THEN 'val'
               ELSE 'test'
           END AS split,
           CAST(n_chars AS DOUBLE) AS nc
    FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(CAST(SUM(CAST(nc AS DECIMAL(27,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE) AS avg_chars
FROM keyed GROUP BY split
"""


# ---------------------------------------------------------------------------
# Numeric-token scrubbing (PII-redaction shape over a text column)
# ---------------------------------------------------------------------------

def scrub_numeric_tokens_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact digit runs in the raw props payload (the PII-scrub shape:
    same plan works for emails/phones — the pattern is the only knob, kept
    to RE2∩Java syntax so any engine reproduces it). Emits the scrubbed
    text and the redaction count per event. Pure map-side: two regex
    expressions inside whole-stage codegen, no shuffle at all."""
    ev = load_table(spark, sf_dir, "events")
    pat = "[0-9]+"
    return ev.select(
        "event_id",
        F.regexp_replace(F.col("props"), pat, "<NUM>").alias("scrubbed_props"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit(pat), 0))
        .cast("int")
        .alias("n_redacted"),
    )


SCRUB_NUMERIC_TOKENS_EVENTS_ORACLE = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed_props,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_redacted
FROM events
"""


# ---------------------------------------------------------------------------
# Weighted sampling (A-ES / Efraimidis-Spirakis, deterministic keys)
# ---------------------------------------------------------------------------

def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample of 50 documents without replacement via the
    Efraimidis–Spirakis key ``ln(u)/w`` (equivalent ordering to u^(1/w)),
    with u derived from md5(doc_id) — the same deterministic-permutation
    policy as ``shard_shuffle_documents``: no RNG state, reproducible
    across engines and reruns, stable per doc under corpus growth.

    Scale shape: the key is a map-side expression; the top-50 cut is a
    rank, which Spark executes as per-partition top-k + merge (TakeOrdered)
    rather than a full sort when a LIMIT-style cut follows.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**13) + 2.0)  # strictly inside (0,1)
    key = F.log(u) / F.col("n_chars").cast("double")
    # top-50 via orderBy+limit — Spark plans TakeOrderedAndProject
    # (per-partition top-k + driver merge of 50-row heaps), never a global
    # single-partition window sort of the corpus; the rank number is then
    # a window over the 50 surviving rows only
    top = (
        docs.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    return top.select(
        F.row_number()
        # n_chars%1: constant-valued non-foldable partition key — the
        # 50-row rank window stays on WindowExec's partitioned path
        .over(
            Window.partitionBy(F.col("n_chars") % 1).orderBy(
                F.col("k").desc(), F.col("doc_id").asc()
            )
        )
        .cast("int")
        .alias("sample_rank"),
        "doc_id",
        "n_chars",
    )


WEIGHTED_SAMPLE_DOCUMENTS_ORACLE = """
WITH keyed AS (
    SELECT doc_id, n_chars,
           ln((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT AS DOUBLE)
               + 1.0) / 4503599627370498.0)
               / CAST(n_chars AS DOUBLE) AS k
    FROM documents
)
SELECT CAST(sample_rank AS INT) AS sample_rank, doc_id, n_chars FROM (
    SELECT doc_id, n_chars,
           ROW_NUMBER() OVER (ORDER BY k DESC, doc_id ASC) AS sample_rank
    FROM keyed
) WHERE sample_rank <= 50
"""


# ---------------------------------------------------------------------------
# Pairwise correlation matrix (single-pass power sums)
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every pair of lineitem measures, computed
    from ONE pass of exact decimal power sums (4 sums + 4 square sums + 6
    cross sums in a single map-side-combined aggregate) — never one
    ``corr()`` scan per pair, and never the built-in double accumulator
    (summation-order-dependent). The 6-row pivot afterwards is driver-free
    expression work on a 1-row frame. The scan fans out first: the
    fixture's single parquet file under-partitions the CPU-dense decimal
    aggregation (measured 4.2s -> 1.3s at sf0.1 with full parallelism)."""
    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    cols = {c: F.col(c).cast("double") for c in _CORR_COLS}
    aggs = [F.count("*").cast("bigint").alias("n")]
    for c, e in cols.items():
        aggs.append(dec_sum(e, 38, 12).cast("double").alias(f"s_{c}"))
        aggs.append(dec_sum(e * e, 38, 12).cast("double").alias(f"ss_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(
            dec_sum(cols[a] * cols[b], 38, 12).cast("double").alias(f"sp_{a}_{b}")
        )
    s = li.agg(*aggs)
    nd = F.col("n").cast("double")
    rows = []
    for a, b in pairs:
        cov_n = nd * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        va = nd * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        vb = nd * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        rows.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("n").alias("n"),
                F.round(cov_n / F.sqrt(va * vb), 6)
                .cast("double")
                .alias("pearson_r"),
            )
        )
    return s.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def _corr_oracle() -> str:
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in _CORR_COLS:
        sums.append(
            f"CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS s_{c}"
        )
        sums.append(
            f"CAST(SUM(CAST(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)"
            f" AS DECIMAL(38,12))) AS DOUBLE) AS ss_{c}"
        )
    pairs = [(a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]]
    for a, b in pairs:
        sums.append(
            f"CAST(SUM(CAST(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE)"
            f" AS DECIMAL(38,12))) AS DOUBLE) AS sp_{a}_{b}"
        )
    selects = []
    for a, b in pairs:
        cov = f"(CAST(n AS DOUBLE) * sp_{a}_{b} - s_{a} * s_{b})"
        va = f"(CAST(n AS DOUBLE) * ss_{a} - s_{a} * s_{a})"
        vb = f"(CAST(n AS DOUBLE) * ss_{b} - s_{b} * s_{b})"
        selects.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,"
            f" CAST(ROUND({cov} / SQRT({va} * {vb}), 6) AS DOUBLE) AS pearson_r"
            " FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(selects)
    )


CORR_MATRIX_LINEITEM_ORACLE = _corr_oracle()


# ---------------------------------------------------------------------------
# Exact equi-depth histogram (NTILE)
# ---------------------------------------------------------------------------

def equidepth_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten exact equi-depth buckets of order value: NTILE over a total
    order (tie-broken by key so bucket membership is deterministic), then
    per-bucket bounds and exact-decimal means.

    NTILE needs a global sort — the documented trade: this is the EXACT
    histogram; the scale path for 100 TB is the approx-quantile bucketing
    already registered (``price_quantiles_by_priority`` /
    ``order_price_histogram``) whose boundaries come from a mergeable
    sketch. Registering both pins that the sketch path approximates THIS.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        o.select("o_orderkey", "o_totalprice")
        .withColumn("bucket", F.ntile(10).over(w).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(
                dec_sum(F.col("o_totalprice"), 27, 12).cast("double")
                / F.count("*").cast("double"),
                6,
            )
            .cast("double")
            .alias("avg_price"),
        )
    )


EQUIDEPTH_HISTOGRAM_ORDERS_ORACLE = """
WITH ranked AS (
    SELECT o_orderkey, o_totalprice,
           CAST(NTILE(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
                AS INT) AS bucket
    FROM orders
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS avg_price
FROM ranked GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# k-hop BFS reach over the co-purchase graph
# ---------------------------------------------------------------------------

def khop_reach_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤3) from the lowest-keyed part to every part
    reachable over the support≥2 co-purchase graph — the frontier-BFS
    counterpart of the recursive-CTE oracle.

    Spark side is level-synchronous BFS: each round joins the *deduplicated*
    distance frontier to the edge list and folds with min — the frontier
    never enumerates paths, so the work per round is O(edges touched), not
    O(paths) like the naive recursive expansion. Three bounded rounds; the
    loop is driver-side plan construction only (no collect). The same loop
    with localCheckpoint-per-round is the unbounded-diameter pattern
    (``dedup/clustering.py``).
    """
    from data_ingestion_pipeline_spark.functions.pairs import basket_pairs

    pairs = (
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
    )
    edges = pairs.union(
        pairs.select(F.col("t").alias("s"), F.col("s").alias("t"))
        # 4 consumers (the seed agg + one join per BFS round) each replay
        # the distinct + self-join + support filter un-pinned — materialize
        # the 2-long edge table once (the pagerank/LPA edge-pin discipline)
    ).localCheckpoint(eager=False)
    seed = edges.agg(F.min("s").alias("node")).select(
        "node", F.lit(0).cast("int").alias("hop")
    )
    dist = seed
    for k in range(1, 4):
        # dist feeds TWO consumers per round (the frontier filter and the
        # min-fold union), so un-pinned the round-k plan holds 2^k copies
        # of every earlier round — pin the node-grain state per round
        dist = dist.localCheckpoint(eager=False)
        frontier = dist.filter(F.col("hop") == k - 1).select("node")
        reached = frontier.join(
            edges, frontier["node"] == edges["s"]
        ).select(F.col("t").alias("node"), F.lit(k).cast("int").alias("hop"))
        dist = (
            dist.union(reached)
            .groupBy("node")
            .agg(F.min("hop").cast("int").alias("hop"))
        )
    return dist.select(F.col("node").alias("part_id"), F.col("hop").alias("min_hop"))


KHOP_REACH_COPURCHASE_ORACLE = """
WITH RECURSIVE po AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
    SELECT a.l_partkey AS s, b.l_partkey AS t
    FROM po a JOIN po b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
), edges AS (
    SELECT s, t FROM pairs UNION ALL SELECT t AS s, s AS t FROM pairs
), seed AS (
    SELECT MIN(s) AS node FROM edges
), walk(node, hop) AS (
    SELECT node, 0 FROM seed
    UNION ALL
    SELECT e.t, w.hop + 1 FROM walk w JOIN edges e ON e.s = w.node
    WHERE w.hop < 3
)
SELECT node AS part_id, CAST(MIN(hop) AS INT) AS min_hop
FROM walk GROUP BY node
"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit of the corpus vocabulary
# ---------------------------------------------------------------------------

def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS of token frequency against rank (the Zipf exponent) over
    the top-1000 vocabulary — the corpus-health diagnostic that catches
    boilerplate floods (slope flattens) and template spam (slope steepens).

    The libm policy follows ``copurchase_lift_parts``' PMI precedent: ln()
    of identical double inputs can differ across engines in the last ulp,
    so each ln term is rounded to 9 decimals BEFORE entering the decimal
    power sums — products of the now-identical doubles are identical, and
    the sums are exact. The top-1000 cut happens FIRST via sort-limit
    (TakeOrderedAndProject: per-partition top-1000 then a 1000-row merge,
    the ``build_vocab_documents`` pattern) — the single-partition ranking
    window then sees exactly 1000 rows, never the full vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    top = freq.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(1000)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            # constant-valued but non-foldable partition key (freq is a
            # never-null count): keeps the bounded 1000-row ranking window
            # on WindowExec's partitioned path (lit() and col*0 would fold away)
            Window.partitionBy(F.col("freq") % 1).orderBy(
                F.col("freq").desc(), F.col("token").asc()
            )
        ),
    )
    x = F.round(F.log(F.col("rank").cast("double")), 9)
    y = F.round(F.log(F.col("freq").cast("double")), 9)
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        dec_sum(x, 27, 12).cast("double").alias("sx"),
        dec_sum(y, 27, 12).cast("double").alias("sy"),
        dec_sum(x * y, 27, 12).cast("double").alias("sxy"),
        dec_sum(x * x, 27, 12).cast("double").alias("sxx"),
        dec_sum(y * y, 27, 12).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / varx_n
    return s.select(
        "n",
        F.round(slope, 6).cast("double").alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6)
        .cast("double")
        .alias("intercept"),
        F.round((cov_n * cov_n) / (varx_n * vary_n), 6).cast("double").alias("r2"),
    )


ZIPF_FIT_TOKENS_ORACLE = r"""
WITH freq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents
    ) WHERE token <> '' GROUP BY token
), ranked AS (
    SELECT freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank
    FROM freq QUALIFY rank <= 1000
), terms AS (
    SELECT ROUND(ln(CAST(rank AS DOUBLE)), 9) AS x,
           ROUND(ln(CAST(freq AS DOUBLE)), 9) AS y
    FROM ranked
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(27,12))) AS DOUBLE) AS syy
    FROM terms
)
SELECT n,
       CAST(ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS DOUBLE)
           AS zipf_slope,
       CAST(ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                  / CAST(n AS DOUBLE), 6) AS DOUBLE) AS intercept,
       CAST(ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
                   * (CAST(n AS DOUBLE) * sxy - sx * sy))
                  / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS DOUBLE) AS r2
FROM s
"""


# ---------------------------------------------------------------------------
# PMI collocation mining
# ---------------------------------------------------------------------------

def top_bigram_collocations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information:
    PMI = ln(c(w1,w2)·N / (c(w1)·c(w2))) with support ≥ 5 — the phrase-mining
    primitive feeding tokenizer-merge candidates and stopword diagnostics.

    Count ratios are bigint-derived doubles (exact); PMI is rounded to 6
    decimals and the ORDER uses the ROUNDED value (then the words), so
    ranking can never depend on a last-ulp libm difference. Shuffle shape:
    the bigram count is the only corpus-sized aggregation; unigram counts
    are vocabulary-sized join sides."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("token_idx", "token"),
        )
        .filter(F.col("token") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    big = (
        toks.select(
            F.col("token").alias("w1"),
            F.lead("token").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c2"))
    uni = (
        toks.groupBy(F.col("token").alias("w"))
        .agg(F.count("*").cast("bigint").alias("cu"))
    )
    n_tok = toks.agg(F.count("*").cast("bigint").alias("n_total"))
    pmi = F.round(
        F.log(
            F.col("c2").cast("double")
            * F.col("n_total").cast("double")
            / (F.col("cu1").cast("double") * F.col("cu2").cast("double"))
        ),
        6,
    ).cast("double")
    scored = (
        c2.filter(F.col("c2") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select("w1", "w2", "c2", pmi.alias("pmi"))
    )
    # cut FIRST via sort-limit (TakeOrderedAndProject — per-partition top-20
    # then a 20-row merge), THEN rank: the single-partition ranking window
    # only ever sees 20 rows, never the corpus-scale candidate set
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)
    # c2%1: constant-valued non-foldable partition key — single group over
    # the 20 surviving rows without WindowExec's no-partition path
    pick = Window.partitionBy(F.col("c2") % 1).orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    return top.withColumn("rnk", F.row_number().over(pick)).select(
        F.col("rnk").cast("int").alias("rnk"), "w1", "w2", "c2", "pmi"
    )


TOP_BIGRAM_COLLOCATIONS_DOCUMENTS_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, CAST(idx AS INT) AS token_idx, token
    FROM (
        SELECT doc_id,
               unnest(range(len(regexp_split_to_array(text, '\s+')))) AS idx,
               unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), big AS (
    SELECT w1, w2 FROM (
        SELECT token AS w1,
               LEAD(token) OVER (PARTITION BY doc_id ORDER BY token_idx) AS w2
        FROM toks
    ) WHERE w2 IS NOT NULL
), c2 AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
), uni AS (
    SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cu FROM toks GROUP BY token
), n_tok AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks
), scored AS (
    SELECT c2.w1, c2.w2, c2.c2,
           CAST(ROUND(ln(CAST(c2.c2 AS DOUBLE) * CAST(n_total AS DOUBLE)
                         / (CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))), 6)
                AS DOUBLE) AS pmi
    FROM c2
    JOIN uni u1 ON c2.w1 = u1.w
    JOIN uni u2 ON c2.w2 = u2.w
    CROSS JOIN n_tok
    WHERE c2.c2 >= 5
)
SELECT CAST(rnk AS INT) AS rnk, w1, w2, c2, pmi FROM (
    SELECT w1, w2, c2, pmi,
           ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rnk
    FROM scored
) WHERE rnk <= 20
"""


# ---------------------------------------------------------------------------
# RAKE keyword extraction (stopword-delimited phrases, degree/freq scores)
# ---------------------------------------------------------------------------

# Shared by the builder and the generated oracle SQL — the EN voting list
# from functions/text.py plus the bare article, frozen here because RAKE's
# output is defined by its delimiter set.
RAKE_STOPWORDS = [
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "with", "a",
]


def rake_keywords_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.): candidate phrases are maximal
    runs of non-stopword tokens (gaps-and-islands over the token stream,
    stopwords as delimiters), each word scores degree/freq over the phrase
    corpus, and a phrase scores the sum of its word scores. Top-15 phrases.

    Cross-engine shape: phrase text is re-assembled with an ORDER
    BY-token_idx aggregation on both engines; word scores are bigint
    ratios (exact doubles); the phrase score sums them in decimal; the
    final ranking orders by the ROUNDED score so it never rides a float
    ulp. Shuffles: token islands (one window), phrase grouping, word
    stats, and the score join — all on bounded keys.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("token_idx", "token"),
        )
        .filter(F.col("token") != "")
        .withColumn("is_stop", F.col("token").isin(RAKE_STOPWORDS))
    )
    w = Window.partitionBy("doc_id").orderBy("token_idx")
    seg = F.sum(F.col("is_stop").cast("int")).over(w)
    pw = (
        toks.withColumn("seg", seg)
        .filter(~F.col("is_stop"))
        .select("doc_id", "seg", "token_idx", "token")
    )
    plen_w = Window.partitionBy("doc_id", "seg")
    pw = pw.withColumn("plen", F.count("*").over(plen_w).cast("bigint"))
    word_stats = pw.groupBy("token").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    scored_words = pw.join(word_stats, "token").withColumn(
        "wscore", F.col("degree").cast("double") / F.col("freq").cast("double")
    )
    phrases = scored_words.groupBy("doc_id", "seg").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(token_idx, token))),"
            " x -> x.token), ' ')"
        ).alias("phrase"),
        F.max("plen").alias("n_words"),
        dec_sum(F.col("wscore"), 18, 12).cast("double").alias("pscore"),
    )
    agg = phrases.groupBy("phrase").agg(
        F.max("n_words").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.round(F.max("pscore"), 6).cast("double").alias("score"),
    )
    # cut FIRST via sort-limit (TakeOrderedAndProject — per-partition top-15
    # then a 15-row merge), THEN rank: the single-partition ranking window
    # only ever sees 15 rows, never every distinct phrase in the corpus
    top = agg.orderBy(F.col("score").desc(), F.col("phrase").asc()).limit(15)
    # n_occurrences%1: constant-valued non-foldable partition key — single
    # group over the 15 surviving rows, partitioned WindowExec path
    pick = Window.partitionBy(F.col("n_occurrences") % 1).orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    )
    return top.withColumn("rk", F.row_number().over(pick)).select(
        F.col("rk").cast("int").alias("rk"), "phrase", "n_words",
        "n_occurrences", "score"
    )


def _rake_oracle() -> str:
    stoplist = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return rf"""
WITH toks AS (
    SELECT doc_id, CAST(idx AS INT) AS token_idx, token,
           token IN ({stoplist}) AS is_stop
    FROM (
        SELECT doc_id,
               unnest(range(len(regexp_split_to_array(text, '\s+')))) AS idx,
               unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents
    ) WHERE token <> ''
), seg AS (
    SELECT doc_id, token_idx, token, is_stop,
           SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY token_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS seg
    FROM toks
), pw0 AS (
    SELECT doc_id, seg, token_idx, token FROM seg WHERE NOT is_stop
), pw AS (
    SELECT doc_id, seg, token_idx, token,
           CAST(COUNT(*) OVER (PARTITION BY doc_id, seg) AS BIGINT) AS plen
    FROM pw0
), word_stats AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS degree
    FROM pw GROUP BY token
), scored AS (
    SELECT pw.doc_id, pw.seg, pw.token_idx, pw.token, pw.plen,
           CAST(ws.degree AS DOUBLE) / CAST(ws.freq AS DOUBLE) AS wscore
    FROM pw JOIN word_stats ws ON pw.token = ws.token
), phrases AS (
    SELECT doc_id, seg,
           string_agg(token, ' ' ORDER BY token_idx) AS phrase,
           MAX(plen) AS n_words,
           CAST(SUM(CAST(wscore AS DECIMAL(18,12))) AS DOUBLE) AS pscore
    FROM scored GROUP BY doc_id, seg
), agg AS (
    SELECT phrase, CAST(MAX(n_words) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(ROUND(MAX(pscore), 6) AS DOUBLE) AS score
    FROM phrases GROUP BY phrase
)
SELECT CAST(rk AS INT) AS rk, phrase, n_words, n_occurrences, score FROM (
    SELECT phrase, n_words, n_occurrences, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, phrase ASC) AS rk
    FROM agg
) WHERE rk <= 15
"""


RAKE_KEYWORDS_DOCUMENTS_ORACLE = _rake_oracle()


def textrank_terms_documents(
    spark: SparkSession, sf_dir: str, iters: int = 3
) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): WEIGHTED PageRank over the corpus
    token-adjacency graph — the graph-centrality keyword scorer next to
    RAKE's degree/frequency heuristic one function up, and the weighted
    complement of the unweighted ``pagerank_copurchase_parts`` loop.
    Nodes are terms, undirected edge weight = corpus-wide adjacency count
    (window 2, self-adjacencies dropped), and each iteration moves rank
    along WS(v) = 0.15 + 0.85·Σ_u (w_uv / S(u))·WS(u) with S(u) the node
    strength. Scores all terms rather than cutting a top-k: the fixture
    vocabulary is bounded, and a caller ranks downstream.

    Scale shape: the corpus-∝ work is ONE narrow pass (zip_with of two
    array slices → explode) into a bigram-grain count — no window over the
    token stream, no self-join; the iteration joins a vocabulary-sized
    rank map into the checkpointed weighted edge list (broadcast under
    the session ceiling via the PageRank gate, shuffled past it — real
    corpora push vocabularies into the millions). Exactness: w_uv/S(u)
    and the ws products are bitwise-identical doubles, per-term sums fold
    in DECIMAL(38,18), and each iterate re-rounds at 9 — the
    pagerank/HITS iterative contract.
    """
    from data_ingestion_pipeline_spark.plans.join_strategies import (
        auto_broadcast_threshold,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(t)
    prs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    und = (
        docs.select(F.explode(prs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    edges = und.selectExpr("a as src", "b as dst", "w").unionByName(
        und.selectExpr("b as src", "a as dst", "w")
    ).localCheckpoint()
    strength = (
        edges.groupBy("src")
        .agg(F.sum("w").cast("bigint").alias("s"))
        .localCheckpoint(eager=False)  # feeds the scalar count + every iteration
    )
    n_terms = strength.count()  # bounded scalar action (PageRank's n policy)
    ceiling = auto_broadcast_threshold(spark)
    small = ceiling >= 0 and n_terms * 48 <= ceiling
    ws = strength.select(F.col("src").alias("term"), F.lit(1.0).alias("ws"))
    for _ in range(iters):
        out_mass = ws.join(strength, ws.term == strength.src).select(
            F.col("src").alias("u"),
            (F.col("ws") / F.col("s").cast("double")).alias("c"),
        )
        if small:
            out_mass = F.broadcast(out_mass)
        contrib = edges.join(out_mass, edges.src == F.col("u")).select(
            F.col("dst").alias("term"),
            (F.col("w").cast("double") * F.col("c")).alias("m"),
        )
        ws = contrib.groupBy("term").agg(
            F.round(
                F.lit(0.15)
                + F.lit(0.85) * dec_sum(F.col("m"), 38, 18).cast("double"),
                9,
            ).alias("ws")
        )
    return ws.select("term", F.round("ws", 6).cast("double").alias("textrank"))


def _textrank_oracle(iters: int = 3) -> str:
    head = r"""
WITH base AS (
    SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
und AS MATERIALIZED (
    SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM (
        SELECT unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM base
    ) WHERE w1 <> w2
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT a AS src, b AS dst, w FROM und
    UNION ALL
    SELECT b, a, w FROM und
),
st AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS s FROM edges GROUP BY src),
r0 AS (SELECT src AS term, 1.0 AS ws FROM st)"""
    blocks = []
    for k in range(1, iters + 1):
        blocks.append(f"""
, r{k} AS MATERIALIZED (
    SELECT e.dst AS term,
           ROUND(0.15 + 0.85 * CAST(SUM(CAST(
               CAST(e.w AS DOUBLE) * (r.ws / CAST(st.s AS DOUBLE))
           AS DECIMAL(38,18))) AS DOUBLE), 9) AS ws
    FROM edges e JOIN r{k-1} r ON e.src = r.term JOIN st ON st.src = e.src
    GROUP BY e.dst
)""")
    return (
        head
        + "".join(blocks)
        + f"""
SELECT term, CAST(ROUND(ws, 6) AS DOUBLE) AS textrank FROM r{iters}
"""
    )


TEXTRANK_TERMS_DOCUMENTS_ORACLE = _textrank_oracle()


# ---------------------------------------------------------------------------
# mapInArrow kernel: exact per-vector L2 norms
# ---------------------------------------------------------------------------

def arrow_vector_norms_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm computed in a ``mapInArrow`` kernel — the
    RecordBatch-iterator extension point one tier below mapInPandas (no
    pandas Block manager, zero-copy Arrow buffers both directions). The
    kernel accumulates each vector's Σx² with ``math.fsum`` (the EXACT
    sum), so its result is bitwise the oracle's exact decimal-sum double
    and the comparison never depends on accumulation order — the same
    exactness contract the JVM-side operators carry, proven through the
    Python boundary. Rounding happens JVM-side after the kernel (engine
    ROUND semantics, not Python's banker's rounding).

    Scale shape: embarrassingly parallel map over Arrow batches; no
    shuffle at all.
    """
    import math

    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def kernel(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            vecs = batch.column("embedding").to_pylist()
            norms = [
                math.sqrt(math.fsum(float(x) * float(x) for x in v)) for v in vecs
            ]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(norms, type=pa.float64())],
                names=["vec_id", "l2_raw"],
            )

    out = emb.mapInArrow(kernel, "vec_id bigint, l2_raw double")
    return out.select(
        "vec_id", F.round(F.col("l2_raw"), 6).cast("double").alias("l2_norm")
    )


ARROW_VECTOR_NORMS_EMBEDDINGS_ORACLE = """
SELECT vec_id,
       CAST(ROUND(SQRT(CAST(SUM(CAST(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                                     * CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                                     AS DECIMAL(38,20))) AS DOUBLE)), 6) AS DOUBLE)
           AS l2_norm
FROM embeddings CROSS JOIN range(64) t(i)
GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# Iterative k-means (3 Lloyd steps) with exact cross-engine parity
# ---------------------------------------------------------------------------

_LLOYD_ITERS = 3


def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations (assign → re-center → repeat) with the
    same exact-decimal discipline as the one-step assignment check: every
    distance is a decimal sum of identical per-dim doubles, every new
    centroid coordinate is an exact decimal mean cast to double — so all
    THREE intermediate centroid sets are bitwise engine-identical and the
    oracle (the same recurrence unrolled into CTEs) hash-matches the final
    clustering, not just its shape. PageRank proved the pattern for
    iterative graph state; this extends it to iterative ML state.

    Scale shape: per-iteration work is one equi-join against a broadcast
    K·dim centroid relation plus two aggregations; the vector table is
    never self-joined and iteration count is fixed. The production kernel
    for big K remains the blocked numpy matmul (``dedup/embedding.py``);
    this pins its semantics end-to-end.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ve = emb.select("vec_id", F.posexplode("embedding").alias("d", "v")).select(
        "vec_id", "d", F.col("v").cast("double").alias("v")
    )
    ve = ve.localCheckpoint()  # scanned 3×: pin instead of re-exploding
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.posexplode("embedding").alias("d", "c"))
        .select("cid", "d", F.col("c").cast("double").alias("c"))
    )
    assign = None
    for _ in range(_LLOYD_ITERS):
        term = F.col("v") - F.col("c")
        dist = (
            ve.join(F.broadcast(cents), "d")
            .select(
                "vec_id", "cid", (term * term).cast("decimal(20,12)").alias("t2")
            )
            .groupBy("vec_id", "cid")
            .agg(F.sum("t2").alias("dist2"))
        )
        # argmin as min(struct(dist2, cid)) — one two-phase aggregate with
        # exact decimal + tie-break ordering baked into the struct compare,
        # instead of a per-iteration window sort (same result as the
        # oracle's ROW_NUMBER, one less shuffle-and-sort per iteration)
        assign = (
            dist.groupBy("vec_id")
            .agg(F.min(F.struct("dist2", "cid")).alias("best"))
            .select("vec_id", F.col("best.cid").alias("cid"),
                    F.col("best.dist2").alias("dist2"))
        )
        cents = (
            assign.join(ve, "vec_id")
            .groupBy("cid", "d")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(27,18)")).cast("double")
                    / F.count("*").cast("double")
                ).alias("c")
            )
        )
        # Deliberately NOT checkpointed: within the single final action each
        # iteration's shuffle executes once anyway (stage reuse), while an
        # eager per-iteration checkpoint pays 3 extra jobs that replay the
        # DAG — measured 5.0-5.5s vs 3.7-4.1s with only the ve checkpoint.
    return assign.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.sum("dist2").cast("double") / F.count("*").cast("double"), 6)
        .cast("double")
        .alias("inertia"),
    )


def _lloyd_oracle() -> str:
    parts = [
        """WITH ve AS (
    SELECT vec_id, CAST(i AS INT) AS d,
           CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
), cents0 AS (
    SELECT cid, CAST(i AS INT) AS d,
           CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS c
    FROM (SELECT vec_id AS cid, embedding FROM embeddings
          ORDER BY vec_id LIMIT 8)
    CROSS JOIN range(64) t(i)
)"""
    ]
    prev = "cents0"
    for i in range(1, _LLOYD_ITERS + 1):
        parts.append(
            f""", dist{i} AS (
    SELECT vec_id, cid,
           SUM(CAST((v - c) * (v - c) AS DECIMAL(20,12))) AS dist2
    FROM ve JOIN {prev} USING (d) GROUP BY vec_id, cid
), assign{i} AS (
    SELECT vec_id, cid, dist2 FROM (
        SELECT vec_id, cid, dist2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2 ASC, cid ASC) AS rn
        FROM dist{i}
    ) WHERE rn = 1
), cents{i} AS (
    SELECT a.cid, ve.d,
           CAST(SUM(CAST(ve.v AS DECIMAL(27,18))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS c
    FROM assign{i} a JOIN ve USING (vec_id)
    GROUP BY a.cid, ve.d
)"""
        )
        prev = f"cents{i}"
    parts.append(
        f"""
SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(ROUND(CAST(SUM(dist2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
            AS DOUBLE) AS inertia
FROM assign{_LLOYD_ITERS} GROUP BY cid"""
    )
    return "".join(parts)


KMEANS_LLOYD_EMBEDDINGS_ORACLE = _lloyd_oracle()


# ---------------------------------------------------------------------------
# Label-centroid similarity matrix — class-separability diagnostic
# ---------------------------------------------------------------------------

def label_centroid_similarity_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids —
    the class-separability diagnostic run before training a classifier on
    labeled vectors (two labels whose centroids sit at cosine ≈ 1 will
    confuse any linear head; the confusable-pair list drives relabeling /
    merge decisions).

    Exactness follows the k-means discipline: per-(label, dim) centroid
    coordinates are exact decimal means cast to double (bitwise
    engine-identical); dot products and norms fold those doubles'
    products in decimal; one final sqrt+divide per pair, rounded. Scale
    shape: ONE aggregation over the exploded vectors (shuffle ∝ labels ×
    dim, i.e. tiny), then all pairwise work happens on the ≤K·dim
    centroid relation — the vector table is never self-joined."""
    emb = load_table(spark, sf_dir, "embeddings")
    ve = emb.select(
        "label", F.posexplode("embedding").alias("d", "v")
    ).select("label", "d", F.col("v").cast("double").alias("v"))
    cents = ve.groupBy("label", "d").agg(
        (
            F.sum(F.col("v").cast("decimal(27,18)")).cast("double")
            / F.count("*").cast("double")
        ).alias("c")
    )
    a = cents.select(
        F.col("label").alias("label_a"), "d", F.col("c").alias("ca")
    )
    b = cents.select(
        F.col("label").alias("label_b"), "d", F.col("c").alias("cb")
    )
    pairs = a.join(b, "d").filter(F.col("label_a") < F.col("label_b"))
    s = pairs.groupBy("label_a", "label_b").agg(
        F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,20)"))
        .cast("double")
        .alias("dot"),
        F.sum((F.col("ca") * F.col("ca")).cast("decimal(38,20)"))
        .cast("double")
        .alias("na"),
        F.sum((F.col("cb") * F.col("cb")).cast("decimal(38,20)"))
        .cast("double")
        .alias("nb"),
    )
    return s.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6
        )
        .cast("double")
        .alias("centroid_cosine"),
    )


LABEL_CENTROID_SIMILARITY_EMBEDDINGS_ORACLE = """
WITH ve AS (
    SELECT label, CAST(i AS INT) AS d,
           CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
), cents AS (
    SELECT label, d,
           CAST(SUM(CAST(v AS DECIMAL(27,18))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
    FROM ve GROUP BY label, d
), pairs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           a.c AS ca, b.c AS cb
    FROM cents a JOIN cents b ON a.d = b.d AND a.label < b.label
), s AS (
    SELECT label_a, label_b,
           CAST(SUM(CAST(ca * cb AS DECIMAL(38,20))) AS DOUBLE) AS dot,
           CAST(SUM(CAST(ca * ca AS DECIMAL(38,20))) AS DOUBLE) AS na,
           CAST(SUM(CAST(cb * cb AS DECIMAL(38,20))) AS DOUBLE) AS nb
    FROM pairs GROUP BY label_a, label_b
)
SELECT label_a, label_b,
       CAST(ROUND(dot / SQRT(na * nb), 6) AS DOUBLE) AS centroid_cosine
FROM s
"""


# ---------------------------------------------------------------------------
# Neyman optimal allocation for stratified sampling
# ---------------------------------------------------------------------------

def neyman_allocation_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934) of a 1000-document sample
    budget across language strata: n_h ∝ N_h·σ_h (stratum size × stratum
    std of n_chars) — the statistically efficient upgrade of the
    proportional allocation ``stratified_sample_documents`` uses, and the
    planning report a curation pipeline runs before drawing an
    annotation / eval sample. Published per stratum: N_h, σ_h, and the
    proportional vs Neyman allocations side by side (the delta IS the
    report — it shows where optimal allocation diverges from naive).

    σ_h comes from exact decimal power sums (population variance); each
    allocation is floor(budget · share) — raw floors (summing to ≤
    budget) rather than largest-remainder rounding, so the contract
    stays exact integer arithmetic on both engines. One aggregate over
    documents; everything else is strata-sized."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_h"),
        dec_sum(F.col("n_chars").cast("double"), 38, 6).cast("double").alias("s1"),
        dec_sum(
            F.col("n_chars").cast("double") * F.col("n_chars").cast("double"),
            38,
            6,
        )
        .cast("double")
        .alias("s2"),
    )
    nh = F.col("n_h").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / nh) / nh
    scored = per.select(
        "lang", "n_h", F.round(F.sqrt(var), 9).alias("sigma_h")
    )
    # lang is a tiny domain: the share denominators ride a grand window
    # over the strata relation (≤ languages rows)
    tot = Window.partitionBy(F.substring("lang", 1, 0))
    w_num = F.col("n_h").cast("double") * F.col("sigma_h")
    alloc_neyman = F.floor(
        F.lit(1000.0) * w_num / F.sum(w_num).over(tot)
    ).cast("bigint")
    alloc_prop = F.floor(
        F.lit(1000.0)
        * F.col("n_h").cast("double")
        / F.sum(F.col("n_h").cast("double")).over(tot)
    ).cast("bigint")
    return scored.select(
        "lang",
        "n_h",
        F.round("sigma_h", 6).cast("double").alias("sigma_h"),
        alloc_prop.alias("alloc_proportional"),
        alloc_neyman.alias("alloc_neyman"),
    )


NEYMAN_ALLOCATION_DOCUMENTS_ORACLE = """
WITH per AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
           CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,6)))
                AS DOUBLE) AS s1,
           CAST(SUM(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
                         AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM documents GROUP BY lang
), scored AS (
    SELECT lang, n_h,
           ROUND(SQRT((s2 - s1 * s1 / CAST(n_h AS DOUBLE))
                      / CAST(n_h AS DOUBLE)), 9) AS sigma_h
    FROM per
)
SELECT lang, n_h,
       CAST(ROUND(sigma_h, 6) AS DOUBLE) AS sigma_h,
       CAST(FLOOR(1000.0 * CAST(n_h AS DOUBLE)
                  / SUM(CAST(n_h AS DOUBLE)) OVER ()) AS BIGINT)
           AS alloc_proportional,
       CAST(FLOOR(1000.0 * CAST(n_h AS DOUBLE) * sigma_h
                  / SUM(CAST(n_h AS DOUBLE) * sigma_h) OVER ()) AS BIGINT)
           AS alloc_neyman
FROM scored
"""


# ---------------------------------------------------------------------------
# PCA first principal component — in-engine power iteration
# ---------------------------------------------------------------------------

_POWER_ITERS = 3


def pca_power_iteration_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding cloud by power iteration
    — the in-engine PCA that tells a curation pipeline how anisotropic its
    embedding space is (a dominant component with a high explained-variance
    share ⇒ cosine similarities are inflated by a common direction and
    should be whitened; Mu & Viswanath's "all-but-the-top" diagnostic).

    Exact-parity recipe (the ``kmeans_lloyd`` / PageRank discipline
    extended to spectral state): the 64×64 covariance comes from ONE
    ``mapInArrow`` X^T·X partial pass — each Arrow batch emits one
    2080-row upper-triangle block whose products round half-away-from-zero
    to integers at 1e13 scale and fold as BIGINT partials, merged in
    DECIMAL(38,0) (the ``arrow_vector_norms`` exactness contract through
    the Python boundary; zero pre-agg shuffle); three power steps then
    run entirely on the ≤64²-cell relation — each step one broadcast join
    + 64-row aggregate, with the iterate re-normalized and rounded to 9
    decimals so both engines carry bitwise-identical vectors. λ₁ is the
    final iterate's ‖Cw‖ (w normalized), and the explained share divides
    by the exact trace. Scale: the only corpus-∝ work is the covariance
    scan (shuffle = 2080 cells × batches); iterations are dimension-sized.
    """
    n_row, _centered, upper, _w, nrm, _mu, _wv = _pca_state(spark, sf_dir)
    trace = upper.filter(F.col("i") == F.col("j")).agg(
        F.sum(F.col("c").cast("decimal(38,20)")).cast("double").alias("trace")
    )
    return trace.select(
        F.lit(n_row).cast("bigint").alias("n_vectors"),
        F.round("trace", 6).cast("double").alias("variance_total"),
        F.round(F.lit(nrm), 6).cast("double").alias("lambda1"),
        F.round(F.lit(nrm) / F.col("trace"), 6)
        .cast("double")
        .alias("explained_share"),
    )


def _cov_partials(emb: DataFrame, mu_vals: list) -> DataFrame:
    """Upper-triangle covariance BIGINT partials as a ``mapInArrow``
    kernel: one 2080-row (i, j, ps) block per Arrow batch, zero pre-agg
    shuffle, no join and no posexplode anywhere in the subtree (plan pin:
    ``test_pca_covariance_is_arrow_kernel``)."""

    def _cov_kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        mu = np.asarray(mu_vals, dtype=np.float64)
        iu_i, iu_j = np.triu_indices(64)
        ii = pa.array(iu_i.astype("int32"))
        jj = pa.array(iu_j.astype("int32"))
        for batch in batches:
            flat = pc.list_flatten(batch.column("embedding"))
            if len(flat) != 64 * batch.num_rows:
                # a NULL or ragged embedding list would silently misalign
                # every later vector after the reshape — refuse instead
                raise ValueError(
                    "embedding column must be non-null fixed-width 64 "
                    f"(got {len(flat)} values for {batch.num_rows} rows)"
                )
            x = np.asarray(flat, dtype=np.float64).reshape(-1, 64) - mu
            acc = np.zeros(len(iu_i), dtype=np.int64)
            # 1024-row blocks bound the n×64×64 product tensor to ~32 MB
            for s in range(0, x.shape[0], 1024):
                blk = x[s : s + 1024]
                p = (blk[:, :, None] * blk[:, None, :])[:, iu_i, iu_j]
                t = p * 1e13
                # half-away-from-zero — the engines' ROUND, not banker's.
                # NOT the add-0.5 trick: for t just below an x.5 boundary
                # (e.g. 0.49999999999999994) t+0.5 rounds UP in binary and
                # trunc gives 1 where Spark/DuckDB ROUND give 0. The
                # fraction t-trunc(t) is exact for doubles, so comparing
                # it against 0.5 matches std::round/BigDecimal bit-for-bit.
                # One trunc pass + in-place add (sign·bool is ±1 exactly
                # where |frac|>=0.5) — ~2× fewer full-matrix passes than
                # the where/copysign form, bit-identical on a 2.5M fuzz
                # incl. exact halves; NaN stays NaN for the zeroing below
                r = np.trunc(t)
                np.add(r, np.sign(t) * (np.abs(t - r) >= 0.5), out=r)
                # NULL embedding elements arrive as NaN (np.trunc(NaN)
                # .astype(int64) is undefined garbage, typically INT64_MIN):
                # zero them, which is exactly the SQL semantics the oracle
                # applies — a NULL product drops out of SUM
                acc += np.where(np.isnan(r), 0, r).astype(np.int64).sum(
                    axis=0
                )
            yield pa.RecordBatch.from_arrays(
                [ii, jj, pa.array(acc)], names=["i", "j", "ps"]
            )

    return emb.select("embedding").mapInArrow(
        _cov_kernel, "i int, j int, ps bigint"
    )


def _pca_state(spark: SparkSession, sf_dir: str):
    """Shared spectral state: (n_row, centered, covariance upper triangle,
    final unit PC1 iterate, its ‖Cw‖ norm) — used by the PCA report and
    the whitening query so both evaluate the SAME component the oracle
    replays."""
    emb = load_table(spark, sf_dir, "embeddings")
    ve = emb.select("vec_id", F.posexplode("embedding").alias("d", "v")).select(
        "vec_id", "d", F.col("v").cast("double").alias("v")
    )
    n_row = emb.count()
    means = ve.groupBy("d").agg(
        (
            F.sum(F.col("v").cast("decimal(27,18)")).cast("double")
            / F.lit(n_row).cast("double")
        ).alias("mu")
        # 64-row relation with a corpus-sized lineage (scan + posexplode +
        # agg) and TWO consumers (the mu_vals collect below and the
        # broadcast into `centered`): pin it so the explode pass runs once
    ).localCheckpoint(eager=False)
    centered = ve.join(F.broadcast(means), "d").select(
        "vec_id", "d", (F.col("v") - F.col("mu")).alias("x")
    )
    # Covariance as ONE ``mapInArrow`` X^T·X partial pass (the
    # ``arrow_vector_norms_embeddings`` precedent for exactness through the
    # Python boundary, applied per round-5 verdict item 3): the old plan was
    # posexplode → self-join on vec_id — a shuffle of 2×N×64 rows and a
    # 2080-term codegen fan-out per vector. Here each Arrow batch yields one
    # 2080-row (i, j, BIGINT-partial) block with ZERO pre-agg shuffle; the
    # corpus-∝ work is a scan-side numpy outer product. Exactness contract
    # unchanged: each centered product rounds half-away-from-zero to an
    # integer at 1e13 scale — identical doubles give identical integers in
    # numpy, the JVM, and DuckDB, and integer partials merge associatively —
    # then level 2 sums the ≤cells×batches partials in DECIMAL(38,0). A
    # per-batch cell partial is bounded by maxRecordsPerBatch (10k rows ×
    # ≲1e13/product ≈ 1e17 ≪ 2^63), so the BIGINT partial never overflows
    # at ANY corpus size. The 64 means ride the closure (dimension-sized,
    # the bounded-driver-state policy) and are collected from the SAME
    # `means` relation the oracle computes.
    mu_vals = [
        float(r["mu"]) for r in means.orderBy("d").select("mu").collect()
    ]
    lvl1 = _cov_partials(emb, mu_vals)
    upper = (
        lvl1.groupBy("i", "j")
        .agg(
            (
                F.sum(F.col("ps").cast("decimal(38,0)")).cast("double")
                / F.lit(1e13)
                / F.lit(n_row).cast("double")
            ).alias("c")
        )
        # the 2080-cell triangle feeds all five iterations AND the trace —
        # checkpoint it so the corpus-sized covariance pass runs exactly once
        .localCheckpoint(eager=False)
    )
    # Power iteration DRIVER-SIDE over the collected 2080-cell triangle —
    # dimension-bounded state (64×64 doubles), the same bounded-driver
    # policy as mu_vals above. The previous Spark-side loop (3 rounds of
    # broadcast-join + decimal agg + crossJoin over ≤64-row relations) was
    # pure fixed overhead at ANY corpus size: ~2.3 s of tiny stages and six
    # broadcasts per query (r11 measurement). Arithmetic replicates the old
    # chain (and the oracle's unrolled CTEs) BITWISE:
    #   u_i  = cast(sum(cast(c_ij*w_j as decimal(38,20))) as double)
    #   nrm  = sqrt(cast(sum(cast(u_i² as decimal(38,20))) as double))
    #   w_i' = round(u_i/nrm, 9)
    # Spark's double→decimal cast goes through the shortest decimal string
    # (BigDecimal.valueOf) then HALF_UP at the target scale; Python's
    # Decimal(repr(x)).quantize(…, ROUND_HALF_UP) is the identical mapping
    # (both reprs are shortest round-trip strings, HALF_UP is away-from-zero
    # in both), decimal sums are exact on both, float(Decimal) and
    # BigDecimal.doubleValue both round correctly to nearest, and ROUND(x,9)
    # is the same valueOf+setScale(9, HALF_UP) pair. Hash-verified tri-SF
    # against the unchanged DuckDB oracle chain.
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q20 = Decimal(1).scaleb(-20)
    q9 = Decimal(1).scaleb(-9)

    def _d20(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q20, rounding=ROUND_HALF_UP)

    cells = upper.collect()  # ≤ dim·(dim+1)/2 rows — bounded driver state
    mat: dict[int, list[tuple[int, float]]] = {i: [] for i in range(64)}
    for r in cells:
        mat[r["i"]].append((r["j"], r["c"]))
        if r["i"] < r["j"]:
            mat[r["j"]].append((r["i"], r["c"]))
    wv = [0.125] * 64
    nrm_val = float("nan")
    for _ in range(_POWER_ITERS):
        u = [
            float(sum((_d20(c * wv[j]) for j, c in mat[i]), Decimal(0)))
            for i in range(64)
        ]
        nrm_val = math.sqrt(float(sum((_d20(x * x) for x in u), Decimal(0))))
        wv = [
            float(
                Decimal(repr(x / nrm_val)).quantize(q9, rounding=ROUND_HALF_UP)
            )
            for x in u
        ]
    w = spark.createDataFrame(
        [(int(j), float(v)) for j, v in enumerate(wv)], "j int, w double"
    )
    return n_row, centered, upper, w, nrm_val, mu_vals, wv


def _pca_oracle_chain(iters: int = _POWER_ITERS) -> str:
    """WITH-chain through the unrolled power iteration (reused by the PCA
    report oracle and the whitening oracle)."""
    head = """
WITH ve AS (
    SELECT vec_id, CAST(i AS INT) AS d,
           CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
), nrow AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
), means AS (
    SELECT d, CAST(SUM(CAST(v AS DECIMAL(27,18))) AS DOUBLE)
              / (SELECT CAST(n AS DOUBLE) FROM nrow) AS mu
    FROM ve GROUP BY d
), centered AS (
    SELECT ve.vec_id, ve.d, ve.v - m.mu AS x
    FROM ve JOIN means m ON ve.d = m.d
), upper_t AS (
    SELECT a.d AS i, b.d AS j,
           CAST(SUM(CAST(ROUND(a.x * b.x * 1e13) AS BIGINT)) AS DOUBLE)
           / 1e13 / (SELECT CAST(n AS DOUBLE) FROM nrow) AS c
    FROM centered a JOIN centered b
      ON a.vec_id = b.vec_id AND a.d <= b.d
    GROUP BY a.d, b.d
), full_m AS (
    SELECT i, j, c FROM upper_t
    UNION ALL
    SELECT j AS i, i AS j, c FROM upper_t WHERE i < j
), w0 AS (
    SELECT CAST(i AS INT) AS j, 0.125 AS w FROM range(64) t(i)
)"""
    blocks = []
    for k in range(1, iters + 1):
        p = k - 1
        blocks.append(f"""
, u{k} AS (
    SELECT f.i, CAST(SUM(CAST(f.c * w.w AS DECIMAL(38,20))) AS DOUBLE) AS u
    FROM full_m f JOIN w{p} w ON f.j = w.j
    GROUP BY f.i
), n{k} AS (
    SELECT SQRT(CAST(SUM(CAST(u * u AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
    FROM u{k}
), w{k} AS (
    SELECT CAST(u{k}.i AS INT) AS j, ROUND(u{k}.u / n{k}.nrm, 9) AS w
    FROM u{k} CROSS JOIN n{k}
)""")
    return head + "".join(blocks)


def _pca_oracle(iters: int = _POWER_ITERS) -> str:
    return _pca_oracle_chain(iters) + f"""
, tr AS (
    SELECT CAST(SUM(CAST(c AS DECIMAL(38,20))) AS DOUBLE) AS trace
    FROM upper_t WHERE i = j
)
SELECT (SELECT n FROM nrow) AS n_vectors,
       CAST(ROUND(trace, 6) AS DOUBLE) AS variance_total,
       CAST(ROUND(nrm, 6) AS DOUBLE) AS lambda1,
       CAST(ROUND(nrm / trace, 6) AS DOUBLE) AS explained_share
FROM n{iters} CROSS JOIN tr
"""


PCA_POWER_ITERATION_EMBEDDINGS_ORACLE = _pca_oracle()


# ---------------------------------------------------------------------------
# Whitening ("all-but-the-top"): remove PC1, measure the isotropy gain
# ---------------------------------------------------------------------------

def _whiten_sample_kernel(sample_emb: DataFrame, mu_vals: list, wv: list) -> DataFrame:
    """(vec_id, d, x, xp) for the sampled vectors as ONE ``mapInArrow``
    pass — replicates centered (x = v − mu), the DECIMAL(38,20) dot fold
    dw = cast(sum(cast(x·w as decimal(38,20))) as double), and the
    projection xp = x − dw·w bitwise (the ``_pca_state`` driver-iterate
    argument: both engines' double→decimal cast goes shortest-repr then
    HALF_UP at the target scale, decimal sums are exact, double arithmetic
    is IEEE-identical in numpy/JVM/DuckDB; hash-verified tri-SF against
    the unchanged oracle chain). Replaces five sample-grain stages and two
    pins (posexplode → means join → broadcast-w join → dots exchange →
    projection join) with zero shuffles; per-vector work is linear and
    fully partition-parallel. A NaN x (NULL embedding element) flows
    through: its products cast to NULL decimals downstream and drop from
    every SUM, exactly the old NULL semantics."""
    from decimal import ROUND_HALF_UP, Decimal

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        q20 = Decimal(1).scaleb(-20)
        zero = Decimal(0)
        mu = np.asarray(mu_vals, dtype=np.float64)
        wvec = np.asarray(wv, dtype=np.float64)
        dim = len(mu_vals)
        for batch in batches:
            flat = pc.list_flatten(batch.column("embedding"))
            if len(flat) != dim * batch.num_rows:
                raise ValueError(
                    "embedding column must be non-null fixed-width "
                    f"{dim} (got {len(flat)} values for {batch.num_rows} rows)"
                )
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            x = np.asarray(flat, dtype=np.float64).reshape(-1, dim) - mu
            terms = x * wvec  # float64 products — bitwise the JVM's
            dws = np.fromiter(
                (
                    float(
                        sum(
                            (
                                Decimal(repr(float(t))).quantize(
                                    q20, rounding=ROUND_HALF_UP
                                )
                                for t in row
                                if t == t  # NULL (NaN) terms drop from SUM
                            ),
                            zero,
                        )
                    )
                    for row in terms
                ),
                dtype=np.float64,
                count=x.shape[0],
            )
            xp = x - dws[:, None] * wvec
            n = x.shape[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, dim).astype("int64")),
                    pa.array(np.tile(np.arange(dim, dtype=np.int32), n)),
                    pa.array(x.reshape(-1)),
                    pa.array(xp.reshape(-1)),
                ],
                names=["vec_id", "d", "x", "xp"],
            )

    return sample_emb.select("vec_id", "embedding").mapInArrow(
        _kernel, "vec_id long, d int, x double, xp double"
    )


def whitening_isotropy_gain_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top whitening (Mu & Viswanath, ICLR 2018) applied and
    MEASURED: project the dominant component
    (``pca_power_iteration_embeddings``'s PC1) out of the centered
    vectors and report the mean |cosine| over a deterministic vector
    sample before vs after — the number that says how much of the
    corpus's apparent pairwise similarity was just the common direction.
    Post-processing embeddings this way is standard before cosine-based
    dedup/ANN; this query is the audit that justifies (or rejects) it.

    Composition parity: the PC1 comes from the SAME shared spectral state
    the PCA report publishes (``_pca_state``; the oracle replays the same
    unrolled chain via ``_pca_oracle_chain``); projections, residuals and
    per-pair cosines are the usual bitwise-identical doubles with decimal
    folds. Scale shape: the corpus-sized work is the covariance pass
    (shared); the pairwise audit runs on a hash-deterministic ~1/37
    sample (pairs of a sample, never of the corpus), exactly how an
    isotropy audit would run at 100 TB."""
    _n_row, _centered, _upper, _w, _norm, mu_vals, wv = _pca_state(spark, sf_dir)
    # Sample centering + PC1 projection as ONE mapInArrow kernel (r12,
    # VERDICT ask #9) — see _whiten_sample_kernel for the bitwise decimal-
    # fold replication argument. Pinned EAGER: the pair self-join below
    # reads it through two concurrent sides.
    primed = _whiten_sample_kernel(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 37 == 0),
        mu_vals,
        wv,
    ).localCheckpoint()
    a = primed.select(
        F.col("vec_id").alias("ida"),
        "d",
        F.col("x").alias("xa"),
        F.col("xp").alias("xpa"),
    )
    b = primed.select(
        F.col("vec_id").alias("idb"),
        "d",
        F.col("x").alias("xb"),
        F.col("xp").alias("xpb"),
    )
    def fold(expr):
        return F.sum(expr.cast("decimal(38,20)")).cast("double")

    sums = (
        a.join(b, "d")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(
            fold(F.col("xa") * F.col("xb")).alias("dab"),
            fold(F.col("xa") * F.col("xa")).alias("naa"),
            fold(F.col("xb") * F.col("xb")).alias("nbb"),
            fold(F.col("xpa") * F.col("xpb")).alias("dap"),
            fold(F.col("xpa") * F.col("xpa")).alias("npa"),
            fold(F.col("xpb") * F.col("xpb")).alias("npb"),
        )
    )
    per = sums.select(
        F.abs(F.col("dab") / F.sqrt(F.col("naa") * F.col("nbb"))).alias("ab"),
        F.abs(F.col("dap") / F.sqrt(F.col("npa") * F.col("npb"))).alias("aa"),
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            dec_sum(F.col("ab"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_abs_cos_before"),
        F.round(
            dec_sum(F.col("aa"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_abs_cos_after"),
        F.round(
            (
                dec_sum(F.col("ab"), 27, 12).cast("double")
                - dec_sum(F.col("aa"), 27, 12).cast("double")
            )
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("isotropy_gain"),
    )


WHITENING_ISOTROPY_GAIN_EMBEDDINGS_ORACLE = _pca_oracle_chain() + f"""
, sample_v AS (
    SELECT * FROM centered WHERE vec_id % 37 = 0
), sw AS (
    SELECT s.vec_id, s.d, s.x, w.w
    FROM sample_v s JOIN w{_POWER_ITERS} w ON s.d = w.j
), dots AS (
    SELECT vec_id,
           CAST(SUM(CAST(x * w AS DECIMAL(38,20))) AS DOUBLE) AS dw
    FROM sw GROUP BY vec_id
), primed AS (
    SELECT sw.vec_id, sw.d, sw.x, sw.x - dots.dw * sw.w AS xp
    FROM sw JOIN dots ON sw.vec_id = dots.vec_id
), pairs AS (
    SELECT a.vec_id AS ida, b.vec_id AS idb,
           a.x AS xa, b.x AS xb, a.xp AS xpa, b.xp AS xpb
    FROM primed a JOIN primed b ON a.d = b.d AND a.vec_id < b.vec_id
), sums AS (
    SELECT ida, idb,
           CAST(SUM(CAST(xa * xb AS DECIMAL(38,20))) AS DOUBLE) AS dab,
           CAST(SUM(CAST(xa * xa AS DECIMAL(38,20))) AS DOUBLE) AS naa,
           CAST(SUM(CAST(xb * xb AS DECIMAL(38,20))) AS DOUBLE) AS nbb,
           CAST(SUM(CAST(xpa * xpb AS DECIMAL(38,20))) AS DOUBLE) AS dap,
           CAST(SUM(CAST(xpa * xpa AS DECIMAL(38,20))) AS DOUBLE) AS npa,
           CAST(SUM(CAST(xpb * xpb AS DECIMAL(38,20))) AS DOUBLE) AS npb
    FROM pairs GROUP BY ida, idb
), per AS (
    SELECT ABS(dab / SQRT(naa * nbb)) AS ab,
           ABS(dap / SQRT(npa * npb)) AS aa
    FROM sums
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(SUM(CAST(ab AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
           AS mean_abs_cos_before,
       CAST(ROUND(CAST(SUM(CAST(aa AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
           AS mean_abs_cos_after,
       CAST(ROUND((CAST(SUM(CAST(ab AS DECIMAL(27,12))) AS DOUBLE)
                   - CAST(SUM(CAST(aa AS DECIMAL(27,12))) AS DOUBLE))
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
           AS isotropy_gain
FROM per
"""


# ---------------------------------------------------------------------------
# int8 symmetric quantization calibration report for the embedding corpus
# ---------------------------------------------------------------------------

def embedding_int8_quantization_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension int8 symmetric (absmax) quantization calibration of
    the embedding corpus — the standard serving/storage compression step
    (scale_d = absmax_d/127, q = clamp(round(v/scale), ±127)): for each
    of the 64 dimensions, the calibrated scale, the reconstruction MSE,
    and the signal-to-quantization-noise ratio in dB. The report is what
    an embedding-store maintainer reads to decide whether int8 is safe
    (SQNR ≳ 30 dB) or a dimension needs per-block scales.

    Two passes by nature (calibration then error), both shuffle only
    n·d → d narrow partial aggregates: posexplode → per-dim absmax;
    broadcast the 64 scales back; second per-dim aggregate folds the
    squared error in exact decimal. At 100 TB both passes are two-phase
    map-combined aggs over the scan — no row-level sort, no driver state
    beyond the 64-row scale table.

    Cross-engine: quantization rounds via floor(x + 0.5) explicitly
    (Spark ROUND and DuckDB ROUND disagree on negative halves), scales
    round to 9, error terms fold as DECIMAL(27,12), and the dB term is a
    round-9 log10 of a ratio of those exact sums (house libm policy)."""
    from data_ingestion_pipeline_spark.functions.partitioning import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    vals = fan_out(emb).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    scales = vals.groupBy("dim").agg(
        F.round(F.max(F.abs(F.col("v"))) / F.lit(127.0), 9).alias("scale")
    )
    q = F.greatest(
        F.lit(-127.0),
        F.least(
            F.lit(127.0), F.floor(F.col("v") / F.col("scale") + F.lit(0.5))
        ),
    )
    err = (F.col("v") - q * F.col("scale")) * (F.col("v") - q * F.col("scale"))
    per_dim = (
        vals.join(F.broadcast(scales), "dim")
        .select("dim", "scale", F.col("v"), q.alias("q"))
        .select(
            "dim",
            "scale",
            (F.col("v") * F.col("v")).alias("v2"),
            (
                (F.col("v") - F.col("q") * F.col("scale"))
                * (F.col("v") - F.col("q") * F.col("scale"))
            ).alias("e2"),
        )
        .groupBy("dim", "scale")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("v2").cast("decimal(27,12)")).alias("sv2"),
            F.sum(F.col("e2").cast("decimal(27,12)")).alias("se2"),
        )
    )
    mse = F.col("se2").cast("double") / F.col("n").cast("double")
    sqnr = F.lit(10.0) * F.round(
        F.log10(
            F.col("sv2").cast("double")
            / F.greatest(F.col("se2").cast("double"), F.lit(1e-30))
        ),
        9,
    )
    return per_dim.select(
        "dim",
        "n",
        F.col("scale").cast("double").alias("scale"),
        F.round(mse, 9).cast("double").alias("mse"),
        F.round(sqnr, 6).cast("double").alias("sqnr_db"),
    )


EMBEDDING_INT8_QUANTIZATION_REPORT_ORACLE = """
WITH vals AS (
    SELECT CAST(idx AS INT) AS dim, CAST(v AS DOUBLE) AS v
    FROM (
        SELECT unnest(range(len(embedding))) AS idx,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
    )
), scales AS (
    SELECT dim, ROUND(MAX(ABS(v)) / 127.0, 9) AS scale
    FROM vals GROUP BY dim
), quant AS (
    SELECT vals.dim, scales.scale, v,
           GREATEST(-127.0, LEAST(127.0, FLOOR(v / scale + 0.5))) AS q
    FROM vals JOIN scales USING (dim)
), per_dim AS (
    SELECT dim, scale, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(v * v AS DECIMAL(27,12))) AS sv2,
           SUM(CAST((v - q * scale) * (v - q * scale)
                    AS DECIMAL(27,12))) AS se2
    FROM quant GROUP BY 1, 2
)
SELECT dim, n, CAST(scale AS DOUBLE) AS scale,
       CAST(ROUND(CAST(se2 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS DOUBLE)
           AS mse,
       CAST(ROUND(10.0 * ROUND(log10(CAST(sv2 AS DOUBLE)
                / GREATEST(CAST(se2 AS DOUBLE), 1e-30)), 9), 6) AS DOUBLE)
           AS sqnr_db
FROM per_dim
"""


# ---------------------------------------------------------------------------
# Simplified silhouette: per-label clustering quality
# ---------------------------------------------------------------------------

def simplified_silhouette_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette coefficient per label — the centroid-based
    variant (a(i) = distance to OWN label centroid, b(i) = distance to
    the nearest OTHER centroid, s(i) = (b−a)/max(a,b)) that replaces the
    classic silhouette's O(n²) all-pairs distances with O(n·k); the only
    silhouette anyone computes at corpus scale, and the standard cluster-
    quality readout for a labeled embedding table. Published per label:
    vector count and mean silhouette.

    Exactness follows the centroid discipline of
    ``label_centroid_similarity_embeddings``: centroids are exact decimal
    means cast to double; squared deviations fold in decimal; the min
    over other labels happens on squared distances (monotone under sqrt,
    so no libm before the comparison); each per-vector silhouette takes
    exactly two sqrts and one divide, then the label mean folds the
    silhouettes through a decimal sum. Scale shape: one exploded
    aggregate builds the k×dim centroid table (tiny), which BROADCASTS
    back onto the vectors — the embedding table is never self-joined and
    shuffles only for the final k-group fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    ve = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("d", "v")
    ).select("vec_id", "label", "d", F.col("v").cast("double").alias("v"))
    cents = ve.groupBy("label", "d").agg(
        (
            F.sum(F.col("v").cast("decimal(27,18)")).cast("double")
            / F.count("*").cast("double")
        ).alias("c")
    )
    c2 = cents.select(F.col("label").alias("c_label"), "d", "c")
    # per (vector, candidate centroid) squared distance: decimal-exact sum
    # of squared double deviations over the 64 dims
    dist2 = (
        ve.join(F.broadcast(c2), "d")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(
                ((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).cast(
                    "decimal(38,20)"
                )
            )
            .cast("double")
            .alias("d2")
        )
    )
    per_vec = dist2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c_label") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    sil = per_vec.select(
        "label",
        F.when(
            F.greatest(F.sqrt("a2"), F.sqrt("b2")) > 0.0,
            (F.sqrt("b2") - F.sqrt("a2"))
            / F.greatest(F.sqrt("a2"), F.sqrt("b2")),
        )
        .otherwise(F.lit(0.0))
        .alias("s"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(
                F.sum(F.col("s").cast("decimal(27,18)")).cast("double")
                / F.count("*").cast("double"),
                6,
            )
            .cast("double")
            .alias("mean_silhouette"),
        )
        .orderBy("label")
    )


SIMPLIFIED_SILHOUETTE_EMBEDDINGS_ORACLE = """
WITH ve AS (
    SELECT vec_id, label, CAST(i AS INT) AS d,
           CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
), cents AS (
    SELECT label AS c_label, d,
           CAST(SUM(CAST(v AS DECIMAL(27,18))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
    FROM ve GROUP BY label, d
), dist2 AS (
    SELECT vec_id, label, c_label,
           CAST(SUM(CAST((v - c) * (v - c) AS DECIMAL(38,20))) AS DOUBLE)
               AS d2
    FROM ve JOIN cents USING (d)
    GROUP BY vec_id, label, c_label
), per_vec AS (
    SELECT vec_id, label,
           MAX(CASE WHEN c_label = label THEN d2 END) AS a2,
           MIN(CASE WHEN c_label <> label THEN d2 END) AS b2
    FROM dist2 GROUP BY vec_id, label
), sil AS (
    SELECT label,
           CASE WHEN GREATEST(SQRT(a2), SQRT(b2)) > 0.0
                THEN (SQRT(b2) - SQRT(a2)) / GREATEST(SQRT(a2), SQRT(b2))
                ELSE 0.0 END AS s
    FROM per_vec
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(ROUND(CAST(SUM(CAST(s AS DECIMAL(27,18))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
           AS mean_silhouette
FROM sil
GROUP BY label
ORDER BY label
"""


def jl_projection_distortion_embeddings(
    spark: SparkSession, sf_dir: str, m: int = 16
) -> DataFrame:
    """Johnson–Lindenstrauss random-projection distortion report
    (Achlioptas 2001's database-friendly ±1 projection): project the
    64-dim embeddings to m=16 dims with a DETERMINISTIC sign matrix
    R[i,j] = ±1 from md5(i_j) parity, y = R'x/√m, and report how well
    pairwise distances survive — the dimensionality-reduction
    counterpart of the quantization tier (`embedding_int8_quantization
    _report` budgets bits, this budgets dimensions; both publish the
    distance-distortion evidence a recall SLA needs). Pairs audited:
    the (vec_id, vec_id+1) chain — n−1 deterministic pairs, the
    ``self_similarity_sample`` bounded-probe idiom, no quadratic.

    Scale shape: one posexplode to (vector, dim) grain, one broadcast
    join to the 64×16 sign matrix, ONE hash-aggregation to (vector, j)
    — corpus×m rows — and chain-pair distances from two more
    hash-aggregations; the final report is one bounded fold. Exactness:
    every projected coordinate and every squared distance folds in
    decimal from bitwise-identical per-row terms and ROUNDS AT 9 before
    the ratio (the house iterative contract, applied to a composition
    boundary); the distortion ratio is then a single double division,
    and a zero original distance contributes NULL identically in both
    engines (chain neighbors are distinct vectors on the fixture, but
    duplicate embeddings must not fabricate a ratio)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ve = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .select("vec_id", "i", F.col("x").cast("double").alias("x"))
        # three consumers (the projection join + both chain-pair sides of
        # dx) — pin the corpus×dim relation so the scan+explode runs once
        .localCheckpoint(eager=False)
    )
    dims = spark.range(EMB_DIM).select(F.col("id").cast("int").alias("i"))
    proj = spark.range(m).select(F.col("id").cast("int").alias("j"))
    signs = dims.crossJoin(proj).select(
        "i",
        "j",
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("i"), F.col("j"))), 1, 6
                ),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("sgn"),
    )
    y = (
        ve.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(
            F.round(
                dec_sum(F.col("sgn") * F.col("x"), 27, 12).cast("double")
                / F.sqrt(F.lit(float(m))),
                9,
            ).alias("y")
        )
        # two consumers (both chain-pair sides of dy) — pin the corpus×m
        # projected relation so the sign join + fold runs once
        .localCheckpoint(eager=False)
    )
    ya = y.select(F.col("vec_id").alias("a"), "j", F.col("y").alias("y_a"))
    yb = y.select(
        (F.col("vec_id") - 1).alias("a"), "j", F.col("y").alias("y_b")
    )
    dy = (
        ya.join(yb, ["a", "j"])
        .groupBy("a")
        .agg(
            F.round(
                dec_sum(
                    (F.col("y_a") - F.col("y_b")) * (F.col("y_a") - F.col("y_b")),
                    38,
                    15,
                ).cast("double"),
                9,
            ).alias("dy2")
        )
    )
    xa = ve.select(F.col("vec_id").alias("a"), "i", F.col("x").alias("x_a"))
    xb = ve.select(
        (F.col("vec_id") - 1).alias("a"), "i", F.col("x").alias("x_b")
    )
    dx = (
        xa.join(xb, ["a", "i"])
        .groupBy("a")
        .agg(
            F.round(
                dec_sum(
                    (F.col("x_a") - F.col("x_b")) * (F.col("x_a") - F.col("x_b")),
                    38,
                    15,
                ).cast("double"),
                9,
            ).alias("dx2")
        )
    )
    ratio = F.when(
        F.col("dx2") > F.lit(0.0), F.round(F.col("dy2") / F.col("dx2"), 9)
    )
    pairs = dy.join(dx, "a").select(ratio.alias("r"))
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.lit(m).cast("int").alias("proj_dims"),
        F.round(dec_sum(F.col("r"), 27, 15).cast("double")
                / F.count("r").cast("double"), 6)
        .cast("double")
        .alias("mean_ratio"),
        F.round(F.min("r"), 6).cast("double").alias("min_ratio"),
        F.round(F.max("r"), 6).cast("double").alias("max_ratio"),
        F.round(
            F.sum(
                ((F.col("r") >= 0.5) & (F.col("r") <= 1.5)).cast("long")
            ).cast("double")
            / F.count("r").cast("double"),
            6,
        )
        .cast("double")
        .alias("share_within_50pct"),
    )


JL_PROJECTION_DISTORTION_EMBEDDINGS_ORACLE = """
WITH ve AS MATERIALIZED (
    SELECT vec_id, CAST(i AS INT) AS i,
           CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
    FROM embeddings CROSS JOIN range(64) t(i)
), signs AS MATERIALIZED (
    SELECT CAST(d.range AS INT) AS i, CAST(p.range AS INT) AS j,
           CASE WHEN ('0x' || substr(md5(d.range || '_' || p.range), 1, 6))
                     ::BIGINT % 2 = 0
                THEN 1.0 ELSE -1.0 END AS sgn
    FROM range(64) d, range(16) p
), y AS MATERIALIZED (
    SELECT v.vec_id, s.j,
           ROUND(CAST(SUM(CAST(s.sgn * v.x AS DECIMAL(27,12))) AS DOUBLE)
                 / SQRT(16.0), 9) AS y
    FROM ve v JOIN signs s ON v.i = s.i
    GROUP BY v.vec_id, s.j
), dy AS (
    SELECT a.vec_id AS a,
           ROUND(CAST(SUM(CAST((a.y - b.y) * (a.y - b.y)
                               AS DECIMAL(38,15))) AS DOUBLE), 9) AS dy2
    FROM y a JOIN y b ON b.vec_id = a.vec_id + 1 AND a.j = b.j
    GROUP BY a.vec_id
), dx AS (
    SELECT a.vec_id AS a,
           ROUND(CAST(SUM(CAST((a.x - b.x) * (a.x - b.x)
                               AS DECIMAL(38,15))) AS DOUBLE), 9) AS dx2
    FROM ve a JOIN ve b ON b.vec_id = a.vec_id + 1 AND a.i = b.i
    GROUP BY a.vec_id
), pairs AS (
    SELECT CASE WHEN dx.dx2 > 0.0 THEN ROUND(dy.dy2 / dx.dx2, 9) END AS r
    FROM dy JOIN dx ON dy.a = dx.a
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(16 AS INT) AS proj_dims,
       CAST(ROUND(CAST(SUM(CAST(r AS DECIMAL(27,15))) AS DOUBLE)
                  / CAST(COUNT(r) AS DOUBLE), 6) AS DOUBLE) AS mean_ratio,
       CAST(ROUND(MIN(r), 6) AS DOUBLE) AS min_ratio,
       CAST(ROUND(MAX(r), 6) AS DOUBLE) AS max_ratio,
       CAST(ROUND(CAST(SUM(CASE WHEN r >= 0.5 AND r <= 1.5 THEN 1 ELSE 0 END)
                       AS DOUBLE) / CAST(COUNT(r) AS DOUBLE), 6) AS DOUBLE)
           AS share_within_50pct
FROM pairs
"""


def chao1_trigram_richness_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chao1 nonparametric richness estimator (Chao 1984) over TRIGRAM
    types — "how many trigram types does the corpus-generating process
    have, including the ones we haven't seen yet", the abundance-based
    companion to ``good_turing_unseen_mass_documents`` (which prices the
    unseen MASS; Chao1 counts the unseen TYPES) and
    ``heaps_law_fit_documents`` (which extrapolates growth): the
    bias-corrected form V + f₁(f₁−1)/(2(f₂+1)) needs only the singleton
    and doubleton counts, and Good's coverage Ĉ = 1 − f₁/N says what
    fraction of the next sample is already known. Same trigram grain and
    map-side n-gram generation as the GT query (unigram vocabulary is
    closed on any real corpus; the singleton tail lives at trigrams).

    Scale shape: one corpus pass to trigram-type counts, then TWO
    bounded folds (f₁/f₂/V/N are four conditional sums over the type
    relation). Every published number except coverage is exact integer
    arithmetic; coverage and chao1 are single fixed double expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.split(F.trim("text"), r"\s+").alias("toks"))
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.try_element_at(toks, i),
            F.try_element_at(toks, i + 1),
            F.try_element_at(toks, i + 2),
        ),
    )
    counts = (
        toked.select(F.explode(grams).alias("g"))
        .filter(F.col("g") != "")
        .groupBy("g")
        .agg(F.count("*").cast("bigint").alias("r"))
    )
    s = counts.agg(
        F.count("*").cast("bigint").alias("v_obs"),
        F.sum("r").cast("bigint").alias("n_grams"),
        F.sum((F.col("r") == 1).cast("long")).cast("bigint").alias("f1"),
        F.sum((F.col("r") == 2).cast("long")).cast("bigint").alias("f2"),
    )
    f1D = F.col("f1").cast("double")
    chao1 = F.col("v_obs").cast("double") + f1D * (f1D - F.lit(1.0)) / (
        F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0))
    )
    cov = F.lit(1.0) - f1D / F.col("n_grams").cast("double")
    return s.select(
        "v_obs",
        "n_grams",
        "f1",
        "f2",
        F.round(chao1, 6).cast("double").alias("chao1_estimate"),
        F.when(F.col("n_grams") > 0, F.round(cov, 6))
        .cast("double")
        .alias("good_coverage"),
    )


CHAO1_TRIGRAM_RICHNESS_DOCUMENTS_ORACLE = r"""
WITH toks AS (
    SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), counts AS (
    -- the good_turing oracle's trigram CTE, verbatim (same gram multiset)
    SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM (
        SELECT array_to_string(t[i:i+2], ' ') AS g
        FROM (SELECT t, unnest(range(1, GREATEST(len(t) - 2, 1) + 1)) AS i
              FROM toks)
    ) WHERE g <> '' GROUP BY g
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
           CAST(SUM(r) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
    FROM counts
)
SELECT v_obs, n_grams, f1, f2,
       CAST(ROUND(CAST(v_obs AS DOUBLE)
                  + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS DOUBLE)
           AS chao1_estimate,
       CAST(ROUND(CASE WHEN n_grams > 0
            THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n_grams AS DOUBLE) END, 6)
            AS DOUBLE) AS good_coverage
FROM s
"""


# --------------------------------------------------------------------------
# round 11: label-supervised embedding-quality readouts
# --------------------------------------------------------------------------

def nn1_label_accuracy_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label accuracy — the standard supervised probe
    of an embedding space (does cosine geometry respect the labels?),
    the readout that grades retrieval quality where
    ``simplified_silhouette_embeddings`` grades cluster shape and the
    ANN recall gates grade index fidelity: each vector's nearest OTHER
    vector votes, accuracy = share of votes matching the true label,
    reported per label (a per-class confusion lens — one weak label
    dilutes only its own row).

    Reuses the blocked cogrouped-BLAS kNN kernel at k=1 (the
    ``knn_graph_embeddings`` path — never an N² pair materialization;
    each B×B block pair emits only its local top-1) and joins labels
    back by id. Exactness: neighbor ranking on the 6-rounded cosine
    with id tiebreak (the knn_graph contract — matmul vs sequential
    fold agree at 6 decimals); counts are exact bigints; accuracy is
    one double ratio rounded at 6."""
    from data_ingestion_pipeline_spark.similarity.knn import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    nn1 = knn_graph(emb, "vec_id", "embedding", k=1)
    lab = emb.select("vec_id", "label")
    j = (
        nn1.join(
            lab.select(
                F.col("vec_id").alias("src_id"), F.col("label").alias("y")
            ),
            "src_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("nbr_id"), F.col("label").alias("y_nn")
            ),
            "nbr_id",
        )
    )
    return (
        j.groupBy("y")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum((F.col("y_nn") == F.col("y")).cast("long"))
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            F.col("y").cast("int").alias("label"),
            "n_vecs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_vecs").cast("double"),
                6,
            )
            .cast("double")
            .alias("accuracy"),
        )
    )


NN1_LABEL_ACCURACY_EMBEDDINGS_ORACLE = """
WITH nn1 AS (
    SELECT src_id, nbr_id FROM (
        SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND(list_cosine_similarity(
                                a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]), 6) DESC,
                            b.vec_id
               ) AS rnk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ) WHERE rnk = 1
)
SELECT CAST(la.label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN lb.label = la.label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       CAST(ROUND(CAST(SUM(CASE WHEN lb.label = la.label THEN 1 ELSE 0 END)
                       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
           AS accuracy
FROM nn1
JOIN embeddings la ON la.vec_id = nn1.src_id
JOIN embeddings lb ON lb.vec_id = nn1.nbr_id
GROUP BY la.label
"""


def nmi_ivf_cells_labels_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Normalized mutual information between the IVF coarse-cell
    assignment and the label column — the unsupervised-vs-supervised
    agreement readout (Strehl & Ghosh 2002): do the data-adaptive cells
    the ANN index routes through actually line up with the semantic
    labels? NMI = I(cell; label) / √(H(cell)·H(label)) ∈ [0, 1]; the
    geometric normalization makes it comparable across cell counts.
    Complements ``simplified_silhouette_embeddings`` (geometry-only)
    and ``nn1_label_accuracy_embeddings`` (neighbor-level).

    Routing is the hash-checked ``ann_ivf_topk`` replay: 16 strided-
    sample centroids, argmax-dot assignment with numpy-first-wins ties
    (= ORDER BY dot DESC, cid ASC in the oracle — the bitwise
    list_inner_product precedent). Exactness: all cells/margins exact
    bigints; every log is ln rounded at 9 (the MI idiom); I and both
    entropies fold per-cell double terms in decimal and round at 6;
    NMI is one final ratio of the rounded values, rounded at 6. Scale
    shape: one Arrow-batched matmul pass to assign, one hash-agg to the
    ≤(cells×labels) grain, window margins over that bounded relation."""
    from data_ingestion_pipeline_spark.similarity.ivf import (
        ivf_assign,
        sample_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = sample_centroids(emb, n_centroids=16)
    assigned = ivf_assign(emb, cents).select("label", "list_id")
    cells = assigned.groupBy("list_id", "label").agg(
        F.count("*").cast("bigint").alias("obs")
    )
    nx = F.sum("obs").over(Window.partitionBy("list_id")).cast("bigint")
    ny = F.sum("obs").over(Window.partitionBy("label")).cast("bigint")
    n = F.sum("obs").over(Window.partitionBy()).cast("bigint")
    m = cells.select(
        "obs", nx.alias("nx"), ny.alias("ny"), n.alias("n"), "list_id", "label"
    )

    def ln9(c):
        return F.round(F.log(c.cast("double")), 9)

    p = F.col("obs").cast("double") / F.col("n").cast("double")
    mi_t = p * (
        ln9(F.col("n")) + ln9(F.col("obs")) - ln9(F.col("nx")) - ln9(F.col("ny"))
    )
    agg = m.agg(
        F.countDistinct("list_id").cast("bigint").alias("n_cells"),
        F.countDistinct("label").cast("bigint").alias("n_labels"),
        F.max("n").alias("n"),
        F.round(dec_sum(mi_t, 27, 12), 6).cast("double").alias("mi"),
    )
    margx = cells.groupBy("list_id").agg(F.sum("obs").cast("bigint").alias("c"))
    margy = cells.groupBy("label").agg(F.sum("obs").cast("bigint").alias("c"))

    def entropy(df: DataFrame, name: str) -> DataFrame:
        tot = df.agg(F.sum("c").cast("bigint").alias("nn"))
        t = df.crossJoin(F.broadcast(tot)).select(
            (
                -(F.col("c").cast("double") / F.col("nn").cast("double"))
                * (ln9(F.col("c")) - ln9(F.col("nn")))
            ).alias("t")
        )
        return t.agg(F.round(dec_sum(F.col("t"), 27, 12), 6).cast("double").alias(name))

    hx = entropy(margx, "h_cell")
    hy = entropy(margy, "h_label")
    j = agg.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    nmi = F.when(
        (F.col("h_cell") > F.lit(0.0)) & (F.col("h_label") > F.lit(0.0)),
        F.round(
            F.col("mi") / F.sqrt(F.col("h_cell") * F.col("h_label")), 6
        ),
    )
    return j.select(
        "n_cells",
        "n_labels",
        "n",
        "mi",
        "h_cell",
        "h_label",
        nmi.cast("double").alias("nmi"),
    )


NMI_IVF_CELLS_LABELS_EMBEDDINGS_ORACLE = """
WITH params AS (
    SELECT GREATEST(COUNT(*) // 16, 1) AS stride FROM embeddings
), cent AS (
    SELECT ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS cid,
           e.embedding::DOUBLE[] AS cv
    FROM embeddings e, params p
    WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * 16
), assigned AS (
    SELECT label, list_id FROM (
        SELECT e.label, c.cid AS list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.embedding::DOUBLE[], c.cv)
                       DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
), cells AS (
    SELECT list_id, label, CAST(COUNT(*) AS BIGINT) AS obs
    FROM assigned GROUP BY 1, 2
), m AS (
    SELECT obs, list_id, label,
           CAST(SUM(obs) OVER (PARTITION BY list_id) AS BIGINT) AS nx,
           CAST(SUM(obs) OVER (PARTITION BY label) AS BIGINT) AS ny,
           CAST(SUM(obs) OVER () AS BIGINT) AS n
    FROM cells
), agg AS (
    SELECT CAST(COUNT(DISTINCT list_id) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
           MAX(n) AS n,
           CAST(ROUND(SUM(CAST(
               (CAST(obs AS DOUBLE) / CAST(n AS DOUBLE))
               * (ROUND(LN(CAST(n AS DOUBLE)), 9)
                  + ROUND(LN(CAST(obs AS DOUBLE)), 9)
                  - ROUND(LN(CAST(nx AS DOUBLE)), 9)
                  - ROUND(LN(CAST(ny AS DOUBLE)), 9))
               AS DECIMAL(27,12))), 6) AS DOUBLE) AS mi
    FROM m
), hx AS (
    SELECT CAST(ROUND(SUM(CAST(
        -(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
        * (ROUND(LN(CAST(c AS DOUBLE)), 9) - ROUND(LN(CAST(nn AS DOUBLE)), 9))
        AS DECIMAL(27,12))), 6) AS DOUBLE) AS h_cell
    FROM (
        SELECT list_id, CAST(SUM(obs) AS BIGINT) AS c,
               CAST(SUM(SUM(obs)) OVER () AS BIGINT) AS nn
        FROM cells GROUP BY list_id
    )
), hy AS (
    SELECT CAST(ROUND(SUM(CAST(
        -(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
        * (ROUND(LN(CAST(c AS DOUBLE)), 9) - ROUND(LN(CAST(nn AS DOUBLE)), 9))
        AS DECIMAL(27,12))), 6) AS DOUBLE) AS h_label
    FROM (
        SELECT label, CAST(SUM(obs) AS BIGINT) AS c,
               CAST(SUM(SUM(obs)) OVER () AS BIGINT) AS nn
        FROM cells GROUP BY label
    )
)
SELECT n_cells, n_labels, n, mi, h_cell, h_label,
       CAST(CASE WHEN h_cell > 0.0 AND h_label > 0.0
            THEN ROUND(mi / SQRT(h_cell * h_label), 6) END AS DOUBLE) AS nmi
FROM agg CROSS JOIN hx CROSS JOIN hy
"""
