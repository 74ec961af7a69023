"""Query + oracle registry — the contract surface for ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, a DuckDB oracle
SQL string over the same parquet tables. Column names AND types are aligned
between the Spark plan and the oracle (aliases identical on both sides;
month/year cast to int; float aggregates rounded identically on both sides
so the order-insensitive value hash is deterministic across engines).

``queries()`` and ``oracle_sql()`` export in registration order; the
``register`` calls below are grouped by subject. Callers look queries up by
name, so no caller depends on that order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_pipeline_spark.operators import (
    analytics_checks,
    bpe,
    classifier,
    corpus_quality,
    evolution_checks,
    inference_stats,
    ingestion_checks,
    lakehouse_checks,
    llm_data,
    lm_stats,
    mlprep_checks,
    multimodal_checks,
    pii,
    relational,
    reports,
    tpch_queries,
    sql_surface,
    streaming_checks,
    temporal_checks,
    timeseries_checks,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query fn, oracle SQL or None for rows-only checks)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    _REGISTRY[name] = (fn, oracle)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# --------------------------------------------------------------------------
# §2.5 report queries (reference README.md:36-149 → star schema, FIXTURES.md §2)
# --------------------------------------------------------------------------

register(
    "revenue_per_product",
    reports.revenue_per_product,
    """
    SELECT p_partkey, p_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name
    """,
)

register(
    "revenue_per_product_sql",
    sql_surface.revenue_per_product_sql,
    """
    SELECT p_partkey, p_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name
    """,
)

register(
    "low_stock",
    reports.low_stock,
    """
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part WHERE p_size < 10
    """,
)

register(
    "orders_per_product_month",
    reports.orders_per_product_month,
    """
    SELECT p_partkey, p_name,
           CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS ship_month,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
           SUM(l_quantity) AS total_quantity
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2, 3, 4
    """,
)

register(
    "revenue_per_category",
    reports.revenue_per_category,
    """
    SELECT p_brand,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)

register(
    "inventory_status",
    reports.inventory_status,
    """
    SELECT p_partkey, p_name,
           CAST(p_size AS DOUBLE) AS current_stock,
           SUM(l_quantity) AS total_sold,
           CAST(p_size AS DOUBLE) - SUM(l_quantity) AS remaining_stock
    FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
    WHERE p_partkey = 1
    GROUP BY p_partkey, p_name, p_size
    """,
)

register(
    "most_sold_per_category",
    reports.most_sold_per_category,
    """
    SELECT p_brand, p_partkey, p_name, SUM(l_quantity) AS total_sold
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, p_partkey, p_name
    """,
)

# --------------------------------------------------------------------------
# §2.3-2.4 predicates and joins (F1/F2, J3/J4) + window operators
# --------------------------------------------------------------------------

register(
    "exists_semi_join",
    relational.customers_with_orders,
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)

register(
    "anti_join_new_keys",
    relational.customers_without_orders,
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    """,
)

register(
    "in_list_filter",
    relational.in_list_filter,
    """
    SELECT p_partkey, p_name, p_brand, p_size FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
    """,
)

register(
    "composite_key_semi_join",
    relational.composite_key_semi_join,
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem WHERE l_orderkey % 10 = 0
    """,
)

register(
    "customer_order_enrichment",
    relational.customer_order_enrichment,
    """
    SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)

register(
    "top_parts_per_brand",
    relational.top_parts_per_brand,
    """
    SELECT p_brand, p_partkey, p_name, total_sold, brand_rank FROM (
        SELECT p_brand, p_partkey, p_name, SUM(l_quantity) AS total_sold,
               ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY SUM(l_quantity) DESC, p_partkey ASC
               ) AS brand_rank
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey, p_name
    ) WHERE brand_rank <= 3
    """,
)

register(
    "customer_order_ranks",
    relational.customer_order_ranks,
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS order_seq,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS running_spend,
           CAST(DATEDIFF('day', LAG(o_orderdate) OVER w, o_orderdate) AS INTEGER)
               AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)

register(
    "distinct_users_daily",
    relational.distinct_users_daily,
    relational.DISTINCT_USERS_DAILY_ORACLE,
)

register(
    "approx_distinct_users_daily",
    relational.approx_distinct_users_daily,
    relational.APPROX_DISTINCT_USERS_DAILY_ORACLE,
)

register(
    "revenue_rollup_brand_size",
    relational.revenue_rollup_brand_size,
    relational.REVENUE_ROLLUP_BRAND_SIZE_ORACLE,
)

register(
    "set_ops_customer_segments",
    relational.set_ops_customer_segments,
    relational.SET_OPS_CUSTOMER_SEGMENTS_ORACLE,
)

register(
    "top_revenue_orders",
    relational.top_revenue_orders,
    relational.TOP_REVENUE_ORDERS_ORACLE,
)

register(
    "event_type_pivot",
    relational.event_type_pivot,
    relational.EVENT_TYPE_PIVOT_ORACLE,
)

register(
    "price_quantiles_by_priority",
    relational.price_quantiles_by_priority,
    relational.PRICE_QUANTILES_BY_PRIORITY_ORACLE,
)

register(
    "approx_price_quantiles_by_priority",
    relational.approx_price_quantiles_by_priority,
    relational.APPROX_PRICE_QUANTILES_BY_PRIORITY_ORACLE,
)

register(
    "acctbal_full_outer_reconciliation",
    relational.acctbal_full_outer_reconciliation,
    relational.ACCTBAL_FULL_OUTER_RECONCILIATION_ORACLE,
)

register(
    "latest_event_per_user",
    relational.latest_event_per_user,
    relational.LATEST_EVENT_PER_USER_ORACLE,
)

register(
    "order_price_histogram",
    relational.order_price_histogram,
    relational.ORDER_PRICE_HISTOGRAM_ORACLE,
)

register(
    "order_price_percentiles_window",
    relational.order_price_percentiles_window,
    relational.ORDER_PRICE_PERCENTILES_WINDOW_ORACLE,
)

register(
    "order_status_priority_cube",
    relational.order_status_priority_cube,
    relational.ORDER_STATUS_PRIORITY_CUBE_ORACLE,
)

register(
    "event_counts_unpivot",
    relational.event_counts_unpivot,
    relational.EVENT_COUNTS_UNPIVOT_ORACLE,
)

register(
    "daily_user_activity_gapfilled",
    relational.daily_user_activity_gapfilled,
    relational.DAILY_USER_ACTIVITY_GAPFILLED_ORACLE,
)

register(
    "event_value_outliers",
    relational.event_value_outliers,
    relational.EVENT_VALUE_OUTLIERS_ORACLE,
)

register(
    "frequent_users_sketch",
    relational.frequent_users_sketch,
    relational.FREQUENT_USERS_SKETCH_ORACLE,
)

register(
    "trailing_spend_30d",
    relational.trailing_spend_30d,
    relational.TRAILING_SPEND_30D_ORACLE,
)

register(
    "customer_spend_deciles",
    relational.customer_spend_deciles,
    relational.CUSTOMER_SPEND_DECILES_ORACLE,
)

register(
    "customer_spend_deciles_approx",
    relational.customer_spend_deciles_approx,
    relational.CUSTOMER_SPEND_DECILES_APPROX_ORACLE,
)

register(
    "user_event_type_sets",
    relational.user_event_type_sets,
    relational.USER_EVENT_TYPE_SETS_ORACLE,
)

register(
    "salted_skew_join_events",
    relational.salted_skew_join_events,
    relational.SALTED_SKEW_JOIN_EVENTS_ORACLE,
)

register(
    "orders_above_customer_avg",
    sql_surface.orders_above_customer_avg,
    sql_surface.ORDERS_ABOVE_CUSTOMER_AVG_ORACLE,
)

register(
    "brand_share_of_revenue",
    relational.brand_share_of_revenue,
    """
    WITH per_brand AS (
        SELECT p_brand,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    )
    SELECT p_brand, CAST(ROUND(rev, 2) AS DOUBLE) AS brand_revenue,
           ROUND(CAST(rev AS DOUBLE) * 100.0 / CAST(SUM(rev) OVER () AS DOUBLE), 4)
               AS revenue_share_pct
    FROM per_brand
    """,
)

# --------------------------------------------------------------------------
# §2.1/§2.6 ingestion + MERGE, oracle-checked end-to-end
# --------------------------------------------------------------------------

register(
    "csv_ingest_events",
    ingestion_checks.csv_ingest_events,
    ingestion_checks.CSV_INGEST_EVENTS_ORACLE,
)

register(
    "csv_ingest_inventory",
    ingestion_checks.csv_ingest_inventory,
    ingestion_checks.CSV_INGEST_INVENTORY_ORACLE,
)

register(
    "merge_upsert_events",
    ingestion_checks.merge_upsert_events,
    ingestion_checks.MERGE_UPSERT_EVENTS_ORACLE,
)

register(
    "jsonl_roundtrip_events",
    ingestion_checks.jsonl_roundtrip_events,
    ingestion_checks.JSONL_ROUNDTRIP_EVENTS_ORACLE,
)

register(
    "orc_roundtrip_events",
    ingestion_checks.orc_roundtrip_events,
    ingestion_checks.ORC_ROUNDTRIP_EVENTS_ORACLE,
)

register(
    "python_datasource_agg",
    ingestion_checks.python_datasource_agg,
    ingestion_checks.PYTHON_DATASOURCE_AGG_ORACLE,
)

register(
    "python_datasource_stream_agg",
    ingestion_checks.python_datasource_stream_agg,
    ingestion_checks.PYTHON_DATASOURCE_STREAM_AGG_ORACLE,
)

register(
    "jdbc_roundtrip_orders",
    ingestion_checks.jdbc_roundtrip_orders,
    ingestion_checks.JDBC_ROUNDTRIP_ORDERS_ORACLE,
)

register(
    "catalog_database_roundtrip",
    evolution_checks.catalog_database_roundtrip,
    evolution_checks.CATALOG_DATABASE_ROUNDTRIP_ORACLE,
)

register(
    "schema_evolution_sync",
    evolution_checks.schema_evolution_sync,
    evolution_checks.SCHEMA_EVOLUTION_SYNC_ORACLE,
)

register(
    "bucketed_colocated_join",
    evolution_checks.bucketed_colocated_join,
    evolution_checks.BUCKETED_COLOCATED_JOIN_ORACLE,
)

register(
    "compacted_sorted_orders",
    evolution_checks.compacted_sorted_orders,
    evolution_checks.COMPACTED_SORTED_ORDERS_ORACLE,
)

register(
    "data_quality_orders",
    evolution_checks.data_quality_orders,
    evolution_checks.DATA_QUALITY_ORDERS_ORACLE,
)

register(
    "partitioned_orders_yearly",
    evolution_checks.partitioned_orders_yearly,
    evolution_checks.PARTITIONED_ORDERS_YEARLY_ORACLE,
)

register(
    "dpp_ship_year_join_orders",
    evolution_checks.dpp_ship_year_join_orders,
    evolution_checks.DPP_SHIP_YEAR_JOIN_ORDERS_ORACLE,
)

# --------------------------------------------------------------------------
# North-star LLM-data operators (BASELINE.json): dedup, similarity, text
# --------------------------------------------------------------------------

register("text_stats", llm_data.text_stats, llm_data.TEXT_STATS_ORACLE)

register(
    "doc_tokens_exploded",
    llm_data.doc_tokens_exploded,
    llm_data.DOC_TOKENS_EXPLODED_ORACLE,
)

register(
    "tfidf_top_terms",
    llm_data.tfidf_top_terms,
    llm_data.TFIDF_TOP_TERMS_ORACLE,
)

register(
    "curation_pipeline_documents",
    llm_data.curation_pipeline_documents,
    llm_data.CURATION_PIPELINE_DOCUMENTS_ORACLE,
)

register(
    "chunk_documents",
    llm_data.chunk_documents,
    llm_data.CHUNK_DOCUMENTS_ORACLE,
)


register(
    "exact_dedup_documents",
    llm_data.exact_dedup_documents,
    llm_data.EXACT_DEDUP_DOCUMENTS_ORACLE,
)

register(
    "dedup_survivor_quality_documents",
    llm_data.dedup_survivor_quality_documents,
    llm_data.DEDUP_SURVIVOR_QUALITY_DOCUMENTS_ORACLE,
)

register(
    "ngram_jaccard_documents",
    llm_data.ngram_jaccard_documents,
    llm_data.NGRAM_JACCARD_DOCUMENTS_ORACLE,
)

# `minhash_near_dup_documents` (scale-tuned B=8/R=4, xxhash64, rows-only)
# was retired from the registry in round 10 per the round-9 verdict: the
# family's driver evidence is now carried by `minhash_md5_replay_*` (the
# SAME pipeline hash-exact in DuckDB), `minhash_verified_*` (real-SQL
# output contract), and `minhash_scale_recall_documents`. The production
# function stays exported and pytest-gated (tests/test_plans.py pins its
# banded plan; tests/test_llm_data.py pins recall).

register(
    "minhash_md5_replay_near_dup_documents",
    llm_data.minhash_md5_replay_near_dup_documents,
    llm_data.MINHASH_MD5_REPLAY_NEAR_DUP_DOCUMENTS_ORACLE,
)

register(
    "simhash_md5_replay_near_dup_documents",
    llm_data.simhash_md5_replay_near_dup_documents,
    llm_data.SIMHASH_MD5_REPLAY_NEAR_DUP_DOCUMENTS_ORACLE,
)

register(
    "minhash_scale_recall_documents",
    llm_data.minhash_scale_recall_documents,
    llm_data.MINHASH_SCALE_RECALL_DOCUMENTS_ORACLE,
)

register(
    "minhash_verified_near_dup_documents",
    llm_data.minhash_verified_near_dup_documents,
    llm_data.MINHASH_VERIFIED_NEAR_DUP_DOCUMENTS_ORACLE,
)

# `simhash_near_dup_documents` (xxhash64 feature hash, rows-only) retired
# in round 10 — evidence carried by `simhash_md5_replay_*` (hash-exact
# full pipeline) + `simhash_exact_copy_recall_documents`; the function
# stays exported and pytest-gated.

register(
    "simhash_exact_copy_recall_documents",
    llm_data.simhash_exact_copy_recall_documents,
    llm_data.SIMHASH_EXACT_COPY_RECALL_DOCUMENTS_ORACLE,
)

register(
    "embedding_cosine_dedup",
    llm_data.embedding_cosine_dedup,
    llm_data.EMBEDDING_COSINE_DEDUP_ORACLE,
)

# Promoted rows-only -> hash-checked in round 9: the 4x6 banding replays
# in DuckDB via the md5-hyperplane decode (same technique as ann_lsh_topk)
register(
    "embedding_lsh_near_dup",
    llm_data.embedding_lsh_near_dup,
    llm_data.EMBEDDING_LSH_NEAR_DUP_ORACLE,
)

register(
    "embedding_lsh_pair_recall_embeddings",
    llm_data.embedding_lsh_pair_recall_embeddings,
    llm_data.EMBEDDING_LSH_PAIR_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "embedding_lsh_verified_near_dup",
    llm_data.embedding_lsh_verified_near_dup,
    llm_data.EMBEDDING_COSINE_DEDUP_ORACLE,
)

register(
    "doc_fingerprint_rolling",
    llm_data.doc_fingerprint_rolling,
    llm_data.DOC_FINGERPRINT_ROLLING_ORACLE,
)

register(
    "cosine_topk_embeddings",
    llm_data.cosine_topk_embeddings,
    llm_data.COSINE_TOPK_EMBEDDINGS_ORACLE,
)

register(
    "matryoshka_truncation_recall_embeddings",
    llm_data.matryoshka_truncation_recall_embeddings,
    llm_data.MATRYOSHKA_TRUNCATION_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "pack_documents_context_windows",
    llm_data.pack_documents_context_windows,
    llm_data.PACK_DOCUMENTS_CONTEXT_WINDOWS_ORACLE,
)

register(
    "corpus_mixture_documents",
    llm_data.corpus_mixture_documents,
    llm_data.CORPUS_MIXTURE_DOCUMENTS_ORACLE,
)

register(
    "knn_graph_embeddings",
    llm_data.knn_graph_embeddings,
    llm_data.KNN_GRAPH_EMBEDDINGS_ORACLE,
)

# Promoted rows-only -> hash-checked in round 9 (round-8 verdict ask #3):
# the multitable index is deterministic given the md5-derived hyperplanes,
# so DuckDB replays bucket assignment, candidate union, and the top-k —
# plane derivation included (bit-exact HUGEINT md5 decode).
register(
    "ann_lsh_topk_embeddings",
    llm_data.ann_lsh_topk_embeddings,
    llm_data.ANN_LSH_TOPK_EMBEDDINGS_ORACLE,
)

# Promoted rows-only -> hash-checked in round 8 (round-7 verdict ask #6):
# the IVF pipeline is deterministic end-to-end, so DuckDB replays it.
register(
    "ann_ivf_topk_embeddings",
    llm_data.ann_ivf_topk_embeddings,
    llm_data.ANN_IVF_TOPK_EMBEDDINGS_ORACLE,
)

# self-grading recall gates for the ANN trio: the only remaining rows-only
# queries are the approximate top-k surfaces themselves; these gates give
# the driver a hash-checkable row that flips red if ANN recall regresses
register(
    "ann_lsh_recall_embeddings",
    llm_data.ann_lsh_recall_embeddings,
    llm_data.ANN_LSH_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "ann_ivf_recall_embeddings",
    llm_data.ann_ivf_recall_embeddings,
    llm_data.ANN_IVF_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "ann_pq_recall_embeddings",
    llm_data.ann_pq_recall_embeddings,
    llm_data.ANN_PQ_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "ann_ivf_exhaustive_topk_embeddings",
    llm_data.ann_ivf_exhaustive_topk_embeddings,
    llm_data.ANN_IVF_EXHAUSTIVE_TOPK_EMBEDDINGS_ORACLE,
)

register(
    "json_extract_events",
    llm_data.json_extract_events,
    llm_data.JSON_EXTRACT_EVENTS_ORACLE,
)

register(
    "lang_id_documents",
    llm_data.lang_id_documents,
    llm_data.LANG_ID_DOCUMENTS_ORACLE,
)

register(
    "quality_filter_documents",
    llm_data.quality_filter_documents,
    llm_data.QUALITY_FILTER_DOCUMENTS_ORACLE,
)

register(
    "stratified_sample_documents",
    llm_data.stratified_sample_documents,
    llm_data.STRATIFIED_SAMPLE_DOCUMENTS_ORACLE,
)

register(
    "text_hygiene_documents",
    llm_data.text_hygiene_documents,
    llm_data.TEXT_HYGIENE_DOCUMENTS_ORACLE,
)

register(
    "near_dup_clusters_documents",
    llm_data.near_dup_clusters_documents,
    llm_data.NEAR_DUP_CLUSTERS_DOCUMENTS_ORACLE,
)

register(
    "near_dup_clusters_star_documents",
    llm_data.near_dup_clusters_star_documents,
    llm_data.NEAR_DUP_CLUSTERS_DOCUMENTS_ORACLE,
)

register(
    "leakage_safe_split_documents",
    llm_data.leakage_safe_split_documents,
    llm_data.LEAKAGE_SAFE_SPLIT_DOCUMENTS_ORACLE,
)

# --------------------------------------------------------------------------
# Temporal joins (as-of, bounded range) — absent from the reference (§2.4),
# added as first-class feature-pipeline primitives
# --------------------------------------------------------------------------

register(
    "purchase_funnel_users",
    temporal_checks.purchase_funnel_users,
    temporal_checks.PURCHASE_FUNNEL_USERS_ORACLE,
)

register(
    "daily_cohort_retention",
    temporal_checks.daily_cohort_retention,
    temporal_checks.DAILY_COHORT_RETENTION_ORACLE,
)

register(
    "growth_accounting_daily_users",
    temporal_checks.growth_accounting_daily_users,
    temporal_checks.GROWTH_ACCOUNTING_DAILY_USERS_ORACLE,
)

register(
    "asof_prev_view_per_purchase",
    temporal_checks.asof_prev_view_per_purchase,
    temporal_checks.ASOF_PREV_VIEW_PER_PURCHASE_ORACLE,
)

register(
    "views_within_hour_of_purchase",
    temporal_checks.views_within_hour_of_purchase,
    temporal_checks.VIEWS_WITHIN_HOUR_OF_PURCHASE_ORACLE,
)

# --------------------------------------------------------------------------
# Multimodal binary-column pipeline (opaque payloads + typed metadata)
# --------------------------------------------------------------------------

register(
    "multimodal_metadata",
    multimodal_checks.multimodal_metadata,
    multimodal_checks.MULTIMODAL_METADATA_ORACLE,
)

register(
    "multimodal_image_features",
    multimodal_checks.multimodal_image_features,
    multimodal_checks.MULTIMODAL_IMAGE_FEATURES_ORACLE,
)

register(
    "multimodal_frame_sample",
    multimodal_checks.multimodal_frame_sample,
    multimodal_checks.MULTIMODAL_FRAME_SAMPLE_ORACLE,
)

# --------------------------------------------------------------------------
# Streaming & event-time windows (SURVEY.md §7 M4)
# --------------------------------------------------------------------------

register(
    "tumbling_window_events",
    streaming_checks.tumbling_window_events,
    streaming_checks.TUMBLING_WINDOW_EVENTS_ORACLE,
)

register(
    "sliding_window_events",
    streaming_checks.sliding_window_events,
    streaming_checks.SLIDING_WINDOW_EVENTS_ORACLE,
)

register(
    "sessionize_events",
    streaming_checks.sessionize_events,
    streaming_checks.SESSIONIZE_EVENTS_ORACLE,
)

register(
    "streaming_tumbling_events",
    streaming_checks.streaming_tumbling_events,
    streaming_checks.TUMBLING_WINDOW_EVENTS_ORACLE,
)

register(
    "streaming_dedup_events",
    streaming_checks.streaming_dedup_events,
    streaming_checks.STREAMING_DEDUP_EVENTS_ORACLE,
)

register(
    "streaming_interval_join_events",
    streaming_checks.streaming_interval_join_events,
    streaming_checks.STREAMING_INTERVAL_JOIN_EVENTS_ORACLE,
)

register(
    "streaming_dedup_rocksdb_events",
    streaming_checks.streaming_dedup_rocksdb_events,
    streaming_checks.STREAMING_DEDUP_EVENTS_ORACLE,
)

register(
    "streaming_interval_left_join_events",
    streaming_checks.streaming_interval_left_join_events,
    streaming_checks.STREAMING_INTERVAL_LEFT_JOIN_EVENTS_ORACLE,
)

register(
    "streaming_enriched_events",
    streaming_checks.streaming_enriched_events,
    streaming_checks.STREAMING_ENRICHED_EVENTS_ORACLE,
)

register(
    "streaming_session_window_events",
    streaming_checks.streaming_session_window_events,
    streaming_checks.STREAMING_SESSION_WINDOW_EVENTS_ORACLE,
)

register(
    "stateful_user_profile_events",
    streaming_checks.stateful_user_profile_events,
    streaming_checks.STATEFUL_USER_PROFILE_EVENTS_ORACLE,
)

register(
    "streaming_ingest_merge_events",
    streaming_checks.streaming_ingest_merge_events,
    streaming_checks.STREAMING_INGEST_MERGE_EVENTS_ORACLE,
)

register(
    "streaming_incremental_agg_events",
    streaming_checks.streaming_incremental_agg_events,
    streaming_checks.STREAMING_INCREMENTAL_AGG_EVENTS_ORACLE,
)

register(
    "streaming_chained_window_rollup_events",
    streaming_checks.streaming_chained_window_rollup_events,
    streaming_checks.STREAMING_CHAINED_WINDOW_ROLLUP_EVENTS_ORACLE,
)

register(
    "streaming_observed_ingest_metrics_events",
    streaming_checks.streaming_observed_ingest_metrics_events,
    streaming_checks.STREAMING_OBSERVED_INGEST_METRICS_EVENTS_ORACLE,
)

# --- round 3: lakehouse maintenance + decontamination ---

register(
    "scd2_customer_dimension",
    lakehouse_checks.scd2_customer_dimension,
    lakehouse_checks.SCD2_CUSTOMER_DIMENSION_ORACLE,
)

register(
    "merge_cdc_orders",
    lakehouse_checks.merge_cdc_orders,
    lakehouse_checks.MERGE_CDC_ORDERS_ORACLE,
)

register(
    "gdpr_delete_events",
    lakehouse_checks.gdpr_delete_events,
    lakehouse_checks.GDPR_DELETE_EVENTS_ORACLE,
)

register(
    "daily_rollup_from_hourly_events",
    lakehouse_checks.daily_rollup_from_hourly_events,
    lakehouse_checks.DAILY_ROLLUP_FROM_HOURLY_EVENTS_ORACLE,
)

register(
    "decontaminate_documents",
    llm_data.decontaminate_documents,
    llm_data.DECONTAMINATE_DOCUMENTS_ORACLE,
)

register(
    "bloom_decontaminate_documents",
    llm_data.bloom_decontaminate_documents,
    llm_data.DECONTAMINATE_DOCUMENTS_ORACLE,
)

register(
    "semantic_dedup_recall_embeddings",
    llm_data.semantic_dedup_recall_embeddings,
    llm_data.SEMANTIC_DEDUP_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "build_vocab_documents",
    llm_data.build_vocab_documents,
    llm_data.BUILD_VOCAB_DOCUMENTS_ORACLE,
)

register(
    "shard_shuffle_documents",
    llm_data.shard_shuffle_documents,
    llm_data.SHARD_SHUFFLE_DOCUMENTS_ORACLE,
)

# `ann_pq_topk_embeddings` (rows-only) retired in round 10 — the PQ
# encode/ADC/rank plumbing is hash-checked by `ann_pq_sample_adc_topk_*`
# below and recall-gated by `ann_pq_recall_embeddings`; the function
# stays exported and pytest-gated (tests/test_round3_ops.py).

register(
    "ann_pq_sample_adc_topk_embeddings",
    llm_data.ann_pq_sample_adc_topk_embeddings,
    llm_data.ANN_PQ_SAMPLE_ADC_TOPK_EMBEDDINGS_ORACLE,
)

# `ann_ivfpq_topk_embeddings` (the registry's last rows-only query)
# retired in round 11 per the flat-PQ precedent: its Lloyd-trained
# codebooks (10 numpy k-means iterations; pairwise-summation means) are
# not bitwise-replayable in SQL, and every downstream stage is already
# hash-checked by the sample-model composition replay below plus
# `ann_ivf_topk_embeddings` (routing) and `ann_pq_sample_adc_topk_*`
# (flat-PQ ADC); the composite stays recall-gated by
# `ann_ivfpq_recall_embeddings` and the function stays exported +
# pytest-gated (tests/test_llm_data.py::test_ivfpq_topk_recall_and_
# exactness pins recall@10 ≥ 0.3 and bitwise-exact refined scores).
# Rows-only registered-query set: now EMPTY.

register(
    "ann_ivfpq_sample_adc_topk_embeddings",
    llm_data.ann_ivfpq_sample_adc_topk_embeddings,
    llm_data.ANN_IVFPQ_SAMPLE_ADC_TOPK_EMBEDDINGS_ORACLE,
)

register(
    "gopher_repetition_documents",
    corpus_quality.gopher_repetition_documents,
    corpus_quality.GOPHER_REPETITION_DOCUMENTS_ORACLE,
)

register(
    "winnowing_fingerprints_documents",
    corpus_quality.winnowing_fingerprints_documents,
    corpus_quality.WINNOWING_FINGERPRINTS_DOCUMENTS_ORACLE,
)

register(
    "table_changes_versions",
    lakehouse_checks.table_changes_versions,
    lakehouse_checks.TABLE_CHANGES_VERSIONS_ORACLE,
)

register(
    "mcv_stats_orders",
    analytics_checks.mcv_stats_orders,
    analytics_checks.MCV_STATS_ORDERS_ORACLE,
)

register(
    "winnowing_near_copy_pairs_documents",
    corpus_quality.winnowing_near_copy_pairs_documents,
    corpus_quality.WINNOWING_NEAR_COPY_PAIRS_DOCUMENTS_ORACLE,
)

register(
    "table_checksum_orders",
    lakehouse_checks.table_checksum_orders,
    lakehouse_checks.TABLE_CHECKSUM_ORDERS_ORACLE,
)

register(
    "incremental_mv_refresh_orders",
    lakehouse_checks.incremental_mv_refresh_orders,
    lakehouse_checks.INCREMENTAL_MV_REFRESH_ORDERS_ORACLE,
)

register(
    "vocab_coverage_documents",
    corpus_quality.vocab_coverage_documents,
    corpus_quality.VOCAB_COVERAGE_DOCUMENTS_ORACLE,
)

register(
    "rolling_corr_purchase_view_14d",
    timeseries_checks.rolling_corr_purchase_view_14d,
    timeseries_checks.ROLLING_CORR_PURCHASE_VIEW_14D_ORACLE,
)

register(
    "join_cardinality_estimate_orders_lineitem",
    analytics_checks.join_cardinality_estimate_orders_lineitem,
    analytics_checks.JOIN_CARDINALITY_ESTIMATE_ORDERS_LINEITEM_ORACLE,
)

register(
    "dsir_importance_documents",
    corpus_quality.dsir_importance_documents,
    corpus_quality.DSIR_IMPORTANCE_DOCUMENTS_ORACLE,
)

register(
    "bigram_perplexity_documents",
    corpus_quality.bigram_perplexity_documents,
    corpus_quality.BIGRAM_PERPLEXITY_DOCUMENTS_ORACLE,
)

register(
    "dp_noisy_counts_events",
    analytics_checks.dp_noisy_counts_events,
    analytics_checks.DP_NOISY_COUNTS_EVENTS_ORACLE,
)

register(
    "bpe_merges_documents",
    bpe.bpe_merges_documents,
    bpe.BPE_MERGES_DOCUMENTS_ORACLE,
)

register(
    "bpe_encode_documents",
    bpe.bpe_encode_documents,
    bpe.BPE_ENCODE_DOCUMENTS_ORACLE,
)

# --- round-7 LM corpus-statistics tier (operators/lm_stats.py) -------------

register(
    "good_turing_unseen_mass_documents",
    lm_stats.good_turing_unseen_mass_documents,
    lm_stats.GOOD_TURING_UNSEEN_MASS_DOCUMENTS_ORACLE,
)

register(
    "kneser_ney_bigram_documents",
    lm_stats.kneser_ney_bigram_documents,
    lm_stats.KNESER_NEY_BIGRAM_DOCUMENTS_ORACLE,
)

register(
    "skipgram_pmi_documents",
    lm_stats.skipgram_pmi_documents,
    lm_stats.SKIPGRAM_PMI_DOCUMENTS_ORACLE,
)

register(
    "mattr_lexical_diversity_documents",
    lm_stats.mattr_lexical_diversity_documents,
    lm_stats.MATTR_LEXICAL_DIVERSITY_DOCUMENTS_ORACLE,
)

register(
    "negative_sampling_table_documents",
    lm_stats.negative_sampling_table_documents,
    lm_stats.NEGATIVE_SAMPLING_TABLE_DOCUMENTS_ORACLE,
)

# --- round-7 inference/concentration statistics (inference_stats.py) -------

register(
    "wilson_ci_purchase_rate_daily",
    inference_stats.wilson_ci_purchase_rate_daily,
    inference_stats.WILSON_CI_PURCHASE_RATE_DAILY_ORACLE,
)

register(
    "oneway_anova_event_values",
    inference_stats.oneway_anova_event_values,
    inference_stats.ONEWAY_ANOVA_EVENT_VALUES_ORACLE,
)

register(
    "gini_lorenz_customer_spend",
    inference_stats.gini_lorenz_customer_spend,
    inference_stats.GINI_LORENZ_CUSTOMER_SPEND_ORACLE,
)

register(
    "cooks_distance_price_quantity",
    inference_stats.cooks_distance_price_quantity,
    inference_stats.COOKS_DISTANCE_PRICE_QUANTITY_ORACLE,
)

register(
    "hill_tail_index_orders",
    inference_stats.hill_tail_index_orders,
    inference_stats.HILL_TAIL_INDEX_ORDERS_ORACLE,
)

register(
    "ar2_yule_walker_daily",
    timeseries_checks.ar2_yule_walker_daily,
    timeseries_checks.AR2_YULE_WALKER_DAILY_ORACLE,
)

register(
    "tukey_hsd_event_values",
    inference_stats.tukey_hsd_event_values,
    inference_stats.TUKEY_HSD_EVENT_VALUES_ORACLE,
)

register(
    "levene_bf_event_values",
    inference_stats.levene_bf_event_values,
    inference_stats.LEVENE_BF_EVENT_VALUES_ORACLE,
)

# --- round-7 classic TPC-H query shapes (tpch_queries.py) ------------------

register(
    "tpch_q1_pricing_summary",
    tpch_queries.tpch_q1_pricing_summary,
    tpch_queries.TPCH_Q1_PRICING_SUMMARY_ORACLE,
)

register(
    "tpch_q3_shipping_priority",
    tpch_queries.tpch_q3_shipping_priority,
    tpch_queries.TPCH_Q3_SHIPPING_PRIORITY_ORACLE,
)

register(
    "tpch_q5_local_supplier_volume",
    tpch_queries.tpch_q5_local_supplier_volume,
    tpch_queries.TPCH_Q5_LOCAL_SUPPLIER_VOLUME_ORACLE,
)

register(
    "tpch_q8_market_share",
    tpch_queries.tpch_q8_market_share,
    tpch_queries.TPCH_Q8_MARKET_SHARE_ORACLE,
)

register(
    "tpch_q10_returned_items",
    tpch_queries.tpch_q10_returned_items,
    tpch_queries.TPCH_Q10_RETURNED_ITEMS_ORACLE,
)

# --- round-8 TPC-H completion tier (tpch_queries.py) -----------------------

register(
    "tpch_q4_shaped_priority_check",
    tpch_queries.tpch_q4_shaped_priority_check,
    tpch_queries.TPCH_Q4_SHAPED_PRIORITY_CHECK_ORACLE,
)

register(
    "tpch_q6_forecast_revenue",
    tpch_queries.tpch_q6_forecast_revenue,
    tpch_queries.TPCH_Q6_FORECAST_REVENUE_ORACLE,
)

register(
    "tpch_q7_volume_shipping",
    tpch_queries.tpch_q7_volume_shipping,
    tpch_queries.TPCH_Q7_VOLUME_SHIPPING_ORACLE,
)

register(
    "tpch_q12_shaped_priority_by_returnflag",
    tpch_queries.tpch_q12_shaped_priority_by_returnflag,
    tpch_queries.TPCH_Q12_SHAPED_PRIORITY_BY_RETURNFLAG_ORACLE,
)

register(
    "tpch_q14_promo_revenue",
    tpch_queries.tpch_q14_promo_revenue,
    tpch_queries.TPCH_Q14_PROMO_REVENUE_ORACLE,
)

register(
    "tpch_q15_top_supplier",
    tpch_queries.tpch_q15_top_supplier,
    tpch_queries.TPCH_Q15_TOP_SUPPLIER_ORACLE,
)

register(
    "tpch_q16_shaped_supplier_diversity",
    tpch_queries.tpch_q16_shaped_supplier_diversity,
    tpch_queries.TPCH_Q16_SHAPED_SUPPLIER_DIVERSITY_ORACLE,
)

register(
    "tpch_q18_large_volume_customers",
    tpch_queries.tpch_q18_large_volume_customers,
    tpch_queries.TPCH_Q18_LARGE_VOLUME_CUSTOMERS_ORACLE,
)

register(
    "tpch_q19_shaped_discounted_revenue",
    tpch_queries.tpch_q19_shaped_discounted_revenue,
    tpch_queries.TPCH_Q19_SHAPED_DISCOUNTED_REVENUE_ORACLE,
)

register(
    "tpch_q22_shaped_dormant_customers",
    tpch_queries.tpch_q22_shaped_dormant_customers,
    tpch_queries.TPCH_Q22_SHAPED_DORMANT_CUSTOMERS_ORACLE,
)

# Round-9 completion: the final seven classic shapes — the suite now
# covers all 22 TPC-H queries (verbatim or "-shaped" per docstring).
register(
    "tpch_q2_shaped_min_cost_supplier",
    tpch_queries.tpch_q2_shaped_min_cost_supplier,
    tpch_queries.TPCH_Q2_SHAPED_MIN_COST_SUPPLIER_ORACLE,
)

register(
    "tpch_q9_shaped_product_type_profit",
    tpch_queries.tpch_q9_shaped_product_type_profit,
    tpch_queries.TPCH_Q9_SHAPED_PRODUCT_TYPE_PROFIT_ORACLE,
)

register(
    "tpch_q11_shaped_important_stock",
    tpch_queries.tpch_q11_shaped_important_stock,
    tpch_queries.TPCH_Q11_SHAPED_IMPORTANT_STOCK_ORACLE,
)

register(
    "tpch_q13_customer_distribution",
    tpch_queries.tpch_q13_customer_distribution,
    tpch_queries.TPCH_Q13_CUSTOMER_DISTRIBUTION_ORACLE,
)

register(
    "tpch_q17_small_quantity_revenue",
    tpch_queries.tpch_q17_small_quantity_revenue,
    tpch_queries.TPCH_Q17_SMALL_QUANTITY_REVENUE_ORACLE,
)

register(
    "tpch_q20_shaped_promotion_suppliers",
    tpch_queries.tpch_q20_shaped_promotion_suppliers,
    tpch_queries.TPCH_Q20_SHAPED_PROMOTION_SUPPLIERS_ORACLE,
)

register(
    "tpch_q21_shaped_waiting_suppliers",
    tpch_queries.tpch_q21_shaped_waiting_suppliers,
    tpch_queries.TPCH_Q21_SHAPED_WAITING_SUPPLIERS_ORACLE,
)

# --- round-8 PII scrubbing tier (pii.py) -----------------------------------

register(
    "pii_detect_documents",
    pii.pii_detect_documents,
    pii.PII_DETECT_DOCUMENTS_ORACLE,
)

register(
    "pii_redact_documents",
    pii.pii_redact_documents,
    pii.PII_REDACT_DOCUMENTS_ORACLE,
)

register(
    "pii_prevalence_by_source",
    pii.pii_prevalence_by_source,
    pii.PII_PREVALENCE_BY_SOURCE_ORACLE,
)

register(
    "item_item_cosine_topk_parts",
    analytics_checks.item_item_cosine_topk_parts,
    analytics_checks.ITEM_ITEM_COSINE_TOPK_PARTS_ORACLE,
)

register(
    "srm_check_events",
    analytics_checks.srm_check_events,
    analytics_checks.SRM_CHECK_EVENTS_ORACLE,
)

register(
    "kaplan_meier_user_retention",
    inference_stats.kaplan_meier_user_retention,
    inference_stats.KAPLAN_MEIER_USER_RETENTION_ORACLE,
)

register(
    "simplified_silhouette_embeddings",
    mlprep_checks.simplified_silhouette_embeddings,
    mlprep_checks.SIMPLIFIED_SILHOUETTE_EMBEDDINGS_ORACLE,
)

register(
    "logrank_test_retention_arms",
    inference_stats.logrank_test_retention_arms,
    inference_stats.LOGRANK_TEST_RETENTION_ARMS_ORACLE,
)

register(
    "msprt_always_valid_ab_daily",
    inference_stats.msprt_always_valid_ab_daily,
    inference_stats.MSPRT_ALWAYS_VALID_AB_DAILY_ORACLE,
)

register(
    "jackknife_ratio_metric_ab",
    inference_stats.jackknife_ratio_metric_ab,
    inference_stats.JACKKNIFE_RATIO_METRIC_AB_ORACLE,
)

register(
    "eb_shrunk_purchase_rate_users",
    inference_stats.eb_shrunk_purchase_rate_users,
    inference_stats.EB_SHRUNK_PURCHASE_RATE_USERS_ORACLE,
)

register(
    "mcnemar_weekday_weekend_purchase",
    inference_stats.mcnemar_weekday_weekend_purchase,
    inference_stats.MCNEMAR_WEEKDAY_WEEKEND_PURCHASE_ORACLE,
)

register(
    "poisson_glm_daily_trend",
    inference_stats.poisson_glm_daily_trend,
    inference_stats.POISSON_GLM_DAILY_TREND_ORACLE,
)

register(
    "cox_ph_retention_arms",
    inference_stats.cox_ph_retention_arms,
    inference_stats.COX_PH_RETENTION_ARMS_ORACLE,
)

register(
    "shapley_attribution_events",
    analytics_checks.shapley_attribution_events,
    analytics_checks.SHAPLEY_ATTRIBUTION_EVENTS_ORACLE,
)

register(
    "cmh_test_arm_purchase_by_cohort",
    inference_stats.cmh_test_arm_purchase_by_cohort,
    inference_stats.CMH_TEST_ARM_PURCHASE_BY_COHORT_ORACLE,
)

register(
    "qini_uplift_curve_users",
    inference_stats.qini_uplift_curve_users,
    inference_stats.QINI_UPLIFT_CURVE_USERS_ORACLE,
)

register(
    "huber_regression_price_quantity",
    inference_stats.huber_regression_price_quantity,
    inference_stats.HUBER_REGRESSION_PRICE_QUANTITY_ORACLE,
)

register(
    "binseg_changepoint_daily",
    timeseries_checks.binseg_changepoint_daily,
    timeseries_checks.BINSEG_CHANGEPOINT_DAILY_ORACLE,
)

register(
    "jl_projection_distortion_embeddings",
    mlprep_checks.jl_projection_distortion_embeddings,
    mlprep_checks.JL_PROJECTION_DISTORTION_EMBEDDINGS_ORACLE,
)

register(
    "fisher_exact_region_priority_orders",
    inference_stats.fisher_exact_region_priority_orders,
    inference_stats.FISHER_EXACT_REGION_PRIORITY_ORDERS_ORACLE,
)

register(
    "poisson_dispersion_daily",
    inference_stats.poisson_dispersion_daily,
    inference_stats.POISSON_DISPERSION_DAILY_ORACLE,
)

register(
    "chao1_trigram_richness_documents",
    mlprep_checks.chao1_trigram_richness_documents,
    mlprep_checks.CHAO1_TRIGRAM_RICHNESS_DOCUMENTS_ORACLE,
)

register(
    "degree_assortativity_copurchase_parts",
    analytics_checks.degree_assortativity_copurchase_parts,
    analytics_checks.DEGREE_ASSORTATIVITY_COPURCHASE_PARTS_ORACLE,
)

register(
    "nelson_aalen_hazard_retention",
    inference_stats.nelson_aalen_hazard_retention,
    inference_stats.NELSON_AALEN_HAZARD_RETENTION_ORACLE,
)

register(
    "markov_entropy_rate_event_types",
    analytics_checks.markov_entropy_rate_event_types,
    analytics_checks.MARKOV_ENTROPY_RATE_EVENT_TYPES_ORACLE,
)

register(
    "lad_regression_price_quantity",
    inference_stats.lad_regression_price_quantity,
    inference_stats.LAD_REGRESSION_PRICE_QUANTITY_ORACLE,
)

register(
    "periodogram_daily_events",
    timeseries_checks.periodogram_daily_events,
    timeseries_checks.PERIODOGRAM_DAILY_EVENTS_ORACLE,
)

register(
    "theil_atkinson_customer_spend",
    inference_stats.theil_atkinson_customer_spend,
    inference_stats.THEIL_ATKINSON_CUSTOMER_SPEND_ORACLE,
)

register(
    "partial_corr_purchase_view_daily",
    inference_stats.partial_corr_purchase_view_daily,
    inference_stats.PARTIAL_CORR_PURCHASE_VIEW_DAILY_ORACLE,
)

register(
    "tost_equivalence_ab_value",
    inference_stats.tost_equivalence_ab_value,
    inference_stats.TOST_EQUIVALENCE_AB_VALUE_ORACLE,
)

register(
    "jarque_bera_daily_values",
    timeseries_checks.jarque_bera_daily_values,
    timeseries_checks.JARQUE_BERA_DAILY_VALUES_ORACLE,
)

register(
    "ljung_box_daily_values",
    timeseries_checks.ljung_box_daily_values,
    timeseries_checks.LJUNG_BOX_DAILY_VALUES_ORACLE,
)

register(
    "runs_test_daily_values",
    timeseries_checks.runs_test_daily_values,
    timeseries_checks.RUNS_TEST_DAILY_VALUES_ORACLE,
)

register(
    "newey_west_daily_trend",
    timeseries_checks.newey_west_daily_trend,
    timeseries_checks.NEWEY_WEST_DAILY_TREND_ORACLE,
)

register(
    "hhi_brand_concentration_by_category",
    analytics_checks.hhi_brand_concentration_by_category,
    analytics_checks.HHI_BRAND_CONCENTRATION_BY_CATEGORY_ORACLE,
)

register(
    "bowker_symmetry_event_transitions",
    analytics_checks.bowker_symmetry_event_transitions,
    analytics_checks.BOWKER_SYMMETRY_EVENT_TRANSITIONS_ORACLE,
)

register(
    "label_propagation_communities_parts",
    analytics_checks.label_propagation_communities_parts,
    analytics_checks.LABEL_PROPAGATION_COMMUNITIES_PARTS_ORACLE,
)

register(
    "hard_negative_mining_embeddings",
    llm_data.hard_negative_mining_embeddings,
    llm_data.HARD_NEGATIVE_MINING_EMBEDDINGS_ORACLE,
)

register(
    "frequent_event_sequences",
    analytics_checks.frequent_event_sequences,
    analytics_checks.FREQUENT_EVENT_SEQUENCES_ORACLE,
)

register(
    "user_behavior_entropy",
    analytics_checks.user_behavior_entropy,
    analytics_checks.USER_BEHAVIOR_ENTROPY_ORACLE,
)

register(
    "sorted_neighborhood_pairs_parts",
    analytics_checks.sorted_neighborhood_pairs_parts,
    analytics_checks.SORTED_NEIGHBORHOOD_PAIRS_PARTS_ORACLE,
)

register(
    "adamic_adar_link_prediction_parts",
    analytics_checks.adamic_adar_link_prediction_parts,
    analytics_checks.ADAMIC_ADAR_LINK_PREDICTION_PARTS_ORACLE,
)

register(
    "target_encoding_loo_orders",
    mlprep_checks.target_encoding_loo_orders,
    mlprep_checks.TARGET_ENCODING_LOO_ORDERS_ORACLE,
)

register(
    "logistic_quality_classifier_documents",
    classifier.logistic_quality_classifier_documents,
    classifier.LOGISTIC_QUALITY_CLASSIFIER_DOCUMENTS_ORACLE,
)

register(
    "auc_lang_by_length_documents",
    classifier.auc_lang_by_length_documents,
    classifier.AUC_LANG_BY_LENGTH_DOCUMENTS_ORACLE,
)

register(
    "ngram_containment_documents",
    llm_data.ngram_containment_documents,
    llm_data.NGRAM_CONTAINMENT_DOCUMENTS_ORACLE,
)

register(
    "cuped_adjusted_ab_events",
    analytics_checks.cuped_adjusted_ab_events,
    analytics_checks.CUPED_ADJUSTED_AB_EVENTS_ORACLE,
)

register(
    "heaps_law_fit_documents",
    mlprep_checks.heaps_law_fit_documents,
    mlprep_checks.HEAPS_LAW_FIT_DOCUMENTS_ORACLE,
)

register(
    "ann_ivfpq_recall_embeddings",
    llm_data.ann_ivfpq_recall_embeddings,
    llm_data.ANN_IVFPQ_RECALL_EMBEDDINGS_ORACLE,
)

register(
    "xml_roundtrip_events",
    ingestion_checks.xml_roundtrip_events,
    ingestion_checks.XML_ROUNDTRIP_EVENTS_ORACLE,
)

register(
    "variant_shred_events",
    llm_data.variant_shred_events,
    llm_data.VARIANT_SHRED_EVENTS_ORACLE,
)

register(
    "recursive_orderkey_hierarchy",
    sql_surface.recursive_orderkey_hierarchy,
    sql_surface.RECURSIVE_ORDERKEY_HIERARCHY_ORACLE,
)

register(
    "udtf_part_type_words",
    sql_surface.udtf_part_type_words,
    sql_surface.UDTF_PART_TYPE_WORDS_ORACLE,
)

register(
    "parameterized_brand_filter",
    sql_surface.parameterized_brand_filter,
    sql_surface.PARAMETERIZED_BRAND_FILTER_ORACLE,
)

register(
    "pandas_udaf_price_by_priority",
    sql_surface.pandas_udaf_price_by_priority,
    sql_surface.PANDAS_UDAF_PRICE_BY_PRIORITY_ORACLE,
)

register(
    "zorder_clustered_orders",
    lakehouse_checks.zorder_clustered_orders,
    lakehouse_checks.ZORDER_CLUSTERED_ORDERS_ORACLE,
)

register(
    "observed_metrics_orders",
    lakehouse_checks.observed_metrics_orders,
    lakehouse_checks.OBSERVED_METRICS_ORDERS_ORACLE,
)

register(
    "hll_merge_users_weekly",
    relational.hll_merge_users_weekly,
    relational.HLL_MERGE_USERS_WEEKLY_ORACLE,
)

register(
    "approx_top_k_event_types",
    relational.approx_top_k_event_types,
    relational.APPROX_TOP_K_EVENT_TYPES_ORACLE,
)

register(
    "streaming_dedup_within_watermark_events",
    streaming_checks.streaming_dedup_within_watermark_events,
    streaming_checks.STREAMING_DEDUP_WITHIN_WATERMARK_EVENTS_ORACLE,
)

register(
    "dup_span_profile_documents",
    llm_data.dup_span_profile_documents,
    llm_data.DUP_SPAN_PROFILE_DOCUMENTS_ORACLE,
)

register(
    "exact_substring_excision_documents",
    llm_data.exact_substring_excision_documents,
    llm_data.EXACT_SUBSTRING_EXCISION_DOCUMENTS_ORACLE,
)

# --------------------------------------------------------------------------
# Statistical / sequence / entity-resolution / graph analytics
# (operators/analytics_checks.py — the tier above the reference's report
# queries; exact-decimal moment parity throughout)
# --------------------------------------------------------------------------

register(
    "regression_price_quantity_by_flag",
    analytics_checks.regression_price_quantity_by_flag,
    analytics_checks.REGRESSION_PRICE_QUANTITY_BY_FLAG_ORACLE,
)

register(
    "welch_ttest_purchase_view_daily",
    analytics_checks.welch_ttest_purchase_view_daily,
    analytics_checks.WELCH_TTEST_PURCHASE_VIEW_DAILY_ORACLE,
)

register(
    "markov_event_transitions",
    analytics_checks.markov_event_transitions,
    analytics_checks.MARKOV_EVENT_TRANSITIONS_ORACLE,
)

register(
    "absorbing_expected_steps_to_purchase",
    analytics_checks.absorbing_expected_steps_to_purchase,
    analytics_checks.ABSORBING_EXPECTED_STEPS_TO_PURCHASE_ORACLE,
)

register(
    "interpolated_daily_user_value",
    analytics_checks.interpolated_daily_user_value,
    analytics_checks.INTERPOLATED_DAILY_USER_VALUE_ORACLE,
)

register(
    "fuzzy_part_name_pairs",
    analytics_checks.fuzzy_part_name_pairs,
    analytics_checks.FUZZY_PART_NAME_PAIRS_ORACLE,
)

register(
    "fellegi_sunter_part_linkage",
    analytics_checks.fellegi_sunter_part_linkage,
    analytics_checks.FELLEGI_SUNTER_PART_LINKAGE_ORACLE,
)

register(
    "pagerank_copurchase_parts",
    analytics_checks.pagerank_copurchase_parts,
    analytics_checks.PAGERANK_COPURCHASE_PARTS_ORACLE,
)

register(
    "hits_authorities_parts",
    analytics_checks.hits_authorities_parts,
    analytics_checks.HITS_AUTHORITIES_PARTS_ORACLE,
)

register(
    "kcore_peel_copurchase_parts",
    analytics_checks.kcore_peel_copurchase_parts,
    analytics_checks.KCORE_PEEL_COPURCHASE_PARTS_ORACLE,
)

register(
    "mutual_information_event_dow",
    analytics_checks.mutual_information_event_dow,
    analytics_checks.MUTUAL_INFORMATION_EVENT_DOW_ORACLE,
)

register(
    "chi_square_event_dow",
    analytics_checks.chi_square_event_dow,
    analytics_checks.CHI_SQUARE_EVENT_DOW_ORACLE,
)

register(
    "robust_outliers_mad",
    analytics_checks.robust_outliers_mad,
    analytics_checks.ROBUST_OUTLIERS_MAD_ORACLE,
)

register(
    "twap_user_day",
    analytics_checks.twap_user_day,
    analytics_checks.TWAP_USER_DAY_ORACLE,
)

register(
    "ewma_user_value",
    analytics_checks.ewma_user_value,
    analytics_checks.EWMA_USER_VALUE_ORACLE,
)

register(
    "copurchase_lift_parts",
    analytics_checks.copurchase_lift_parts,
    analytics_checks.COPURCHASE_LIFT_PARTS_ORACLE,
)

register(
    "triangle_count_copurchase",
    analytics_checks.triangle_count_copurchase,
    analytics_checks.TRIANGLE_COUNT_COPURCHASE_ORACLE,
)

register(
    "linear_attribution_daily",
    analytics_checks.linear_attribution_daily,
    analytics_checks.LINEAR_ATTRIBUTION_DAILY_ORACLE,
)

register(
    "profile_columns_orders",
    analytics_checks.profile_columns_orders,
    analytics_checks.PROFILE_COLUMNS_ORDERS_ORACLE,
)

register(
    "canonical_entities_parts",
    analytics_checks.canonical_entities_parts,
    analytics_checks.CANONICAL_ENTITIES_PARTS_ORACLE,
)

# --------------------------------------------------------------------------
# Time-series diagnostics (operators/timeseries_checks.py)
# --------------------------------------------------------------------------

register(
    "autocorr_daily_value",
    timeseries_checks.autocorr_daily_value,
    timeseries_checks.AUTOCORR_DAILY_VALUE_ORACLE,
)

register(
    "rolling_zscore_anomaly_daily",
    timeseries_checks.rolling_zscore_anomaly_daily,
    timeseries_checks.ROLLING_ZSCORE_ANOMALY_DAILY_ORACLE,
)

register(
    "seasonal_naive_mape_events",
    timeseries_checks.seasonal_naive_mape_events,
    timeseries_checks.SEASONAL_NAIVE_MAPE_EVENTS_ORACLE,
)

register(
    "cusum_changepoint_daily",
    timeseries_checks.cusum_changepoint_daily,
    timeseries_checks.CUSUM_CHANGEPOINT_DAILY_ORACLE,
)

# --------------------------------------------------------------------------
# ML data-prep tier (operators/mlprep_checks.py)
# --------------------------------------------------------------------------

register(
    "kmeans_assign_embeddings",
    mlprep_checks.kmeans_assign_embeddings,
    mlprep_checks.KMEANS_ASSIGN_EMBEDDINGS_ORACLE,
)

register(
    "bigram_lm_doc_scores",
    mlprep_checks.bigram_lm_doc_scores,
    mlprep_checks.BIGRAM_LM_DOC_SCORES_ORACLE,
)

register(
    "train_val_test_split_documents",
    mlprep_checks.train_val_test_split_documents,
    mlprep_checks.TRAIN_VAL_TEST_SPLIT_DOCUMENTS_ORACLE,
)

register(
    "scrub_numeric_tokens_events",
    mlprep_checks.scrub_numeric_tokens_events,
    mlprep_checks.SCRUB_NUMERIC_TOKENS_EVENTS_ORACLE,
)

register(
    "weighted_sample_documents",
    mlprep_checks.weighted_sample_documents,
    mlprep_checks.WEIGHTED_SAMPLE_DOCUMENTS_ORACLE,
)

register(
    "corr_matrix_lineitem",
    mlprep_checks.corr_matrix_lineitem,
    mlprep_checks.CORR_MATRIX_LINEITEM_ORACLE,
)

register(
    "equidepth_histogram_orders",
    mlprep_checks.equidepth_histogram_orders,
    mlprep_checks.EQUIDEPTH_HISTOGRAM_ORDERS_ORACLE,
)

register(
    "khop_reach_copurchase",
    mlprep_checks.khop_reach_copurchase,
    mlprep_checks.KHOP_REACH_COPURCHASE_ORACLE,
)

register(
    "zipf_fit_tokens",
    mlprep_checks.zipf_fit_tokens,
    mlprep_checks.ZIPF_FIT_TOKENS_ORACLE,
)

register(
    "top_bigram_collocations_documents",
    mlprep_checks.top_bigram_collocations_documents,
    mlprep_checks.TOP_BIGRAM_COLLOCATIONS_DOCUMENTS_ORACLE,
)

register(
    "kaplan_meier_conversion_events",
    analytics_checks.kaplan_meier_conversion_events,
    analytics_checks.KAPLAN_MEIER_CONVERSION_EVENTS_ORACLE,
)

register(
    "mann_whitney_purchase_view_values",
    analytics_checks.mann_whitney_purchase_view_values,
    analytics_checks.MANN_WHITNEY_PURCHASE_VIEW_VALUES_ORACLE,
)

register(
    "kruskal_wallis_event_values",
    analytics_checks.kruskal_wallis_event_values,
    analytics_checks.KRUSKAL_WALLIS_EVENT_VALUES_ORACLE,
)

register(
    "cliffs_delta_purchase_view",
    analytics_checks.cliffs_delta_purchase_view,
    analytics_checks.CLIFFS_DELTA_PURCHASE_VIEW_ORACLE,
)

register(
    "markov_removal_attribution_events",
    analytics_checks.markov_removal_attribution_events,
    analytics_checks.MARKOV_REMOVAL_ATTRIBUTION_EVENTS_ORACLE,
)

register(
    "spearman_daily_purchase_view",
    analytics_checks.spearman_daily_purchase_view,
    analytics_checks.SPEARMAN_DAILY_PURCHASE_VIEW_ORACLE,
)

register(
    "kendall_tau_daily_purchase_view",
    analytics_checks.kendall_tau_daily_purchase_view,
    analytics_checks.KENDALL_TAU_DAILY_PURCHASE_VIEW_ORACLE,
)

register(
    "theil_sen_daily_trend",
    analytics_checks.theil_sen_daily_trend,
    analytics_checks.THEIL_SEN_DAILY_TREND_ORACLE,
)

register(
    "k_anonymity_report_events",
    analytics_checks.k_anonymity_report_events,
    analytics_checks.K_ANONYMITY_REPORT_EVENTS_ORACLE,
)

register(
    "encoding_advisor_orders",
    analytics_checks.encoding_advisor_orders,
    analytics_checks.ENCODING_ADVISOR_ORDERS_ORACLE,
)

register(
    "longest_streak_users",
    analytics_checks.longest_streak_users,
    analytics_checks.LONGEST_STREAK_USERS_ORACLE,
)

register(
    "abc_classification_parts",
    analytics_checks.abc_classification_parts,
    analytics_checks.ABC_CLASSIFICATION_PARTS_ORACLE,
)

register(
    "trimmed_mean_price_by_priority",
    analytics_checks.trimmed_mean_price_by_priority,
    analytics_checks.TRIMMED_MEAN_PRICE_BY_PRIORITY_ORACLE,
)

register(
    "price_index_monthly",
    analytics_checks.price_index_monthly,
    analytics_checks.PRICE_INDEX_MONTHLY_ORACLE,
)

register(
    "readability_scores_documents",
    analytics_checks.readability_scores_documents,
    analytics_checks.READABILITY_SCORES_DOCUMENTS_ORACLE,
)

register(
    "value_drift_weekday_weekend",
    analytics_checks.value_drift_weekday_weekend,
    analytics_checks.VALUE_DRIFT_WEEKDAY_WEEKEND_ORACLE,
)

register(
    "weighted_median_price_by_flag",
    analytics_checks.weighted_median_price_by_flag,
    analytics_checks.WEIGHTED_MEDIAN_PRICE_BY_FLAG_ORACLE,
)

register(
    "bounce_rate_daily",
    analytics_checks.bounce_rate_daily,
    analytics_checks.BOUNCE_RATE_DAILY_ORACLE,
)

register(
    "transpose_priority_quantiles",
    sql_surface.transpose_priority_quantiles,
    sql_surface.TRANSPOSE_PRIORITY_QUANTILES_ORACLE,
)

register(
    "benford_digit_test_orders",
    analytics_checks.benford_digit_test_orders,
    analytics_checks.BENFORD_DIGIT_TEST_ORDERS_ORACLE,
)

register(
    "curation_waterfall_documents",
    llm_data.curation_waterfall_documents,
    llm_data.CURATION_WATERFALL_DOCUMENTS_ORACLE,
)

register(
    "ngram_novelty_documents",
    llm_data.ngram_novelty_documents,
    llm_data.NGRAM_NOVELTY_DOCUMENTS_ORACLE,
)

register(
    "language_rebalance_plan",
    llm_data.language_rebalance_plan,
    llm_data.LANGUAGE_REBALANCE_PLAN_ORACLE,
)

register(
    "epoch_reshuffle_documents",
    llm_data.epoch_reshuffle_documents,
    llm_data.EPOCH_RESHUFFLE_DOCUMENTS_ORACLE,
)

register(
    "incremental_dedup_documents",
    llm_data.incremental_dedup_documents,
    llm_data.INCREMENTAL_DEDUP_DOCUMENTS_ORACLE,
)

register(
    "kmeans_lloyd_embeddings",
    mlprep_checks.kmeans_lloyd_embeddings,
    mlprep_checks.KMEANS_LLOYD_EMBEDDINGS_ORACLE,
)

register(
    "sql_scripting_size_report",
    sql_surface.sql_scripting_size_report,
    sql_surface.SQL_SCRIPTING_SIZE_REPORT_ORACLE,
)

register(
    "approx_distinct_users_trailing7d",
    relational.approx_distinct_users_trailing7d,
    relational.APPROX_DISTINCT_USERS_TRAILING7D_ORACLE,
)

register(
    "hll_intersection_weekday_weekend_users",
    relational.hll_intersection_weekday_weekend_users,
    relational.HLL_INTERSECTION_WEEKDAY_WEEKEND_USERS_ORACLE,
)

register(
    "python_datasource_write_roundtrip",
    ingestion_checks.python_datasource_write_roundtrip,
    ingestion_checks.PYTHON_DATASOURCE_WRITE_ROUNDTRIP_ORACLE,
)

register(
    "time_travel_orders_versions",
    lakehouse_checks.time_travel_orders_versions,
    lakehouse_checks.TIME_TRAVEL_ORDERS_VERSIONS_ORACLE,
)

register(
    "session_variable_brand_report",
    sql_surface.session_variable_brand_report,
    sql_surface.SESSION_VARIABLE_BRAND_REPORT_ORACLE,
)

register(
    "rake_keywords_documents",
    mlprep_checks.rake_keywords_documents,
    mlprep_checks.RAKE_KEYWORDS_DOCUMENTS_ORACLE,
)

register(
    "textrank_terms_documents",
    mlprep_checks.textrank_terms_documents,
    mlprep_checks.TEXTRANK_TERMS_DOCUMENTS_ORACLE,
)

register(
    "als_rank1_part_factors",
    mlprep_checks.als_rank1_part_factors,
    mlprep_checks.ALS_RANK1_PART_FACTORS_ORACLE,
)

register(
    "arrow_vector_norms_embeddings",
    mlprep_checks.arrow_vector_norms_embeddings,
    mlprep_checks.ARROW_VECTOR_NORMS_EMBEDDINGS_ORACLE,
)

register(
    "lateral_topn_orders_per_customer",
    sql_surface.lateral_topn_orders_per_customer,
    sql_surface.LATERAL_TOPN_ORDERS_PER_CUSTOMER_ORACLE,
)

register(
    "grouping_sets_revenue",
    sql_surface.grouping_sets_revenue,
    sql_surface.GROUPING_SETS_REVENUE_ORACLE,
)

register(
    "ab_test_session_value",
    analytics_checks.ab_test_session_value,
    analytics_checks.AB_TEST_SESSION_VALUE_ORACLE,
)

register(
    "time_to_convert_quantiles",
    analytics_checks.time_to_convert_quantiles,
    analytics_checks.TIME_TO_CONVERT_QUANTILES_ORACLE,
)

register(
    "key_skew_report_events",
    analytics_checks.key_skew_report_events,
    analytics_checks.KEY_SKEW_REPORT_EVENTS_ORACLE,
)

register(
    "scd2_asof_lookup",
    lakehouse_checks.scd2_asof_lookup,
    lakehouse_checks.SCD2_ASOF_LOOKUP_ORACLE,
)

register(
    "table_diff_snapshots",
    lakehouse_checks.table_diff_snapshots,
    lakehouse_checks.TABLE_DIFF_SNAPSHOTS_ORACLE,
)

register(
    "bm25_search_documents",
    llm_data.bm25_search_documents,
    llm_data.BM25_SEARCH_DOCUMENTS_ORACLE,
)

register(
    "l_diversity_report_events",
    analytics_checks.l_diversity_report_events,
    analytics_checks.L_DIVERSITY_REPORT_EVENTS_ORACLE,
)

register(
    "rfm_segments_customers",
    relational.rfm_segments_customers,
    relational.RFM_SEGMENTS_CUSTOMERS_ORACLE,
)

register(
    "rfm_segments_customers_approx",
    relational.rfm_segments_customers_approx,
    relational.RFM_SEGMENTS_CUSTOMERS_APPROX_ORACLE,
)

register(
    "fd_discovery_orders",
    analytics_checks.fd_discovery_orders,
    analytics_checks.FD_DISCOVERY_ORDERS_ORACLE,
)

register(
    "fk_inclusion_audit",
    analytics_checks.fk_inclusion_audit,
    analytics_checks.FK_INCLUSION_AUDIT_ORACLE,
)

register(
    "cdc_chunk_dedup_documents",
    llm_data.cdc_chunk_dedup_documents,
    llm_data.CDC_CHUNK_DEDUP_DOCUMENTS_ORACLE,
)

register(
    "capture_recapture_users",
    analytics_checks.capture_recapture_users,
    analytics_checks.CAPTURE_RECAPTURE_USERS_ORACLE,
)

register(
    "poisson_bootstrap_ci_orders",
    analytics_checks.poisson_bootstrap_ci_orders,
    analytics_checks.POISSON_BOOTSTRAP_CI_ORDERS_ORACLE,
)

register(
    "holt_winters_seasonal_daily",
    timeseries_checks.holt_winters_seasonal_daily,
    timeseries_checks.HOLT_WINTERS_SEASONAL_DAILY_ORACLE,
)

register(
    "mmr_rerank_topk_embeddings",
    llm_data.mmr_rerank_topk_embeddings,
    llm_data.MMR_RERANK_TOPK_EMBEDDINGS_ORACLE,
)

register(
    "mixture_temperature_allocation",
    llm_data.mixture_temperature_allocation,
    llm_data.MIXTURE_TEMPERATURE_ALLOCATION_ORACLE,
)

register(
    "embedding_int8_quantization_report",
    mlprep_checks.embedding_int8_quantization_report,
    mlprep_checks.EMBEDDING_INT8_QUANTIZATION_REPORT_ORACLE,
)

register(
    "length_bucket_padding_report",
    llm_data.length_bucket_padding_report,
    llm_data.LENGTH_BUCKET_PADDING_REPORT_ORACLE,
)

register(
    "curriculum_schedule_documents",
    llm_data.curriculum_schedule_documents,
    llm_data.CURRICULUM_SCHEDULE_DOCUMENTS_ORACLE,
)

register(
    "self_similarity_sample_documents",
    llm_data.self_similarity_sample_documents,
    llm_data.SELF_SIMILARITY_SAMPLE_DOCUMENTS_ORACLE,
)

register(
    "kfold_cv_stump_documents",
    classifier.kfold_cv_stump_documents,
    classifier.KFOLD_CV_STUMP_DOCUMENTS_ORACLE,
)

register(
    "cross_source_overlap_matrix",
    llm_data.cross_source_overlap_matrix,
    llm_data.CROSS_SOURCE_OVERLAP_MATRIX_ORACLE,
)

register(
    "misra_gries_heavy_hitters_events",
    relational.misra_gries_heavy_hitters_events,
    relational.MISRA_GRIES_HEAVY_HITTERS_EVENTS_ORACLE,
)

register(
    "bot_cadence_report_events",
    analytics_checks.bot_cadence_report_events,
    analytics_checks.BOT_CADENCE_REPORT_EVENTS_ORACLE,
)

register(
    "markov_stationary_event_types",
    analytics_checks.markov_stationary_event_types,
    analytics_checks.MARKOV_STATIONARY_EVENT_TYPES_ORACLE,
)

register(
    "isotonic_calibration_documents",
    classifier.isotonic_calibration_documents,
    classifier.ISOTONIC_CALIBRATION_DOCUMENTS_ORACLE,
)

register(
    "conformal_forecast_interval_daily",
    timeseries_checks.conformal_forecast_interval_daily,
    timeseries_checks.CONFORMAL_FORECAST_INTERVAL_DAILY_ORACLE,
)

register(
    "fixed_width_roundtrip_orders",
    ingestion_checks.fixed_width_roundtrip_orders,
    ingestion_checks.FIXED_WIDTH_ROUNDTRIP_ORDERS_ORACLE,
)

register(
    "cohort_ltv_curve_events",
    temporal_checks.cohort_ltv_curve_events,
    temporal_checks.COHORT_LTV_CURVE_EVENTS_ORACLE,
)

register(
    "fightin_words_batches_documents",
    corpus_quality.fightin_words_batches_documents,
    corpus_quality.FIGHTIN_WORDS_BATCHES_DOCUMENTS_ORACLE,
)

register(
    "decision_stump_documents",
    classifier.decision_stump_documents,
    classifier.DECISION_STUMP_DOCUMENTS_ORACLE,
)

register(
    "whitening_isotropy_gain_embeddings",
    mlprep_checks.whitening_isotropy_gain_embeddings,
    mlprep_checks.WHITENING_ISOTROPY_GAIN_EMBEDDINGS_ORACLE,
)

register(
    "countmin_event_types",
    relational.countmin_event_types,
    relational.COUNTMIN_EVENT_TYPES_ORACLE,
)

register(
    "holt_linear_daily_forecast",
    timeseries_checks.holt_linear_daily_forecast,
    timeseries_checks.HOLT_LINEAR_DAILY_FORECAST_ORACLE,
)

register(
    "pca_power_iteration_embeddings",
    mlprep_checks.pca_power_iteration_embeddings,
    mlprep_checks.PCA_POWER_ITERATION_EMBEDDINGS_ORACLE,
)

register(
    "oversample_minority_documents",
    llm_data.oversample_minority_documents,
    llm_data.OVERSAMPLE_MINORITY_DOCUMENTS_ORACLE,
)

register(
    "streaming_topk_event_types_daily",
    streaming_checks.streaming_topk_event_types_daily,
    streaming_checks.STREAMING_TOPK_EVENT_TYPES_DAILY_ORACLE,
)

register(
    "psi_value_drift_halves",
    timeseries_checks.psi_value_drift_halves,
    timeseries_checks.PSI_VALUE_DRIFT_HALVES_ORACLE,
)

register(
    "durbin_watson_daily_trend",
    timeseries_checks.durbin_watson_daily_trend,
    timeseries_checks.DURBIN_WATSON_DAILY_TREND_ORACLE,
)

register(
    "merge_on_read_delete_events",
    lakehouse_checks.merge_on_read_delete_events,
    lakehouse_checks.MERGE_ON_READ_DELETE_EVENTS_ORACLE,
)

register(
    "mann_kendall_daily_trend",
    analytics_checks.mann_kendall_daily_trend,
    analytics_checks.MANN_KENDALL_DAILY_TREND_ORACLE,
)

register(
    "ks_by_event_type_bh",
    analytics_checks.ks_by_event_type_bh,
    analytics_checks.KS_BY_EVENT_TYPE_BH_ORACLE,
)

register(
    "label_centroid_similarity_embeddings",
    mlprep_checks.label_centroid_similarity_embeddings,
    mlprep_checks.LABEL_CENTROID_SIMILARITY_EMBEDDINGS_ORACLE,
)

register(
    "neyman_allocation_documents",
    mlprep_checks.neyman_allocation_documents,
    mlprep_checks.NEYMAN_ALLOCATION_DOCUMENTS_ORACLE,
)

register(
    "fellegi_sunter_linkage_parts",
    analytics_checks.fellegi_sunter_linkage_parts,
    analytics_checks.FELLEGI_SUNTER_LINKAGE_PARTS_ORACLE,
)

register(
    "partition_pruning_report_orders",
    analytics_checks.partition_pruning_report_orders,
    analytics_checks.PARTITION_PRUNING_REPORT_ORDERS_ORACLE,
)

register(
    "calibration_report_documents",
    classifier.calibration_report_documents,
    classifier.CALIBRATION_REPORT_DOCUMENTS_ORACLE,
)

register(
    "multimodal_audio_chunks",
    multimodal_checks.multimodal_audio_chunks,
    multimodal_checks.MULTIMODAL_AUDIO_CHUNKS_ORACLE,
)

# real (dependency-free) codec kernels — BMP + WAV/PCM16 decode proven
# against closed-form generating oracles (round 8)
register(
    "multimodal_bmp_pixel_stats",
    multimodal_checks.multimodal_bmp_pixel_stats,
    multimodal_checks.MULTIMODAL_BMP_PIXEL_STATS_ORACLE,
)

register(
    "multimodal_wav_pcm_energy",
    multimodal_checks.multimodal_wav_pcm_energy,
    multimodal_checks.MULTIMODAL_WAV_PCM_ENERGY_ORACLE,
)

register(
    "hybrid_search_rrf_documents",
    llm_data.hybrid_search_rrf_documents,
    llm_data.HYBRID_SEARCH_RRF_DOCUMENTS_ORACLE,
)

register(
    "pareto_frontier_parts",
    relational.pareto_frontier_parts,
    relational.PARETO_FRONTIER_PARTS_ORACLE,
)

register(
    "compaction_plan_orders",
    lakehouse_checks.compaction_plan_orders,
    lakehouse_checks.COMPACTION_PLAN_ORDERS_ORACLE,
)

register(
    "seasonal_decompose_daily",
    timeseries_checks.seasonal_decompose_daily,
    timeseries_checks.SEASONAL_DECOMPOSE_DAILY_ORACLE,
)

register(
    "t_closeness_report_events",
    analytics_checks.t_closeness_report_events,
    analytics_checks.T_CLOSENESS_REPORT_EVENTS_ORACLE,
)

register(
    "js_divergence_event_types_weekpart",
    analytics_checks.js_divergence_event_types_weekpart,
    analytics_checks.JS_DIVERGENCE_EVENT_TYPES_WEEKPART_ORACLE,
)

register(
    "cramers_v_event_type_dow",
    analytics_checks.cramers_v_event_type_dow,
    analytics_checks.CRAMERS_V_EVENT_TYPE_DOW_ORACLE,
)

register(
    "ks_test_purchase_view",
    analytics_checks.ks_test_purchase_view,
    analytics_checks.KS_TEST_PURCHASE_VIEW_ORACLE,
)

# The transformWithStateInPandas check registers only where its python
# protobuf dependency exists. The operator itself
# (streaming/stateful.py::user_event_type_counts_stream) is
# environment-independent code; the gate is on the RUNTIME dependency,
# mirroring multimodal/binary_ops.py's strict-codec policy. Without
# python-protobuf, stateful_event_type_counts_events never registers; its
# parity is covered in pytest and by the pandas twin below.
from data_ingestion_pipeline_spark.streaming.stateful import (  # noqa: E402
    transform_with_state_available,
)

if transform_with_state_available():
    register(
        "stateful_event_type_counts_events",
        streaming_checks.stateful_event_type_counts_events,
        streaming_checks.STATEFUL_EVENT_TYPE_COUNTS_EVENTS_ORACLE,
    )

# Round-8 (round-7 verdict ask #3): the protobuf-free twin of the gated
# check above — identical semantics and oracle on applyInPandasWithState,
# registered unconditionally so the MapState fold finally holds a driver
# row in this sandbox.
register(
    "stateful_event_type_counts_pandas_events",
    streaming_checks.stateful_event_type_counts_pandas_events,
    streaming_checks.STATEFUL_EVENT_TYPE_COUNTS_PANDAS_EVENTS_ORACLE,
)

# --------------------------------------------------------------------------
# Round-11 additions: k-sample post-hoc / median / within-block tests
# --------------------------------------------------------------------------

register(
    "dunn_posthoc_event_values",
    analytics_checks.dunn_posthoc_event_values,
    analytics_checks.DUNN_POSTHOC_EVENT_VALUES_ORACLE,
)

register(
    "moods_median_test_event_values",
    analytics_checks.moods_median_test_event_values,
    analytics_checks.MOODS_MEDIAN_TEST_EVENT_VALUES_ORACLE,
)

register(
    "friedman_test_event_type_values",
    analytics_checks.friedman_test_event_type_values,
    analytics_checks.FRIEDMAN_TEST_EVENT_TYPE_VALUES_ORACLE,
)

register(
    "cochrans_q_event_types_users",
    analytics_checks.cochrans_q_event_types_users,
    analytics_checks.COCHRANS_Q_EVENT_TYPES_USERS_ORACLE,
)

register(
    "pacf_daily_values",
    timeseries_checks.pacf_daily_values,
    timeseries_checks.PACF_DAILY_VALUES_ORACLE,
)

register(
    "randomization_test_ab_value",
    inference_stats.randomization_test_ab_value,
    inference_stats.RANDOMIZATION_TEST_AB_VALUE_ORACLE,
)

register(
    "hodges_lehmann_purchase_view_daily",
    inference_stats.hodges_lehmann_purchase_view_daily,
    inference_stats.HODGES_LEHMANN_PURCHASE_VIEW_DAILY_ORACLE,
)

register(
    "transitivity_copurchase_parts",
    analytics_checks.transitivity_copurchase_parts,
    analytics_checks.TRANSITIVITY_COPURCHASE_PARTS_ORACLE,
)

register(
    "nn1_label_accuracy_embeddings",
    mlprep_checks.nn1_label_accuracy_embeddings,
    mlprep_checks.NN1_LABEL_ACCURACY_EMBEDDINGS_ORACLE,
)

register(
    "nmi_ivf_cells_labels_embeddings",
    mlprep_checks.nmi_ivf_cells_labels_embeddings,
    mlprep_checks.NMI_IVF_CELLS_LABELS_EMBEDDINGS_ORACLE,
)

register(
    "cohens_kappa_quality_flags_documents",
    corpus_quality.cohens_kappa_quality_flags_documents,
    corpus_quality.COHENS_KAPPA_QUALITY_FLAGS_DOCUMENTS_ORACLE,
)

register(
    "streaming_interval_full_outer_events",
    streaming_checks.streaming_interval_full_outer_events,
    streaming_checks.STREAMING_INTERVAL_FULL_OUTER_EVENTS_ORACLE,
)

register(
    "ccf_purchase_view_daily",
    timeseries_checks.ccf_purchase_view_daily,
    timeseries_checks.CCF_PURCHASE_VIEW_DAILY_ORACLE,
)

register(
    "granger_lag1_view_to_purchase_daily",
    timeseries_checks.granger_lag1_view_to_purchase_daily,
    timeseries_checks.GRANGER_LAG1_VIEW_TO_PURCHASE_DAILY_ORACLE,
)

register(
    "chow_test_daily_midpoint",
    timeseries_checks.chow_test_daily_midpoint,
    timeseries_checks.CHOW_TEST_DAILY_MIDPOINT_ORACLE,
)

register(
    "breusch_pagan_price_quantity",
    inference_stats.breusch_pagan_price_quantity,
    inference_stats.BREUSCH_PAGAN_PRICE_QUANTITY_ORACLE,
)

register(
    "jonckheere_terpstra_priority_price",
    analytics_checks.jonckheere_terpstra_priority_price,
    analytics_checks.JONCKHEERE_TERPSTRA_PRIORITY_PRICE_ORACLE,
)

register(
    "welch_anova_event_values",
    inference_stats.welch_anova_event_values,
    inference_stats.WELCH_ANOVA_EVENT_VALUES_ORACLE,
)

register(
    "bartlett_test_event_values",
    inference_stats.bartlett_test_event_values,
    inference_stats.BARTLETT_TEST_EVENT_VALUES_ORACLE,
)

register(
    "brunner_munzel_purchase_view",
    analytics_checks.brunner_munzel_purchase_view,
    analytics_checks.BRUNNER_MUNZEL_PURCHASE_VIEW_ORACLE,
)

register(
    "cramer_von_mises_purchase_view",
    analytics_checks.cramer_von_mises_purchase_view,
    analytics_checks.CRAMER_VON_MISES_PURCHASE_VIEW_ORACLE,
)

register(
    "gmm2_em_daily_values",
    timeseries_checks.gmm2_em_daily_values,
    timeseries_checks.GMM2_EM_DAILY_VALUES_ORACLE,
)

register(
    "pettitt_changepoint_daily",
    timeseries_checks.pettitt_changepoint_daily,
    timeseries_checks.PETTITT_CHANGEPOINT_DAILY_ORACLE,
)

register(
    "rmst_user_retention",
    inference_stats.rmst_user_retention,
    inference_stats.RMST_USER_RETENTION_ORACLE,
)

register(
    "anderson_darling_purchase_view",
    analytics_checks.anderson_darling_purchase_view,
    analytics_checks.ANDERSON_DARLING_PURCHASE_VIEW_ORACLE,
)

register(
    "wasserstein_purchase_view",
    analytics_checks.wasserstein_purchase_view,
    analytics_checks.WASSERSTEIN_PURCHASE_VIEW_ORACLE,
)

register(
    "energy_distance_purchase_view",
    analytics_checks.energy_distance_purchase_view,
    analytics_checks.ENERGY_DISTANCE_PURCHASE_VIEW_ORACLE,
)

register(
    "goodman_kruskal_priority_price_orders",
    analytics_checks.goodman_kruskal_priority_price_orders,
    analytics_checks.GOODMAN_KRUSKAL_PRIORITY_PRICE_ORDERS_ORACLE,
)

register(
    "wilcoxon_signed_rank_purchase_view_daily",
    analytics_checks.wilcoxon_signed_rank_purchase_view_daily,
    analytics_checks.WILCOXON_SIGNED_RANK_PURCHASE_VIEW_DAILY_ORACLE,
)

register(
    "cochran_armitage_trend_priority_orders",
    analytics_checks.cochran_armitage_trend_priority_orders,
    analytics_checks.COCHRAN_ARMITAGE_TREND_PRIORITY_ORDERS_ORACLE,
)

register(
    "adf_test_daily_values",
    timeseries_checks.adf_test_daily_values,
    timeseries_checks.ADF_TEST_DAILY_VALUES_ORACLE,
)

register(
    "breusch_godfrey_daily_trend",
    timeseries_checks.breusch_godfrey_daily_trend,
    timeseries_checks.BREUSCH_GODFREY_DAILY_TREND_ORACLE,
)

register(
    "white_test_price_quantity",
    inference_stats.white_test_price_quantity,
    inference_stats.WHITE_TEST_PRICE_QUANTITY_ORACLE,
)

register(
    "kmv_distinct_users_events",
    relational.kmv_distinct_users_events,
    relational.KMV_DISTINCT_USERS_EVENTS_ORACLE,
)

register(
    "ams_f2_user_activity_events",
    relational.ams_f2_user_activity_events,
    relational.AMS_F2_USER_ACTIVITY_EVENTS_ORACLE,
)

register(
    "binned_range_join_orders_bands",
    relational.binned_range_join_orders_bands,
    relational.BINNED_RANGE_JOIN_ORDERS_BANDS_ORACLE,
)

register(
    "brier_decomposition_documents",
    classifier.brier_decomposition_documents,
    classifier.BRIER_DECOMPOSITION_DOCUMENTS_ORACLE,
)

register(
    "hosmer_lemeshow_documents",
    classifier.hosmer_lemeshow_documents,
    classifier.HOSMER_LEMESHOW_DOCUMENTS_ORACLE,
)

register(
    "fleming_harrington_test_retention_arms",
    inference_stats.fleming_harrington_test_retention_arms,
    inference_stats.FLEMING_HARRINGTON_TEST_RETENTION_ARMS_ORACLE,
)

register(
    "life_table_retention",
    inference_stats.life_table_retention,
    inference_stats.LIFE_TABLE_RETENTION_ORACLE,
)

register(
    "permutation_entropy_daily_values",
    timeseries_checks.permutation_entropy_daily_values,
    timeseries_checks.PERMUTATION_ENTROPY_DAILY_VALUES_ORACLE,
)

register(
    "bartels_rank_test_daily_values",
    timeseries_checks.bartels_rank_test_daily_values,
    timeseries_checks.BARTELS_RANK_TEST_DAILY_VALUES_ORACLE,
)

register(
    "cox_stuart_trend_daily",
    timeseries_checks.cox_stuart_trend_daily,
    timeseries_checks.COX_STUART_TREND_DAILY_ORACLE,
)

register(
    "theils_u_event_type_dow",
    analytics_checks.theils_u_event_type_dow,
    analytics_checks.THEILS_U_EVENT_TYPE_DOW_ORACLE,
)

register(
    "local_clustering_topk_parts",
    analytics_checks.local_clustering_topk_parts,
    analytics_checks.LOCAL_CLUSTERING_TOPK_PARTS_ORACLE,
)

register(
    "hurst_rs_daily_values",
    timeseries_checks.hurst_rs_daily_values,
    timeseries_checks.HURST_RS_DAILY_VALUES_ORACLE,
)

register(
    "esd_outliers_daily",
    timeseries_checks.esd_outliers_daily,
    timeseries_checks.ESD_OUTLIERS_DAILY_ORACLE,
)

register(
    "transfer_entropy_view_purchase_daily",
    timeseries_checks.transfer_entropy_view_purchase_daily,
    timeseries_checks.TRANSFER_ENTROPY_VIEW_PURCHASE_DAILY_ORACLE,
)

register(
    "croston_intermittent_demand_part",
    timeseries_checks.croston_intermittent_demand_part,
    timeseries_checks.CROSTON_INTERMITTENT_DEMAND_PART_ORACLE,
)

register(
    "theta_method_forecast_daily",
    timeseries_checks.theta_method_forecast_daily,
    timeseries_checks.THETA_METHOD_FORECAST_DAILY_ORACLE,
)

register(
    "spectral_entropy_daily_events",
    timeseries_checks.spectral_entropy_daily_events,
    timeseries_checks.SPECTRAL_ENTROPY_DAILY_EVENTS_ORACLE,
)

register(
    "seasonal_mann_kendall_daily",
    analytics_checks.seasonal_mann_kendall_daily,
    analytics_checks.SEASONAL_MANN_KENDALL_DAILY_ORACLE,
)

register(
    "kendalls_w_weekday_event_types",
    analytics_checks.kendalls_w_weekday_event_types,
    analytics_checks.KENDALLS_W_WEEKDAY_EVENT_TYPES_ORACLE,
)

register(
    "dagostino_k2_daily_values",
    timeseries_checks.dagostino_k2_daily_values,
    timeseries_checks.DAGOSTINO_K2_DAILY_VALUES_ORACLE,
)

register(
    "zone_map_skip_report_orders",
    relational.zone_map_skip_report_orders,
    relational.ZONE_MAP_SKIP_REPORT_ORDERS_ORACLE,
)

register(
    "ansari_bradley_purchase_view",
    analytics_checks.ansari_bradley_purchase_view,
    analytics_checks.ANSARI_BRADLEY_PURCHASE_VIEW_ORACLE,
)

register(
    "competing_risks_cif_retention",
    inference_stats.competing_risks_cif_retention,
    inference_stats.COMPETING_RISKS_CIF_RETENTION_ORACLE,
)

register(
    "bloom_index_probe_orders",
    relational.bloom_index_probe_orders,
    relational.BLOOM_INDEX_PROBE_ORDERS_ORACLE,
)

register(
    "near_dup_threshold_sweep_documents",
    llm_data.near_dup_threshold_sweep_documents,
    llm_data.NEAR_DUP_THRESHOLD_SWEEP_DOCUMENTS_ORACLE,
)

register(
    "ann_ivf_nprobe_sweep_embeddings",
    llm_data.ann_ivf_nprobe_sweep_embeddings,
    llm_data.ANN_IVF_NPROBE_SWEEP_EMBEDDINGS_ORACLE,
)

register(
    "hotelling_t2_weekpart_daily",
    inference_stats.hotelling_t2_weekpart_daily,
    inference_stats.HOTELLING_T2_WEEKPART_DAILY_ORACLE,
)

register(
    "mahalanobis_outliers_lineitem",
    inference_stats.mahalanobis_outliers_lineitem,
    inference_stats.MAHALANOBIS_OUTLIERS_LINEITEM_ORACLE,
)

register(
    "cronbach_alpha_event_types_users",
    inference_stats.cronbach_alpha_event_types_users,
    inference_stats.CRONBACH_ALPHA_EVENT_TYPES_USERS_ORACLE,
)

register(
    "odds_ratio_ci_priority_status_orders",
    inference_stats.odds_ratio_ci_priority_status_orders,
    inference_stats.ODDS_RATIO_CI_PRIORITY_STATUS_ORDERS_ORACLE,
)

register(
    "canonical_correlation_daily",
    analytics_checks.canonical_correlation_daily,
    analytics_checks.CANONICAL_CORRELATION_DAILY_ORACLE,
)

register(
    "quade_test_event_type_values",
    analytics_checks.quade_test_event_type_values,
    analytics_checks.QUADE_TEST_EVENT_TYPE_VALUES_ORACLE,
)

register(
    "box_m_test_weekpart_daily",
    inference_stats.box_m_test_weekpart_daily,
    inference_stats.BOX_M_TEST_WEEKPART_DAILY_ORACLE,
)

register(
    "mardia_normality_daily",
    inference_stats.mardia_normality_daily,
    inference_stats.MARDIA_NORMALITY_DAILY_ORACLE,
)

register(
    "greenwood_km_ci_retention",
    inference_stats.greenwood_km_ci_retention,
    inference_stats.GREENWOOD_KM_CI_RETENTION_ORACLE,
)

register(
    "siegel_slope_daily_trend",
    timeseries_checks.siegel_slope_daily_trend,
    timeseries_checks.SIEGEL_SLOPE_DAILY_TREND_ORACLE,
)

register(
    "cochrane_orcutt_daily_trend",
    timeseries_checks.cochrane_orcutt_daily_trend,
    timeseries_checks.COCHRANE_ORCUTT_DAILY_TREND_ORACLE,
)

register(
    "cusum_squares_daily",
    timeseries_checks.cusum_squares_daily,
    timeseries_checks.CUSUM_SQUARES_DAILY_ORACLE,
)

register(
    "variance_ratio_daily",
    timeseries_checks.variance_ratio_daily,
    timeseries_checks.VARIANCE_RATIO_DAILY_ORACLE,
)

register(
    "turning_points_daily",
    timeseries_checks.turning_points_daily,
    timeseries_checks.TURNING_POINTS_DAILY_ORACLE,
)
