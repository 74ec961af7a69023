"""The session that ``get_spark`` starts: its codegen cache holds the
generated classes of a repeated query mix, so a warm pass compiles none."""

from __future__ import annotations

from data_ingestion_pipeline_spark import registry
from tests.conftest import SF_SMOKE

# the benchmark's analytics mix: 7 reference reports, TPC-H q1/q3/q6 and 3
# corpus queries; one pass needs about 150 generated classes
ANALYTICS_QUERIES = [
    "revenue_per_product",
    "revenue_per_product_sql",
    "low_stock",
    "orders_per_product_month",
    "revenue_per_category",
    "inventory_status",
    "most_sold_per_category",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "quality_filter_documents",
    "cosine_topk_embeddings",
    "minhash_verified_near_dup_documents",
]


def _janino_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _one_pass(spark) -> None:
    """Each query once through the ``noop`` sink, as the benchmark runs it."""
    queries = registry.queries()
    for name in ANALYTICS_QUERIES:
        queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()


def test_second_pass_of_the_analytics_mix_compiles_nothing(spark):
    _one_pass(spark)
    before = _janino_compiles(spark)
    _one_pass(spark)
    assert _janino_compiles(spark) - before == 0
