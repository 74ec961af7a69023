"""The session that ``get_spark`` starts: its codegen cache holds the
generated classes of a repeated query mix, so a warm pass compiles none,
and a JVM that dies mapping a damaged class-data-sharing archive costs
one failed start, not the session."""

from __future__ import annotations

import os
import subprocess
import sys

from data_ingestion_pipeline_spark import registry
from tests.conftest import REPO, SF_SMOKE

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


def test_a_truncated_archive_costs_one_failed_start(tmp_path):
    """Two sessions, each in a fresh process with its own cache. The first
    has no archive and dumps one as its JVM exits; its process waits for
    the dump and adopts it. The archive is then cut to a third, header
    intact, which crashes a JVM that maps it (SIGBUS) before Spark starts.
    The second session still starts and runs a query: its JVM crashes once,
    the archive is deleted and a JVM starts without it. The crash report
    lands in the cache, not in the cwd, and the banner not on stdout."""
    cache = tmp_path / "cache" / "spark-graft" / "cds"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    env.pop("SPARK_CONF_DIR", None)  # this process's own session may have set it
    script = (
        "from data_ingestion_pipeline_spark.session import get_spark; "
        "print(get_spark('cds').range(5).count())"
    )

    def session():
        return subprocess.run(
            [sys.executable, "-c", script],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
        )

    first = session()
    assert (first.returncode, first.stdout) == (0, "5\n"), first.stderr[-3000:]
    (archive,) = cache.glob("*.jsa")
    os.chmod(archive, 0o644)  # the JDK writes it read-only
    os.truncate(archive, archive.stat().st_size // 3)

    second = session()
    assert (second.returncode, second.stdout) == (0, "5\n"), second.stderr[-3000:]
    assert "A fatal error has been detected" in second.stderr
    assert not archive.exists()
    assert len(list(cache.glob("*.hs_err_pid*.log"))) == 1
    assert list(cwd.iterdir()) == []
