"""SparkSession factory.

One place to configure the engine so every entry point (tests, bench,
``__spark_entry__``, streaming jobs) runs with identical semantics:

- UTC session timezone (oracle parity: DuckDB timestamps are UTC-naive).
- AQE on (runtime shuffle coalescing, skew-join splitting) — at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from observed stats.
- Arrow on (fast pandas interchange for the pandas-UDF slow path).
- 4 MiB scan splits and AQE advisory partitions, sized for small local
  fixtures; ``extra_conf`` overrides these (or any conf) on a cluster.

Environment: ``SPARK_GRAFT_MASTER`` (default ``local[$SPARK_GRAFT_CPUS]``,
cores default to the host's), ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (default
max(cores, 8); on a cluster ~2-3x total executor cores),
``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_GRAFT_WAREHOUSE``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

# Scan-task split size and AQE's advisory shuffle-partition size. The
# fixtures are SINGLE small parquet files, so the 128 MB split default
# yields 1-2 scan partitions and every CPU-heavy expression pipeline
# (shingling, minhash, vector math) serializes onto 2 cores; AQE's 64 MB
# advisory target would likewise coalesce the small-but-CPU-dense shuffles
# to 1-2 partitions. On a cluster pass 128-512 MB through ``extra_conf``.
_SPLIT_BYTES = str(4 * 1024 * 1024)


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def _default_driver_memory() -> str:
    """A quarter of physical memory, clamped to [1g, 16g]. G1 lets the heap
    grow toward its maximum before it collects hard, so a fixed 16g filled
    a 16 GB host (15.7 GB RSS) and the kernel killed the JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, max(1024, phys // 4 // 2**20))}m"


def get_spark(
    app_name: str = "data_ingestion_pipeline_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession; ``extra_conf`` entries
    are applied last and override any default here."""
    cores = _default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8)))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] runs driver + executors in ONE JVM; the 1g default heap
        # is sized for a thin cluster driver, not for N executor threads.
        # Ignored (harmlessly) once a JVM is already up.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Managed-table warehouse (bucketed tables, saveAsTable) — under
        # /tmp so the repo/CWD never collects spark-warehouse/ droppings.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_scratch/warehouse"
            ),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", _SPLIT_BYTES)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", _SPLIT_BYTES)
        .config("spark.ui.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (the events fixture) is otherwise a hard
        # error; read as long and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
