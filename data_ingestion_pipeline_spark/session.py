"""SparkSession factory.

One place to configure the engine so every entry point (tests, bench,
``__spark_entry__``, streaming jobs) runs with identical semantics:

- UTC session timezone (oracle parity: DuckDB timestamps are UTC-naive).
- AQE on (runtime shuffle coalescing, skew-join splitting) — at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from observed stats.
- Arrow on (fast pandas interchange for the pandas-UDF slow path).
- 4 MiB scan splits and AQE advisory partitions, sized for small local
  fixtures; ``extra_conf`` overrides these (or any conf) on a cluster.
- A codegen cache of 500 compiled classes (``_CODEGEN_CACHE_ENTRIES``)
  instead of Spark's 100. A mix of 13 queries needs about 150 generated
  classes per pass, so at 100 the LRU cache thrashes: every repeated
  execution recompiles its plan's classes with Janino and the JIT compiles
  them again. The conf is static, so it holds only in a session that
  ``get_spark`` starts; a session built without it (an external harness
  of the ``__spark_entry__`` contract, ``tools/check_oracle.py``) keeps 100.
- A driver JVM started from the host's class-data-sharing archive
  (``cds.py``), which maps Spark's classes instead of loading them: in
  ``perfbench`` the session starts in about 3 s instead of 6-7 s, and the
  warm-up pass is about 3.5 s shorter. The archive lives in
  ``$XDG_CACHE_HOME/spark-graft/cds/`` (``~/.cache/...`` when unset), keyed
  on the JVM's ``libjvm.so`` and the listing of ``$SPARK_HOME/jars``; a
  new key replaces it, and deleting the directory resets it. The first
  session on a host has none: its JVM writes it while exiting, which adds
  13-15 s to that process's exit (it waits, bounded, at exit). Sharing
  applies only when ``SPARK_CONF_DIR`` is unset (or names the cache's
  empty conf dir) and ``$SPARK_HOME/conf`` holds only templates;
  otherwise the JVM starts exactly as without it.

Environment: ``SPARK_GRAFT_MASTER`` (default ``local[$SPARK_GRAFT_CPUS]``,
cores default to the host's), ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (default
max(cores, 8); on a cluster ~2-3x total executor cores),
``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_GRAFT_WAREHOUSE``.
"""

from __future__ import annotations

import atexit
import os
import subprocess

from pyspark import SparkConf, SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.java_gateway import launch_gateway
from pyspark.sql import SparkSession

from data_ingestion_pipeline_spark import cds

__all__ = ["get_spark"]

# Scan-task split size and AQE's advisory shuffle-partition size. The
# fixtures are SINGLE small parquet files, so the 128 MB split default
# yields 1-2 scan partitions and every CPU-heavy expression pipeline
# (shingling, minhash, vector math) serializes onto 2 cores; AQE's 64 MB
# advisory target would likewise coalesce the small-but-CPU-dense shuffles
# to 1-2 partitions. On a cluster pass 128-512 MB through ``extra_conf``.
_SPLIT_BYTES = str(4 * 1024 * 1024)

# Entries in Catalyst's JVM-wide cache of Janino-compiled classes, sized
# with Spark's CodegenMetrics: one pass of the benchmark's 13-query
# analytics mix compiles about 150 classes, and each warm pass recompiled
# 83-128 of them at Spark's 100 against none at 250 or 500. 500 holds that
# working set three times over. Evicted classes are unloaded at GC, so the
# cap also bounds metaspace: after a sweep of every registered query it
# was within 3 MB of a 100-entry session's.
_CODEGEN_CACHE_ENTRIES = "500"


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


def _start_jvm(conf: dict[str, str]) -> None:
    """Start the driver JVM with the host's CDS archive (``cds.prepare``),
    or have it dump one as it exits; without a Launch, leave the start to
    the builder, unchanged.

    The JVM's stdout joins the caller's stderr: a JVM that dies at start
    prints its crash banner there, and a caller's stdout (perfbench's last
    line is its result) stays its own. If the JVM dies while mapping the
    archive, the archive is deleted and the JVM starts once more without
    it."""
    launch = cds.prepare(_find_spark_home())
    if launch is None:
        return

    def start(launch: cds.Launch) -> None:
        jvm_conf = SparkConf().setAll(
            [*conf.items(), ("spark.driver.defaultJavaOptions", launch.java_options)]
        )
        gateway = launch_gateway(jvm_conf, popen_kwargs={"stdout": 2})
        SparkContext._ensure_initialized(gateway=gateway)

    try:
        start(launch)
    except PySparkRuntimeError:
        if launch.archive is None:
            raise
        cds.remove(launch.archive)
        start(cds.Launch(launch.crash_log))
    if launch.dump is not None:
        atexit.register(_await_dump, SparkContext._gateway, launch.dump)


def _await_dump(gateway, dump: str) -> None:
    """At exit, stop the JVM, wait (bounded) while it writes its archive,
    and adopt the archive. Without the wait the JVM would outlive this
    process by the length of the dump."""
    proc = gateway.proc
    if proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=cds.DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return  # a later start adopts the dump once its header is written
    if not cds.adopt(dump):
        cds.remove(dump)  # the JVM is gone and left no archive


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

    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        # local[N] runs driver + executors in ONE JVM; the 1g default heap
        # is sized for a thin cluster driver, not for N executor threads.
        # Ignored (harmlessly) once a JVM is already up.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
        ),
        "spark.sql.session.timeZone": "UTC",
        # Managed-table warehouse (bucketed tables, saveAsTable) — under
        # /tmp so the repo/CWD never collects spark-warehouse/ droppings.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_scratch/warehouse"
        ),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.files.maxPartitionBytes": _SPLIT_BYTES,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": _SPLIT_BYTES,
        # a static conf: it applies only to the session started here
        "spark.sql.codegen.cache.maxEntries": _CODEGEN_CACHE_ENTRIES,
        "spark.ui.enabled": "false",
        # Parquet TIMESTAMP(NANOS) (the events fixture) is otherwise a hard
        # error; read as long and convert in the catalog loader.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        **(extra_conf or {}),
    }
    if (
        SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        and "spark.driver.defaultJavaOptions" not in conf
    ):
        _start_jvm(conf)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
