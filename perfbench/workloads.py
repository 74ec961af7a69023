"""The benchmark workloads: ``analytics`` and ``ingest``, plus the stream
drain the traced ``ingest`` run makes.

Each workload drives the package only through its public functions, with
the session defaults a user gets. A workload has four phases:

- ``prepare``: make the seeded inputs (not part of any metric);
- ``warmup``: one untimed pass, counted in ``setup_s``;
- ``measure``: the timed window of at least ``seconds``, made of whole
  passes (query workloads, after one more untimed pass) or whole commits
  (ingest workloads);
- ``check``: compare outputs with DuckDB, outside the timed window.

``measure`` returns the ``(wall s, CPU s)`` samples of each kind of
operation (a query by name, or a batch commit); CPU time is that of the
whole process tree: this process, the Spark JVM and the Python workers.
``one_pass(spark, tracer)`` runs one pass of the same work, with a span
around each operation in the traced run, and returns ``(kind, sample)``
pairs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa

from perfbench import datagen, oracle
from perfbench.trace import tree_cpu_s

REPORT_QUERIES = [
    "revenue_per_product",
    "revenue_per_product_sql",
    "low_stock",
    "orders_per_product_month",
    "revenue_per_category",
    "inventory_status",
    "most_sold_per_category",
]
# three of the 22 registered TPC-H queries: scan + aggregate (q1), filtered
# scan (q6) and a three-way join with top-k (q3); the full set does not fit
# the run-time budget of the benchmark
TPCH_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
]
# three corpus queries that reach the kernel layers: text functions (0.4 s
# warm), brute-force cosine top-k over vector functions (0.5 s) and
# verified MinHash near-dup detection (dedup.minhash, 2.2 s); the other
# corpus kernels (clustering, embedding dedup, IVF and LSH indexes) take 2
# to 3 s a query each and do not fit the run-time budget
CORPUS_QUERIES = [
    "quality_filter_documents",
    "cosine_topk_embeddings",
    "minhash_verified_near_dup_documents",
]
# commits (or stream files) in one pass of the traced run
PASS_BATCHES = 4


Sample = tuple[float, float]  # wall seconds, CPU seconds of one operation


def _clock() -> Sample:
    return time.perf_counter(), tree_cpu_s(os.getpid())


def _since(start: Sample) -> Sample:
    now = _clock()
    return now[0] - start[0], now[1] - start[1]


class QueryWorkload:
    """Closed loop, one client: run the query list in a seeded order, each
    execution materialized through the ``noop`` sink, the cache cleared
    between executions."""

    def __init__(self, names: list[str], seed: int, scale: float, work: str) -> None:
        self.names = names
        self.rng = np.random.default_rng([seed, 3])
        self.seed = seed
        self.scale = scale
        self.data = os.path.join(work, "data")
        self.results: dict[str, tuple] = {}
        self.failed = 0
        self.attempted = 0

    def prepare(self) -> None:
        datagen.write_tables(self.data, self.seed, self.scale)

    def _order(self) -> list[str]:
        return [self.names[i] for i in self.rng.permutation(len(self.names))]

    def _run(self, spark, name: str, sink: str = "noop") -> Sample | None:
        from data_ingestion_pipeline_spark import registry

        self.attempted += 1
        t0 = _clock()
        try:
            df = registry.queries()[name](spark, self.data)
            if sink == "collect":
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failing query counts, the run goes on
            print(f"query {name} failed: {exc!r}"[:400], flush=True)
            self.failed += 1
            return None
        finally:
            spark.catalog.clearCache()
        return _since(t0)

    def warmup(self, spark) -> None:
        # the warm-up pass keeps each result for the correctness check
        for name in self._order():
            self._run(spark, name, sink="collect")

    def one_pass(self, spark, tracer=None) -> list[tuple[str, Sample]]:
        from data_ingestion_pipeline_spark import registry

        lat = []
        for i, name in enumerate(self._order()):
            if tracer is None:
                t = self._run(spark, name)
            else:
                module = registry.queries()[name].__module__.rsplit(".", 1)[-1]
                with tracer.span(f"operators.{module}", request=f"{name}#{i}"):
                    t = self._run(spark, name)
            if t is not None:
                lat.append((name, t))
        return lat

    def measure(self, spark, seconds: float) -> tuple[dict[str, list[Sample]], float]:
        """One untimed pass, then whole passes until ``seconds`` have passed.
        The JVM compiles hot code for several passes after the warm-up one,
        and the second pass is the last that runs far slower than the rest."""
        self.one_pass(spark)
        lat: dict[str, list[Sample]] = {}
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 < seconds:
            for name, t in self.one_pass(spark):
                lat.setdefault(name, []).append(t)
        return lat, time.perf_counter() - t0

    def check(self, spark) -> int:
        from data_ingestion_pipeline_spark import registry
        from data_ingestion_pipeline_spark.sources.catalog import TABLES

        orc = oracle.QueryOracle(self.data, TABLES, registry.oracle_sql())
        bad = 0
        try:
            for name in self.names:
                if name not in self.results:
                    continue
                reason = orc.mismatch(name, *self.results[name])
                if reason:
                    print(f"query {name} wrong: {reason}", flush=True)
                    bad += 1
        finally:
            orc.close()
        return bad


class IngestWorkload:
    """Batch ingest: each generated CSV batch goes through
    ``pipeline.ingest_orders`` into a pregrown table, then one fixed
    aggregate reads the returned table."""

    # the first commits after the pregrow run 10-30% slower while the JIT
    # warms; four warm-up batches leave the timed commits on the plateau
    warm_batches = 4
    pool_batches = 24

    def __init__(self, seed: int, scale: float, work: str) -> None:
        self.work = work
        self.seed = seed
        self.scale = scale
        self.feed = datagen.OrdersFeed(seed)
        self.inbox = os.path.join(work, "csv")
        self.warehouse = os.path.join(work, "warehouse")
        self.batch_rows = max(100, int(round(125_000 * scale)))
        # about as many keys as the TPC-H orders table at the same scale
        self.pregrow_rows = max(1_000, int(round(7_800_000 * scale)))
        self.files: list[tuple[str, int, int]] = []  # path, data lines, bytes
        self.next_file = 0
        self.committed_batches = 0
        self.read_lat: list[float] = []
        self.rows_committed = 0
        self.failed = 0
        self.attempted = 0

    def prepare(self) -> None:
        os.makedirs(self.inbox, exist_ok=True)
        sizes = [self.pregrow_rows] + [self.batch_rows] * (self.warm_batches + self.pool_batches)
        for i, rows in enumerate(sizes):
            path = os.path.join(self.inbox, f"batch{i:04d}.csv")
            lines = self.feed.write_batch(path, rows)
            self.files.append((path, lines, os.path.getsize(path)))

    def _commit(self, spark, timed: bool) -> Sample:
        from data_ingestion_pipeline_spark import pipeline

        path, lines, _ = self.files[self.next_file]
        self.next_file += 1
        self.attempted += 1
        t0 = _clock()
        table = pipeline.ingest_orders(spark, path, self.warehouse)
        commit = _since(t0)
        t1 = time.perf_counter()
        table.groupBy("channel").agg({"quantity": "sum", "amount": "count"}).collect()
        t2 = time.perf_counter()
        self.committed_batches += 1
        if timed:
            self.read_lat.append(t2 - t1)
            self.rows_committed += lines
        return commit

    def warmup(self, spark) -> None:
        for _ in range(1 + self.warm_batches):  # pregrow, then warm batches
            self._commit(spark, timed=False)

    def one_pass(self, spark, tracer=None) -> list[tuple[str, Sample]]:
        lat = []
        for _ in range(min(PASS_BATCHES, len(self.files) - self.next_file)):
            if tracer is None:
                lat.append(("commit", self._commit(spark, timed=False)))
            else:
                with tracer.span("pipeline.ingest_orders", request=f"batch{self.next_file}"):
                    lat.append(("commit", self._commit(spark, timed=False)))
        return lat

    def measure(self, spark, seconds: float) -> tuple[dict[str, list[Sample]], float]:
        lat: list[Sample] = []
        t0 = time.perf_counter()
        while self.next_file < len(self.files) and (
            not lat or time.perf_counter() - t0 < seconds
        ):
            lat.append(self._commit(spark, timed=True))
        return {"commit": lat}, time.perf_counter() - t0

    def table_root(self) -> str:
        return os.path.join(self.warehouse, "orders")

    def committed_input_bytes(self) -> int:
        return sum(f[2] for f in self.files[: self.committed_batches])

    def stored_bytes(self) -> int:
        """Size of the table directory: every retained version."""
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.table_root()) for f in fs
        )

    def check(self, spark) -> int:
        from data_ingestion_pipeline_spark.plans.table import ManagedTable
        from pyspark.sql import functions as F

        got = os.path.join(self.work, "check_table")
        ManagedTable(spark, self.table_root()).read().withColumn(
            "date_time", F.unix_micros("date_time")
        ).write.parquet(got)
        fed = pa.concat_tables(self.feed.clean[: self.committed_batches])
        bad = oracle.replay_mismatches(fed, got)
        shutil.rmtree(got, ignore_errors=True)
        if bad:
            print(f"ingest table differs from replay in {bad} rows", flush=True)
        return bad


class StreamWorkload(IngestWorkload):
    """Continuous ingest: ``streaming.ingest.stream_orders_csv`` drains a
    backlog of CSV files (``availableNow``, one file per micro-batch) into a
    table pregrown with one batch. The traced ``ingest`` run drains one for
    the streaming layer's per-trigger metrics; it has no timed window.

    The streaming CSV source parses PERMISSIVE (a malformed line becomes a
    row with NULL fields rather than being dropped), so this feed writes no
    malformed lines."""

    warm_batches = 1
    pool_batches = PASS_BATCHES

    def __init__(self, seed: int, scale: float, work: str) -> None:
        super().__init__(seed, scale, work)
        self.pregrow_rows = self.batch_rows
        self.feed = datagen.OrdersFeed(seed + 7919, malformed_frac=0.0)
        self.stream_in = os.path.join(work, "stream_in")
        self.ckpt = os.path.join(work, "checkpoint")
        self.progress: list[dict] = []
        self.mtime0 = time.time() - 100_000

    def _table(self, spark):
        from data_ingestion_pipeline_spark.plans.table import ManagedTable

        return ManagedTable(spark, self.table_root())

    def _drain(self, spark, n: int) -> list[float]:
        from data_ingestion_pipeline_spark.streaming.ingest import (
            run_stream_to_completion,
            stream_orders_csv,
        )

        os.makedirs(self.stream_in, exist_ok=True)
        for _ in range(min(n, len(self.files) - self.next_file)):
            path = self.files[self.next_file][0]
            dest = os.path.join(self.stream_in, os.path.basename(path))
            shutil.move(path, dest)
            # the file source orders a backlog by modification time
            os.utime(dest, (self.mtime0 + self.next_file,) * 2)
            self.next_file += 1
            self.attempted += 1
        q = stream_orders_csv(
            spark, self.stream_in, self._table(spark), self.ckpt, max_files_per_trigger=1
        )
        run_stream_to_completion(q, timeout_s=150.0)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        done = [json.loads(str(p)) for p in q.recentProgress]
        done = [p for p in done if p.get("numInputRows", 0) > 0]
        self.committed_batches = self.next_file
        self.progress += done
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in done]

    def warmup(self, spark) -> None:
        from data_ingestion_pipeline_spark import pipeline

        pipeline.ingest_orders(spark, self.files[0][0], self.warehouse)
        self.next_file = 1
        self.committed_batches = 1
        self._drain(spark, self.warm_batches)
        self.progress.clear()

    def one_pass(self, spark, tracer=None) -> list[float]:
        if tracer is None:
            return self._drain(spark, PASS_BATCHES)
        with tracer.span("streaming.ingest", request=f"drain{self.next_file}"):
            return self._drain(spark, PASS_BATCHES)


def make(name: str, seed: int, scale: float, work: str):
    if name == "analytics":
        return QueryWorkload(REPORT_QUERIES + TPCH_QUERIES + CORPUS_QUERIES, seed, scale, work)
    if name == "ingest":
        return IngestWorkload(seed, scale, work)
    raise ValueError(f"unknown workload {name!r}")
