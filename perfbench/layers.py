"""The traced run and its per-layer metrics.

A traced run makes one plain pass of the workload, then the same pass again
with every layer call wrapped in a span (``trace.instrument``). The
per-layer metrics come from the traced pass only; the ratio of the two
passes' wall times is the tracing overhead. ``README.md`` maps each metric
to the end-to-end metric it should move.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

from perfbench.trace import instrument, layer_totals, per_span, read_event_log

OPERATOR_MODULES = ("reports", "sql_surface", "tpch_queries", "llm_data")
# the kernel modules the analytics workload's corpus queries run
KERNEL_LAYERS = ("dedup.ngram", "dedup.minhash", "similarity.brute_force")
STREAM_PARTS = {
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    m = [
        ("session.get_spark_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("sources.catalog.scan_s", "s", "lower"),
        ("sources.catalog.scan_tasks", "count", "lower"),
        ("sources.catalog.busy_task_frac", "ratio", "higher"),
    ]
    for mod in OPERATOR_MODULES:
        p = f"operators.{mod}"
        m += [
            (f"{p}.self_s", "s", "lower"),
            (f"{p}.tasks", "count", "lower"),
            (f"{p}.shuffle_bytes", "bytes", "lower"),
            (f"{p}.spill_bytes", "bytes", "lower"),
            (f"{p}.cpu_busy_frac", "ratio", "higher"),
        ]
    for layer in KERNEL_LAYERS:
        m += [
            (f"{layer}.self_s", "s", "lower"),
            (f"{layer}.shuffle_bytes", "bytes", "lower"),
            (f"{layer}.cpu_busy_frac", "ratio", "higher"),
        ]
    m += [
        ("dedup.minhash.candidates_per_verified", "ratio", "lower"),
        ("functions.text.self_s", "s", "lower"),
        ("functions.text.calls", "count", "lower"),
        ("functions.vector.self_s", "s", "lower"),
        ("functions.vector.calls", "count", "lower"),
        ("sources.csv_reader.read_s", "s", "lower"),
        ("sources.csv_reader.rows_dropped", "count", "lower"),
        ("functions.normalize.self_s", "s", "lower"),
        ("plans.schema_evolution.self_s", "s", "lower"),
        ("plans.merge.dedupe_s", "s", "lower"),
        ("plans.merge.merge_upsert_s", "s", "lower"),
        ("plans.merge.rows_updated", "count", "lower"),
        ("plans.merge.rows_inserted", "count", "lower"),
        ("plans.merge.rows_rewritten_per_row_ingested", "ratio", "lower"),
        ("plans.table.bytes_written", "bytes", "lower"),
        ("plans.table.files_written", "count", "lower"),
        ("plans.table.write_amplification", "ratio", "lower"),
        ("plans.table.read_s", "s", "lower"),
        ("plans.table.files_per_read", "count", "lower"),
        ("plans.table.versions_bytes", "bytes", "lower"),
    ]
    m += [(f"streaming.ingest.{k}", "ms", "lower") for k in STREAM_PARTS]
    m += [
        ("streaming.ingest.overhead_ms", "ms", "lower"),
        ("jvm.gc_s", "s", "lower"),
        ("jvm.heap_peak_mb", "MB", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
    return m


def _table(spark, wl):
    from data_ingestion_pipeline_spark.plans.table import ManagedTable

    return ManagedTable(spark, wl.table_root())


def traced_run(spark, wl, tracer) -> dict[str, float]:
    """Plain pass, then the traced pass; returns the metrics known now."""
    found: dict[str, float] = {}
    ingest = hasattr(wl, "table_root")
    t = time.perf_counter()
    wl.one_pass(spark)
    plain_s = time.perf_counter() - t
    plain_progress = list(getattr(wl, "progress", []))

    if ingest:
        rows_before = _table(spark, wl).read().count()
        first_file = wl.next_file
    tracer.sc = spark.sparkContext
    restore = instrument(tracer)
    t = time.perf_counter()
    try:
        wl.one_pass(spark, tracer)
    finally:
        restore()
        tracer.sc.setLocalProperty("perfbench.span", None)
    found["trace.overhead_frac"] = (time.perf_counter() - t) / plain_s - 1.0

    if ingest:
        found["rows_before"] = rows_before
        table = _table(spark, wl)
        found["rows_after"] = table.read().count()
        found["traced_input_bytes"] = sum(f[2] for f in wl.files[first_file:wl.next_file])
        found["traced_lines"] = sum(f[1] for f in wl.files[first_file:wl.next_file])
        found["plans.table.files_per_read"] = len(
            glob.glob(os.path.join(wl.table_root(), table.current_version(), "*.parquet"))
        )
        wl.stream_progress = plain_progress or _stream_probe(spark, wl)
    return found


def _stream_probe(spark, wl) -> list[dict]:
    """Drain a few files through the streaming path into a table of its
    own: the per-trigger costs of ``streaming.ingest`` for a batch-ingest
    run. Its output is checked like the workload's."""
    from perfbench.workloads import StreamWorkload

    probe = StreamWorkload(wl.seed + 1, wl.scale, os.path.join(wl.work, "stream"))
    probe.prepare()
    probe.warmup(spark)
    probe.one_pass(spark)
    wl.failed += probe.check(spark)
    wl.attempted += probe.attempted
    return probe.progress


def finish(found: dict, tracer, event_dir: str, wl) -> tuple[dict[str, dict], dict]:
    """Join spans with the event log. Returns every per-layer metric and the
    trace report: spans, per-stage task metrics and per-layer totals."""
    stages = read_event_log(event_dir)
    totals = layer_totals(tracer.spans, per_span(stages))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])  # Spark's task slots

    def get(layer: str, key: str) -> float:
        return float(totals[layer][key]) if layer in totals else 0.0

    def module(layer: str, key: str) -> float:
        """``get`` with the layer's own sub-spans (the LSH candidate step
        of ``dedup.minhash``) added in."""
        return sum(get(n, key) for n in totals if n == layer or n.startswith(layer + "."))

    def busy(layer: str) -> float:
        s = module(layer, "self_s")
        return module(layer, "cpu_s") / (s * cores) if s > 0 else 0.0

    v = dict(found)
    v["sources.catalog.scan_s"] = get("sources.catalog", "self_s")
    v["sources.catalog.scan_tasks"] = get("sources.catalog", "tasks")
    tasks = get("sources.catalog", "tasks")
    v["sources.catalog.busy_task_frac"] = (
        get("sources.catalog", "busy_tasks") / tasks if tasks else 0.0
    )
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        v[f"{layer}.self_s"] = get(layer, "self_s")
        v[f"{layer}.tasks"] = get(layer, "tasks")
        v[f"{layer}.shuffle_bytes"] = get(layer, "shuffle_bytes")
        v[f"{layer}.spill_bytes"] = get(layer, "spill_bytes")
        v[f"{layer}.cpu_busy_frac"] = busy(layer)
    for layer in KERNEL_LAYERS:
        v[f"{layer}.self_s"] = module(layer, "self_s")
        v[f"{layer}.shuffle_bytes"] = module(layer, "shuffle_bytes")
        v[f"{layer}.cpu_busy_frac"] = busy(layer)
    verified = get("dedup.minhash", "rows")
    v["dedup.minhash.candidates_per_verified"] = (
        get("dedup.minhash.candidates", "rows") / verified if verified else 0.0
    )
    for layer in ("functions.text", "functions.vector"):
        v[f"{layer}.self_s"] = get(layer, "self_s")
        v[f"{layer}.calls"] = get(layer, "calls")

    v["sources.csv_reader.read_s"] = get("sources.csv_reader", "self_s")
    if "traced_lines" in found and "sources.csv_reader" in totals:
        # the parsed rows are the reader's result, or what it hands to
        # functions.normalize when it normalizes
        parsed = get("sources.csv_reader", "rows") + get("sources.csv_reader", "rows_passed")
        v["sources.csv_reader.rows_dropped"] = found["traced_lines"] - parsed
    v["functions.normalize.self_s"] = get("functions.normalize", "self_s")
    v["plans.schema_evolution.self_s"] = get("plans.schema_evolution", "self_s")
    v["plans.merge.dedupe_s"] = get("plans.merge.dedupe", "self_s")
    v["plans.merge.merge_upsert_s"] = get("plans.merge", "self_s")
    deduped = get("plans.merge.dedupe", "rows")
    if "rows_after" in found:
        inserted = found["rows_after"] - found["rows_before"]
        v["plans.merge.rows_inserted"] = inserted
        v["plans.merge.rows_updated"] = max(0.0, deduped - inserted)
        written = get("plans.table.overwrite", "records_written")
        v["plans.merge.rows_rewritten_per_row_ingested"] = written / deduped if deduped else 0.0
        v["plans.table.write_amplification"] = (
            get("plans.table.overwrite", "bytes_written") / found["traced_input_bytes"]
        )
        v["plans.table.versions_bytes"] = wl.stored_bytes()
    v["plans.table.bytes_written"] = get("plans.table.overwrite", "bytes_written")
    v["plans.table.files_written"] = get("plans.table.overwrite", "files_written")
    v["plans.table.read_s"] = get("plans.table.read", "self_s")

    progress = getattr(wl, "stream_progress", [])
    if progress:
        for key, part in STREAM_PARTS.items():
            v[f"streaming.ingest.{key}"] = statistics.median(
                p["durationMs"].get(part, 0) for p in progress
            )
        v["streaming.ingest.overhead_ms"] = statistics.median(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
            for p in progress
        )
    metrics = {
        name: {"value": float(v.get(name, 0.0)), "unit": unit}
        for name, unit, _ in per_layer_names()
    }
    report = {"spans": tracer.spans, "stages": stages, "layers": totals, "metrics": metrics}
    return metrics, report
