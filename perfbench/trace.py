"""Tracing for the benchmark's traced run: spans, layer wrappers, Spark
task metrics; and process-tree CPU time and memory for every run.

Spans are recorded by the benchmark around its calls into each layer of the
package; none are added inside the package. ``instrument`` wraps the public
functions of the layer modules so every call becomes a span. Spark is lazy,
so a wrapper pins each layer boundary: DataFrames a caller hands to a layer
are cached and materialized under the caller's span, and a layer's
DataFrame result is cached and materialized under the layer's own span.
Catalog scans and table reads are materialized to the ``noop`` sink without
caching, so the consumers' column pruning and filter pushdown still apply.

Each span sets the Spark local property ``perfbench.span``; the jobs it runs
carry that id into the event log, so task metrics (CPU time, shuffle and
spill bytes, records read) join back to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager

__all__ = [
    "Tracer", "RssSampler", "descendants", "tree_cpu_s", "instrument",
    "read_event_log", "per_span", "layer_totals",
]

_PKG = "data_ingestion_pipeline_spark"
_SPAN_PROP = "perfbench.span"

# layer -> (module under the package, traced functions or None for its __all__)
LAYERS = {
    "sources.catalog": ("sources.catalog", ["load_table"]),
    "sources.csv_reader": ("sources.csv_reader", ["read_orders_csv"]),
    "functions.normalize": ("functions.normalize", ["normalize_orders"]),
    "functions.text": ("functions.text", None),
    "functions.vector": ("functions.vector", None),
    "plans.schema_evolution": ("plans.schema_evolution", ["conform_to_schema"]),
    "plans.merge": ("plans.merge", ["merge_upsert"]),
    "plans.merge.dedupe": ("plans.merge", ["dedupe_last_wins"]),
    "dedup.ngram": ("dedup.ngram", None),
    "dedup.minhash": ("dedup.minhash", None),
    # a later entry wins: the candidate step gets a span of its own
    "dedup.minhash.candidates": ("dedup.minhash", ["lsh_candidate_pairs"]),
    "similarity.brute_force": ("similarity.brute_force", None),
}
# layers whose DataFrame results are scans: materialized, never cached
SCAN_LAYERS = {"sources.catalog", "plans.table.read"}


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span's request id
    is inherited from its parent unless given."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _set_prop(self, span: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_SPAN_PROP, None if span is None else str(span["id"]))

    @contextmanager
    def span(self, name: str, request=None):
        parent = self.current()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "request": request if request is not None
                else (parent["request"] if parent else None),
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        self._stack().append(rec)
        self._set_prop(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack().pop()
            self._set_prop(self.current())

    def pin(self, df, span: dict | None, scan: bool = False, key: str = "rows") -> None:
        """Materialize ``df`` under the current span. Scans go to the noop
        sink uncached; anything else is cached so its consumer starts from
        the materialized rows, whose count is added to ``span[key]``:
        ``rows`` for a span's own result, ``rows_passed`` for a DataFrame it
        hands to another layer."""
        if scan:
            df.write.format("noop").mode("overwrite").save()
            return
        rows = df.cache().count()
        if span is not None:
            span[key] = span.get(key, 0) + rows


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame) and not x.isStreaming


def _wrap(tracer: Tracer, fn, layer: str):
    scan = layer in SCAN_LAYERS

    def traced(*args, **kwargs):
        cur = tracer.current()
        if cur is not None and cur["name"] == layer:
            return fn(*args, **kwargs)
        for a in (*args, *kwargs.values()):
            if _is_df(a) and not a.is_cached:
                tracer.pin(a, cur, key="rows_passed")
        with tracer.span(layer) as rec:
            out = fn(*args, **kwargs)
            for o in out if isinstance(out, tuple) else (out,):
                if _is_df(o) and not o.is_cached:
                    tracer.pin(o, rec, scan=scan)
        return out

    traced.__wrapped__ = fn
    return traced


def instrument(tracer: Tracer) -> Callable[[], None]:
    """Wrap the layer functions in every loaded module of the package that
    references them. Returns a function that restores the originals."""
    import importlib

    from data_ingestion_pipeline_spark.plans.table import ManagedTable

    targets: dict[int, tuple] = {}
    for layer, (mod_name, names) in LAYERS.items():
        mod = importlib.import_module(f"{_PKG}.{mod_name}")
        for name in names if names is not None else mod.__all__:
            fn = getattr(mod, name)
            if callable(fn) and not isinstance(fn, type):
                targets[id(fn)] = (fn, _wrap(tracer, fn, layer))

    patched: list[tuple] = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(_PKG) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            hit = targets.get(id(value))
            if hit is not None and hit[0] is value:
                patched.append((mod, attr, value))
                setattr(mod, attr, hit[1])
    for meth, layer in (("read", "plans.table.read"), ("overwrite", "plans.table.overwrite")):
        orig = getattr(ManagedTable, meth)
        patched.append((ManagedTable, meth, orig))
        setattr(ManagedTable, meth, _wrap(tracer, orig, layer))

    def restore() -> None:
        for owner, attr, value in reversed(patched):
            setattr(owner, attr, value)

    return restore


# ---------------------------------------------------------------------------
# Spark event log: per-span task metrics
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Task metrics summed per stage from the event log(s) in ``log_dir``,
    each stage with the id of the span whose job ran it (-1: no span)."""
    stage_span: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(_SPAN_PROP)
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = int(span) if span is not None else -1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    acc = stages.setdefault(sid, defaultdict(float))
                    acc["span"] = stage_span.get(sid, -1)
                    m = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    records = (m.get("Input Metrics") or {}).get("Records Read", 0)
                    acc["records_read"] += records
                    acc["busy_tasks"] += 1 if records > 0 else 0
                    out = m.get("Output Metrics") or {}
                    acc["bytes_written"] += out.get("Bytes Written", 0)
                    acc["files_written"] += 1 if out.get("Bytes Written", 0) > 0 else 0
                    acc["records_written"] += out.get("Records Written", 0)
    return stages


def per_span(stages: dict[int, dict]) -> dict[int, dict]:
    """Stage task metrics summed per span id."""
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for acc in stages.values():
        for k, v in acc.items():
            if k != "span":
                out[int(acc["span"])][k] += v
    return out


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children of
    one span run sequentially on its thread, so their durations add)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - child[s["id"]]) for s in spans}


def layer_totals(spans: list[dict], tasks: dict[int, dict]) -> dict[str, dict]:
    """Per span name: calls, self seconds, rows pinned, and task metrics."""
    own = self_seconds(spans)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        acc = out[s["name"]]
        acc["calls"] += 1
        acc["self_s"] += own[s["id"]]
        acc["rows"] += s.get("rows", 0)
        acc["rows_passed"] += s.get("rows_passed", 0)
        for k, v in tasks.get(s["id"], {}).items():
            acc[k] += v
    return out


# ---------------------------------------------------------------------------
# Resident memory of this process and its children (JVM, Python workers)
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for task in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(task) as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user and system, reaped children included) used so far
    by ``pid`` and every process below it. CPU time a hypervisor gives to
    other tenants of the host (steal) is not counted."""
    ticks = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the walk
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the process tree every ``INTERVAL_S``."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
