"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Runs one workload of the package from the checkout this file sits in and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer metrics of a traced pass (see
``perfbench/README.md`` for which end-to-end metric each one explains).

The run keeps to its checkout: inputs, the Spark warehouse and local dirs,
the JVM temp dir and the working directory live in ``.perfbench/work-*``,
removed at exit; the traced run's spans are kept in ``.perfbench/traces``.
Spark's console output goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_ingestion_pipeline_spark"
WORKLOADS = ("analytics", "ingest")
DEFAULT_SCALE = 0.01
HEAP = "2g"


def _start_ticks(pid) -> int | None:
    """Start time of a process in clock ticks since boot, None once gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - _start_ticks("self") / os.sysconf("SC_CLK_TCK"))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                   help="input size; 0.01 gives 15k orders and 60k line items")
    return p.parse_args(argv)


def _configure(work: str) -> None:
    """Host sizing and hygiene, set before the JVM starts."""
    for d in ("tmp", "spark-local", "warehouse-sql"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark gets half the CPUs for its tasks. For the first minute the JVM's
    # JIT compiler threads use about as much CPU as the tasks; with CPUs of
    # their own, and the Python driver's and workers', CPU time per
    # operation varies less between runs, and the small inputs gain nothing
    # from more task threads.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse-sql"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # the launcher JVM and the Spark JVM: temp files into the work dir,
        # no /tmp/hsperfdata_* entries
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    })
    tempfile.tempdir = None


def _percentile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    if len(ordered) == 1:
        return ordered[0]
    return statistics.quantiles(ordered, n=100, method="inclusive")[int(q) - 1]


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have exited; anything still alive after 30 s is killed."""
    from perfbench.trace import descendants

    children = {pid: _start_ticks(pid) for pid in descendants(os.getpid())[1:]}
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    def alive() -> list[int]:  # same pid and start time: not a reused pid
        return [p for p, t in children.items() if t is not None and _start_ticks(p) == t]

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        os.kill(pid, signal.SIGKILL)


def _jvm_memory(spark) -> dict[str, float]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, gc.getCollectionTime()) for gc in mf.getGarbageCollectorMXBeans())
    heap_peak = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    )
    return {"jvm.gc_s": gc_ms / 1000.0, "jvm.heap_peak_mb": heap_peak / 2**20}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, work: str, started: float, out) -> dict:
    from perfbench import layers, workloads
    from perfbench.trace import RssSampler, Tracer

    wl = workloads.make(args.workload, args.seed, args.scale, work)
    phases: dict[str, float] = {}  # seconds per phase, reported on stderr
    t = time.time()
    wl.prepare()
    phases["inputs"] = time.time() - t

    tracer = Tracer() if args.trace else None
    extra = None
    if tracer is not None:
        os.makedirs(os.path.join(work, "events"))
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with RssSampler() as rss:
        from data_ingestion_pipeline_spark.session import get_spark

        t = time.time()
        spark = get_spark("perfbench", extra_conf=extra)
        phases["session"] = time.time() - t
        try:
            t = time.time()
            wl.warmup(spark)
            phases["warmup"] = time.time() - t
            setup_s = time.time() - started - phases["inputs"]
            t = time.time()
            if tracer is None:
                lat, wall = wl.measure(spark, args.seconds)
            else:
                found = layers.traced_run(spark, wl, tracer)
            phases["measure"] = time.time() - t
            t = time.time()
            bad = wl.check(spark)
            phases["check"] = time.time() - t
            if tracer is not None:
                found.update(_jvm_memory(spark))
        finally:
            t = time.time()
            _stop(spark)
            phases["stop"] = time.time() - t
            print("perfbench phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()),
                  file=sys.stderr)
    failed = wl.failed + bad
    attempted = max(1, wl.attempted)
    if tracer is not None:
        found["session.get_spark_s"] = phases["session"]
        found["session.warmup_s"] = phases["warmup"]
        metrics, report = layers.finish(found, tracer, os.path.join(work, "events"), wl)
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(report, f)
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "op_cpu_s": _metric(_geomean_of_medians(lat, 1), "s"),
        }
        print(_summary(args.workload, wl, lat, wall, failed, attempted, rss), file=out)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def _geomean_of_medians(samples: dict[str, list[tuple[float, float]]], i: int) -> float:
    """Geometric mean over the kinds of operation (queries by name, or
    commits) of the median of field ``i`` (0 wall, 1 CPU) of their samples:
    every query's relative change counts alike, as in the TPC-H power
    metric, and a stalled execution moves the median less than a mean."""
    return statistics.geometric_mean(
        [statistics.median(s[i] for s in v) for v in samples.values()]
    )


def _summary(name, wl, by_kind, wall, failed, attempted, rss) -> str:
    """One line with the metrics printed but not bounded. Wall times move
    with the CPU time other tenants of a shared host take (steal): a minute
    at 7 to 16% steal made commits and queries 50 to 70% slower. The median
    and p90 also jump between the queries of a mix, and peak memory grows
    with garbage-collection timing."""
    kind = "query" if name == "analytics" else "commit"
    lat = [s[0] for v in by_kind.values() for s in v]
    extra = {
        "op_geomean_s": _geomean_of_medians(by_kind, 0),
        "ops_per_s": len(lat) / wall,
        f"{kind}_p50_s": _percentile(lat, 50),
        f"{kind}_p90_s": _percentile(lat, 90),
        "samples": len(lat),
        "failed_frac": failed / attempted,
        "peak_rss_mb": rss.peak_mb,
    }
    if kind == "commit":
        extra["rows_per_s"] = wl.rows_committed / wall
        extra["bytes_stored_per_input_byte"] = wl.stored_bytes() / wl.committed_input_bytes()
        if wl.read_lat:
            extra["read_after_write_p50_s"] = _percentile(wl.read_lat, 50)
    return json.dumps({"workload": name, "summary": extra})


def main(argv=None) -> int:
    started = _process_start()
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # library and JVM chatter goes to stderr, results to `out`
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=base)
    _configure(work)
    os.chdir(work)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work, started, out)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
