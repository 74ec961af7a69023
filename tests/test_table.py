"""ManagedTable (plans/table.py) and its commit core (plans/commit.py):
versions and retention, copy-on-write and merge-on-read deletes, time
travel, the snapshot commit protocol (conflict, retry, version-slot
claims, sidecar races, the pointer lock, concurrent processes) and the
schema each commit seeds for its reads."""

from __future__ import annotations

import json
import multiprocessing
import os
import threading
import time
from collections import defaultdict
from unittest import mock

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.plans import commit
from data_ingestion_pipeline_spark.plans.merge import merge_upsert
from data_ingestion_pipeline_spark.plans.schema_evolution import sync_table_schema
from data_ingestion_pipeline_spark.plans.table import ConcurrentWriteError, ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table, parquet_schema
from data_ingestion_pipeline_spark.streaming.ingest import merge_additive_aggregates
from tests import commit_workers
from tests.conftest import SF_SMOKE, spark_jobs


def test_managed_table_versions_and_vacuum(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keep_versions=2)
    for i in range(4):
        t.overwrite(spark.range(i + 1).withColumnRenamed("id", "x"))
    assert t.read().count() == 4
    versions = [d for d in os.listdir(t.root) if d.startswith("v")]
    assert len(versions) <= 2  # vacuumed
    assert t.current_version() == "v00000004"


def test_delete_where_keeps_audit_versions(spark, tmp_path):
    table = ManagedTable(spark, str(tmp_path / "t"), keep_versions=3)
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    table.overwrite(events)
    v_before = table.current_version()
    table.delete_where(F.col("user_id") % 17 == 0)
    # current version has no matching rows; the prior one still does
    assert table.read().filter("user_id % 17 = 0").count() == 0
    assert table.read(v_before).filter("user_id % 17 = 0").count() > 0


def test_delete_where_null_condition_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates to NULL
    (e.g. NULL key) must SURVIVE a delete — only TRUE deletes."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "user_id int, payload string"
    )
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite(df)
    t.delete_where(F.col("user_id") == 1)
    left = {(r.user_id, r.payload) for r in t.read().collect()}
    assert left == {(2, "b"), (None, "c")}


def test_rewrites_of_an_empty_table_raise(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "empty"))
    for rewrite in (
        lambda: t.delete_where(F.col("k") == 1),
        t.compact,
        lambda: t.sorted_overwrite(["k"], num_files=1),
    ):
        with pytest.raises(FileNotFoundError):
            rewrite()
    assert t.current_version() is None


def test_equality_delete_is_merge_on_read(spark, tmp_path):
    """Delete commits must not touch data files; reads apply sidecars;
    compact folds them in; key-spec drift is rejected."""
    t = ManagedTable(spark, str(tmp_path / "t"), keep_versions=3)
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    t.overwrite(df)
    v = t.current_version()
    data_files = {
        f: os.path.getmtime(os.path.join(str(tmp_path / "t"), v, f))
        for f in os.listdir(os.path.join(str(tmp_path / "t"), v))
        if f.endswith(".parquet")
    }
    t.equality_delete(spark.range(0, 100, 10).selectExpr("id AS k"), ["k"])
    t.equality_delete(spark.range(5, 100, 10).selectExpr("id AS k"), ["k"])
    # data files untouched by both delete commits
    for f, mtime in data_files.items():
        assert os.path.getmtime(os.path.join(str(tmp_path / "t"), v, f)) == mtime
    # merged read excludes both delete sets; the version's data files hold
    # everything
    assert t.read().count() == 80
    assert spark.read.parquet(os.path.join(t.root, v)).count() == 100
    # sidecars accumulated under the version, hidden from the data scan
    assert len(commit.sidecars(t.root, v)) == 2
    # key-spec drift is an error, not silent corruption
    with pytest.raises(ValueError, match="key mismatch"):
        t.equality_delete(spark.range(3).selectExpr("id AS v"), ["v"])
    # compaction folds deletes into data files: new version, no sidecars,
    # same logical contents in the table read and in the data files
    t.compact()
    v2 = t.current_version()
    assert v2 != v
    assert commit.sidecars(t.root, v2) == []
    assert spark.read.parquet(os.path.join(t.root, v2)).count() == 80


def test_managed_table_occ_conflict_and_retry(spark, tmp_path):
    """Optimistic concurrency on ManagedTable: a commit against a snapshot
    aborts (ConcurrentWriteError) when an interloper committed first,
    the interloper's state survives untouched, the loser publishes no
    version and leaves no stage, and the standard re-read-and-retry
    succeeds."""
    t = ManagedTable(spark, str(tmp_path / "occ"))
    t.overwrite(spark.range(5).withColumnRenamed("id", "k"), snapshot=t.snapshot())
    base = t.snapshot()

    t.overwrite(spark.range(7).withColumnRenamed("id", "k"))  # interloper

    with pytest.raises(ConcurrentWriteError):
        t.overwrite(spark.range(1).withColumnRenamed("id", "k"), snapshot=base)
    assert t.read().count() == 7, "loser must not clobber the interloper"
    assert not any(
        d.startswith("._stage_") for d in os.listdir(t.root)
    ), "the loser's stage is removed"
    claimed = sorted(d for d in os.listdir(t.root) if d.startswith("v"))
    assert t.current_version() == claimed[-1], "the loser claimed no slot"

    t.overwrite(spark.range(3).withColumnRenamed("id", "k"), snapshot=t.snapshot())
    assert t.read().count() == 3

    # two bootstrappers read the empty table: the second commit conflicts
    t2 = ManagedTable(spark, str(tmp_path / "boot"))
    empty = t2.snapshot()
    assert empty.version is None and empty.df is None
    t2.overwrite(spark.range(2), snapshot=empty)
    with pytest.raises(ConcurrentWriteError):
        t2.overwrite(spark.range(9), snapshot=empty)


def test_managed_table_claim_collision_skips_taken_slot(spark, tmp_path):
    """A version slot already claimed by a concurrent writer (non-empty
    directory, pointer not yet moved) is skipped, never overwritten: the
    commit lands on the next free slot and the pointer resolves to it."""
    t = ManagedTable(spark, str(tmp_path / "claim"))
    t.overwrite(spark.range(3))
    blocker = os.path.join(t.root, "v00000002")
    os.makedirs(blocker)
    with open(os.path.join(blocker, "part-in-flight"), "w") as f:
        f.write("concurrent writer's half-commit")
    v = t.overwrite(spark.range(4))
    assert v == "v00000003"
    assert t.read().count() == 4
    with open(os.path.join(blocker, "part-in-flight")) as f:
        assert f.read(), "the in-flight claim was not clobbered"


def test_managed_table_sidecars_pinned_at_commit(spark, tmp_path):
    """The sidecar axis of the snapshot check: a sidecar that lands after
    the snapshot must abort the commit (it would otherwise be silently
    folded away by the stale fold)."""
    t = ManagedTable(spark, str(tmp_path / "mor"))
    t.overwrite(spark.range(10).withColumnRenamed("id", "k"))
    t.equality_delete(spark.range(2).withColumnRenamed("id", "k"), ["k"])
    snap = t.snapshot()

    # a concurrent deleter lands another sidecar after the snapshot
    t.equality_delete(
        spark.range(2, 4).withColumnRenamed("id", "k"), ["k"]
    )
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(snap.df, snapshot=snap)
    # the unsuspecting fold aborted; a fresh compaction folds BOTH sidecars
    v2 = t.compact()
    assert t.current_version() == v2
    assert t.read().count() == 6
    assert commit.sidecars(t.root, v2) == []


def test_sorted_overwrite_conflicts_with_a_concurrent_commit(spark, tmp_path):
    """sorted_overwrite rewrites the snapshot it read: a commit landing
    between that read and its swap makes it raise, and the concurrent
    commit's rows stay current."""
    t = ManagedTable(spark, str(tmp_path / "sorted"))
    t.overwrite(spark.range(10).withColumnRenamed("id", "k"))
    commit_version, rival = commit.commit_version, [True]

    def commit_after_a_concurrent_commit(*args):
        if rival:
            rival.clear()
            ManagedTable(spark, t.root).overwrite(
                spark.range(100, 107).withColumnRenamed("id", "k")
            )
        return commit_version(*args)

    with mock.patch.object(commit, "commit_version", commit_after_a_concurrent_commit), \
            pytest.raises(ConcurrentWriteError):
        t.sorted_overwrite(["k"], num_files=2)
    assert sorted(r.k for r in t.read().collect()) == list(range(100, 107))


def test_vacuum_keeps_a_claimed_version_until_it_is_published(tmp_path):
    """The interleaving that broke a claim-then-check protocol: writer A
    claims v4, writer C (a snapshot commit against v3) claims v5, a third
    writer vacuums while the pointer still names v3 and removes v4, then A
    points the table at v4 and every read fails. With check, claim and
    swap under one lock, nobody runs between A's claim and its swap: C
    aborts, and the third writer's vacuum sees only published versions.
    Plain directories, no JVM."""
    root = str(tmp_path / "t")
    t = ManagedTable(None, root, keep_versions=2)

    def commit_one(tag, expect=None):
        with commit.staged(root) as stage:
            commit_workers.fill(stage, tag)
            return commit.commit_version(root, stage, expect, t.keep_versions)

    for i in range(3):
        commit_one(f"c{i}")
    at_v3 = (t.current_version(), [])
    swap, a_claimed, results = commit._swap_pointer, threading.Event(), {}

    def swap_after_the_others_tried(r, version):
        if version == "v00000004":  # A, between its claim and its swap
            a_claimed.set()
            time.sleep(0.5)
        assert os.path.isdir(os.path.join(r, version))
        swap(r, version)

    def run(name, *expect):
        try:
            results[name] = commit_one(name, *expect)
        except ConcurrentWriteError as e:
            results[name] = e

    with mock.patch.object(commit, "_swap_pointer", swap_after_the_others_tried):
        a = threading.Thread(target=run, args=("A",))
        a.start()
        assert a_claimed.wait(10)
        others = [
            threading.Thread(target=run, args=("C", at_v3)),
            threading.Thread(target=run, args=("vacuum",)),
        ]
        for th in others:
            th.start()
        for th in (a, *others):
            th.join(10)
            assert not th.is_alive()
    assert results["A"] == "v00000004"
    assert isinstance(results["C"], ConcurrentWriteError)
    assert results["vacuum"] == t.current_version() == "v00000005"
    assert t.versions() == ["v00000004", "v00000005"]


def _run_processes(procs, start=None):
    """Start ``procs``, release ``start`` (a barrier the parent joins
    last), and join them all; none may outlive the call."""
    try:
        for p in procs:
            p.start()
        if start is not None:
            start.wait(60)
        for p in procs:
            p.join(60)
        assert not any(p.is_alive() for p in procs)
    finally:
        for p in procs:
            if p.is_alive():
                p.kill()
    return [p.exitcode for p in procs]


def _records(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_commit_core_under_concurrent_processes(tmp_path):
    """4 spawned processes x 50 commits on tiny staged directories,
    mixing snapshot, blind and sidecar commits with two sidecar key lists;
    one worker dies right after staging and one inside the critical
    section, after its rename and before its pointer swap. A watcher reads
    the pointer throughout. Then two first deleters with different key
    lists race on one fresh version, a writer dies holding the lock, and
    a leaked stage ages out. No child loads pyspark, so nothing starts a
    JVM. (spawn, not fork: the pytest process may hold py4j threads.)"""
    root = str(tmp_path / "t")
    os.makedirs(root)
    worker, killed, n = commit_workers.worker, commit_workers.KILLED, 50

    def commit_one(tag):
        with commit.staged(root) as stage:
            commit_workers.fill(stage, tag)
            return commit.commit_version(root, stage, None, commit_workers.KEEP_VERSIONS)

    commit_one("bootstrap")
    ctx = multiprocessing.get_context("spawn")
    start, stop = ctx.Barrier(5), ctx.Event()
    logs = [str(tmp_path / f"w{w}.jsonl") for w in range(4)]
    watched = str(tmp_path / "watch.json")
    watcher = ctx.Process(target=commit_workers.watch, args=(root, watched, stop))
    mixed = ("snapshot", "blind", "sidecar", "sidecar")
    workers = [
        ctx.Process(target=worker, args=(root, logs[w], w, n, mixed, kill, spec, start))
        for w, (kill, spec) in enumerate(
            [("stage", "k"), ("claim", "j"), (None, "k"), (None, "j")]
        )
    ]
    watcher.start()
    try:
        codes = _run_processes(workers, start)
    finally:
        stop.set()
        watcher.join(60)
        if watcher.is_alive():
            watcher.kill()
    assert codes == [killed, killed, 0, 0] and watcher.exitcode == 0

    records = [_records(log) for log in logs]
    assert [len(r) for r in records] == [n // 2 + 1, n // 2 + 1, n, n]
    flat = [r for rs in records for r in rs]
    with open(watched) as f:
        watch = json.load(f)
    assert not watch["pyspark"] and not any(r["pyspark"] for r in flat)
    # the pointer never moved backward or named a missing directory
    assert watch["reads"] > 0 and watch["errors"] == []
    # every snapshot commit landed or raised ConcurrentWriteError
    assert all(
        "version" in r or r["outcome"] == "conflict" for r in flat if r["kind"] == "snapshot"
    )
    acked = [r["version"] for r in flat if r["kind"] in ("snapshot", "blind") and "version" in r]
    assert len(acked) == len(set(acked)), "two commits acknowledged one version"
    assert commit.current_version(root) == max(acked), "the newest commit was lost"
    sidecars = [(r["version"], r["sidecar"]) for r in flat if "sidecar" in r]
    assert len(sidecars) == len(set(sidecars)), "two sidecars acknowledged one slot"
    key_lists = defaultdict(set)
    for r in flat:
        if "keys" in r:
            key_lists[r["version"]].add(r["keys"])
    assert all(len(k) == 1 for k in key_lists.values()), "two key lists on one version"

    # two first deleters with different key lists: one list lands, every
    # attempt of the other raises ValueError
    v = commit_one("keys")
    start = ctx.Barrier(3)
    logs = [str(tmp_path / f"keys_{spec}.jsonl") for spec in "kj"]
    deleters = [
        ctx.Process(target=worker, args=(root, logs[w], w, 25, ("sidecar",), None, spec, start))
        for w, spec in enumerate("kj")
    ]
    assert _run_processes(deleters, start) == [0, 0]
    # each deleter's set of outcomes: the key list it landed, or "keys"
    # for a ValueError
    outcomes = sorted(
        sorted({r.get("outcome", r.get("keys")) for r in _records(log)}) for log in logs
    )
    assert outcomes in ([["j"], ["keys"]], [["k"], ["keys"]]), outcomes
    with open(os.path.join(root, v, "_deletes", "_KEYS")) as f:
        assert outcomes[0] == [f.read()]
    assert len(commit.sidecars(root, v)) == 25

    # a writer that dies holding the lock does not hold up the next commit
    dead = ctx.Process(
        target=worker,
        args=(root, str(tmp_path / "dead.jsonl"), 0, 1, ("blind",), "claim", "k", None),
    )
    assert _run_processes([dead]) == [killed]
    orphan = commit.versions(root)[-1]
    assert commit.current_version(root) == v != orphan, "claimed, never pointed"
    t0 = time.monotonic()
    assert commit_one("after") > orphan
    assert time.monotonic() - t0 < 5.0, "waited for the dead holder's lock"

    # the leaked stage is swept once it is a day old, not before
    (leaked,) = [d for d in os.listdir(root) if d.startswith("._stage_")]
    commit_one("fresh")
    assert os.path.isdir(os.path.join(root, leaked))
    day_ago = time.time() - 25 * 3600
    os.utime(os.path.join(root, leaked), (day_ago, day_ago))
    commit_one("aged")
    assert not os.path.exists(os.path.join(root, leaked))


def test_occ_review_fixes(spark, tmp_path):
    """Fixes from the round-8 adversarial review of the OCC machinery:
    (a) sidecar slots claim max+1, so a GAP in the sequence cannot send the
    next deleter onto an existing name; (b) a crashed writer's leftover
    .ptr_lock does not wedge the table; (c) every
    read-modify-write entry point commits with the snapshot it read, so a
    racing commit or equality delete aborts it everywhere."""
    t = ManagedTable(spark, str(tmp_path / "occfix"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"), F.lit(1).alias("n")
        )
    )
    v = t.current_version()

    # (a) gap in the sidecar sequence: d000001 + d000003 exist -> next
    # claim must be d000004, terminating immediately
    t.equality_delete(spark.range(1).withColumnRenamed("id", "k"), ["k"])
    d1 = commit.sidecars(t.root, v)[0]
    os.rename(d1, os.path.join(os.path.dirname(d1), "d000003"))
    t.equality_delete(spark.range(1, 2).withColumnRenamed("id", "k"), ["k"])
    names = sorted(os.path.basename(p) for p in commit.sidecars(t.root, v))
    assert names == ["d000003", "d000004"]

    # (b) leftover lock file from a crashed writer (nobody flocks it): the
    # next commit acquires it at once, and the file stays, so one inode
    # serves every acquisition
    lock = os.path.join(t.root, ".ptr_lock")
    with open(lock, "w"):
        pass
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    inode = os.stat(lock).st_ino
    t.overwrite(spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("n")))
    assert t.read().count() == 3 and os.stat(lock).st_ino == inode

    # (c) every entry point reads one snapshot and commits with it
    take_snapshot = ManagedTable.snapshot
    read, committed = [], []

    def recording_snapshot(self):
        read.append(take_snapshot(self))
        return read[-1]

    def spy(df, snapshot=None):
        committed.append(snapshot)
        return "v99999999"

    for name, call in [
        ("delete_where", lambda: t.delete_where(F.col("k") < 0)),
        ("compact", lambda: t.compact()),
        ("sorted_overwrite", lambda: t.sorted_overwrite(["k"], num_files=1)),
        ("merge_upsert", lambda: merge_upsert(
            t,
            spark.range(1).select(F.col("id").alias("k"), F.lit(9).alias("n")),
            ["k"],
            "n",
        )),
        ("merge_additive", lambda: merge_additive_aggregates(
            t,
            spark.range(1).select(F.col("id").alias("k"), F.lit(9).alias("n")),
            ["k"],
            ["n"],
        )),
        ("sync_schema", lambda: sync_table_schema(
            t,
            T.StructType(
                [
                    T.StructField("k", T.LongType(), True),
                    T.StructField("n", T.IntegerType(), True),
                    T.StructField("extra", T.StringType(), True),
                ]
            ),
            protected=["k"],
        )),
    ]:
        read.clear()
        committed.clear()
        with mock.patch.object(ManagedTable, "snapshot", recording_snapshot), \
                mock.patch.object(ManagedTable, "overwrite", side_effect=spy):
            call()
        assert len(read) == 1 and len(committed) == 1, name
        assert committed[0] is read[0], f"{name} must commit the snapshot it read"
        assert read[0].version == t.current_version(), name
        assert read[0].sidecars == commit.sidecars(t.root, t.current_version()), name


def _merge_twice(spark, t):
    batch = spark.range(6).selectExpr("id AS k", "id AS ord", "'a' AS v")
    merge_upsert(t, batch, ["k"], "ord")
    merge_upsert(t, batch.selectExpr("k + 3 AS k", "ord + 1 AS ord", "'b' AS v"), ["k"], "ord")


def _merge_with_a_new_column(spark, t):
    merge_upsert(t, spark.range(4).selectExpr("id AS k", "id AS ord"), ["k"], "ord")
    widened = spark.range(2, 6).selectExpr("id AS k", "id + 1 AS ord", "id * 1.5 AS score")
    merge_upsert(t, widened, ["k"], "ord", evolve_schema=True)


def _sync_add_and_drop(spark, t):
    t.overwrite(spark.range(4).selectExpr("id AS k", "'x' AS old", "CAST(id AS INT) AS n"))
    declared = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("n", T.LongType(), True),
            T.StructField("added", T.DateType(), True),
        ]
    )
    assert sync_table_schema(t, declared, protected=["k"]) is not None


def _nested_and_non_nullable(spark, t):
    df = spark.range(3).selectExpr(
        "id AS k",
        "array(id, id + 1) AS arr",
        "map('m', id) AS m",
        "named_struct('x', id, 'tags', array('a'), 'kv', map(1, 'v')) AS s",
    )
    assert not df.schema["k"].nullable and not df.schema["arr"].dataType.containsNull
    t.overwrite(df)


def _compact_after_equality_delete(spark, t):
    t.overwrite(spark.range(20).selectExpr("id AS k", "id * 2 AS v"))
    t.equality_delete(spark.range(0, 20, 4).selectExpr("id AS k"), ["k"])
    t.compact()
    assert commit.sidecars(t.root, t.current_version()) == []


@pytest.mark.parametrize(
    "build",
    [
        _merge_twice,
        _merge_with_a_new_column,
        _sync_add_and_drop,
        _nested_and_non_nullable,
        _compact_after_equality_delete,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_read_serves_the_inferred_schema_of_the_committed_version(spark, tmp_path, build):
    """The schema a commit seeds is the one inference would return,
    nullability included, and read() uses it without a Spark job."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    build(spark, t)
    df, jobs = spark_jobs(spark, t.read)
    assert jobs == 0, "read() of a version this process committed infers nothing"
    path = os.path.join(t.root, t.current_version())
    inferred = spark.read.parquet(path).schema
    assert df.schema == inferred
    # the memo entry itself, not only the read (which reports every field
    # nullable whatever schema it is given)
    assert parquet_schema(spark, path) == inferred
