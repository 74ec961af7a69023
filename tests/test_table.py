"""ManagedTable (plans/table.py): versions and retention, copy-on-write and
merge-on-read deletes, time travel, the snapshot commit protocol
(conflict, retry, version-slot claims, sidecar races, the pointer lock) and
the schema each commit seeds for its reads."""

from __future__ import annotations

import os
import time
from unittest import mock

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.plans.merge import merge_upsert
from data_ingestion_pipeline_spark.plans.schema_evolution import sync_table_schema
from data_ingestion_pipeline_spark.plans.table import ConcurrentWriteError, ManagedTable
from data_ingestion_pipeline_spark.sources.catalog import load_table, parquet_schema
from data_ingestion_pipeline_spark.streaming.ingest import merge_additive_aggregates
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
    assert len(t._delete_sidecars(v)) == 2
    # key-spec drift is an error, not silent corruption
    with pytest.raises(ValueError, match="key mismatch"):
        t.equality_delete(spark.range(3).selectExpr("id AS v"), ["v"])
    # compaction folds deletes into data files: new version, no sidecars,
    # same logical contents in the table read and in the data files
    t.compact()
    v2 = t.current_version()
    assert v2 != v
    assert t._delete_sidecars(v2) == []
    assert spark.read.parquet(os.path.join(t.root, v2)).count() == 80


def test_managed_table_occ_conflict_and_retry(spark, tmp_path):
    """Optimistic concurrency on ManagedTable: a commit against a snapshot
    aborts (ConcurrentWriteError) when an interloper committed first,
    the interloper's state survives untouched, the loser's claimed version
    directory is discarded, and the standard re-read-and-retry succeeds."""
    t = ManagedTable(spark, str(tmp_path / "occ"))
    t.overwrite(spark.range(5).withColumnRenamed("id", "k"), snapshot=t.snapshot())
    base = t.snapshot()

    t.overwrite(spark.range(7).withColumnRenamed("id", "k"))  # interloper

    with pytest.raises(ConcurrentWriteError):
        t.overwrite(spark.range(1).withColumnRenamed("id", "k"), snapshot=base)
    assert t.read().count() == 7, "loser must not clobber the interloper"
    assert not any(
        d.startswith("._stage_") for d in os.listdir(t.root)
    ), "staging cleaned up via claim-rename"
    claimed = sorted(d for d in os.listdir(t.root) if d.startswith("v"))
    assert t.current_version() == claimed[-1], "aborted claim discarded"

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
    assert t._delete_sidecars(v2) == []


def test_sorted_overwrite_conflicts_with_a_concurrent_commit(spark, tmp_path):
    """sorted_overwrite rewrites the snapshot it read: a commit landing
    between that read and its swap makes it raise, and the concurrent
    commit's rows stay current."""
    t = ManagedTable(spark, str(tmp_path / "sorted"))
    t.overwrite(spark.range(10).withColumnRenamed("id", "k"))
    claim = t._claim_version

    def claim_after_a_concurrent_commit(stage):
        t._claim_version = claim
        ManagedTable(spark, t.root).overwrite(
            spark.range(100, 107).withColumnRenamed("id", "k")
        )
        return claim(stage)

    t._claim_version = claim_after_a_concurrent_commit
    with pytest.raises(ConcurrentWriteError):
        t.sorted_overwrite(["k"], num_files=2)
    assert sorted(r.k for r in t.read().collect()) == list(range(100, 107))


def test_occ_review_fixes(spark, tmp_path):
    """Fixes from the round-8 adversarial review of the OCC machinery:
    (a) sidecar slots claim max+1, so a rollback GAP cannot busy-loop the
    next deleter onto an existing name; (b) a crashed writer's stale
    .ptr_lock is broken instead of wedging the table; (c) every
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
    d1 = t._delete_sidecars(v)[0]
    os.rename(d1, os.path.join(os.path.dirname(d1), "d000003"))
    t.equality_delete(spark.range(1, 2).withColumnRenamed("id", "k"), ["k"])
    names = sorted(os.path.basename(p) for p in t._delete_sidecars(v))
    assert names == ["d000003", "d000004"]

    # (b) stale lock from a crashed writer: backdate its mtime past the
    # 60 s threshold; the next commit must break it and succeed
    lock = os.path.join(t.root, ".ptr_lock")
    with open(lock, "w"):
        pass
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    t.overwrite(spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("n")))
    assert t.read().count() == 3 and not os.path.exists(lock)

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
        assert read[0].sidecars == t._delete_sidecars(t.current_version()), name


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
    assert t._delete_sidecars(t.current_version()) == []


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
