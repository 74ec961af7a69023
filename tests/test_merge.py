"""M3 — MERGE upsert + ManagedTable + schema evolution (SURVEY.md §2.6, §4.3)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.pipeline import run_pipeline, with_retries
from data_ingestion_pipeline_spark.plans.merge import dedupe_last_wins, merge_upsert
from data_ingestion_pipeline_spark.plans.schema_evolution import (
    conform_to_schema,
    diff_schema,
    sync_table_schema,
)
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from tests.fixtures import write_fixture_csvs


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v long, ts timestamp")


def test_dedupe_last_wins(spark):
    b = _batch(
        spark,
        [
            ("a", 1, dt.datetime(2023, 1, 1)),
            ("a", 2, dt.datetime(2023, 1, 3)),
            ("a", 3, dt.datetime(2023, 1, 2)),
            ("b", 9, dt.datetime(2023, 1, 1)),
        ],
    )
    out = {r.k: r.v for r in dedupe_last_wins(b, ["k"], "ts").collect()}
    assert out == {"a": 2, "b": 9}


def test_merge_idempotent_and_last_wins(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    b1 = _batch(
        spark,
        [
            ("a", 1, dt.datetime(2023, 1, 1)),
            ("a", 2, dt.datetime(2023, 1, 5)),  # same key, later ts → wins
            ("b", 3, dt.datetime(2023, 1, 1)),
        ],
    )
    merge_upsert(t, b1, ["k"], "ts")
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {"a": 2, "b": 3}

    # run-twice == run-once (idempotency; deviation from reference documented
    # in SURVEY.md §2.6)
    merge_upsert(t, b1, ["k"], "ts")
    assert {r.k: r.v for r in t.read().collect()} == {"a": 2, "b": 3}

    # update existing + insert new
    b2 = _batch(
        spark, [("a", 10, dt.datetime(2023, 2, 1)), ("c", 4, dt.datetime(2023, 1, 1))]
    )
    merge_upsert(t, b2, ["k"], "ts")
    assert {r.k: r.v for r in t.read().collect()} == {"a": 10, "b": 3, "c": 4}

    # an in-batch duplicate of a STORED key: the later of its two rows
    # replaces the stored row
    b3 = _batch(
        spark,
        [
            ("b", 20, dt.datetime(2023, 2, 2)),
            ("e", 50, dt.datetime(2023, 2, 2)),
            ("b", 21, dt.datetime(2023, 2, 3)),
        ],
    )
    merge_upsert(t, b3, ["k"], "ts")
    assert {r.k: r.v for r in t.read().collect()} == {
        "a": 10, "b": 21, "c": 4, "e": 50
    }


def test_schema_evolution_add_drop_cast(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([("p1", 1, "junk")], "product_id string, quantity int, legacy string")
    )
    declared = T.StructType(
        [
            T.StructField("product_id", T.StringType()),
            T.StructField("quantity", T.LongType()),  # cast int→long
            T.StructField("name", T.StringType()),  # add
            # 'legacy' dropped
        ]
    )
    d = diff_schema(t.read().schema, declared, protected=["product_id"])
    assert d == {"add": ["name"], "drop": ["legacy"], "cast": ["quantity"]}
    v = sync_table_schema(t, declared, protected=["product_id"])
    assert v is not None
    out = t.read()
    assert [f.name for f in out.schema.fields] == ["product_id", "quantity", "name"]
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)["quantity"] == "bigint"
    assert out.collect()[0].name is None
    # already in sync → no-op
    assert sync_table_schema(t, declared, protected=["product_id"]) is None


def test_protected_key_never_dropped(spark):
    df = spark.createDataFrame([("k1", 1)], "product_id string, quantity long")
    declared = T.StructType([T.StructField("quantity", T.LongType())])
    out = conform_to_schema(df, declared, protected=["product_id"])
    assert "product_id" in out.columns  # reference never drops PKs (schema_sync.py:141-150)


def test_full_pipeline_reference_shape(spark, tmp_path):
    """End-to-end: reference-quirk CSVs → normalize → merge → query surface."""
    orders_csv, inv_csv = write_fixture_csvs(str(tmp_path / "csv"))
    tables = run_pipeline(spark, orders_csv, inv_csv, str(tmp_path / "wh"))
    orders, inv = tables["orders"], tables["inventories"]

    # merged orders: one row per (order_id, product_id) natural key
    assert orders.count() == orders.select("order_id", "product_id").distinct().count()
    # all product ids resolve in inventory (FK shape preserved by fixture)
    unresolved = orders.join(inv, "product_id", "left_anti").count()
    assert unresolved == 0
    # idempotency at the pipeline level
    n1 = orders.count()
    tables2 = run_pipeline(spark, orders_csv, inv_csv, str(tmp_path / "wh"))
    assert tables2["orders"].count() == n1

    # the six report queries run against the ingested pair via SQL views
    spark.sql(
        """
        SELECT i.product_id, i.name, SUM(o.quantity * o.amount) AS total_revenue
        FROM ref_orders o JOIN ref_inventories i ON o.product_id = i.product_id
        GROUP BY i.product_id, i.name ORDER BY total_revenue DESC
        """
    ).collect()
    low = spark.sql("SELECT * FROM ref_inventories WHERE quantity < 10").count()
    assert low > 0


def test_merge_upsert_evolves_schema(spark, tmp_path):
    """evolve_schema=True: a batch with a NEW column widens the table (old
    rows get typed NULLs); without the flag the widening batch is rejected
    (silent drift stays opt-in)."""

    table = ManagedTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, s string, ord long"
    )
    merge_upsert(table, base, keys=["k"], order_col="ord")

    widened = spark.createDataFrame(
        [(2, "b2", 21, 0.5), (3, "c", 30, 0.7)],
        "k long, s string, ord long, score double",
    )
    with pytest.raises(Exception):
        merge_upsert(table, widened, keys=["k"], order_col="ord")
    merge_upsert(table, widened, keys=["k"], order_col="ord", evolve_schema=True)
    got = {r.k: (r.s, r.score) for r in table.read().collect()}
    assert got == {1: ("a", None), 2: ("b2", 0.5), 3: ("c", 0.7)}

    # and the inverse: a NARROW batch merges into the widened table, its
    # rows carrying NULL for the column it lacks
    narrow = spark.createDataFrame([(4, "d", 40)], "k long, s string, ord long")
    merge_upsert(table, narrow, keys=["k"], order_col="ord", evolve_schema=True)
    assert table.read().filter(F.col("k") == 4).collect()[0].score is None


def test_merge_folds_pending_sidecars(spark, tmp_path):
    """A merge over a version with pending equality deletes folds them:
    the deleted key stays gone, and the committed version carries no
    sidecars."""

    t = ManagedTable(spark, str(tmp_path / "t"))
    d1, d2 = dt.datetime(2023, 1, 1), dt.datetime(2023, 1, 2)
    merge_upsert(t, _batch(spark, [("a", 1, d1), ("b", 2, d1), ("c", 3, d1)]), ["k"], "ts")
    t.equality_delete(spark.createDataFrame([("b",)], "k string"), ["k"])
    assert t._delete_sidecars(t.current_version())
    merge_upsert(t, _batch(spark, [("d", 4, d2)]), ["k"], "ts")
    assert t._delete_sidecars(t.current_version()) == []
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {"a": 1, "c": 3, "d": 4}


def _parquet_files(table):
    """{dir relative to the current version: parquet file count}."""
    root = os.path.join(table.root, table.current_version())
    counts = {}
    for d, _, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            counts[os.path.relpath(d, root)] = n
    return counts


def test_merge_file_count_stays_bounded(spark, tmp_path):
    """Repeated merges must not add a parquet file per commit: the stored
    side is sized by bytes (one file per 128 MiB) plus the batch's file.

    The batches come from ``spark.range``: like the CSV ingest, they carry
    a size estimate, so the anti-join broadcasts the batch and the kept
    rows keep the stored scan's partitioning (one per file). A
    ``createDataFrame`` batch has no estimate, is shuffle-joined, and AQE
    coalescing would hide the growth."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    for i in range(7):
        # 24 keys per batch, half of them re-sent from the previous batch,
        # so every batch both updates and inserts
        batch = spark.range(12 * i, 12 * i + 24).selectExpr(
            "concat('k', id) AS k",
            f"{100 * i} + id AS v",
            f"timestamp('2023-01-01') + make_interval(0, 0, 0, {i}) AS ts",
        )
        merge_upsert(t, batch, ["k"], "ts")
    counts = _parquet_files(t)
    assert sum(counts.values()) <= 2, counts
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 12 * 6 + 24
    assert got["k12"] == 112 and got["k95"] == 695


def test_with_retries_returns_after_one_failure():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise OSError("source not ready")
        return "rows"

    assert with_retries(flaky, retries=2, delay_seconds=0) == "rows"
    assert len(calls) == 2


def test_with_retries_reraises_last_failure():
    calls = []

    def failing():
        calls.append(1)
        raise OSError(f"attempt {len(calls)}")

    with pytest.raises(OSError, match="attempt 3"):
        with_retries(failing, retries=2, delay_seconds=0)
    assert len(calls) == 3
