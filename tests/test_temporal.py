"""Temporal join semantics (functions/temporal.py): strict-before as-of,
inclusive range bounds, bin-boundary coverage; and the temporal checks
(operators/temporal_checks.py)."""

from __future__ import annotations

from datetime import datetime

from data_ingestion_pipeline_spark.functions.temporal import (
    asof_join_prev,
    range_join_binned,
)


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_strictly_before_and_null_when_none(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:00:00")),
         (2, 10, _ts("2024-01-01 12:00:00")),
         (3, 20, _ts("2024-01-01 09:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts("2024-01-01 09:30:00")),   # before event 1
         (10, _ts("2024-01-01 10:00:00")),   # EXACTLY event 1's ts: must not match it
         (10, _ts("2024-01-01 11:59:00")),   # latest before event 2
         (20, _ts("2024-01-01 09:30:00"))],  # after event 3: no match
        "user_id long, ts timestamp",
    )
    out = {r.event_id: r.prev_ts
           for r in asof_join_prev(left, right, "user_id", "ts", ["ts"]).collect()}
    assert out[1] == _ts("2024-01-01 09:30:00")   # equal-instant row excluded
    assert out[2] == _ts("2024-01-01 11:59:00")
    assert out[3] is None


def test_range_join_inclusive_bounds_across_bins(spark):
    left = spark.createDataFrame(
        [(1, 5, _ts("2024-01-01 10:00:00"))], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 5, _ts("2024-01-01 10:00:01")),   # == lower bound: in
         (101, 5, _ts("2024-01-01 11:00:00")),   # == upper bound: in
         (102, 5, _ts("2024-01-01 10:00:00")),   # below lower: out
         (103, 5, _ts("2024-01-01 11:00:01")),   # above upper: out
         (104, 6, _ts("2024-01-01 10:30:00"))],  # wrong key: out
        "id long, k long, ts timestamp",
    )
    out = range_join_binned(left, right, "k", "ts", "ts", lower_s=1, upper_s=3600)
    got = sorted(r.r_id for r in out.collect())
    assert got == [100, 101]
    # small bins: same answer, each pair found exactly once
    out_small = range_join_binned(
        left, right, "k", "ts", "ts", lower_s=1, upper_s=3600, bin_s=7
    )
    assert sorted(r.r_id for r in out_small.collect()) == [100, 101]
