"""Schema evolution + partitioned-layout checks (operators/evolution_checks.py;
SURVEY.md §2.1 S9-S11, §7 M6), including the quality rules
(plans/quality.py) and dynamic partition pruning."""

from __future__ import annotations

import glob
import os
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.evolution_checks import (
    bucketed_colocated_join,
    compacted_sorted_orders,
    compacted_sorted_orders_table,
    partitioned_orders_path,
    schema_evolution_sync,
)
from data_ingestion_pipeline_spark.operators.lakehouse_checks import zorder_orders_path
from data_ingestion_pipeline_spark.operators.scratch import scratch_dir
from data_ingestion_pipeline_spark.plans import zorder
from data_ingestion_pipeline_spark.plans.quality import (
    check_rules,
    fk_violations,
    violations,
)
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from tests.conftest import SF_SMOKE, executed_plan


def test_partitioned_scan_prunes_to_one_year(spark):
    path = partitioned_orders_path(spark, SF_SMOKE)
    pruned = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = executed_plan(pruned)
    assert "PartitionFilters" in plan and "o_year" in plan
    # the filtered scan must read exactly the 1995 partition's rows
    raw = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    want = raw.filter(F.year("o_orderdate") == 1995).count()
    assert pruned.count() == want > 0


def test_schema_evolution_add_drop_cast(spark):
    evolved = schema_evolution_sync(spark, SF_SMOKE)
    fields = {f.name: f.dataType.simpleString() for f in evolved.schema.fields}
    assert fields == {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_size": "bigint",       # cast int -> bigint
        "p_container": "string",  # added as typed NULL
    }
    assert "legacy_note" not in fields  # dropped (not protected)
    assert evolved.filter(F.col("p_container").isNotNull()).count() == 0
    raw = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    assert evolved.count() == raw.count()


def test_quality_violations_quarantine_route(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, None, "X"), (4, 7.0, "F")],
        "id long, price double, status string",
    )
    rules = {
        "price_positive": F.col("price") > 0,
        "status_known": F.col("status").isin("O", "F"),
    }
    counts = {r.rule: r.n_violations for r in check_rules(df, rules).collect()}
    assert counts == {"price_positive": 2, "status_known": 1}  # NULL counts as violation
    bad = {r.id: sorted(r.broken_rules) for r in violations(df, rules).collect()}
    assert bad == {2: ["price_positive"], 3: ["price_positive", "status_known"]}

    parent = spark.createDataFrame([(1,), (2,)], "k long")
    child = spark.createDataFrame([(1,), (3,), (None,)], "k long")
    orphans = [r.k for r in fk_violations(child, parent, "k", "k").collect()]
    assert orphans == [3]  # NULL keys are not FK violations


def test_bucketed_join_has_no_exchange(spark):

    # materialize the bucketed tables, then inspect the join-only plan with
    # broadcast disabled so the bucketed SortMergeJoin is what we see
    bucketed_colocated_join(spark, SF_SMOKE).collect()
    lt, ot = "graft_bucketed_sf0_001.b_lineitem", "graft_bucketed_sf0_001.b_orders"
    # the bucketed copies live under the scratch root, not the warehouse
    scratch = scratch_dir(SF_SMOKE, "bucketed_db") + "/"
    for t in (lt, ot):
        loc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        }["Location"]
        assert urlparse(loc).path.startswith(scratch), (t, loc)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(lt).join(
            spark.table(ot),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = executed_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_layout_versions_compact_and_cluster(spark):
    compacted_sorted_orders(spark, SF_SMOKE).collect()  # builds + self-checks
    table = compacted_sorted_orders_table(spark, SF_SMOKE)
    v1, v2, v3 = table.versions()

    def files(v):
        return sorted(glob.glob(os.path.join(table.root, v, "*.parquet")))

    assert len(files(v1)) == 64  # fragmented ingest
    assert len(files(v2)) == 1  # compacted: tiny data bin-packs to one file
    assert len(files(v3)) == 4  # range-clustered

    # range clustering ⇒ per-file o_orderdate [min, max] are disjoint
    spans = []
    for f in files(v3):
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index("o_orderdate")
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, spans

    # time travel: all retained versions hold identical data cardinality
    n = table.read().count()
    assert table.read(v1).count() == n
    with pytest.raises(FileNotFoundError):
        table.read("v99999999")


def test_layout_checks_rebuild_on_every_call(spark, monkeypatch):
    """The layout queries exercise package code (sorted_overwrite,
    zorder_frame), so their scratch tables are rebuilt on every call: a
    cached copy would check the output of whatever code built it first."""

    calls = {"sorted_overwrite": 0, "zorder_frame": 0}

    def counting(name, fn):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(
        ManagedTable,
        "sorted_overwrite",
        counting("sorted_overwrite", ManagedTable.sorted_overwrite),
    )
    monkeypatch.setattr(
        zorder, "zorder_frame", counting("zorder_frame", zorder.zorder_frame)
    )
    for _ in range(2):
        compacted_sorted_orders_table(spark, SF_SMOKE)
        zorder_orders_path(spark, SF_SMOKE)
    assert calls == {"sorted_overwrite": 2, "zorder_frame": 2}
