"""Sustained streaming-ingest throughput.

Every streaming query in the registry runs ONE micro-batch per check.
This tool measures the foreachBatch-MERGE ingest path
(streaming/ingest.py::stream_orders_csv) under a SUSTAINED load: N CSV
micro-batches derived from the sf orders table drain through one
availableNow query with maxFilesPerTrigger=1, so each file is its own
micro-batch running the full dedup->anti-join->atomic-version-swap MERGE
into a ManagedTable.

Reports one JSON line: total rows ingested, wall seconds, rows/sec, and
the per-batch latency series (from StreamingQuery.recentProgress). The
latency TREND is the point: the MERGE sink is copy-on-write over the
whole table, so per-batch cost grows with accumulated table size — the
series shows where state growth bends the curve. ``pregrow`` bootstraps
the table with N x the sf orders rows (disjoint keys ABOVE the stream's
key range) BEFORE the stream starts, so the trend can be read at a
deliberately grown table.

Usage: python tools/stream_bench.py [sf_dir] [n_batches] [pregrow]
  pregrow: integer multiplier (default 0 = start empty)

Batches are sliced by CONTIGUOUS orderkey ranges (ascending-id ingest, the
realistic shape for an autoincrement-keyed stream) with ~5% of each batch
replaying the previous range's keys one day later so the MERGE update path
runs every micro-batch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_SELECT = """
    SELECT 'o' || ({key_expr}) AS "orderId",
           'p' || (o_custkey % 100) AS "productId",
           'SEK' AS currency,
           (o_orderkey % 7 + 1) AS quantity,
           0.0 AS "shippingCost",
           ROUND(o_totalprice, 2) AS amount,
           'direct' AS channel, 'direct' AS "channelGroup",
           '' AS campaign,
           strftime(o_orderdate{day_shift}, '%Y-%m-%dT%H:%M:%SZ') AS "dateTime"
    FROM read_parquet('{orders}')
"""


def key_span(sf_dir: str) -> tuple[int, int]:
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT MIN(o_orderkey), MAX(o_orderkey) "
        f"FROM read_parquet('{os.path.join(sf_dir, 'orders.parquet')}')"
    ).fetchone()
    return int(lo), int(hi)


def gen_batches(sf_dir: str, inbox: str, n_batches: int) -> int:
    """Slice the orders table into n_batches CSV files of CONTIGUOUS
    orderkey ranges (ascending-id ingest). ~5% of each batch replays the
    previous range's first keys with a later dateTime, so the MERGE
    exercises its update path every micro-batch. Deterministic."""
    import duckdb

    con = duckdb.connect()
    orders = os.path.join(sf_dir, "orders.parquet")
    lo, hi = key_span(sf_dir)
    span = (hi - lo) // n_batches + 1
    total = 0
    for b in range(n_batches):
        b_lo, b_hi = lo + b * span, lo + (b + 1) * span
        sel = _SELECT.format(key_expr="o_orderkey", day_shift="", orders=orders)
        body = f"{sel} WHERE o_orderkey >= {b_lo} AND o_orderkey < {b_hi}"
        if b > 0:
            p_lo, p_hi = lo + (b - 1) * span, b_lo
            replay_sel = _SELECT.format(
                key_expr="o_orderkey",
                day_shift=f" + INTERVAL {b + 1} DAY",
                orders=orders,
            )
            body += f"""
            UNION ALL
            SELECT * FROM (
                {replay_sel}
                WHERE o_orderkey >= {p_lo} AND o_orderkey < {p_hi}
                ORDER BY o_orderkey LIMIT (
                    SELECT COUNT(*) // 20 FROM read_parquet('{orders}')
                    WHERE o_orderkey >= {p_lo} AND o_orderkey < {p_hi})
            )
            """
        con.execute(f"COPY ({body}) TO '{inbox}/batch{b:03d}.csv' (HEADER)")
        total += con.execute(
            f"SELECT COUNT(*) FROM read_csv_auto('{inbox}/batch{b:03d}.csv')"
        ).fetchone()[0]
    return total


def gen_pregrow(sf_dir: str, path: str, mult: int) -> None:
    """One CSV of mult x the orders rows with keys offset ABOVE the
    stream's key range (disjoint: the pregrow mass is never updated by the
    stream — it is the dead weight a copy-on-write merge re-copies every
    batch)."""
    import duckdb

    _, hi = key_span(sf_dir)
    orders = os.path.join(sf_dir, "orders.parquet")
    parts = [
        _SELECT.format(
            key_expr=f"o_orderkey + {c * (hi + 1)}", day_shift="", orders=orders
        )
        for c in range(1, mult + 1)
    ]
    duckdb.connect().execute(
        f"COPY ({' UNION ALL '.join(parts)}) TO '{path}' (HEADER)"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    pregrow = int(sys.argv[3]) if len(sys.argv) > 3 else 0

    from data_ingestion_pipeline_spark import schemas
    from data_ingestion_pipeline_spark.plans.merge import merge_upsert
    from data_ingestion_pipeline_spark.plans.table import ManagedTable
    from data_ingestion_pipeline_spark.session import get_spark
    from data_ingestion_pipeline_spark.sources.csv_reader import read_orders_csv
    from data_ingestion_pipeline_spark.streaming.ingest import (
        run_stream_to_completion,
        stream_orders_csv,
    )

    spark = get_spark("stream_bench")
    # recentProgress is a ring buffer (default 100): size it to the run so
    # a long sweep's EARLY batches — the baseline of the latency trend —
    # are not silently dropped (round-9 review finding)
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(n_batches + 16)
    )
    # warm up first: measure the engine, not the JIT
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        inbox = os.path.join(work, "inbox")
        os.makedirs(inbox)
        total_rows = gen_batches(sf_dir, inbox, n_batches)

        table = ManagedTable(
            spark, os.path.join(work, "orders_tbl"), keep_versions=2
        )
        if pregrow:
            grow_csv = os.path.join(work, "pregrow.csv")
            gen_pregrow(sf_dir, grow_csv, pregrow)
            merge_upsert(
                table,
                read_orders_csv(spark, grow_csv),
                keys=schemas.ORDERS_KEY,
                order_col="date_time",
            )
        t0 = time.time()
        q = stream_orders_csv(
            spark,
            inbox,
            table,
            os.path.join(work, "ckpt"),
            max_files_per_trigger=1,
            available_now=True,
        )
        run_stream_to_completion(q, timeout_s=1800.0)
        wall = time.time() - t0

        batches = [
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "sec": round(p["durationMs"]["triggerExecution"] / 1000.0, 3),
            }
            for p in (json.loads(str(j)) for j in q.recentProgress)
            if p["numInputRows"] > 0
        ]
        final_count = table.read().count()
        print(
            json.dumps(
                {
                    "metric": "stream_ingest_merge_sustained",
                    "sf_dir": sf_dir,
                    "pregrow_mult": pregrow,
                    "n_batches": len(batches),
                    "total_rows": total_rows,
                    "table_rows": final_count,
                    "value": round(wall, 3),
                    "unit": "sec",
                    "rows_per_sec": round(total_rows / wall, 1),
                    "per_batch": batches,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
