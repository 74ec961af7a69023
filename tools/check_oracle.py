"""Local driver-sim: run every registered query on Spark AND its DuckDB
oracle over the same parquet, compare row count, column names/types, and an
order-insensitive value hash. Mirrors the verify the driver runs per round,
so oracle drift is caught before commit.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from data_ingestion_pipeline_spark.sources.catalog import TABLES  # noqa: E402


def bare_spark():
    """A session WITHOUT session.py's conf (the driver builds its own bare
    SparkSession, so every query must work on one — round 1's nanosAsLong
    blind spot came from checking with our own tuned session)."""
    from pyspark.sql import SparkSession

    # Python workers (UDFs, Python data sources, applyInPandasWithState)
    # import the package too: put the repo on their path, not only on the
    # driver's, so the sweep does not depend on the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    return (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("check_oracle_bare")
        # override to sweep under a DIFFERENT partitioning: the exactness
        # contract (decimal/integer folds everywhere) claims results are
        # partition-count invariant — prove it ledger-wide, don't assume it
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full shortest-round-trip precision: the round-1 checker normalized
        # floats at :.6g, strictly weaker than the driver's hash — it passed
        # a 1326982.01-vs-.00 cents mismatch the driver failed. repr() is at
        # least as strict as any decimal formatting the driver can use.
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, dict, set)):
        # The driver's pandas canonicalizer dies on unhashable cells — so do we.
        raise TypeError(f"unhashable cell type {type(v).__name__}: {v!r}")
    return str(v)


def driver_canonicalize(rows: list[tuple], colnames: list[str]) -> None:
    """Reproduce the driver's pandas sort_values canonicalization, which
    raises TypeError on array-typed cells — any query whose output would
    crash the driver must crash here first."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=colnames)
    pdf.sort_values(by=sorted(colnames), inplace=True, kind="mergesort")


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = bare_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_run = 0
    # sweep-start banner: warn_census resets its counter here so session
    # warmup warns are not charged to the first query
    print("== sweep start ==", flush=True)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            sp_rows = df.collect()
            sp_cols = df.columns
        except Exception as e:  # driver records ERR and moves on; so do we
            print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append((name, f"ERROR {type(e).__name__}"))
            continue
        sp_secs = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows-only check — {len(sp_rows)} rows ({sp_secs:.1f}s)")
            if len(sp_rows) == 0:
                failures.append((name, "0 rows"))
            continue
        res = con.execute(oracles[name])
        dk_cols = [d[0] for d in res.description]
        dk_rows = res.fetchall()

        problems = []
        try:
            driver_canonicalize([tuple(r) for r in sp_rows], sp_cols)
        except TypeError as e:
            problems.append(f"canonicalizer crash (driver would ERR): {e}")
        if sorted(sp_cols) != sorted(dk_cols):
            problems.append(f"cols spark={sorted(sp_cols)} duck={sorted(dk_cols)}")
        if len(sp_rows) != len(dk_rows):
            problems.append(f"rowcount spark={len(sp_rows)} duck={len(dk_rows)}")
        sp_h = value_hash([tuple(r) for r in sp_rows], sp_cols)
        dk_h = value_hash(dk_rows, dk_cols)
        if sp_h != dk_h:
            problems.append(f"hash spark={sp_h} duck={dk_h}")
            # show a few differing lines for debugging
            order_s = sorted(range(len(sp_cols)), key=lambda i: sp_cols[i])
            order_d = sorted(range(len(dk_cols)), key=lambda i: dk_cols[i])
            ls = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in sp_rows)
            ld = sorted("|".join(norm_cell(r[i]) for i in order_d) for r in dk_rows)
            diff_s = [x for x in ls if x not in set(ld)][:3]
            diff_d = [x for x in ld if x not in set(ls)][:3]
            for x in diff_s:
                problems.append(f"  spark-only: {x}")
            for x in diff_d:
                problems.append(f"  duck-only:  {x}")
        status = "OK" if not problems else "FAIL"
        print(f"  {name}: {status} {len(sp_rows)} rows ({sp_secs:.1f}s)")
        for p in problems:
            print(f"    {p}")
        if problems:
            failures.append((name, problems[0]))

    print(
        f"\n{n_run - len(failures)}/{n_run} queries pass"
        + (f" — FAILURES: {[f[0] for f in failures]}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
