"""Correctness checks against DuckDB, run outside the timed window.

Query workloads compare each Spark result with the query's registered
DuckDB oracle (``registry.oracle_sql()``) over the same generated parquet:
column names, row count and an order-insensitive value hash, the same
comparison ``tools/check_oracle.py`` makes; when the hashes differ, the
rows are compared again allowing a cent on values rounded to cents. Ingest workloads compare the
committed table with a last-wins replay of every generated CSV row.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb
import pyarrow as pa

__all__ = ["QueryOracle", "replay_mismatches"]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def value_hash(rows, columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _float_close(got, want) -> bool:
    """Equal floats, except that a value the oracle rounded to cents may
    differ by one cent: both sides round to 2 decimals, and a sum that falls
    on a half cent rounds either way (exact decimals in DuckDB, doubles in
    Spark)."""
    if got is None or want is None:
        return got is want
    if math.isnan(got) or math.isnan(want):
        return math.isnan(got) and math.isnan(want)
    cents = abs(want * 100 - round(want * 100)) < 1e-6
    return abs(got - want) <= (0.01 + 1e-9 if cents else 1e-9 * max(1.0, abs(want)))


def _rows_close(rows, columns: list[str], d_rows, d_cols: list[str]) -> bool:
    """The order-insensitive comparison of ``value_hash`` with
    ``_float_close`` for float cells: rows are matched after sorting on
    their other cells, then on the floats."""
    def canonical(rs, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [[r[i] for i in order] for r in rs]
        return sorted(out, key=lambda r: (
            [_cell(v) for v in r if not isinstance(v, float)],
            [v if isinstance(v, float) and not math.isnan(v) else -math.inf
             for v in r if isinstance(v, float) or v is None],
        ))

    for got, want in zip(canonical(rows, columns), canonical(d_rows, d_cols)):
        for g, w in zip(got, want):
            if isinstance(g, float) or isinstance(w, float):
                if not _float_close(g, w):
                    return False
            elif _cell(g) != _cell(w):
                return False
    return True


class QueryOracle:
    """DuckDB views over the generated tables plus the registry's oracles."""

    def __init__(self, data_dir: str, tables, oracles: dict[str, str]) -> None:
        self.con = duckdb.connect()
        self.oracles = oracles
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )

    def mismatch(self, name: str, columns: list[str], rows) -> str | None:
        """None when the Spark result equals the oracle's, else a reason."""
        if name not in self.oracles:
            return None if rows else "no oracle and no rows"
        res = self.con.execute(self.oracles[name])
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        if sorted(columns) != sorted(d_cols):
            return f"columns {sorted(columns)} != {sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"rows {len(rows)} != {len(d_rows)}"
        if value_hash(rows, columns) != value_hash(d_rows, d_cols) and not _rows_close(
            rows, columns, d_rows, d_cols
        ):
            return "value hash differs"
        return None

    def close(self) -> None:
        self.con.close()


def replay_mismatches(fed: pa.Table, table_parquet: str) -> int:
    """Rows that differ between the committed table (parquet written from
    the table's read, ``date_time`` as epoch microseconds) and a DuckDB
    last-wins replay of ``fed``, every well-formed generated row with its
    ``batch`` and ``seq`` position.

    Within a batch the newest ``date_time`` wins and a later batch replaces
    an earlier one, the package's MERGE contract; the generator's clock is
    monotonic, so generation order breaks every tie."""
    con = duckdb.connect()
    try:
        con.register("fed", fed)
        cols = ", ".join(c for c in fed.column_names if c not in ("batch", "seq"))
        con.execute(
            f"""CREATE VIEW want AS SELECT {cols} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY order_id, product_id
                    ORDER BY batch DESC, date_time DESC, seq DESC) AS rn
                  FROM fed) WHERE rn = 1"""
        )
        con.execute(
            f"CREATE VIEW got AS SELECT {cols} FROM read_parquet('{table_parquet}/*.parquet')"
        )
        (missing,) = con.execute(
            "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)"
        ).fetchone()
        (extra,) = con.execute(
            "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)"
        ).fetchone()
        return int(missing) + int(extra)
    finally:
        con.close()
