"""Result checks: DuckDB runs the expected query over the same parquet, and
the two results are compared as multisets of rows.

DuckDB runs in a child process, so its memory and work are not counted in
the Python process whose memory the benchmark measures.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os
import pickle
import subprocess
import sys

import duckdb


def _serve(sf_dir: str, tables: list[str]) -> None:
    """Child process: answers each pickled SQL text on stdin with a pickled
    (ok, columns, rows) on stdout, until stdin sends None."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    inp, out = sys.stdin.buffer, sys.stdout.buffer
    while (sql := pickle.load(inp)) is not None:
        try:
            cur = con.execute(sql)
            desc = cur.description or []  # None after DDL
            reply = (True, [d[0] for d in desc], cur.fetchall() if desc else [])
        except Exception as e:  # sent back and raised by Duck.rows
            reply = (False, repr(e), None)
        pickle.dump(reply, out)
        out.flush()


class Duck:
    """A DuckDB connection in a child process, with one view per fixture
    table."""

    def __init__(self, sf_dir: str):
        from tidb_spark.catalog import TABLES

        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), sf_dir, *TABLES],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    def rows(self, sql: str) -> tuple[list[str], list]:
        pickle.dump(sql, self._proc.stdin)
        self._proc.stdin.flush()
        ok, columns, rows = pickle.load(self._proc.stdout)
        if not ok:
            raise RuntimeError(f"DuckDB: {columns}")
        return columns, rows

    def close(self) -> None:
        try:
            pickle.dump(None, self._proc.stdin)
            self._proc.stdin.close()
        except OSError:
            pass
        try:
            self._proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


def _cell(v):
    # Float columns are compared to 10 significant digits: the registry
    # oracles are exact, but sums in the sql_session templates may add in
    # another order than DuckDB does.
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.10g}")
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a Spark struct
        return tuple(_cell(x) for x in v)
    return v


def _canon(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    return sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows), key=repr
    )


def same_rows(columns: list[str], rows, expected_columns: list[str], expected) -> bool:
    """Order-insensitive comparison of rows and column names."""
    if sorted(c.lower() for c in columns) != sorted(
        c.lower() for c in expected_columns
    ):
        return False
    return _canon([c.lower() for c in columns], rows) == _canon(
        [c.lower() for c in expected_columns], expected
    )


def duck_check(duck: Duck, sql: str):
    """A result check: (columns, rows) must equal DuckDB's answer to ``sql``."""
    return lambda columns, rows: same_rows(columns, rows, *duck.rows(sql))


if __name__ == "__main__":
    _serve(sys.argv[1], sys.argv[2:])
