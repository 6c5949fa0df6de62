"""The benchmark's workloads: what one pass runs and how each result is checked.

A workload hands out passes, each a list of ops in an order set by the seed.
An op is one user-visible request: a registry query, or one MySQL-dialect
statement (two for SET + EXECUTE) sent through ``Engine.sql``.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from check import Duck, duck_check, same_rows
from tidb_spark.engine import Engine
from tidb_spark.queries import all_queries
from tidb_spark.sources.dml import ManagedTable


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    build: Callable[[], DataFrame]
    # Reads hand their rows to the client; a write returns the whole table
    # frame, which a MySQL client never reads.
    consume: bool
    # Compares (columns, rows) with DuckDB's answer; None for writes.
    check: Callable[[list[str], list], bool] | None = None
    # Applies a successful write to the DuckDB mirror; returns rows changed.
    commit: Callable[[], int] | None = None


# Registry workloads: the queries one pass runs.  BENCHMARK.json leaves
# graph_dedup out: with it, a full comparison of 4 + 22 × 3 runs
# overruns its time budget on a 4-vCPU host.
REGISTRY = {
    "tpch": tuple(sorted(n for n in all_queries() if n.startswith("tpch_"))),
    "graph_dedup": (
        # Driver-side round loops (operators/rounds): iterative ranking,
        # peeling, label propagation and BFS.
        "graph_pagerank", "graph_kcore", "graph_label_propagation",
        "graph_any_shortest",
        # data/ kernels: SimHash LSH, n-gram containment, and IVF top-k,
        # whose k-means assignment runs pandas UDFs over Arrow.
        "dedup_simhash", "dedup_containment", "sim_ivf_topk",
    ),
}


class Registry:
    """Registry queries by name, each checked against its oracle."""

    engine = None

    def __init__(self, names: tuple[str, ...], sf_dir: str):
        self.sf_dir = sf_dir
        queries = all_queries()
        self.queries = [queries[n] for n in names]
        self.duck = Duck(sf_dir)

    def engine_init(self, spark: SparkSession, workspace: str) -> None:
        self.spark = spark

    def ddl(self) -> None:
        """The queries read the fixture parquet only."""

    def next_pass(self, rng: random.Random) -> list[Op]:
        ops = [
            Op(
                q.name,
                "read",
                lambda q=q: q.spark(self.spark, self.sf_dir),
                True,
                check=duck_check(self.duck, q.oracle) if q.oracle else None,
            )
            for q in self.queries
        ]
        rng.shuffle(ops)
        return ops

    def finish(self) -> tuple[bool | None, dict]:
        """No durability check and no storage: the queries only read."""
        return None, {}

    def close(self) -> None:
        self.duck.close()


# -- sql_session ------------------------------------------------------------

_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH = _dt.datetime(1995, 1, 1)
_E_KNOWS = (
    "SELECT a.o_custkey AS src, b.o_custkey AS dst FROM orders a "
    "JOIN orders b ON a.o_orderkey = b.o_orderkey - 1 "
    "WHERE a.o_custkey <> b.o_custkey"
)
_BY_CUST = (
    "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
    "FROM orders_m WHERE o_custkey = {} GROUP BY o_orderpriority"
)
_CUST_ORDERS = (
    "CREATE VIEW cust_orders AS SELECT o.o_orderkey, o.o_totalprice, "
    "c.c_nationkey, c.c_mktsegment FROM orders_m o "
    "JOIN customer c ON o.o_custkey = c.c_custkey"
)

# One pass is a read burst, then a write burst: 22 ops.  The read burst
# draws one set of literals per READ_TEMPLATES entry and sends each such
# statement BURST_REPEATS times, in a shuffled order.  The write burst sends
# each of the four write statements BURST_REPEATS times, each with fresh
# values.  Every write bumps the catalog epoch, which retires every cached
# statement and prepared plan.  So only a repeat inside one read burst can
# hit a cache: at most 1 - 1/BURST_REPEATS of the reads.
READ_TEMPLATES = (
    "point", "range_agg", "view_join", "match_1hop", "json", "collate", "prepared",
)
BURST_REPEATS = 2


class SqlSession:
    """One Engine taking a seeded stream of read and write bursts, with a
    DuckDB mirror that every write is applied to."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.duck = d = Duck(sf_dir)
        d.rows("CREATE TABLE orders_m AS SELECT * FROM orders")
        d.rows(
            "CREATE TABLE cust_ci AS SELECT c_custkey, c_name, c_mktsegment "
            "FROM customer"
        )
        d.rows(_CUST_ORDERS)
        d.rows(f"CREATE VIEW e_knows AS {_E_KNOWS}")

        def one(sql: str):
            return d.rows(sql)[1][0][0]

        self.order_keys = [
            k for (k,) in d.rows("SELECT o_orderkey FROM orders ORDER BY 1")[1]
        ]
        self.next_key = self.order_keys[-1] + 1
        self.n_cust = one("SELECT COUNT(*) FROM customer")
        self.n_users = one("SELECT MAX(user_id) + 1 FROM events")
        self.engine: Engine | None = None

    def engine_init(self, spark: SparkSession, workspace: str) -> None:
        self.engine = Engine(spark, self.sf_dir, workspace=workspace)

    def ddl(self) -> None:
        """The managed table, the collated table, the view and the prepared
        statement the stream uses."""
        eng = self.engine
        self.table = eng.create_table(
            "orders_m", eng.tables["orders"], ["o_orderkey"]
        )
        eng.sql(
            "CREATE TABLE cust_ci (c_custkey BIGINT PRIMARY KEY, "
            "c_name VARCHAR(30) COLLATE utf8mb4_general_ci, "
            "c_mktsegment VARCHAR(10))"
        )
        eng.sql(
            "INSERT INTO cust_ci SELECT c_custkey, c_name, c_mktsegment "
            "FROM customer"
        )
        eng.sql(_CUST_ORDERS)
        eng.sql(f"PREPARE by_cust FROM '{_BY_CUST.format('?')}'")

    def _cust(self, rng: random.Random) -> int:
        return rng.randrange(1, self.n_cust + 1)

    def _read(self, name: str, stmts: list[str], duck_sql: str) -> Op:
        eng = self.engine

        def build() -> DataFrame:
            for s in stmts[:-1]:
                eng.sql(s)
            return eng.sql(stmts[-1])

        return Op(name, "read", build, True, duck_check(self.duck, duck_sql))

    def _write(self, name: str, stmt: str, duck_sqls: list[str]) -> Op:
        def commit() -> int:
            # The last statement's count: REPLACE deletes, then inserts one.
            return [self.duck.rows(s)[1][0][0] for s in duck_sqls][-1]

        return Op(name, "write", lambda: self.engine.sql(stmt), False, commit=commit)

    def _read_op(self, template: str, rng: random.Random) -> Op:
        if template == "point":
            k = rng.choice(self.order_keys)
            sql = f"SELECT {_ORDER_COLS} FROM orders_m WHERE o_orderkey = {k}"
            return self._read(template, [sql], sql)
        if template == "range_agg":
            lo = _EPOCH + _dt.timedelta(days=rng.randrange(2400))
            hi = lo + _dt.timedelta(days=30)
            head = (
                "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS "
                "total FROM orders_m WHERE o_orderdate >= "
            )
            tail = " GROUP BY o_orderpriority"
            return self._read(
                template,
                [
                    f"{head}'{lo:%Y-%m-%d}' AND o_orderdate < "
                    f"DATE_ADD('{lo:%Y-%m-%d}', INTERVAL 30 DAY){tail}"
                ],
                f"{head}TIMESTAMP '{lo:%Y-%m-%d}' AND o_orderdate < "
                f"TIMESTAMP '{hi:%Y-%m-%d}'{tail}",
            )
        if template == "view_join":
            sql = (
                "SELECT c_mktsegment, COUNT(*) AS n, MAX(o_totalprice) AS top "
                f"FROM cust_orders WHERE c_nationkey = {rng.randrange(25)} "
                "GROUP BY c_mktsegment"
            )
            return self._read(template, [sql], sql)
        if template == "match_1hop":
            c = self._cust(rng)
            return self._read(
                template,
                [
                    "SELECT src.c_custkey AS src_key, dst.c_custkey AS dst_key "
                    f"FROM MATCH (v_customer AS src WHERE src.c_custkey = {c})"
                    ".OUT(e_knows).(v_customer AS dst)"
                ],
                "SELECT s.c_custkey AS src_key, d.c_custkey AS dst_key "
                "FROM customer s JOIN e_knows e ON e.src = s.c_custkey "
                f"JOIN customer d ON d.c_custkey = e.dst WHERE s.c_custkey = {c}",
            )
        if template == "json":
            u = rng.randrange(self.n_users)
            return self._read(
                template,
                [
                    "SELECT event_id, JSON_EXTRACT(props, '$.k') AS k "
                    f"FROM events WHERE user_id = {u}"
                ],
                "SELECT event_id, CAST(json_extract(props, '$.k') AS VARCHAR) "
                f"AS k FROM events WHERE user_id = {u}",
            )
        if template == "collate":
            name = f"customer#{self._cust(rng):09d}"
            return self._read(
                template,
                [f"SELECT c_custkey, c_name FROM cust_ci WHERE c_name = '{name}'"],
                "SELECT c_custkey, c_name FROM cust_ci "
                f"WHERE lower(c_name) = '{name}'",
            )
        assert template == "prepared", template
        c = self._cust(rng)
        return self._read(
            template,
            [f"SET @c = {c}", "EXECUTE by_cust USING @c"],
            _BY_CUST.format(c),
        )

    def _row(self, rng: random.Random, key: int) -> str:
        ts = _EPOCH + _dt.timedelta(days=rng.randrange(2400))
        return (
            f"({key}, {rng.randrange(self.n_cust)}, 'O', "
            f"{rng.randrange(100000, 50000000) / 100:.2f}, "
            f"TIMESTAMP '{ts:%Y-%m-%d %H:%M:%S}', '{rng.choice(_PRIORITIES)}')"
        )

    def _write_ops(self, rng: random.Random) -> list[Op]:
        new = [self.next_key, self.next_key + 1]
        self.next_key += 2
        values = ", ".join(self._row(rng, k) for k in new)
        insert = f"INSERT INTO orders_m VALUES {values}"
        c = self._cust(rng)
        update = (
            f"UPDATE orders_m SET o_totalprice = o_totalprice + "
            f"{rng.randrange(1, 10000) / 100:.2f}, o_orderstatus = 'P' "
            f"WHERE o_custkey = {c}"
        )
        gone = rng.choice(self.order_keys)
        delete = f"DELETE FROM orders_m WHERE o_orderkey = {gone}"
        k = rng.choice(self.order_keys)
        row = self._row(rng, k)
        return [
            self._write("insert", insert, [insert]),
            self._write("update", update, [update]),
            self._write("delete", delete, [delete]),
            self._write(
                "replace",
                f"REPLACE INTO orders_m VALUES {row}",
                [
                    f"DELETE FROM orders_m WHERE o_orderkey = {k}",
                    f"INSERT INTO orders_m VALUES {row}",
                ],
            ),
        ]

    def next_pass(self, rng: random.Random) -> list[Op]:
        reads = [
            op for t in READ_TEMPLATES for op in [self._read_op(t, rng)] * BURST_REPEATS
        ]
        rng.shuffle(reads)
        writes = [w for _ in range(BURST_REPEATS) for w in self._write_ops(rng)]
        rng.shuffle(writes)
        return reads + writes

    def finish(self) -> tuple[bool, dict]:
        """Reopens the table from disk and compares it with the mirror;
        returns (durable, end-of-run storage facts)."""
        fresh = ManagedTable(self.engine.spark, self.table.root, ["o_orderkey"])
        live = fresh.df()
        rows = live.collect()
        cols, want = self.duck.rows("SELECT * FROM orders_m")
        return same_rows(live.columns, rows, cols, want), {
            "live_bytes": sum(
                os.path.getsize(urlparse(f).path) for f in live.inputFiles()
            ),
            "live_rows": len(rows),
            "workspace_bytes": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(self.table.root)
                for f in fs
            ),
        }

    def close(self) -> None:
        self.duck.close()
