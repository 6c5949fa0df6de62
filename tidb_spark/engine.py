"""Engine: the user-facing entry point — MySQL-dialect SQL over the bound
catalog, including graph MATCH clauses.

Replaces the reference's query lifecycle (SURVEY.md §3: parse → compile →
optimize → volcano execution, session/session.go:1402 → executor/) with:
dialect translation (tidb_spark/sqlshim) → MATCH lowering (join chains /
distributed BFS) → ``spark.sql`` → Catalyst + AQE.  Control-plane statements
(§2.13) surface as thin methods: ``explain`` (executor/explain.go),
``analyze`` (executor/analyze.go — stats for the CBO), ``show_tables``
(executor/show.go).
"""

from __future__ import annotations

import itertools
import os
import re
import tempfile
from collections import OrderedDict
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_spark.catalog import DEFAULT_SF_DIR, register_views
from tidb_spark.functions.mysql import register_shim_udfs
from tidb_spark.graph.model import GraphSchema, default_graph
from tidb_spark.graph.shortest import all_shortest, any_shortest, top_k_shortest
from tidb_spark.sources.dml import ManagedTable
from tidb_spark.sqlshim import create_table as ct
from tidb_spark.sqlshim import lex
from tidb_spark.sqlshim import match_clause as mc
from tidb_spark.sqlshim import merge_clause
from tidb_spark.sqlshim.translate import translate

_view_counter = itertools.count()

_DML_RE = re.compile(
    r"(?is)^\s*(?:(?P<iverb>INSERT|REPLACE)(?P<ignore>\s+IGNORE)?\s+INTO\s+"
    r"(?P<itab>\w+)\s+(?P<ibody>.*)"
    r"|(?P<uverb>UPDATE)\s+(?P<utab>\w+)\s+SET\s+(?P<ubody>.*)"
    r"|(?P<dverb>DELETE)\s+FROM\s+(?P<dtab>\w+)\s*(?:WHERE\s+(?P<dwhere>.*))?)$"
)

_ODKU_RE = re.compile(r"(?is)^(.*?)\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.*)$")

_AS_OF_RE = re.compile(
    r"(?is)\b(\w+)\s+AS\s+OF\s+TIMESTAMP\s+'([^']+)'(?:\s+AS\s+(\w+))?"
)

_SET_RE = re.compile(
    r"(?is)^\s*SET\s+(?:(?P<user>@(?P<uname>\w+)\s*:?=\s*(?P<uexpr>.+))"
    r"|(?P<sys>@@?(?:SESSION\.|GLOBAL\.)?(?P<sname>\w+)\s*=\s*(?P<sexpr>.+)))"
    r"\s*;?\s*$"
)

_USER_VAR_RE = re.compile(r"(?<![@\w])@(\w+)\b")

# Client/BI-tool session statements (the reference accepts these at the
# session layer: session/session.go SET NAMES, USE, autocommit txn verbs).
_TOOL_STMT_RE = re.compile(
    r"(?is)^\s*(?:"
    r"(?P<setnames>SET\s+NAMES\s+\S+(?:\s+COLLATE\s+\S+)?)"
    r"|(?P<setcs>SET\s+CHARACTER\s+SET\s+\S+)"
    r"|(?P<use>USE\s+`?\w+`?)"
    r"|(?P<begin>BEGIN|START\s+TRANSACTION)"
    r"|(?P<commit>COMMIT)"
    r"|(?P<rollback>ROLLBACK)"
    r"|(?P<kill>KILL\s+(?:QUERY\s+)?\d+)"
    r")\s*;?\s*$"
)

# SELECT … FOR UPDATE / LOCK IN SHARE MODE: the reference plans a
# SelectLockExec; with no transaction scope the lock is a no-op here
# (SURVEY §2 row 18 n/a) — strip the suffix, run the SELECT.
_SELECT_LOCK_RE = re.compile(
    r"(?is)\s+(?:FOR\s+UPDATE(?:\s+NOWAIT|\s+SKIP\s+LOCKED)?"
    r"|LOCK\s+IN\s+SHARE\s+MODE)\s*(;?)\s*$"
)

_CHECKSUM_RE = re.compile(r"(?is)^\s*ADMIN\s+CHECKSUM\s+TABLE\s+(\w+)\s*;?\s*$")

# PREPARE / EXECUTE / DEALLOCATE statement forms (executor/prepared.go:1
# PrepareExec; planner/core/common_plans.go Execute rebind).  The reference
# caches a PHYSICAL plan per prepared statement (planner/core/plan_cache.go
# GetPlanFromPlanCache); the Spark-native split of that idea caches the
# LOWERED STATEMENT TEXT instead (r8, engine plan cache below): the
# Python-side dialect pipeline — dozens of regex/lowering passes — runs once
# per (statement, catalog epoch), while Catalyst + AQE still re-plan every
# execution, because at scale per-execution planning is the *better* half
# to keep (literal parameters enable partition pruning a cached generic
# physical plan would lose; the reference pays exactly that cost and grew
# tidb_opt_fix_control workarounds for it).  Parameters are pinned through
# the lowering as named ``:pN`` markers so reordering rewrites (MySQL
# ``LIMIT ?, ?`` → ``LIMIT ? OFFSET ?`` swaps the two) and
# subquery-duplicating rewrites (quantified ALL/ANY) stay bind-correct.
# Statements whose lowering must SEE literal values are skipped with a
# recorded reason, mirroring the reference's own skip-plan-cache reasons
# (planner/core/plan_cacheable_checker.go): user @variables, MATCH …
# AGAINST (literal-only argument), NEXTVAL/SETVAL (per-statement
# allocation), INTO OUTFILE.  Any mutation statement bumps the catalog
# epoch and invalidates (the reference invalidates on schema version).
_PREPARE_RE = re.compile(
    r"(?is)^\s*PREPARE\s+`?(?P<name>\w+)`?\s+FROM\s+(?P<src>.+?)\s*;?\s*$"
)
_EXECUTE_RE = re.compile(
    r"(?is)^\s*EXECUTE\s+`?(?P<name>\w+)`?"
    r"(?:\s+USING\s+(?P<args>.+?))?\s*;?\s*$"
)
_DEALLOC_RE = re.compile(
    r"(?is)^\s*(?:DEALLOCATE|DROP)\s+PREPARE\s+`?(?P<name>\w+)`?\s*;?\s*$"
)

# SQL plan bindings (bindinfo/bind.go; CREATE [GLOBAL|SESSION] BINDING FOR
# <stmt> USING <stmt-with-hints>).  A binding matches any incoming
# statement whose literal-stripped digest equals the bound statement's
# (bindinfo's normalized-SQL match), and replaces it with the USING text —
# the incoming statement's OWN literals re-injected positionally, which is
# sound because CREATE BINDING verifies both sides normalize identically
# (hints excluded), so literal positions correspond 1:1.  GLOBAL and
# SESSION share one session-scoped store here (no multi-session scope in
# a single engine).
_CREATE_BINDING_RE = re.compile(
    r"(?is)^\s*CREATE\s+(?:GLOBAL\s+|SESSION\s+)?BINDING\s+FOR\s+"
    r"(?P<orig>.+?)\s+USING\s+(?P<using>.+?)\s*;?\s*$"
)
_DROP_BINDING_RE = re.compile(
    r"(?is)^\s*DROP\s+(?:GLOBAL\s+|SESSION\s+)?BINDING\s+FOR\s+"
    r"(?P<orig>.+?)\s*;?\s*$"
)
# Standalone numeric literals (not part of an identifier / dotted name).
_NUM_LIT_RE = re.compile(r"(?<![\w.`])\d+(?:\.\d+)?(?![\w.])")

# Read-shaped statement heads: these cannot change catalog/data/sysvar
# state the LOWERING pipeline reads, so they leave the plan-cache epoch
# alone.  Everything else (DDL, DML, LOAD, SET, ANALYZE, OPTIMIZE,
# RENAME, IMPORT…) bumps it.  SELECT … INTO OUTFILE/@ writes var/file
# state but no statement's lowering reads either (user @vars make a
# statement uncacheable outright), so SELECT stays on the list.
_READONLY_STMT_RE = re.compile(
    r"(?is)^\s*(?:/\*.*?\*/\s*)*"
    r"(?:EXPLAIN|SELECT|WITH|TABLE|VALUES|SHOW|DESC|DESCRIBE|EXECUTE"
    r"|PREPARE|DEALLOCATE|CHECKSUM|ADMIN|USE|BEGIN|START|COMMIT|KILL"
    r"|HELP)\b"
)

# Plan-cacheability gate (the reference's skip-plan-cache reasons,
# planner/core/plan_cacheable_checker.go): read query heads only, and no
# construct whose lowering must SEE literal parameter values or allocates
# per statement.  Matched against the string-masked text.
_CACHEABLE_HEAD_RE = re.compile(
    r"(?is)^\s*(?:/\*.*?\*/\s*)*(?:SELECT|WITH(?!\s+RECURSIVE)|TABLE|VALUES)\b"
)
_CACHE_SKIP_RE = re.compile(
    r"(?i)@"  # user/system variables read at execution time
    r"|\bAGAINST\s*\("  # fulltext: the AGAINST argument must be a literal
    r"|\bNEXTVAL\b|\bLASTVAL\b|\bSETVAL\b"  # per-statement allocation
    r"|\bINTO\s+(?:OUTFILE|DUMPFILE)\b"
)

# Extra skip conditions for the DIRECT-statement DataFrame cache (r13,
# the reference's non-prepared plan cache,
# planner/core/plan_cache_non_prepared.go — latency-only here: the
# @@last_plan_from_cache flag stays prepared-statement-only because the
# reference ships the non-prepared cache OFF by default and the engine's
# observability tests pin that): constructs whose lowering or evaluation
# is time- or randomness-dependent, so replaying an analyzed DataFrame
# could change RESULTS, not just latency.
_STMT_CACHE_SKIP_RE = re.compile(
    r"(?i)\bRAND\s*\(|\bUUID\s*\(|\bNOW\s*\(|\bCURRENT_|\bCURDATE\b"
    r"|\bCURTIME\b|\bSYSDATE\b|\bUNIX_TIMESTAMP\s*\(\s*\)"
    r"|\bAS\s+OF\b|\bFLASHBACK\b|\bTABLESAMPLE\b"
)

# Sequence objects (ddl/sequence.go; NEXTVAL/LASTVAL/SETVAL in the builtin
# registry, expression/builtin.go).  Counter state is engine-side like the
# AUTO_INCREMENT counter: allocation is a 1-row control-plane action, never
# a distributed operation (the reference allocates cached ranges from KV
# the same way).
_CREATE_SEQ_RE = re.compile(
    r"(?is)^\s*CREATE\s+SEQUENCE\s+(?P<ifnex>IF\s+NOT\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s*(?P<opts>.*?)\s*;?\s*$"
)
_DROP_SEQ_RE = re.compile(
    r"(?is)^\s*DROP\s+SEQUENCE\s+(?P<ifex>IF\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s*;?\s*$"
)
_SEQ_FUNC_RE = re.compile(
    r"(?i)\b(?P<fn>NEXTVAL|LASTVAL|SETVAL)\s*\(\s*`?(?P<seq>\w+)`?"
    r"\s*(?:,\s*(?P<val>-?\d+)\s*)?\)"
)

_EXPLAIN_STMT_RE = re.compile(
    r"(?is)^\s*EXPLAIN\s+(?:(?P<an>ANALYZE)\s+)?"
    r"(?:FORMAT\s*=\s*(?P<fmt>\w+)\s+)?"
    # EXECUTE: the reference explains prepared statements too
    # (executor/explain.go + common_plans.go Execute) — that's where the
    # plan-cache/binding provenance lines are most useful.
    r"(?P<body>(?:SELECT|WITH|TABLE|VALUES|EXECUTE)\b.*)$"
)

# Cheap gate before importing/running the JSON_TABLE lowering (string
# literals are masked first so a literal mentioning JSON_TABLE can't
# trigger it).
_JSON_TABLE_GATE_RE = re.compile(r"(?i)\bJSON_TABLE\s*\(")

_DDL_RE = re.compile(
    r"(?is)^\s*(?:(?P<dverb>DROP|TRUNCATE)\s+TABLE\s+"
    r"(?P<ifex>IF\s+EXISTS\s+)?`?(?P<dtab>\w+)`?"
    r"|(?P<fverb>FLASHBACK)\s+TABLE\s+(?P<ftab>\w+)(?:\s+TO\s+(?P<fnew>\w+))?)"
    r"\s*;?\s*$"
)

_VALUES_REF_RE = re.compile(r"(?i)\bVALUES\s*\(\s*`?(\w+)`?\s*\)")

# Statement-cache key kinds (Engine.plan_cache).
_DIRECT, _PREPARED = "direct statement", "prepared statement"

# Patterns Engine.sql and its dispatch tables (_PRE_REWRITE, _AFTER_VARS,
# _AFTER_TRANSLATE below the class) match on.
_SET_USER_VAR_RE = re.compile(r"(?is)^\s*SET\s+@[A-Za-z_]")
# MySQL: EXPLAIN <table> is an alias for DESCRIBE <table> (the parser
# treats them identically; executor/explain.go).
_EXPLAIN_TABLE_RE = re.compile(
    r"(?is)^\s*EXPLAIN\s+`?"
    r"(?!(?:SELECT|WITH|TABLE|VALUES|ANALYZE|FORMAT)\b)(\w+)`?\s*;?\s*$"
)
_SEQ_INSERT_SELECT_RE = re.compile(
    r"(?is)^\s*(?:INSERT|REPLACE)\b.*?\b(?:SELECT|WITH|TABLE)\b"
)
_SHOW_RE = re.compile(r"(?is)^\s*(SHOW|DESC(?:RIBE)?\s+\w+\s*;?\s*$)")
_CTAS_RE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s+AS\s+(?P<sel>(?:SELECT|WITH|TABLE)\b.*)$"
)
_CREATE_LIKE_RE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s+LIKE\s+`?(?P<src>\w+)`?\s*;?\s*$"
)
_CREATE_TABLE_RE = re.compile(r"(?is)^\s*CREATE\s+TABLE\b")
_ALTER_TABLE_RE = re.compile(r"(?is)^\s*ALTER\s+TABLE\b")
_ZORDER_RE = re.compile(
    r"(?is)^\s*OPTIMIZE\s+(?:TABLE\s+)?`?(?P<tab>\w+)`?\s+"
    r"ZORDER\s+BY\s*\((?P<cols>[^)]*)\)\s*;?\s*$"
)
_RENAME_TABLE_RE = re.compile(r"(?is)^\s*RENAME\s+TABLE\s+(?P<body>.+?)\s*;?\s*$")
_RENAME_PAIR_RE = re.compile(r"(?is)^\s*`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$")
_QUERY_EXPANSION_RE = re.compile(r"(?is)\bWITH\s+QUERY\s+EXPANSION\b")
_MULTI_DELETE_RE = re.compile(
    r"(?is)^\s*DELETE\s+`?(?P<tgt>\w+)`?\s+FROM\s+(?P<src>.+?)\s*;?\s*$"
)
_UPDATE_RE = re.compile(r"(?is)^\s*UPDATE\s+(?P<rest>.+)$")
_JOIN_RE = re.compile(r"(?is)\bJOIN\b")
_WITH_RECURSIVE_RE = re.compile(r"(?is)^\s*WITH\s+RECURSIVE\b")
_QUANTIFIED_RE = re.compile(r"(?i)\b(ALL|ANY|SOME)\s*\(\s*SELECT\b")


def _sql_literal(val) -> str:
    """Render a Python value from Row.v as a SQL literal."""
    import datetime as _dt

    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return "TRUE" if val else "FALSE"
    if isinstance(val, (int, float)):
        return repr(val)
    if isinstance(val, _dt.datetime):
        return f"TIMESTAMP '{val.strftime('%Y-%m-%d %H:%M:%S')}'"
    if isinstance(val, _dt.date):
        return f"DATE '{val.isoformat()}'"
    s = str(val).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _strip_quotes(val: str) -> str:
    val = val.strip()
    if len(val) >= 2 and val[0] == val[-1] and val[0] in "'\"":
        return val[1:-1]
    return val


# Collations the reference registers (util/collate/collate.go:355
# newCollatorMap) mapped to this engine's key kinds.  Any other declared
# collation raises loudly at CREATE time — never a silent alias to a
# different collation's semantics.
_COLLATION_KINDS = {
    "utf8_general_ci": "general",
    "utf8mb4_general_ci": "general",
    "utf8_unicode_ci": "unicode",
    "utf8mb4_unicode_ci": "unicode",
    "gbk_chinese_ci": "gbk",
    # The reference REGISTERS this name and accepts it in DDL
    # (ddl/serial_test.go:1565 ALTER TABLE … COLLATE
    # utf8mb4_zh_pinyin_tidb_as_cs passes), but its collator is an
    # unimplemented stub hidden from SHOW COLLATION: Compare/Key/Pattern
    # all panic("implement me") (util/collate/pinyin_tidb_as_cs.go:22-33;
    # collate.go:237 "under developing, should not be shown to user"), and
    # it ships NO weight table to derive from (unlike gbk_chinese_ci_data
    # .go).  Exact parity: DDL accepts, any comparison raises loudly.
    "utf8mb4_zh_pinyin_tidb_as_cs": "pinyin",
    "ascii_bin": "bin",
    "latin1_bin": "bin",
    "utf8_bin": "bin",
    "utf8mb4_bin": "bin",
}


def _collation_kind(name: str) -> str | None:
    """Key kind for a declared COLLATE name; None for plain binary (no
    shim); NotImplementedError for names outside the reference's
    registry — matching its explicit list rather than guessing by
    suffix.  'pinyin' is registry parity: DDL-accepted, use-rejected
    (see the _COLLATION_KINDS entry comment)."""
    low = name.lower()
    if low == "binary":
        return None  # NO PAD binary == Spark's native comparison
    kind = _COLLATION_KINDS.get(low)
    if kind is None:
        raise NotImplementedError(
            f"collation {name!r} is not supported (supported: binary, "
            + ", ".join(sorted(_COLLATION_KINDS))
            + ") — refusing to alias it to different semantics"
        )
    return kind


# An edge table, and a vertex table an edge references, keep their names:
# edge registrations reference tables by name.
_GRAPH_RENAME = "cannot rename graph vertex or edge table {!r}"
# MySQL ERROR 1356 (ER_VIEW_INVALID).
_INVALID_VIEW = (
    "View 'tidb_spark.{}' references invalid table(s) or column(s) or "
    "function(s) or definer/invoker of view lack rights to use them"
)


class Engine:
    """One engine per (SparkSession, dataset dir): binds the catalog, the
    graph schema, and the MySQL shim functions, then answers SQL."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        *,
        workspace: str | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir or DEFAULT_SF_DIR
        self.tables = register_views(spark, self.sf_dir)
        self.graph: GraphSchema = default_graph(spark, self.sf_dir)
        self.workspace = workspace or tempfile.mkdtemp(prefix="tidb_spark_ws_")
        self.managed: dict[str, ManagedTable] = {}
        # DROP TABLE keeps the files: name -> (ManagedTable, its graph
        # VertexTable | None, EdgeTable | None), for FLASHBACK to restore.
        self.dropped: dict[str, tuple] = {}
        # SET statement state (executor/set.go:41): @user variables hold a
        # SQL literal; @@system variables are accepted and recorded (most
        # reference sysvars tune its own executor — Spark conf is the
        # analogue, surfaced but not interpreted).
        self.user_vars: dict[str, str] = {}
        self.sys_vars: dict[str, str] = {}
        # CREATE VIEW registry: name -> (original defining SELECT, explicit
        # column list of CREATE VIEW v (a, b) AS … or None).  The reference
        # stores the SELECT text in the view's TableInfo
        # (planner/core/planbuilder.go:411-498 buildCreateView).  A view
        # whose SELECT no longer analyzes stays here but leaves Spark's
        # catalog: using it raises ERROR 1356 (Engine.sql).
        self.views: dict[str, tuple[str, list[str] | None]] = {}
        # PREPARE handler -> statement text (executor/prepared.go).
        self.prepared: dict[str, str] = {}
        # The statement cache — one design for prepared and direct
        # statements, as in the reference (planner/core/plan_cache.go,
        # plan_cache_non_prepared.go).  Key (kind, statement text), LRU,
        # capacity spark.tidb_spark.plan_cache.size (default 100, the
        # reference's tidb_session_plan_cache_size).  Entries:
        #   (_PREPARED, PREPARE text) -> (lowered Spark SQL with :pN
        #     markers | None for known-uncacheable, from_binding) — a
        #     lowered-text cache, see the _PREPARE_RE note;
        #   (_DIRECT, raw statement text) -> analyzed DataFrame.  A hit
        #     skips the whole dialect-lowering pipeline AND Catalyst
        #     analysis; DataFrames are immutable analyzed plans, so a
        #     replay is execution-only — results recompute from storage.
        self.plan_cache: "OrderedDict[tuple[str, str], object]" = OrderedDict()
        # Bumped (only by _bump_epoch, which also empties the cache) by
        # every statement that can change what lowering depends on (DDL,
        # DML, LOAD, SET, ANALYZE…).  The reference's analogue is the
        # schema version check in plan_cache.go.
        self._catalog_epoch = 0
        # @@last_plan_from_cache (sessionctx/variable/session.go — the
        # reference exposes exactly this observability var).  Reads
        # report the PREVIOUS statement via the _prev snapshot taken at
        # statement entry (same discipline as _prev_from_binding).
        self._last_plan_from_cache = False
        self._prev_from_cache = False
        self._plan_cache_hits = 0
        self._plan_cache_misses = 0
        # Non-None only during a _lower_for_cache pass: the final
        # spark.sql site appends the lowered text here instead of running.
        self._lower_capture: list[str] | None = None
        self._stmt_cache_hits = 0
        # SQL plan bindings (bindinfo/): digest -> (original display text,
        # USING template with literals as :bN markers, n_literals).
        self.bindings: dict[str, tuple[str, str, int]] = {}
        # @@last_plan_from_binding (sessionctx/variable — the reference's
        # paired observability var).  Reads report the PREVIOUS statement
        # (the reading SELECT itself goes through bind-match first, so it
        # reads a statement-entry snapshot).
        self._last_plan_from_binding = False
        self._prev_from_binding = False
        # Sequence objects: name -> options + counter (ddl/sequence.go).
        self.sequences: dict[str, dict] = {}
        # Storage incarnation per table name: CREATE after DROP must get a
        # fresh directory — ManagedTable resumes from the latest on-disk
        # version, so reusing the dropped table's root would silently
        # resurrect its rows (and FLASHBACK needs those files intact).
        self._incarnations: dict[str, int] = {}
        self._tmp_view_n = 0
        register_shim_udfs(spark)
        from tidb_spark.functions.collation import register_general_ci
        from tidb_spark.functions.collation_unicode import (
            register_unicode_ci,
        )

        register_general_ci(spark)
        register_unicode_ci(spark)

    # -- statement cache ----------------------------------------------------

    def _bump_epoch(self) -> None:
        """Advance the catalog epoch and empty the statement cache: epochs
        only grow, so every entry made before a bump is dead."""
        self._catalog_epoch += 1
        self.plan_cache.clear()

    def _cache_put(self, key: tuple[str, str], entry) -> None:
        self.plan_cache[key] = entry
        self.plan_cache.move_to_end(key)
        cap = int(self.spark.conf.get("spark.tidb_spark.plan_cache.size", "100"))
        while len(self.plan_cache) > cap:
            self.plan_cache.popitem(last=False)

    def _cache_stats(self) -> dict[str, int]:
        """What SHOW STATUS and EXPLAIN ANALYZE report about the cache."""
        return {
            "plan_cache_entries": len(self.plan_cache),
            "stmt_cache_hits": self._stmt_cache_hits,
            "plan_cache_hits": self._plan_cache_hits,
            "plan_cache_misses": self._plan_cache_misses,
        }

    def _ok(self) -> DataFrame:
        """The zero-row ``status = 'OK'`` frame of a statement that has no
        result set."""
        return self.spark.range(0).select(F.lit("OK").alias("status"))

    # -- DDL surface (graph): SOURCE KEY / DESTINATION KEY registration ----

    def create_vertex_table(self, name: str, df: DataFrame, id_col: str) -> None:
        """Register a vertex table (any table with an int handle PK,
        SURVEY §1.4) and expose it to SQL."""
        self.graph.add_vertex_table(name, df, id_col)
        df.createOrReplaceTempView(name)
        self._bump_epoch()  # direct-API catalog mutation

    def create_edge_table(
        self,
        name: str,
        df: DataFrame,
        src_col: str,
        dst_col: str,
        src_table: str,
        dst_table: str,
    ) -> None:
        """Register an edge table — the DDL equivalent of
        ``src BIGINT SOURCE KEY REFERENCES t, dst BIGINT DESTINATION KEY
        REFERENCES t`` (ddl/ddl_api.go:1946-2025)."""
        self.graph.add_edge_table(name, df, src_col, dst_col, src_table, dst_table)
        df.createOrReplaceTempView(name)
        self._bump_epoch()  # direct-API catalog mutation

    def create_table(
        self,
        name: str,
        df: DataFrame,
        key_cols: Sequence[str] = (),
        *,
        table: ct.TableDef | None = None,
        df_known_empty: bool = False,
    ) -> ManagedTable:
        """Create a writable (managed, copy-on-write parquet) table in the
        engine workspace and expose it to SQL — the DML target surface
        (read-only dataset views cannot be mutated).  ``table`` is the
        declared record (CREATE TABLE, LIKE); without one it is built from
        ``df``'s schema and ``key_cols``."""
        gen = self._incarnations.get(name, -1) + 1
        self._incarnations[name] = gen
        mt = ManagedTable(
            self.spark,
            os.path.join(
                self.workspace, name if gen == 0 else f"{name}.g{gen}"
            ),
            key_cols,
            df=df,
            table=table,
            df_known_empty=df_known_empty,
        )
        self.managed[name] = mt
        self._refresh_view(name)
        return mt

    def _claim(self, name: str, if_not_exists: bool = False) -> bool:
        """The one rule for binding a new name: tables, views, sequences and
        graph registrations share one namespace (MySQL ERROR 1050).  True =
        the name is free; a taken name is a no-op under IF NOT EXISTS, an
        error otherwise.  ``self.tables`` covers the managed tables
        (``_refresh_view``).  The namespace is this engine's: a temp view
        another Engine left in the shared SparkSession does not take it."""
        g = self.graph
        taken = (self.tables, self.views, self.sequences, g.vertices, g.edges)
        if any(name in d for d in taken):
            if if_not_exists:
                return False
            raise ValueError(f"table {name!r} already exists")
        return True

    def _rename(self, old: str, new: str) -> None:
        """The one rename path (ALTER … RENAME, RENAME TABLE): a managed
        table moves with everything it declares; a dataset table's frame
        is re-aliased."""
        if old not in self.tables:
            raise ValueError(f"table {old!r} is not a managed table")
        if self._graph_pinned(old):
            raise ValueError(_GRAPH_RENAME.format(old))
        self._claim(new)
        if old in self.graph.vertices:
            self.graph.vertices[new] = self.graph.vertices.pop(old)
            self.graph.vertices[new].name = new
        self.tables[new] = self.tables.pop(old)
        self.spark.catalog.dropTempView(old)
        self._reregister_views(old)
        if old in self.managed:
            self.managed[new] = self.managed.pop(old)
            self._refresh_view(new)
        else:
            self.tables[new].createOrReplaceTempView(new)

    def _graph_pinned(self, name: str) -> bool:
        """Whether an edge registration names ``name``: an edge table, or a
        vertex table an edge references."""
        return any(
            name in (e.name, e.src_table, e.dst_table)
            for e in self.graph.edges.values()
        )

    def _run_ctas(self, m: re.Match) -> None:
        """CREATE TABLE … AS SELECT (executor/ddl.go CreateTableWithInfo via
        planner CreateTableAsSelect): schema inferred from the SELECT, data
        populated in the same statement, no keys (MySQL CTAS copies no
        indexes)."""
        name = m.group("name")
        if not self._claim(name, bool(m.group("ine"))):
            return
        df = self.sql(m.group("sel"))
        self.create_table(name, df)

    def _run_create_like(self, m: re.Match) -> None:
        """CREATE TABLE a LIKE b (executor/ddl.go CreateTableLike): a
        managed table's clone shares its record, which is immutable; base
        dataset tables clone schema only (their keys are not declared)."""
        name, src = m.group("name"), m.group("src")
        if not self._claim(name, bool(m.group("ine"))):
            return
        if src not in self.tables:
            raise ValueError(f"CREATE TABLE LIKE: unknown table {src!r}")
        smt = self.managed.get(src)
        empty = self.spark.createDataFrame([], schema=self.tables[src].schema)
        self.create_table(name, empty, table=smt and smt.table, df_known_empty=True)

    def _bind_insert(
        self, mt, name: str, rows: DataFrame, cols: list[str] | None = None
    ) -> DataFrame:
        """Bind an incoming row source to the target schema: the named
        columns take the source's output positionally, generated columns
        are rejected (ErrBadGeneratedColumn), unknown names error, and
        every unnamed column takes its declared DEFAULT else NULL
        (executor/insert.go fillRow).  Without a column list the source
        binds to the non-generated columns (MySQL requires DEFAULT
        placeholders for generated ones; omission is our equivalent)."""
        fields = mt.df().schema.fields
        known = {f.name for f in fields}
        generated = mt.table.generated
        if cols is None:
            cols = [f.name for f in fields if f.name not in generated]
            if generated and len(rows.columns) != len(cols):
                self._reject_generated(mt, name, generated)
        if len(rows.columns) != len(cols):
            # MySQL ERROR 1136
            raise ValueError(
                f"Column count doesn't match value count: {len(cols)} "
                f"columns, {len(rows.columns)} values"
            )
        self._reject_generated(mt, name, cols)
        unknown = [c for c in cols if c not in known]
        if unknown:
            # MySQL ERROR 1054
            raise ValueError(
                f"Unknown column {unknown[0]!r} in table {name!r}"
            )
        full = rows.toDF(*cols)
        for f in fields:
            if f.name not in cols:
                c = mt.table.col(f.name)
                dexpr = c and c.default_expr
                full = full.withColumn(
                    f.name,
                    (F.expr(dexpr) if dexpr else F.lit(None)).cast(f.dataType),
                )
        return full.select(*[f.name for f in fields])

    @staticmethod
    def _reject_generated(mt: ManagedTable, name: str, cols) -> None:
        """A write may not name a generated column (ErrBadGeneratedColumn)."""
        bad = [c for c in cols if c in mt.table.generated]
        if bad:
            raise ValueError(
                f"The value specified for generated column {bad[0]!r} "
                f"in table {name!r} is not allowed"
            )

    def _refresh_view(self, name: str) -> None:
        df = self.managed[name].df()
        df.createOrReplaceTempView(name)
        # SQL-path mutations already bumped the epoch at statement entry;
        # this covers DIRECT Python-API mutations (create_table & friends)
        # so the statement cache never replays a stale view binding.
        self._bump_epoch()
        self.tables[name] = df
        # Keep graph-schema registrations live: a MATCH over an edge table
        # created (then INSERTed into) via SQL must see the current version.
        if name in self.graph.edges:
            self.graph.edges[name].df = df
        if name in self.graph.vertices:
            self.graph.vertices[name].df = df
        # Views captured the PREVIOUS parquet version of this table in their
        # analyzed plans (and would eventually dangle once retain_versions
        # prunes it); rebuild view definitions against current state —
        # reference/MySQL views always reflect current data (view bodies are
        # expanded per consuming statement, planbuilder.go buildDataSource).
        self._reregister_views(touched=name)

    def _reregister_views(self, touched: str, seen: set[str] | None = None) -> None:
        """Re-register the views whose body mentions ``touched``
        (word-boundary substring — conservative: false positives only
        re-run a cheap analysis), so a DML statement costs O(dependent
        views), not O(all views); then the views over those.  A view
        whose body no longer analyzes (its table was dropped or renamed)
        leaves Spark's catalog instead of keeping the old plan, and comes
        back when a same-name table does."""
        seen = set() if seen is None else seen
        for vname, (body, cols) in self.views.items():
            if vname in seen or not re.search(rf"\b{re.escape(touched)}\b", body):
                continue
            seen.add(vname)
            try:
                vdf = self.sql(body)
            except (AnalysisException, ValueError):
                self.spark.catalog.dropTempView(vname)
            else:
                (vdf.toDF(*cols) if cols else vdf).createOrReplaceTempView(vname)
            self._reregister_views(vname, seen)

    def _run_create(self, m: re.Match) -> None:
        """CREATE TABLE → managed copy-on-write table, plus graph-schema
        registration: an edge table (SOURCE KEY/DESTINATION KEY columns,
        ddl/ddl_api.go:1946-2025) gets the synthesized (src, dst) key and
        must reference registered vertex tables; a table with a single
        integral-column PRIMARY KEY registers as a vertex table (the
        reference's implicit vertex criterion, SURVEY §1.4)."""
        stmt = ct.parse(m.string)
        if not self._claim(stmt.name, stmt.if_not_exists):
            return
        t = stmt.table
        for coll in t.collations.values():
            _collation_kind(coll)  # rejects a name outside the registry
        empty = self.spark.createDataFrame([], schema=t.schema_ddl())
        if t.edge:
            # Validates the vertex references before any state mutates.
            self.graph.add_edge_table(stmt.name, empty, *t.edge)
        self.create_table(stmt.name, empty, table=t, df_known_empty=True)
        if not t.edge and len(t.key_cols) == 1:
            pk = t.col(t.key_cols[0])
            if pk.spark_type in ct.INTEGRAL:
                self.graph.add_vertex_table(
                    stmt.name, self.managed[stmt.name].df(), pk.name
                )

    def _run_alter(self, query: str) -> None:
        """ALTER TABLE: ADD/DROP/RENAME COLUMN, RENAME TO, and the fork's
        graph-ify form — a pair of ``MODIFY col type SOURCE KEY REFERENCES v
        / DESTINATION KEY REFERENCES v`` clauses converting an existing
        table into an edge table (ddl/ddl_api.go:2740-2764: exactly two
        modify specs, one SOURCE + one DESTINATION, then the unique
        (dst,src) graph-edge key is synthesized).

        Copy-on-write: schema-changing forms write a new version of the
        managed table, so AS OF reads of earlier versions still see the old
        schema."""
        m = re.match(r"(?is)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(.*?)\s*;?\s*$", query)
        name, body = m.group(1), m.group(2)
        if re.match(
            r"(?is)^(ADD|DROP|TRUNCATE)\s+PARTITION\b", body
        ):
            self._run_alter_partition(name, body)
            return

        clauses = lex.split_args(body)

        # Graph-ify: exactly two MODIFY clauses carrying SOURCE/DESTINATION.
        modify = r"(?is)^MODIFY(?:\s+COLUMN)?\s+"
        mods = [
            ct.parse_column(re.sub(modify, "", c))
            for c in clauses
            if re.match(modify, c) and (ct._SRC_RE.search(c) or ct._DST_RE.search(c))
        ]
        if mods:
            src = [c for c in mods if c.source_ref]
            dst = [c for c in mods if c.dest_ref]
            if len(src) != 1 or len(dst) != 1 or len(clauses) != 2:
                raise ValueError(
                    "graph-ify ALTER needs exactly two MODIFY clauses "
                    "(one SOURCE KEY, one DESTINATION KEY)"
                )
            mt = self.managed.get(name)
            if mt is not None and mt.key_cols:
                raise ValueError("can not specified primary key on edge")
            edge = (src[0].name, dst[0].name, src[0].source_ref, dst[0].dest_ref)
            self.graph.add_edge_table(name, self.tables[name], *edge)
            if mt is not None:
                mt.table = mt.table.as_edge(*edge)
            return

        rn = re.match(r"(?is)^RENAME\s+(?:TO\s+)?`?(\w+)`?$", body)
        if rn:
            self._rename(name, rn.group(1))
            return
        if name not in self.managed:
            raise ValueError(f"table {name!r} is not a managed table")
        mt = self.managed[name]
        # Each clause folds over the record and the frame; the new record
        # replaces the old one only once the rewritten data has committed.
        t, df = mt.table, mt.df()
        for clause in clauses:
            am = re.match(r"(?is)^ADD(?:\s+COLUMN)?\s+(.*)$", clause)
            dm = re.match(r"(?is)^DROP(?:\s+COLUMN)?\s+`?(\w+)`?$", clause)
            rc = re.match(
                r"(?is)^RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?$", clause
            )
            if am:
                cols = ct.parse(f"CREATE TABLE t ({am.group(1)})").columns
                if len(cols) != 1:
                    raise ValueError(f"unsupported ALTER TABLE clause: {clause!r}")
                c = cols[0]
                if c.collation:
                    _collation_kind(c.collation)  # rejects an unknown name
                t = t.add_column(c)
                # Existing rows take the generated value, else the DEFAULT.
                value = (
                    translate(c.generated_expr) if c.generated_expr
                    else c.default_expr or "NULL"
                )
                cast = f"CAST(({value}) AS {c.spark_type})"
                df = df.withColumn(c.name, F.expr(cast))
            elif dm:
                t = t.drop_column(dm.group(1))
                df = df.drop(dm.group(1))
            elif rc:
                t = t.rename_column(*rc.groups())
                df = df.withColumnRenamed(*rc.groups())
            else:
                raise ValueError(f"unsupported ALTER TABLE clause: {clause!r}")
        mt.write(df, table=t)
        self._refresh_view(name)

    def _run_alter_partition(self, name: str, body: str) -> None:
        """ALTER TABLE … ADD / DROP / TRUNCATE PARTITION
        (ddl/partition.go): ADD appends RANGE/LIST partitions (bounds must
        stay strictly increasing; adding past MAXVALUE errors), DROP
        removes the definition AND its rows (RANGE/LIST only — matching
        the reference's restriction on HASH), TRUNCATE empties the named
        partitions but keeps them.  Row removal is a partition-pruned
        copy-on-write: the surviving directories are read, the dropped
        ones never scanned."""
        if name not in self.managed or self.managed[name].partition_spec is None:
            raise ValueError(f"table {name!r} is not partitioned")
        mt = self.managed[name]
        spec = mt.partition_spec

        am = re.match(r"(?is)^ADD\s+PARTITION\s*\((.*)\)\s*$", body)
        dm = re.match(r"(?is)^DROP\s+PARTITION\s+(.+?)\s*$", body)
        tm = re.match(r"(?is)^TRUNCATE\s+PARTITION\s+(.+?)\s*$", body)
        if am:
            if spec.method == "HASH":
                raise ValueError(
                    "ADD PARTITION on HASH tables requires re-hashing all "
                    "rows; use the reference's COALESCE/ADD rebalance "
                    "(unsupported)"
                )
            # Definitions only — existing rows keep their labels; nothing
            # to rewrite.
            mt.table = mt.table.with_partitions(spec.added(am.group(1)))
            return
        targets_text = (dm or tm).group(1)
        targets = [t.strip().strip("`") for t in targets_text.split(",")]
        known = set(spec.partition_names())
        for t in targets:
            if t not in known:
                raise ValueError(f"Unknown partition {t!r}")
        if dm and spec.method == "HASH":
            raise ValueError(
                "DROP PARTITION can only be used on RANGE/LIST partitions"
            )
        keep = [n for n in spec.partition_names() if n not in targets]
        # Partition-pruned survivor read: only the kept directories scan.
        survivors = mt.scan_partitions(keep)
        table = mt.table.with_partitions(spec.without(targets)) if dm else None
        mt.write(survivors, table=table)
        self._refresh_view(name)

    def _run_ddl(self, m: re.Match) -> None:
        """DROP / TRUNCATE / FLASHBACK TABLE (ddl/ddl_api.go; FlashBackTable
        restores a dropped or truncated table, parser/ast/ddl.go:3859).
        DROP keeps the files and stashes the handle so FLASHBACK can
        re-register it; TRUNCATE writes an empty version, so FLASHBACK
        restores the pre-truncate version from retained history."""
        verb = (m.group("dverb") or m.group("fverb")).upper()
        if verb in ("DROP", "TRUNCATE"):
            name = m.group("dtab")
            if m.group("ifex") and verb == "TRUNCATE":
                raise ValueError("TRUNCATE TABLE does not accept IF EXISTS")
            if name not in self.managed:
                if name in self.tables:
                    # IF EXISTS forgives only ABSENCE (ddl/ddl_api.go
                    # DropTable); a dataset view exists but is read-only.
                    raise ValueError(
                        f"table {name!r} is a read-only dataset view; "
                        "only managed tables can be dropped or truncated"
                    )
                if m.group("ifex"):
                    return  # absent: a warning in MySQL, a no-op here
                raise ValueError(f"table {name!r} is not a managed table")
            mt = self.managed[name]
            if verb == "DROP":
                del self.managed[name]
                del self.tables[name]
                self.spark.catalog.dropTempView(name)
                self.dropped[name] = (
                    mt,
                    self.graph.vertices.pop(name, None),
                    self.graph.edges.pop(name, None),
                )
                self._reregister_views(name)
            else:
                mt.truncate()
                self._refresh_view(name)
            return
        name, new_name = m.group("ftab"), m.group("fnew")
        if name in self.dropped:
            mt, vertex, edge = self.dropped[name]
            target = new_name or name
            if target != name and (edge or self._graph_pinned(name)):
                raise ValueError(_GRAPH_RENAME.format(name))
            self._claim(target)
            del self.dropped[name]
            self.managed[target] = mt
            if vertex:
                vertex.name = target
                self.graph.vertices[target] = vertex
            if edge:
                self.graph.edges[name] = edge
            self._refresh_view(target)
            return
        mt = self.managed.get(name)
        if mt is None or not mt.flashback():
            raise ValueError(
                f"FLASHBACK TABLE {name}: table was neither dropped nor "
                "truncated (ERROR 1105: Can't find dropped/truncated table)"
            )
        self._refresh_view(name)

    def _writable(self, name: str) -> ManagedTable:
        """The managed table a write statement targets; read-only dataset
        views cannot be mutated."""
        mt = self.managed.get(name)
        if mt is None:
            raise ValueError(
                f"table {name!r} is not writable; engine.create_table() "
                "creates a managed copy-on-write table"
            )
        return mt

    def _run_dml(self, m: re.Match) -> DataFrame:
        """INSERT / REPLACE / UPDATE / DELETE statements → ManagedTable ops
        (executor/insert.go, replace.go, update.go, delete.go)."""
        verb = (m.group("iverb") or m.group("uverb") or m.group("dverb")).upper()
        name = m.group("itab") or m.group("utab") or m.group("dtab")
        mt = self._writable(name)
        if verb in ("INSERT", "REPLACE"):
            body = m.group("ibody").strip()
            odku = None
            om = _ODKU_RE.match(body)
            if om and verb == "INSERT":
                body, odku = om.group(1).strip(), om.group(2).strip()
            vm = re.match(r"(?is)^(?:\(([^)]*)\)\s*)?VALUES\s+(.*)$", body)
            csm = re.match(
                r"(?is)^\(([^)]*)\)\s*((?:SELECT|WITH|TABLE)\b.*)$", body
            )
            setm = re.match(r"(?is)^SET\s+(.*)$", body)
            if vm:
                cols = None
                if vm.group(1):
                    cols = [c.strip().strip("`") for c in vm.group(1).split(",")]
                rows = self.spark.sql(f"SELECT * FROM (VALUES {vm.group(2)})")
                full = self._bind_insert(mt, name, rows, cols)
            elif csm:
                # INSERT INTO t (c1, c2) SELECT … — the listed columns bind
                # positionally to the SELECT output, the rest take DEFAULT.
                cols = [c.strip().strip("`") for c in csm.group(1).split(",")]
                rows = self.spark.sql(csm.group(2))
                full = self._bind_insert(mt, name, rows, cols)
            elif setm:
                # INSERT INTO t SET a = 1, b = 'x' (MySQL alternative
                # single-row form, parser/ast/dml.go Setlist).
                cols, exprs = [], []
                for frag in lex.split_args(setm.group(1)):
                    col, expr = frag.split("=", 1)
                    cols.append(col.strip().strip("`"))
                    exprs.append(expr.strip())
                rows = self.spark.sql(
                    "SELECT "
                    + ", ".join(
                        f"({e}) AS `{c}`" for c, e in zip(cols, exprs)
                    )
                )
                full = self._bind_insert(mt, name, rows, cols)
            else:
                # Plain INSERT … SELECT binds positionally, as bare VALUES.
                full = self._bind_insert(mt, name, self.spark.sql(body))
            if odku is not None:
                # ON DUPLICATE KEY UPDATE (executor/insert.go:43): in each
                # assignment, VALUES(col) is the incoming row, a bare column
                # the existing one — new_value()'s prefixed name implements
                # the former.
                from tidb_spark.sources.dml import _NEW_PREFIX
                assignments = {}
                for frag in lex.split_args(odku):
                    col, expr = frag.split("=", 1)
                    assignments[col.strip().strip("`")] = F.expr(
                        _VALUES_REF_RE.sub(
                            lambda vm_: _NEW_PREFIX + vm_.group(1), expr.strip()
                        )
                    )
                mt.upsert(full, assignments)
            elif m.group("ignore") and verb == "INSERT":
                mt.insert_ignore(full)
            else:
                (mt.insert if verb == "INSERT" else mt.replace)(full)
        elif verb == "UPDATE":
            body = m.group("ubody")
            # Top-level-aware split: a WHERE inside a string literal or a
            # parenthesized subquery must not terminate the SET list
            # (e.g. SET note = 'WHERE x').
            parts = lex.split_top_level(body, "WHERE")
            if len(parts) > 2:
                raise ValueError("UPDATE: multiple top-level WHERE clauses")
            where = F.expr(parts[1]) if len(parts) == 2 else F.lit(True)
            set_part = parts[0]
            assignments = {}
            for frag in lex.split_args(set_part):  # string/paren-aware commas
                col, expr = frag.split("=", 1)
                assignments[col.strip().strip("`")] = F.expr(expr.strip())
            self._reject_generated(mt, name, assignments)
            mt.update(where, assignments)
        else:  # DELETE
            where = (
                F.expr(m.group("dwhere")) if m.group("dwhere") else F.lit(True)
            )
            mt.delete(where)
        self._refresh_view(name)
        return self.tables[name]

    def _run_multi_update(self, head: str, tail: str) -> DataFrame:
        """Multi-table UPDATE (MySQL ``UPDATE t1 JOIN t2 ON … SET t1.c =
        expr [WHERE …]``; executor/update.go multi-table path).  The first
        table in the join list is the write target (assignments may only
        name it); the join + WHERE select which rows update and the
        assignment expressions see the joined row.  Executes as: one SQL
        join producing (key, new values), then one keyed MERGE — two
        shuffles total, no driver-side rows."""
        hm = re.match(r"(?is)^\s*`?(?P<tab>\w+)`?(?:\s+(?:AS\s+)?"
                      r"(?P<alias>(?!JOIN\b|INNER\b|LEFT\b|RIGHT\b)\w+))?",
                      head)
        name = hm.group("tab")
        alias = hm.group("alias") or name
        mt = self._writable(name)
        if not mt.key_cols:
            raise ValueError(
                f"multi-table UPDATE requires a PRIMARY KEY on {name!r}"
            )
        parts = lex.split_top_level(tail, "WHERE")
        if len(parts) > 2:
            raise ValueError("UPDATE: multiple top-level WHERE clauses")
        set_list, where = parts[0], parts[1] if len(parts) == 2 else "TRUE"
        assignments: dict[str, str] = {}
        for frag in lex.split_args(set_list):
            col, expr = frag.split("=", 1)
            cname = col.strip().strip("`")
            if "." in cname:
                qual, cname = cname.split(".", 1)
                qual, cname = qual.strip("`"), cname.strip("`")
                if qual not in (name, alias):
                    # update.go: only the named target is writable here
                    raise ValueError(
                        f"multi-table UPDATE may only assign columns of "
                        f"{name!r} (got {qual}.{cname})"
                    )
            self._reject_generated(mt, name, [cname])
            if cname in mt.key_cols:
                # The merge is keyed on these columns; rewriting the key in
                # the same pass is not expressible as one keyed MERGE.
                # MySQL allows it — reject loudly rather than silently
                # dropping the assignment.
                raise ValueError(
                    f"multi-table UPDATE cannot assign key column "
                    f"{cname!r} of {name!r}; use DELETE + INSERT"
                )
            assignments[cname] = expr.strip()
        key_sel = ", ".join(f"`{alias}`.`{k}` AS `{k}`" for k in mt.key_cols)
        set_sel = ", ".join(
            f"({e}) AS `{c}`"
            for c, e in assignments.items()
            if c not in mt.key_cols
        )
        src = self.spark.sql(
            f"SELECT {key_sel}{', ' + set_sel if set_sel else ''} "
            f"FROM {head} WHERE {where}"
        )
        # Determinism guard: when the join matches several source rows per
        # target key, MERGE's dropDuplicates would pick a partition-order-
        # dependent row.  Identical assignment rows collapse via DISTINCT;
        # genuinely conflicting ones are rejected loudly (the reference's
        # multi-table update is last-writer-wins nondeterministic,
        # executor/update.go — we keep the engine's deterministic
        # contract instead, like the key-column-assignment rejection).
        src = src.distinct()
        conflict = (
            src.groupBy(*[F.col(k) for k in mt.key_cols])
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()  # control-plane-sized: at most one row
        )
        if conflict:
            raise ValueError(
                f"multi-table UPDATE matched multiple distinct assignment "
                f"rows for the same {name!r} key (e.g. "
                f"{tuple(conflict[0])[:-1]!r}); the result would be "
                "nondeterministic — aggregate the source first"
            )
        from tidb_spark.sources.dml import _NEW_PREFIX

        mt.merge(
            src,
            when_matched_update={
                c: F.col(_NEW_PREFIX + c)
                for c in assignments
                if c not in mt.key_cols
            },
            when_not_matched_insert=False,
        )
        self._refresh_view(name)
        return self.tables[name]

    def _run_multi_delete(self, m: re.Match) -> DataFrame:
        """Multi-table DELETE (MySQL ``DELETE t1 FROM t1 JOIN t2 ON …
        [WHERE …]``; executor/delete.go multi-table path): delete the
        target rows that participate in the join.  One SQL join selecting
        the doomed keys, one keyed MERGE with a delete action."""
        target, src_clause = m.group("tgt"), m.group("src")
        mt = self._writable(target)
        if not mt.key_cols:
            raise ValueError(
                f"multi-table DELETE requires a PRIMARY KEY on {target!r}"
            )
        key_sel = ", ".join(f"`{target}`.`{k}` AS `{k}`" for k in mt.key_cols)
        doomed = self.spark.sql(
            f"SELECT DISTINCT {key_sel} FROM {src_clause}"
        )
        mt.merge(
            doomed,
            when_matched_delete=F.lit(True),
            when_not_matched_insert=False,
        )
        self._refresh_view(target)
        return self.tables[target]

    def _run_merge(self, stmt) -> DataFrame:
        """MERGE INTO (sqlshim/merge_clause.py) → ``ManagedTable.merge``:
        the statement's three WHEN actions map 1:1 onto the operator's
        kwargs, so the whole statement still executes as ONE full-outer join
        on the keys plus a CASE projection — a single shuffle regardless of
        how many WHEN clauses appear.

        The source frame is canonicalized to the target schema first: key
        columns from the ON equalities, non-key columns from the INSERT
        mapping (falling back to same-named source columns, else NULL) —
        after which ``s.col`` in UPDATE/DELETE expressions is exactly the
        operator's ``VALUES(col)`` reference."""
        from tidb_spark.sources.dml import _NEW_PREFIX

        name = stmt.table
        mt = self._writable(name)
        if {k for k, _ in stmt.on_pairs} != set(mt.key_cols):
            raise ValueError(
                f"MERGE ON must equate exactly the key columns "
                f"{mt.key_cols} of {name!r}"
            )
        src = self.spark.sql(translate(stmt.source_sql))

        insert = next((c for c in stmt.clauses if c.action == "insert"), None)
        ins_map = (
            dict(zip(insert.insert_cols, insert.insert_vals))
            if insert is not None and insert.insert_cols is not None
            else {}
        )
        key_src = dict(stmt.on_pairs)
        # Original-source-name → canonical-target-name, for rewriting s.col
        # references in UPDATE/DELETE expressions after the projection below.
        src_to_target = {s: t for t, s in stmt.on_pairs}
        for tcol, vexpr in ins_map.items():
            vm = re.match(rf"(?is)^\s*(?:{stmt.salias}\.)?(\w+)\s*$", vexpr)
            if vm:
                src_to_target.setdefault(vm.group(1), tcol)
        projected = []
        for f_ in mt.df().schema.fields:
            if f_.name in ins_map:
                expr = merge_clause.strip_source_refs(
                    translate(ins_map[f_.name]), stmt.salias
                )
            elif f_.name in key_src:
                expr = key_src[f_.name]
            elif f_.name in src.columns:
                expr = f_.name
            else:
                expr = f"CAST(NULL AS {f_.dataType.simpleString()})"
            projected.append(F.expr(expr).alias(f_.name))
        src = src.select(*projected)

        def _rw(expr: str):
            return F.expr(
                merge_clause.rewrite_refs(
                    translate(expr),
                    stmt.talias,
                    stmt.salias,
                    _NEW_PREFIX,
                    src_to_target,
                )
            )

        # Standard MERGE is first-matching-clause-wins: a matched row is
        # consumed by the FIRST WHEN MATCHED clause whose AND-condition
        # holds, so a later clause only applies where every earlier clause's
        # condition failed.  We gate each clause with NOT(prior conditions);
        # duplicate UPDATE (or DELETE) clauses are rejected rather than
        # silently letting the last one overwrite the first.
        n_upd = sum(1 for c in stmt.clauses if c.action == "update")
        n_del = sum(1 for c in stmt.clauses if c.action == "delete")
        if n_upd > 1 or n_del > 1:
            raise ValueError(
                "MERGE: at most one WHEN MATCHED UPDATE and one WHEN MATCHED "
                "DELETE clause is supported"
            )
        when_update: dict | None = None
        when_delete = None
        prior_cond = None  # OR of earlier matched-clause conditions
        for c in stmt.clauses:
            if c.action not in ("update", "delete"):
                continue
            own = _rw(c.cond) if c.cond is not None else F.lit(True)
            eff = own if prior_cond is None else own & ~prior_cond
            conditional = c.cond is not None or prior_cond is not None
            if c.action == "update":
                when_update = {}
                for col, expr in c.assignments:
                    val = _rw(expr)
                    if conditional:
                        # Rows matching the key but not the effective
                        # condition keep their old value.
                        val = F.when(eff, val).otherwise(F.col(col))
                    when_update[col] = val
            else:
                when_delete = eff
            prior_cond = own if prior_cond is None else prior_cond | own

        mt.merge(
            src,
            when_matched_update=when_update,
            when_matched_delete=when_delete,
            when_not_matched_insert=insert is not None,
        )
        self._refresh_view(name)
        return self.tables[name]

    # -- query surface ------------------------------------------------------

    def sql(self, query: str, args: dict | list | None = None) -> DataFrame:
        """Execute one MySQL-dialect statement (with optional FROM MATCH).

        ``args`` binds named (``:name``) or positional (``?``) parameters —
        the prepared-statement surface (executor/prepared.go; the lowered
        text is plan-cached per statement + catalog epoch, Catalyst still
        re-plans per execution — see the _PREPARE_RE note).

        Statements route through three dispatch tables (_PRE_REWRITE,
        _AFTER_VARS, _AFTER_TRANSLATE, defined below the class), one per
        lowering phase, then through the parser-routed forms; whatever is
        left is a query, lowered and handed to ``spark.sql``.

        A view whose tables are gone (``_reregister_views``) is absent
        from Spark's catalog; a statement that uses it fails with MySQL's
        ERROR 1356, never with rows."""
        try:
            return self._sql(query, args)
        except AnalysisException as e:
            if e.getCondition() == "TABLE_OR_VIEW_NOT_FOUND":
                rel = e.getMessageParameters().get("relationName", "")
                view = rel.split(".")[-1].strip("`")
                if view in self.views:
                    raise ValueError(_INVALID_VIEW.format(view)) from None
            raise

    def _sql(self, query: str, args: dict | list | None) -> DataFrame:
        # Statement-entry snapshot + reset for BOTH provenance flags
        # (sessionctx semantics: @@last_plan_from_* report the PREVIOUS
        # statement, so reads return the snapshot while the live flags
        # start False and are set only by the machinery this statement
        # actually exercises — EXECUTE's cache path, _apply_bindings).
        # Without the reset, a statement that never touches the plan
        # cache/bindings (or a lowering pass run after DROP BINDING
        # emptied the registry) would inherit — and, through the cache
        # entry's from_binding field, permanently CACHE — a stale True
        # from an older statement.
        self._prev_from_binding = self._last_plan_from_binding
        self._prev_from_cache = self._last_plan_from_cache
        self._last_plan_from_binding = False
        self._last_plan_from_cache = False
        # Any statement that can change what LOWERING depends on — catalog
        # shape, managed-table data/partitions, graph schema, sequences,
        # sysvars — invalidates the statement cache by bumping the epoch
        # (plan_cache.go's schema-version check).  Conservative allowlist:
        # only read-shaped statements leave the epoch alone.  SET
        # @user_var is also epoch-neutral: statements reading @vars are
        # uncacheable outright, so no cached lowering can depend on one.
        # SET @@sysvar / SET NAMES etc. still bump (sysvars steer
        # lowering, e.g. @@graph_topk_beam).
        if not (_READONLY_STMT_RE.match(query) or _SET_USER_VAR_RE.match(query)):
            self._bump_epoch()
        # Direct-statement cache (non-prepared plan cache): a read-shaped
        # statement the gates admit, re-issued within one catalog epoch,
        # replays its already-analyzed DataFrame — the ~20 regex passes,
        # dialect lowering and Catalyst analysis run once per (text,
        # epoch).  Latency-only: execution still plans (AQE) and computes
        # from storage per run, and the provenance flags are untouched
        # (see _STMT_CACHE_SKIP_RE note).
        stmt_cacheable = False
        df_key = (_DIRECT, query)  # PRE-lowering text; `query` is rewritten below
        if (
            args is None
            and self._lower_capture is None
            and _CACHEABLE_HEAD_RE.match(query)
        ):
            masked = lex.mask(query)
            stmt_cacheable = not (
                _CACHE_SKIP_RE.search(masked) or _STMT_CACHE_SKIP_RE.search(masked)
            )
            df = self.plan_cache.get(df_key) if stmt_cacheable else None
            if df is not None:
                self.plan_cache.move_to_end(df_key)
                self._stmt_cache_hits += 1
                return df
        out = self._dispatch(_PRE_REWRITE, query)
        if out is not None:
            return out
        # Gate sequence-function handling on the CODE portion only: a
        # string literal that merely contains text like 'NEXTVAL(s)' must
        # not trigger substitution or the INSERT…SELECT rejection.
        if self.sequences:
            seq_masked = lex.mask(query)
            if _SEQ_FUNC_RE.search(seq_masked):
                if _SEQ_INSERT_SELECT_RE.match(seq_masked):
                    # Literal splicing would stamp every SELECT row with
                    # one value; the reference allocates per row
                    # (ddl/sequence.go allocator driven from
                    # executor/insert_common.go) — take the batch-reserved
                    # per-row path instead.
                    return self._run_seq_insert_select(query)
                query = self._substitute_sequence_funcs(query)
        query = _SELECT_LOCK_RE.sub(r"\1", query)
        # Plan bindings fire before hint extraction so a binding-injected
        # /*+ hint */ flows through the normal hint path (bindinfo match
        # happens once — the substituted text continues linearly, no
        # re-dispatch, so a binding cannot loop on itself).
        if self.bindings and _CACHEABLE_HEAD_RE.match(query):
            query = self._apply_bindings(query)
        query, hints = self._extract_hints(query)
        # SELECT ... INTO @vars writes variables — split it off BEFORE the
        # read-side substitution pass turns the target @names into values.
        iv = self._match_into_vars(query)
        if iv is not None:
            return self._run_select_into_vars(*iv)
        query = self._substitute_user_vars(query)
        out = self._dispatch(_AFTER_VARS, query)
        if out is not None:
            return out
        query = self._rewrite_infoschema(query)
        if _QUERY_EXPANSION_RE.search(lex.mask(query)):
            query = self._expand_fulltext_query(query)
        query = translate(query)
        out = self._dispatch(_AFTER_TRANSLATE, query)
        if out is not None:
            return out
        # Parser-routed forms: their match is not a single regex.
        um = _UPDATE_RE.match(query)
        if um:
            head_tail = lex.split_top_level(um.group("rest"), "SET")
            if len(head_tail) == 2 and _JOIN_RE.search(head_tail[0]):
                return self._run_multi_update(head_tail[0], head_tail[1])
        ms = merge_clause.parse(query)
        if ms is not None:
            return self._run_merge(ms)
        if _WITH_RECURSIVE_RE.match(query):
            from tidb_spark.sqlshim import recursive_cte as _rc

            rc_stmt = _rc.parse(query)
            if rc_stmt is not None:
                return self._run_recursive_cte(rc_stmt)
        query = self._rewrite_as_of(query)
        query = self._rewrite_tablesample(query)
        query = self._rewrite_partition_selection(query)
        query = self._apply_static_pruning(query)
        query = self._apply_ci_collation(query)
        if _JSON_TABLE_GATE_RE.search(lex.mask(query)):
            from tidb_spark.sqlshim import json_table as _jt

            query = _jt.lower(query)
        if _QUANTIFIED_RE.search(lex.mask(query)):
            from tidb_spark.sqlshim import quantified as _qt

            query = _qt.lower(query)
        query = self._inject_hints(query, hints)
        parsed = mc.find_and_parse(query)
        if parsed is not None:
            start, end, paths = parsed
            if len(paths) > 1:
                # Comma multi-path: UNION ALL of the per-path join chains
                # (buildGraph, logical_plan_builder.go:6484-6506).
                query = mc.lower_multi_statement(
                    self.graph, query, start, end, paths
                )
            else:
                path = paths[0]
                if path.shortest:
                    replacement, preds = self._lower_any_shortest(path)
                else:
                    replacement, preds = mc.lower_simple_path(self.graph, path)
                query = mc.splice(query, start, end, replacement, preds)
        if args is not None:
            return self.spark.sql(query, args)
        if self._lower_capture is not None:
            # Plan-cache lowering pass (_lower_for_cache): record the final
            # Spark SQL and skip execution — the :pN markers in it are not
            # yet bound.
            self._lower_capture.append(query)
            return self.spark.range(0).select(F.lit("LOWERED").alias("status"))
        df = self.spark.sql(query)
        # Binding-lowered statements stay UNCACHED: a cache hit would skip
        # _apply_bindings and leave @@last_plan_from_binding stale for the
        # re-issue (the flag is per-statement observability the tests pin).
        if stmt_cacheable and not self._last_plan_from_binding:
            self._cache_put(df_key, df)
        return df

    def _dispatch(self, table, query: str) -> DataFrame | None:
        """Run the handler of the first pattern in ``table`` that matches
        ``query``; None when none does."""
        for pattern, handler in table:
            m = pattern.match(query)
            if m:
                out = handler(self, m)
                return self._ok() if out is None else out
        return None

    def _run_explain(self, m: re.Match) -> DataFrame:
        """Statement-form EXPLAIN [ANALYZE] [FORMAT=…] <stmt>
        (executor/explain.go; MySQL returns the plan as ROWS, so the text
        renders one line per row).  The body goes back through sql() —
        dialect rewrites, MATCH lowering, hints all apply."""
        body = m.group("body")
        if m.group("an"):
            text = self.explain_analyze(body)
        else:
            fmt = (m.group("fmt") or "TREE").upper()
            if fmt == "JSON":
                # MySQL FORMAT=JSON returns ONE row holding a JSON
                # document; callers parse it (ADVICE r5 — tree text here
                # broke them).  Spark's analogue is the optimized plan's
                # TreeNode JSON serialization.
                df = self.sql(body)
                doc = df._jdf.queryExecution().optimizedPlan().toJSON()  # noqa: SLF001
                return self.spark.createDataFrame([(doc,)], "plan string")
            mode = {
                "TREE": "formatted",
                "TRADITIONAL": "simple",
                "BRIEF": "simple",
                "VERBOSE": "extended",
            }.get(fmt)
            if mode is None:
                raise ValueError(f"unknown EXPLAIN FORMAT {fmt!r}")
            text = self.explain(body, mode)
        return self.spark.createDataFrame(
            [(line,) for line in text.splitlines()], "plan string"
        )

    def _run_tool_stmt(self, m: re.Match) -> None:
        """SET NAMES / SET CHARACTER SET (always utf8mb4 here), USE (one
        database), BEGIN/START TRANSACTION/COMMIT (autocommit), KILL (no
        wire connections): accepted no-ops for client/BI-tool
        compatibility, as the reference session layer does for settings it
        ignores."""
        if m.group("rollback"):
            # The engine runs autocommit single-statement semantics (txn
            # scope is out of OLAP scope per BASELINE) — BEGIN / COMMIT are
            # harmless no-ops under that model, but a ROLLBACK promise
            # cannot be honored, so it errors rather than silently keeping
            # the writes.
            raise ValueError(
                "ROLLBACK is not supported: statements auto-commit "
                "(no transaction scope in this engine)"
            )

    def _run_optimize_zorder(self, m: re.Match) -> None:
        """OPTIMIZE t ZORDER BY (a, b) — lakehouse layout extension (Delta
        syntax); multi-dimensional clustering so parquet row-group stats
        prune on every listed column."""
        name = m.group("tab")
        mt = self.managed.get(name)
        if mt is None:
            raise ValueError(f"OPTIMIZE ZORDER: {name!r} is not a managed table")
        mt.optimize_zorder([c.strip().strip("`") for c in m.group("cols").split(",")])
        self._refresh_view(name)

    def _run_rename(self, m: re.Match) -> None:
        """RENAME TABLE a TO b [, c TO d] (ddl/ddl_api.go RenameTable): each
        pair in turn goes through ``_rename``."""
        for pair in m.group("body").split(","):
            pm = _RENAME_PAIR_RE.match(pair)
            if not pm:
                raise ValueError(f"RENAME TABLE: cannot parse pair {pair.strip()!r}")
            self._rename(pm.group(1), pm.group(2))

    _PARTSEL_RE = re.compile(
        r"(?is)\b(FROM|JOIN)\s+`?(\w+)`?\s+PARTITION\s*\(([^)]*)\)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|JOIN\b|ON\b"
        r"|LEFT\b|RIGHT\b|INNER\b|FULL\b|CROSS\b|UNION\b|HAVING\b|AS\b)"
        r"(\w+))?"
    )

    def _rewrite_partition_selection(self, query: str) -> str:
        """MySQL's explicit partition selection — ``SELECT … FROM t
        PARTITION (p0, p1)`` (planner/core/rule_partition_processor.go
        honors the same syntax): replace with a temp view scanning only
        those directories, so the parquet scan carries PartitionFilters."""

        def repl(m: re.Match) -> str:
            kw, name, plist, alias = m.groups()
            mt = self.managed.get(name)
            if mt is None or mt.partition_spec is None:
                raise ValueError(
                    f"PARTITION selection on non-partitioned table {name!r}"
                )
            parts = [p.strip().strip("`") for p in plist.split(",") if p.strip()]
            self._tmp_view_n += 1
            view = f"__psel_{name}_{self._tmp_view_n}"
            mt.scan_partitions(parts).createOrReplaceTempView(view)
            return f"{kw} {view} AS {alias or name}"

        return self._PARTSEL_RE.sub(repl, query)

    def _apply_static_pruning(self, query: str) -> str:
        """Static partition pruning for the single-table SELECT case: when
        the (only) FROM references a partitioned managed table and the WHERE
        carries simple AND-connected predicates on the partition column,
        swap in a view over just the matching partitions
        (rule_partition_processor.go's static prune).  Anything the
        conservative matcher can't prove keeps the full scan — always
        correct, just unpruned."""
        if len(re.findall(r"(?i)\bFROM\b", query)) != 1:
            return query
        m = re.search(r"(?is)\bFROM\s+`?(\w+)`?\s+WHERE\s+(.*)$", query)
        if m is None:
            return query
        name = m.group(1)
        mt = self.managed.get(name)
        if mt is None or mt.partition_spec is None:
            return query
        where = re.split(
            r"(?is)\b(?:GROUP\s+BY|ORDER\s+BY|LIMIT)\b", m.group(2)
        )[0]
        parts = mt.partition_spec.prune_where(where)
        if parts is None or set(parts) == set(mt.partitions()):
            return query
        self._tmp_view_n += 1
        view = f"__prune_{name}_{self._tmp_view_n}"
        mt.scan_partitions(parts).createOrReplaceTempView(view)
        return (
            query[: m.start()]
            + f"FROM {view} AS {name} WHERE "
            + m.group(2)
        )

    # -- LOAD DATA / SELECT INTO OUTFILE statements (executor/load_data.go:46,
    # executor/select_into.go:33) ------------------------------------------

    _LOAD_DATA_RE = re.compile(
        r"(?is)^\s*LOAD\s+DATA\s+(?:LOCAL\s+)?INFILE\s+'(?P<path>[^']+)'\s+"
        r"INTO\s+TABLE\s+`?(?P<table>\w+)`?"
        r"(?:\s+FIELDS(?:\s+TERMINATED\s+BY\s+'(?P<sep>[^']*)')?"
        r"(?:\s+ENCLOSED\s+BY\s+'(?P<quote>[^']*)')?"
        r"(?:\s+ESCAPED\s+BY\s+'(?P<esc>[^']*)')?)?"
        r"(?:\s+IGNORE\s+(?P<skip>\d+)\s+LINES)?\s*;?\s*$"
    )
    _INTO_OUTFILE_RE = re.compile(
        r"(?is)^\s*(?P<select>SELECT\b.*?)\s+INTO\s+OUTFILE\s+'(?P<path>[^']+)'"
        r"(?:\s+FIELDS(?:\s+TERMINATED\s+BY\s+'(?P<sep>[^']*)')?"
        r"(?:\s+ENCLOSED\s+BY\s+'(?P<quote>[^']*)')?"
        r"(?:\s+ESCAPED\s+BY\s+'(?P<esc>[^']*)')?)?\s*;?\s*$"
    )

    # INTO var-list sits either before FROM (the classic MySQL position)
    # or at statement end.
    _INTO_VARS_RE = re.compile(
        r"(?is)^\s*(?P<select>SELECT\b.*?)\s+INTO\s+"
        r"(?P<vars>@\w+(?:\s*,\s*@\w+)*)(?P<tail>\s+FROM\b.*?)?\s*;?\s*$"
    )

    def _match_into_vars(self, query: str):
        """``SELECT ... INTO @a[, @b]`` (executor/set.go UserVars write
        side; MySQL SELECT ... INTO var_list).  Matched against a
        length-preserving literal mask so an INTO inside a string can't
        trigger, then sliced from the original text."""
        masked = lex.mask(query)
        m = self._INTO_VARS_RE.match(masked)
        if m is None:
            return None
        select_sql = query[m.start("select") : m.end("select")]
        if m.group("tail"):
            select_sql += query[m.start("tail") : m.end("tail")]
        names = [
            v.strip().lstrip("@")
            for v in query[m.start("vars") : m.end("vars")].split(",")
        ]
        return select_sql, names

    def _run_select_into_vars(
        self, select_sql: str, names: list[str]
    ) -> DataFrame:
        rows = self.sql(select_sql).limit(2).collect()
        if len(rows) > 1:
            raise ValueError(
                "SELECT INTO: result consisted of more than one row "
                "(MySQL error 1172)"
            )
        if rows:
            row = rows[0]
            if len(row) != len(names):
                raise ValueError(
                    f"SELECT INTO: {len(row)} columns into {len(names)} "
                    "variables (MySQL error 1222)"
                )
            for name, val in zip(names, row):
                self.user_vars[name] = _sql_literal(val)
        # MySQL: zero rows leaves the variables unchanged (with a warning).
        return self._ok()

    def _run_load_data(self, m: re.Match) -> DataFrame:
        """LOAD DATA INFILE … INTO TABLE t: distributed CSV scan with the
        MySQL field options, appended through ManagedTable.insert — so
        ENUM/SET domains, generated columns, AUTO_INCREMENT, and write
        versioning all apply to bulk ingest exactly as to INSERT."""
        from tidb_spark.sources import csvio

        name = m.group("table")
        mt = self.managed.get(name)
        if mt is None:
            raise ValueError(
                f"LOAD DATA target {name!r} is not a managed table"
            )
        schema = mt.df().schema
        rows = csvio.load_data(
            self.spark,
            m.group("path"),
            schema,
            terminated_by=m.group("sep") or ",",
            enclosed_by=m.group("quote") or '"',
            escaped_by=m.group("esc") or "\\",
            ignore_lines=int(m.group("skip") or 0),
        )
        mt.insert(rows)
        self._refresh_view(name)
        n = self.tables[name].count()
        return self.spark.createDataFrame([(f"Records: {n}",)], "status string")

    def _run_into_outfile(self, m: re.Match) -> None:
        """SELECT … INTO OUTFILE 'path': run the SELECT through the full
        pipeline, write CSV distributed (one file per partition)."""
        from tidb_spark.sources import csvio

        df = self.sql(m.group("select"))
        csvio.select_into_outfile(
            df,
            m.group("path"),
            terminated_by=m.group("sep") or ",",
            enclosed_by=m.group("quote") or '"',
            escaped_by=m.group("esc") or "\\",
        )

    def _expand_fulltext_query(self, query: str) -> str:
        """MATCH ... AGAINST('q' [IN NATURAL LANGUAGE MODE] WITH QUERY
        EXPANSION) — blind relevance feedback, statement level.

        The reference parses the modifier (parser/ast/dml.go
        FulltextSearchModifier) but executes no fulltext at all; MySQL's
        InnoDB implementation seeds a second natural-language pass with
        terms from the best first-pass rows.  Deterministic documented
        algorithm here: (1) first pass = natural-language score of the
        original query over the FROM table, top 20 rows by (score DESC,
        document text) — a bounded control-plane collect; (2) expansion
        terms = the 10 highest-document-frequency tokens of those rows
        ([a-z]{4,} on the lowercased text, original-query terms
        excluded, ties alphabetical); (3) the AGAINST argument is
        rewritten to the original query plus the expansion terms in
        plain natural-language mode and lowering proceeds normally.
        Restricted to statements whose FROM is a single named table —
        anything else raises loudly."""
        from tidb_spark.sqlshim import fulltext as _ft

        destrung = lex.mask(query)
        froms = re.findall(r"(?is)\bFROM\s+(`?\w+`?)(?:\s|$)", destrung)
        tables = {f.strip("`") for f in froms}
        if len(tables) != 1 or re.search(r"(?is)\bJOIN\b", destrung):
            raise ValueError(
                "MATCH AGAINST WITH QUERY EXPANSION requires a single-table "
                "FROM (the feedback pass samples that table)"
            )
        table = tables.pop()
        pos = 0
        while True:
            m = _ft._MATCH_RE.search(query, pos)
            if m is None:
                return query
            open_idx = query.index("(", m.end() - 1)
            close_idx = lex.find_closing(query, open_idx)
            after = query[close_idx + 1 :]
            ag = re.match(r"(?is)^\s*AGAINST\s*\(", after)
            if not ag:
                pos = close_idx + 1
                continue
            ag_open = close_idx + 1 + ag.end() - 1
            ag_close = lex.find_closing(query, ag_open)
            against = query[ag_open + 1 : ag_close]
            am = re.match(
                r"(?is)^\s*(?P<q>'(?:[^'\\]|\\.|'')*')\s*(?P<mod>.*)$", against
            )
            if not am or not re.search(
                r"(?is)\bWITH\s+QUERY\s+EXPANSION\s*$", am.group("mod")
            ):
                pos = ag_close + 1
                continue
            lit = am.group("q")  # quoted literal, reused verbatim
            cols = query[open_idx + 1 : close_idx]
            doc = "CONCAT_WS(' ', " + ", ".join(
                f"COALESCE({c.strip()}, '')" for c in cols.split(",")
            ) + ")"
            seed = self.sql(
                f"SELECT {doc} AS __doc, MATCH({cols}) AGAINST({lit}) AS __rel "
                f"FROM {table} WHERE MATCH({cols}) AGAINST({lit}) "
                f"ORDER BY __rel DESC, __doc LIMIT 20"
            ).collect()
            orig = lit[1:-1]
            orig_terms = set(re.findall(r"[a-z0-9]+", orig.lower()))
            df_count: dict[str, int] = {}
            # Document frequency counts DISTINCT documents, not seed rows:
            # the pinned oracle dedups via SELECT DISTINCT text, tk, so two
            # seed rows with identical text must contribute once.
            # (subscript, not attribute: r.__doc would name-mangle here)
            for doc in {r["__doc"] for r in seed}:
                for tk in set(re.findall(r"[a-z]{4,}", (doc or "").lower())):
                    if tk not in orig_terms:
                        df_count[tk] = df_count.get(tk, 0) + 1
            top = sorted(df_count.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            expanded = (orig + " " + " ".join(tk for tk, _ in top)).strip()
            repl = f"AGAINST('{expanded}')"
            start = close_idx + 1 + ag.start()
            query = query[:start] + repl + query[ag_close + 1 :]
            pos = start + len(repl)

    # -- INFORMATION_SCHEMA (executor/infoschema_reader.go — the reference
    # serves these as memtable scans; here they are small DataFrames
    # rebuilt from catalog state at reference time) ------------------------

    _IS_RE = re.compile(r"(?i)\binformation_schema\s*\.\s*(tables|columns)\b")

    def _rewrite_infoschema(self, query: str) -> str:
        """SELECTs over information_schema.tables / .columns: refresh the
        backing temp views from live catalog state, then point the query at
        them.  MySQL-shaped uppercase column names; Spark's case-insensitive
        resolution accepts either case in user predicates."""
        if not self._IS_RE.search(query):
            return query
        trows = [("tidb_spark", t, "BASE TABLE") for t in sorted(self.tables)]
        trows += [("tidb_spark", v, "VIEW") for v in sorted(self.views)]
        self.spark.createDataFrame(
            trows, "TABLE_SCHEMA string, TABLE_NAME string, TABLE_TYPE string"
        ).createOrReplaceTempView("__is_tables")
        crows = []
        for t in sorted(self.tables):
            for i, f in enumerate(self.tables[t].schema.fields, 1):
                crows.append(
                    (
                        "tidb_spark",
                        t,
                        f.name,
                        i,
                        f.dataType.simpleString(),
                        "YES" if f.nullable else "NO",
                    )
                )
        self.spark.createDataFrame(
            crows,
            "TABLE_SCHEMA string, TABLE_NAME string, COLUMN_NAME string, "
            "ORDINAL_POSITION int, DATA_TYPE string, IS_NULLABLE string",
        ).createOrReplaceTempView("__is_columns")
        return self._IS_RE.sub(lambda m: f"__is_{m.group(1).lower()}", query)

    # -- Views (planner/core/planbuilder.go:411,498 buildCreateView /
    # isCreateView; executor/ddl.go view lifecycle) ------------------------

    _VIEW_RE = re.compile(
        r"(?is)^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+"
        r"`?(?P<name>\w+)`?\s*(?:\((?P<cols>[^)]*)\))?\s*AS\s+(?P<body>.+?)\s*;?\s*$"
    )
    _DROP_VIEW_RE = re.compile(
        r"(?is)^\s*DROP\s+VIEW\s+(?P<ifex>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*;?\s*$"
    )

    def _run_create_view(self, m: re.Match) -> None:
        """CREATE [OR REPLACE] VIEW name [(cols)] AS select.

        The defining SELECT goes through the full engine pipeline (dialect
        translation, MATCH lowering, …), and the resulting *unevaluated*
        DataFrame plan is registered as a temp view — like the reference,
        the view expands into each consumer's plan at build time; nothing is
        materialized."""
        name, body = m.group("name"), m.group("body")
        if not m.group("replace"):
            self._claim(name)
        elif name not in self.views and name in self.tables:
            # MySQL: OR REPLACE may only replace a VIEW, never shadow a base
            # table (ErrWrongObject "is not VIEW").
            raise ValueError(f"CREATE OR REPLACE VIEW: {name!r} is not a VIEW")
        df = self.sql(body)
        cols = (
            [c.strip().strip("`") for c in m.group("cols").split(",") if c.strip()]
            if m.group("cols")
            else None
        )
        if cols:
            if len(cols) != len(df.columns):
                # planbuilder.go: ErrViewWrongList
                raise ValueError(
                    "CREATE VIEW: column list length "
                    f"{len(cols)} != SELECT arity {len(df.columns)}"
                )
            df = df.toDF(*cols)
        df.createOrReplaceTempView(name)
        self.views[name] = (body.strip(), cols)
        self._reregister_views(name)

    def _run_drop_view(self, m: re.Match) -> None:
        name = m.group("name")
        if name not in self.views:
            if m.group("ifex"):
                return
            # executor/ddl.go: dropping a non-view / unknown name errors
            # (ErrWrongObject for base tables).
            kind = "table" if name in self.tables else "view"
            raise ValueError(f"DROP VIEW: {name!r} is not a known view ({kind})")
        self.spark.catalog.dropTempView(name)
        del self.views[name]
        self._reregister_views(name)

    # -- Optimizer hints (util/hint/, planner/optimize.go hint binding) ----
    #
    # The reference parses /*+ ... */ into per-statement hint sets.  Here:
    # join-method hints with a Spark equivalent are rewritten into Spark's
    # own hint comment (honored by Catalyst); everything else (LEADING,
    # USE_INDEX, MEMORY_QUOTA, READ_FROM_STORAGE, …) is recognized and
    # stripped — matching the reference's behavior for hints that don't
    # apply to the chosen plan (a warning, never an error).

    _HINT_BLOCK_RE = re.compile(r"/\*\+(?P<body>.*?)\*/", re.S)
    _HINT_MAP = {
        "BROADCAST_JOIN": "BROADCAST",
        "BC_JOIN": "BROADCAST",
        "TIDB_BCJ": "BROADCAST",
        "INL_JOIN": "BROADCAST",  # index nested-loop ≈ broadcast small side
        "TIDB_INLJ": "BROADCAST",
        "INL_HASH_JOIN": "BROADCAST",
        "INL_MERGE_JOIN": "BROADCAST",
        "HASH_JOIN": "SHUFFLE_HASH",
        "TIDB_HJ": "SHUFFLE_HASH",
        "MERGE_JOIN": "MERGE",
        "TIDB_SMJ": "MERGE",
    }

    def _extract_hints(self, query: str) -> tuple[str, list[str]]:
        """Strip every /*+ ... */ block, returning Spark-translatable hints."""
        hints: list[str] = []

        def collect(m: re.Match) -> str:
            for h in re.finditer(r"(\w+)\s*(?:\(([^()]*)\))?", m.group("body")):
                hname, args = h.group(1).upper(), h.group(2)
                mapped = self._HINT_MAP.get(hname)
                if mapped and args:
                    # Drop @query_block qualifiers (hint/hint.go QB syntax:
                    # "@sel_1 t1" qualifies the table that follows it).
                    tables = []
                    for tok in args.split(","):
                        words = [
                            w.strip("`")
                            for w in tok.split()
                            if not w.startswith("@")
                        ]
                        tables.extend(words)
                    if tables:
                        hints.append(f"{mapped}({', '.join(tables)})")
            return " "

        return self._HINT_BLOCK_RE.sub(collect, query), hints

    _SQL_STR = r"'(?:[^'\\]|\\.|'')*'"

    def _apply_ci_collation(self, query: str) -> str:
        """Opt-in declared-collation shim (util/collate/; the reference
        carries full MySQL collations, used throughout expression/).
        Columns declared ``COLLATE <name>`` compare, sort, and group
        through the collation's key function, dispatched per kind
        (engine `_COLLATION_KINDS`, mirroring the reference's
        newCollatorMap, util/collate/collate.go:355):

        - ``general``: exact utf8mb4_general_ci weights
          (functions/collation.py — NFD-base-uppercase translate);
        - ``unicode``: exact utf8mb4_unicode_ci UCA 4.0.0 primary
          weights (functions/collation_unicode.py — expansions ß='ss',
          ignorable marks, kana fold);
        - ``gbk``: exact gbk_chinese_ci sort keys — MySQL's hand-curated
          pinyin-major table (functions/collation_gbk.py, verified
          against the reference's gbk_chinese_ci_data.go for all 65536
          entries; the 21k-pair translate is inlined, not a SQL macro,
          because Spark 4.1 rejects SQL UDFs inside Sort);
        - ``bin``: PAD SPACE only (binPaddingCollator — rtrim).

        Rewritten contexts: ``col <op> 'literal'`` (and reversed), ``col
        IN (...)``/``BETWEEN``, ``col = col`` when both share a
        collation kind (mixed kinds raise, MySQL's "illegal mix of
        collations"), ``col`` tokens inside the top-level ORDER BY, and
        GROUP BY folding: ``GROUP BY col`` becomes ``GROUP BY
        key(col)`` with ``min(col)`` projected as the deterministic
        group representative (MySQL returns an arbitrary member's case).
        LIKE uses the NO PAD key variant — ``col LIKE 'abc '`` must not
        match ``'abc'`` even though ``=`` does (MySQL LIKE is NO PAD).

        Resolution is BLOCK-SCOPED: each parenthesized SELECT/WITH
        subquery resolves against its own FROM/JOIN/UPDATE/INTO list
        (including comma-separated FROM items), falling back to the
        enclosing block's references (correlation); an outer table's
        ``name`` stays binary while a subquery's _ci ``name`` folds in
        the same statement.  Qualified references always resolve
        exactly; a derived table's projection does not propagate its
        source collation (resolver-level feature, documented gap)."""
        if not any(mt.table.collations for mt in self.managed.values()):
            return query
        # Mask string literals first: a literal containing "name = name"
        # must never be rewritten, and the table-reference scan must not
        # see FROM/JOIN inside a literal.
        lits: list[str] = []

        def stash(m: re.Match) -> str:
            lits.append(m.group(0))
            return f"\x00{len(lits) - 1}\x00"

        masked = lex.STRING_RE.sub(stash, query)
        masked = self._ci_rewrite_block(masked, {})
        return re.sub(
            r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], masked
        )

    def _ci_cols(self, table: str) -> dict[str, str]:
        """Column -> collation kind for the non-binary collations a managed
        table declares ('general', 'unicode', 'gbk', 'bin', …; the shim
        dispatches its key function on the kind, reference newCollatorMap,
        util/collate/collate.go:355)."""
        mt = self.managed.get(table)
        if mt is None:
            return {}
        kinds = {c: _collation_kind(n) for c, n in mt.table.collations.items()}
        return {c: k for c, k in kinds.items() if k}

    _CI_KW = (
        "WHERE|GROUP|ORDER|LIMIT|HAVING|JOIN|ON|USING|LEFT|RIGHT|INNER"
        "|FULL|CROSS|UNION|INTERSECT|EXCEPT|SET|PARTITION|MATCH|SELECT"
        "|VALUES|WINDOW"
    )

    def _ci_rewrite_block(
        self, text: str, parent_refs: dict[str, str]
    ) -> str:
        """Rewrite one query block (string literals already masked).
        Nested parenthesized SELECT/WITH blocks are recursed into with
        this block's references as their enclosing scope, and hidden
        from this block's own reference scan and clause rewrites."""
        # --- extract nested subquery blocks -> \x02N\x02 markers ---
        subs: list[str] = []
        out: list[str] = []
        i = 0
        opener = re.compile(r"(?is)\(\s*(?:SELECT|WITH)\b")
        while i < len(text):
            m = opener.search(text, i)
            if not m:
                out.append(text[i:])
                break
            out.append(text[i : m.start()])
            j = lex.find_closing(text, m.start())
            inner = text[m.start() + 1 : j]
            subs.append(inner)
            out.append(f"(\x02{len(subs) - 1}\x02)")
            i = j + 1
        residue = "".join(out)

        # --- this block's table references (qualifier -> table) ---
        refs: dict[str, str] = dict(parent_refs)
        item_re = re.compile(r"`?(\w+)`?")
        alias_re = re.compile(
            rf"\s+(?:AS\s+)?`?(?!(?:{self._CI_KW}|AS|FROM|INTO|UPDATE)\b)"
            rf"(\w+)`?",
            re.I,
        )
        marker_re = re.compile(r"\x02\d+\x02")
        for kw in re.finditer(
            r"(?is)\b(FROM|JOIN|UPDATE|INTO)\s+", residue
        ):
            pos = kw.end()
            allow_comma = kw.group(1).upper() in ("FROM", "UPDATE")
            while True:
                mm = re.compile(r"\(?\s*").match(residue, pos)
                pos = mm.end()
                mk = marker_re.match(residue, pos)
                tab = None
                if mk:
                    pos = mk.end()
                    mm = re.compile(r"\s*\)").match(residue, pos)
                    if mm:
                        pos = mm.end()
                else:
                    it = item_re.match(residue, pos)
                    if not it:
                        break
                    tab = it.group(1)
                    pos = it.end()
                am = alias_re.match(residue, pos)
                alias = None
                if am:
                    alias = am.group(1)
                    pos = am.end()
                if tab is not None and self._ci_cols(tab):
                    refs[tab] = tab
                    if alias:
                        refs[alias] = tab
                cm = re.compile(r"\s*,").match(residue, pos)
                if allow_comma and cm:
                    pos = cm.end()
                    continue
                break

        # recurse into subqueries with this block's refs as outer scope
        subs = [self._ci_rewrite_block(s, refs) for s in subs]

        own = {t: self._ci_cols(t) for t in set(refs.values())}
        if not own:
            return re.sub(
                r"\x02(\d+)\x02",
                lambda m: subs[int(m.group(1))],
                residue,
            )
        active: dict[str, set[str]] = {}
        for cols in own.values():
            for c, kind in cols.items():
                active.setdefault(c, set()).add(kind)

        def _kind(qualifier: str | None, col: str) -> str | None:
            """Collation kind this (qualifier, col) reference binds to,
            or None for a binary reference."""
            if qualifier:
                return own.get(refs.get(qualifier), {}).get(col)
            kinds = active.get(col)
            if not kinds:
                return None
            if len(kinds) > 1:
                raise ValueError(
                    f"ambiguous collation for column {col!r}: referenced "
                    f"tables declare it with different collations — "
                    f"qualify the reference"
                )
            return next(iter(kinds))

        def _key(kind: str, operand: str, pad: bool = True) -> str:
            from tidb_spark.functions.collation import general_ci_key_sql
            from tidb_spark.functions.collation_gbk import gbk_ci_key_sql
            from tidb_spark.functions.collation_unicode import (
                unicode_ci_key_sql,
            )

            if kind == "general":
                return general_ci_key_sql(operand, pad=pad)
            if kind == "unicode":
                return unicode_ci_key_sql(operand, pad=pad)
            if kind == "gbk":
                return gbk_ci_key_sql(operand, pad=pad)
            if kind == "pinyin":
                # Reference parity: the collator is a panic stub
                # (util/collate/pinyin_tidb_as_cs.go:22-33 — Compare/Key
                # panic("implement me")); DDL accepts the name, use fails.
                raise NotImplementedError(
                    "collation 'utf8mb4_zh_pinyin_tidb_as_cs' has no "
                    "comparison semantics to implement: the reference's "
                    "collator is an unimplemented panic stub with no "
                    "weight data (pinyin_tidb_as_cs.go) — refusing to "
                    "invent an ordering"
                )
            return f"rtrim({operand})" if pad else operand  # bin

        ph = r"\x00\d+\x00"
        cols = "|".join(re.escape(c) for c in sorted(active))
        qual = rf"(?:(?P<q{{0}}>\w+)\.)?(?P<c{{0}}>{cols})"
        ops = r"(?:=|<>|!=|<=|>=|<|>|(?i:LIKE))"

        def _tok(m: re.Match, n: int) -> str:
            q = m.group(f"q{n}")
            return (f"{q}." if q else "") + m.group(f"c{n}")

        # col <op> 'lit'  /  'lit' <op> col  (literals are placeholders)
        def _cl(m: re.Match) -> str:
            kind = _kind(m.group("q0"), m.group("c0"))
            if kind is None:
                return m.group(0)
            pad = m.group("op").upper() != "LIKE"
            return (
                f"{_key(kind, _tok(m, 0), pad)} {m.group('op')} "
                f"{_key(kind, m.group('lit'), pad)}"
            )

        residue = re.sub(
            rf"(?<![\w.]){qual.format(0)}\b\s*(?P<op>{ops})\s*"
            rf"(?P<lit>{ph})",
            _cl,
            residue,
        )

        def _lc(m: re.Match) -> str:
            kind = _kind(m.group("q0"), m.group("c0"))
            if kind is None:
                return m.group(0)
            pad = m.group("op").upper() != "LIKE"
            return (
                f"{_key(kind, m.group('lit'), pad)} {m.group('op')} "
                f"{_key(kind, _tok(m, 0), pad)}"
            )

        residue = re.sub(
            rf"(?P<lit>{ph})\s*(?P<op>{ops})\s*{qual.format(0)}\b",
            _lc,
            residue,
        )

        # col IN ('a', 'b')  /  col BETWEEN 'a' AND 'b'
        def _in(m: re.Match) -> str:
            kind = _kind(m.group("q0"), m.group("c0"))
            if kind is None:
                return m.group(0)
            items = ", ".join(
                _key(kind, p)
                for p in re.findall(ph, m.group("items"))
            )
            neg = m.group("not") or ""
            return f"{_key(kind, _tok(m, 0))} {neg}IN ({items})"

        residue = re.sub(
            rf"(?is)(?<![\w.]){qual.format(0)}\b\s+(?P<not>NOT\s+)?IN\s*"
            rf"\(\s*(?P<items>{ph}(?:\s*,\s*{ph})*)\s*\)",
            _in,
            residue,
        )

        def _btw(m: re.Match) -> str:
            kind = _kind(m.group("q0"), m.group("c0"))
            if kind is None:
                return m.group(0)
            neg = m.group("not") or ""
            return (
                f"{_key(kind, _tok(m, 0))} {neg}BETWEEN "
                f"{_key(kind, m.group('lo'))} AND "
                f"{_key(kind, m.group('hi'))}"
            )

        residue = re.sub(
            rf"(?is)(?<![\w.]){qual.format(0)}\b\s+(?P<not>NOT\s+)?"
            rf"BETWEEN\s+(?P<lo>{ph})\s+AND\s+(?P<hi>{ph})",
            _btw,
            residue,
        )

        # _ci col = _ci col (both sides normalize, MySQL join semantics;
        # mixed collations raise like MySQL's illegal-mix error)
        def _cc(m: re.Match) -> str:
            k0 = _kind(m.group("q0"), m.group("c0"))
            k1 = _kind(m.group("q1"), m.group("c1"))
            if k0 is None or k1 is None:
                # one side binary: binary compare preserved (pinned by
                # the r4 table-scoping ADVICE test)
                return m.group(0)
            if k0 != k1:
                raise ValueError(
                    f"illegal mix of collations: {_tok(m, 0)} ({k0}) vs "
                    f"{_tok(m, 1)} ({k1})"
                )
            return f"{_key(k0, _tok(m, 0))} = {_key(k0, _tok(m, 1))}"

        residue = re.sub(
            rf"(?<![\w.]){qual.format(0)}\b\s*=\s*{qual.format(1)}\b",
            _cc,
            residue,
        )

        # GROUP BY folding: GROUP BY col -> GROUP BY key(col), with
        # min(col) projected as the deterministic group representative
        # (engine contract; MySQL returns an arbitrary member's case).
        # A depth-0 set operator (UNION/INTERSECT/EXCEPT) separates
        # independent SELECT blocks, so each branch folds its OWN
        # GROUP BY and SELECT list — pairing the statement's last
        # GROUP BY with its first SELECT list would mis-rewrite both.
        pieces: list[str] = []
        cuts = [0] + [
            m.start()
            for m in lex.top_level(
                residue, r"(?:UNION|INTERSECT|EXCEPT|MINUS)\b"
            )
        ]
        for lo, hi in zip(cuts, cuts[1:] + [len(residue)]):
            seg = residue[lo:hi]
            gspan = self._last_top_level_clause(
                seg, r"GROUP\s+BY\s+", r"HAVING|ORDER|LIMIT|WINDOW"
            )
            folded: list[tuple[str | None, str]] = []
            if gspan:
                s_, e_ = gspan

                def _gb(cm: re.Match) -> str:
                    kind = _kind(cm.group("q0"), cm.group("c0"))
                    if kind is None:
                        return cm.group(0)
                    folded.append((cm.group("q0"), cm.group("c0")))
                    return _key(kind, _tok(cm, 0))

                clause = re.sub(
                    rf"(?<![\w.(]){qual.format(0)}\b(?!\s*\()",
                    _gb,
                    seg[s_:e_],
                )
                seg = seg[:s_] + clause + seg[e_:]
            if folded:
                seg = self._ci_fold_select_list(seg, folded)
            pieces.append(seg)
        residue = "".join(pieces)

        # Statement-final TOP-LEVEL ORDER BY only: a window's OVER(ORDER
        # BY ...) lives inside parens and must not attract the rewrite.
        span = self._last_top_level_clause(
            residue, r"ORDER\s+BY\s+", r"LIMIT"
        )
        if span:
            s_, e_ = span

            def _ob(cm: re.Match) -> str:
                kind = _kind(cm.group("q0"), cm.group("c0"))
                if kind is None:
                    return cm.group(0)
                return f"{_key(kind, _tok(cm, 0))}"

            clause = re.sub(
                rf"(?<![\w.(]){qual.format(0)}\b(?!\s*\()",
                _ob,
                residue[s_:e_],
            )
            residue = residue[:s_] + clause + residue[e_:]
        return re.sub(
            r"\x02(\d+)\x02", lambda m: subs[int(m.group(1))], residue
        )

    def _ci_fold_select_list(
        self, residue: str, folded: list[tuple[str | None, str]]
    ) -> str:
        """After GROUP BY folding, rewrite each folded column's bare
        top-level projection ``[q.]col`` to ``min([q.]col) AS col`` —
        the deterministic group representative."""
        sm = re.search(r"(?is)\bSELECT\s+(DISTINCT\s+)?", residue)
        if not sm:
            return residue
        # span: SELECT list ends at the first top-level FROM
        fm = next(lex.top_level(residue, r"FROM\b", sm.end()), None)
        j = fm.start() if fm else len(residue)
        sel = residue[sm.end() : j]
        for q, col in set(folded):
            tok = (f"{q}." if q else "") + col
            # only depth-0 bare occurrences (not inside an aggregate).
            # Hand-written: each occurrence is rewritten in place with its
            # neighbours in view, which lex.top_level does not offer.
            parts: list[str] = []
            depth = 0
            k = 0
            pat = re.compile(
                rf"(?<![\w.]){re.escape(tok)}\b(?!\s*\()(?!\.)"
            )
            while k < len(sel):
                c = sel[k]
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                if depth == 0:
                    m = pat.match(sel, k)
                    if m and (k == 0 or not (
                        sel[k - 1].isalnum() or sel[k - 1] in "_."
                    )):
                        # Pin the output name with AS only when the
                        # occurrence IS the whole projection item
                        # (comma/start before, comma/end after).  An
                        # aliased occurrence (`col AS label`) keeps its
                        # own alias, and an expression occurrence
                        # (`col || x`) keeps its context — appending
                        # AS there produced a double alias / broken
                        # expression (r6 ADVICE).
                        b = k - 1
                        while b >= 0 and sel[b].isspace():
                            b -= 1
                        a = m.end()
                        while a < len(sel) and sel[a].isspace():
                            a += 1
                        bare = (b < 0 or sel[b] == ",") and (
                            a >= len(sel) or sel[a] == ","
                        )
                        parts.append(
                            f"min({tok}) AS {col}"
                            if bare
                            else f"min({tok})"
                        )
                        k = m.end()
                        continue
                parts.append(c)
                k += 1
            sel = "".join(parts)
        return residue[: sm.end()] + sel + residue[j:]

    @staticmethod
    def _last_top_level_clause(
        text: str, clause: str, stop: str
    ) -> tuple[int, int] | None:
        """(start, end) of the body of the LAST depth-0 ``clause``
        (regex, e.g. ``ORDER\\s+BY\\s+``), ending at a depth-0 ``stop``
        keyword or end-of-text; None if absent."""
        clauses = list(lex.top_level(text, clause))
        if not clauses:
            return None
        best = clauses[-1].end()
        end = next(lex.top_level(text, rf"(?:{stop})\b", best), None)
        return best, end.start() if end else len(text)

    def _inject_hints(self, query: str, hints: list[str]) -> str:
        """Re-emit surviving hints as a Spark hint comment after the first
        TOP-LEVEL SELECT (Spark only honors hints directly inside a
        SELECT's own block).  A bare regex would land inside a WITH cte's
        parenthesized body — Catalyst then silently drops the hint as
        referencing unknown relations — or inside a string literal."""
        if not hints:
            return query
        first = next(lex.top_level(query, r"SELECT\b"), None)
        if first is None:
            return query
        pos = first.start()
        return (
            query[:pos]
            + "SELECT /*+ "
            + ", ".join(hints)
            + " */"
            + query[pos + len("SELECT") :]
        )

    def _run_show(self, query: str) -> DataFrame:
        """SHOW TABLES / DATABASES / COLUMNS (DESC/DESCRIBE) / VARIABLES /
        CREATE TABLE — the routine interactive surface (executor/show.go,
        infoschema_reader.go), with MySQL-shaped result columns so existing
        client expectations hold."""
        q = query.strip().rstrip(";").strip()
        mk = lambda rows, schema: self.spark.createDataFrame(rows, schema)

        if re.match(r"(?is)^SHOW\s+(?:GLOBAL\s+|SESSION\s+)?BINDINGS$", q):
            # bindinfo's SHOW BINDINGS columns, trimmed to the ones with
            # engine-side meaning (no create/update times — bindings are
            # session state here, like the reference's session scope).
            rows = [
                (orig, re.sub(r":b\d+\b", "?", tmpl), "enabled", d)
                for d, (orig, tmpl, _n) in sorted(self.bindings.items())
            ]
            return mk(
                rows,
                "Original_sql string, Bind_sql string, Status string, "
                "Sql_digest string",
            )
        if re.match(r"(?is)^SHOW\s+TABLES$", q):
            # Views list alongside tables, as in MySQL/the reference
            # (show.go fetchShowTables includes VIEW objects).
            return mk(
                [(t,) for t in sorted(set(self.tables) | set(self.views))],
                "Tables_in_tidb_spark string",
            )
        m = re.match(r"(?is)^SHOW\s+CREATE\s+VIEW\s+`?(\w+)`?$", q)
        if m:
            name = m.group(1)
            if name not in self.views:
                raise ValueError(f"SHOW CREATE VIEW: unknown view {name!r}")
            return mk(
                [(name, f"CREATE VIEW `{name}` AS {self.views[name][0]}")],
                "View string, `Create View` string",
            )
        if re.match(r"(?is)^SHOW\s+DATABASES$", q):
            return mk(
                [("INFORMATION_SCHEMA",), ("tidb_spark",)], "Database string"
            )
        m = re.match(r"(?is)^SHOW\s+CREATE\s+SEQUENCE\s+`?(\w+)`?$", q)
        if m:
            name = m.group(1)
            if name not in self.sequences:
                raise ValueError(f"SHOW CREATE SEQUENCE: unknown sequence {name!r}")
            s = self.sequences[name]
            ddl = (
                f"CREATE SEQUENCE `{name}` START WITH {s['start']} "
                f"INCREMENT BY {s['increment']} MINVALUE {s['min']} "
                f"MAXVALUE {s['max']} {'CYCLE' if s['cycle'] else 'NOCYCLE'}"
            )
            return mk(
                [(name, ddl)], "Sequence string, `Create Sequence` string"
            )
        m = re.match(
            r"(?is)^SHOW\s+(?:INDEX|INDEXES|KEYS)\s+(?:FROM|IN)\s+`?(\w+)`?$", q
        )
        if m:
            # show.go fetchShowIndex: one row per key column.  The engine's
            # only index-like object is a managed table's PRIMARY KEY (scans
            # are columnar; secondary indexes are n/a by design — SURVEY §2
            # rows 2-3).
            name = m.group(1)
            if name not in self.managed and name not in self.tables:
                raise ValueError(f"SHOW INDEX: unknown table {name!r}")
            keys = self.managed[name].key_cols if name in self.managed else []
            return mk(
                [(name, 0, "PRIMARY", i, col, "A") for i, col in enumerate(keys, 1)],
                "Table string, Non_unique int, Key_name string, "
                "Seq_in_index int, Column_name string, Collation string",
            )
        m = re.match(r"(?is)^SHOW\s+(?:GLOBAL\s+|SESSION\s+)?STATUS$", q)
        if m:
            # show.go fetchShowStatus: BI tools probe a handful of rows;
            # serve deterministic engine-true values.
            return mk(
                [
                    ("Ssl_cipher", ""),
                    ("Threads_connected", "1"),
                    ("Queries", "0"),
                    ("tidb_spark_managed_tables", str(len(self.managed))),
                    ("tidb_spark_views", str(len(self.views))),
                    *(
                        (f"tidb_spark_{k}", str(v))
                        for k, v in self._cache_stats().items()
                    ),
                ],
                "Variable_name string, Value string",
            )
        if re.match(r"(?is)^SHOW\s+(?:FULL\s+)?PROCESSLIST$", q):
            # show.go fetchShowProcessList: one in-process session here.
            return mk(
                [(1, "root", "localhost", "tidb_spark", "Query", 0, "", None)],
                "Id bigint, User string, Host string, db string, "
                "Command string, Time int, State string, Info string",
            )
        m = re.match(r"(?is)^SHOW\s+GRANTS(?:\s+FOR\s+(.+?))?$", q)
        if m:
            # privilege/privileges is out of scope (BASELINE.json); every
            # session is the all-privilege user, as show.go would render
            # for root.
            who = (m.group(1) or "'root'@'%'").strip()
            return mk(
                [(f"GRANT ALL PRIVILEGES ON *.* TO {who}",)],
                "`Grants` string",
            )
        m = re.match(r"(?is)^SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?$", q)
        if m:
            name = m.group(1)
            return mk(
                [(name, self.show_create_table(name))],
                "Table string, `Create Table` string",
            )
        m = re.match(
            r"(?is)^(?:SHOW\s+(?:FULL\s+)?COLUMNS\s+FROM|DESC(?:RIBE)?)"
            r"\s+`?(\w+)`?$",
            q,
        )
        if m:
            name = m.group(1)
            if name in self.tables:
                df = self.tables[name]
            elif name in self.views:
                df = self.spark.table(name)
            else:
                df = self.graph.vertex(name).df
            keys = set() if name in self.views else set(self._record(name).key_cols)
            rows = [
                (
                    f.name,
                    f.dataType.simpleString(),
                    "YES" if f.nullable else "NO",
                    "PRI" if f.name in keys else "",
                    None,
                    "",
                )
                for f in df.schema.fields
            ]
            return mk(
                rows,
                "Field string, Type string, `Null` string, Key string, "
                "`Default` string, Extra string",
            )
        m = re.match(r"(?is)^SHOW\s+VARIABLES(?:\s+LIKE\s+'([^']*)')?$", q)
        if m:
            # Session sysvars (SET @@…) over a handful of MySQL-compat
            # defaults; LIKE uses MySQL %/_ wildcards.
            base = {
                "version": "8.0-tidb_spark",
                "default_week_format": "0",
                "time_zone": self.spark.conf.get(
                    "spark.sql.session.timeZone", "UTC"
                ),
                "sql_mode": "ANSI",
                "max_execution_time": "0",
            }
            base.update({k: _strip_quotes(v) for k, v in self.sys_vars.items()})
            pat = m.group(1)
            if pat:
                rx = re.compile(
                    "^"
                    + re.escape(pat).replace("%", ".*").replace("_", ".")
                    + "$",
                    re.IGNORECASE,
                )
                base = {k: v for k, v in base.items() if rx.match(k)}
            return mk(
                sorted(base.items()), "Variable_name string, Value string"
            )
        raise ValueError(f"unsupported SHOW statement: {query!r}")

    @staticmethod
    def _unquote_sql_string(s: str) -> str:
        """Decode a SQL string literal ('…' or "…"; doubled-quote and
        backslash escapes) — the PREPARE … FROM source form."""
        s = s.strip()
        if len(s) < 2 or s[0] not in "'\"" or s[-1] != s[0]:
            raise ValueError(
                f"PREPARE: expected a string literal or @variable, got {s!r}"
            )
        q = s[0]
        return (
            s[1:-1]
            .replace(q + q, q)
            .replace("\\" + q, q)
            .replace("\\\\", "\\")
        )

    def _run_prepare(self, m: re.Match) -> None:
        """PREPARE stmt FROM '…' / FROM @var (executor/prepared.go:1)."""
        src = m.group("src").strip()
        uv = re.match(r"^@(\w+)$", src)
        if uv:
            src = self.user_vars.get(uv.group(1))
            if src is None:
                # set.go: preparing from an unset variable is an error
                # (the statement text would be NULL).
                raise ValueError(f"PREPARE: user variable @{uv.group(1)} is not set")
        self.prepared[m.group("name")] = self._unquote_sql_string(src)

    def _run_execute(self, m: re.Match) -> DataFrame:
        """EXECUTE stmt [USING @a, @b, …] (common_plans.go Execute rebind +
        planner/core/plan_cache.go GetPlanFromPlanCache).

        Fast path: the statement's LOWERED Spark SQL is in the plan cache
        for the current catalog epoch — bind each ``:pN`` marker to the
        USING variable's literal and hand Catalyst the result (it still
        plans per execution; only the Python dialect pipeline is skipped).
        Slow path (miss or uncacheable): bind ``?`` placeholders
        positionally and run the full pipeline, attempting to populate the
        cache for next time."""
        name = m.group("name")
        if name not in self.prepared:
            # executor/prepared.go ErrStmtNotFound
            raise ValueError(f"Unknown prepared statement handler {name!r}")
        text = self.prepared[name]
        vals: list[str] = []
        if m.group("args"):
            for tok in m.group("args").split(","):
                tok = tok.strip()
                av = re.match(r"^@(\w+)$", tok)
                if not av:
                    # parser: USING accepts user variables only
                    raise ValueError(
                        f"EXECUTE … USING expects @variables, got {tok!r}"
                    )
                vals.append(self.user_vars.get(av.group(1), "NULL"))
        counts: list[int] = []
        lex.map_code(text, lambda code: counts.append(code.count("?")) or code)
        n_params = sum(counts)
        if n_params != len(vals):
            # executor/prepared.go ErrWrongParamCount
            raise ValueError(
                f"Incorrect arguments to EXECUTE: statement takes "
                f"{n_params} parameters, {len(vals)} given"
            )
        # The statement with ``?`` bound to the USING literals: what the
        # always-correct slow path runs.
        it = iter(vals)
        literal_text = (
            lex.map_code(text, lambda code: re.sub(r"\?", lambda _m: next(it), code))
            if vals
            else text
        )

        def bind_markers(lowered: str) -> str:
            return lex.map_code(
                lowered,
                lambda code: re.sub(
                    r":p(\d+)\b", lambda pm: vals[int(pm.group(1))], code
                ),
            )

        self._last_plan_from_cache = False
        key = (_PREPARED, text)
        ent = self.plan_cache.get(key)
        if ent is None:
            self._plan_cache_misses += 1
            lowered = self._lower_for_cache(text, n_params)
            if lowered is not None and vals:
                # Entry-creation cross-check (ADVICE r8): the cache is
                # sound iff lowering COMMUTES with parameter
                # substitution.  Lower the literal form (exactly what the
                # slow path would run — capture sink, no execution) and
                # require it to equal the marker form with this
                # execution's values substituted.  A rewrite that
                # pattern-matches literal operands but skips the :pN
                # shape fails this and the statement stays on the
                # always-correct slow path; false positives only cost
                # caching, never correctness.
                # The nested self.sql() below re-enters statement entry,
                # which re-snapshots _prev_from_binding/_prev_from_cache;
                # save/restore ALL provenance fields (not just
                # _last_plan_from_binding) so a mid-statement read of
                # @@last_plan_from_* never sees the capture pass's state.
                saved_binding = self._last_plan_from_binding
                saved_prev = (self._prev_from_binding, self._prev_from_cache)
                lit_lowered = self._capture_lowering(literal_text)
                self._last_plan_from_binding = saved_binding
                self._prev_from_binding, self._prev_from_cache = saved_prev
                if lit_lowered != bind_markers(lowered):
                    lowered = None
            # from_binding: did a plan binding rewrite the statement during
            # the lowering pass?  Replayed into @@last_plan_from_binding on
            # every cache-hit execution (bindinfo applies to prepared
            # statements; the lowering pass digests :pN markers as
            # literals, _binding_digest).
            ent = (lowered, lowered is not None and self._last_plan_from_binding)
            self._cache_put(key, ent)
        else:
            self.plan_cache.move_to_end(key)
            if ent[0] is not None:
                self._plan_cache_hits += 1
                self._last_plan_from_cache = True
        lowered, from_binding = ent
        if lowered is not None:
            self._last_plan_from_binding = from_binding
            try:
                return self.spark.sql(bind_markers(lowered))
            except Exception:
                # A lowering rewrite that pattern-matches literal forms
                # may have skipped a :pN shape it would have handled bound
                # — evict and take the always-correct slow path (the
                # reference likewise falls back when a cached plan fails
                # rebind validation, plan_cache.go RebuildPlan4CachedPlan).
                self._cache_put(key, (None, False))
                if self._last_plan_from_cache:
                    self._plan_cache_hits -= 1
                self._last_plan_from_cache = False
                self._last_plan_from_binding = False
        return self.sql(literal_text)

    def _capture_lowering(self, text: str) -> str | None:
        """Run ``text`` through sql() with the final spark.sql sink
        replaced by a capture; the Spark SQL it would have run, or None if
        the pipeline raised or did not end at that sink."""
        self._lower_capture = []
        try:
            self.sql(text)
            captured = self._lower_capture
        except Exception:
            return None
        finally:
            self._lower_capture = None
        return captured[0] if len(captured) == 1 else None

    def _lower_for_cache(self, text: str, n_params: int) -> str | None:
        """One full-pipeline lowering of ``text`` with its ``?``
        placeholders pinned as named ``:pN`` markers; returns the final
        Spark SQL, or None when the statement is uncacheable (gate
        mismatch, a rewrite consumed/errored on a marker, or the statement
        never reached the plain spark.sql sink — each a reference
        skip-plan-cache reason, plan_cacheable_checker.go)."""
        masked = lex.mask(text)
        if not _CACHEABLE_HEAD_RE.match(masked) or _CACHE_SKIP_RE.search(
            masked
        ):
            return None
        counter = itertools.count()
        marked = lex.map_code(
            text,
            lambda code: re.sub(r"\?", lambda _m: f":p{next(counter)}", code),
        )
        lowered = self._capture_lowering(marked)
        if lowered is None:
            return None
        found: set[int] = set()
        lex.map_code(
            lowered,
            lambda code: (
                found.update(int(g) for g in re.findall(r":p(\d+)\b", code))
                or code
            ),
        )
        if found != set(range(n_params)):
            # A rewrite dropped or invented a marker — binding would be
            # unsound; leave this statement on the slow path.
            return None
        return lowered

    # -- SQL plan bindings (bindinfo/bind.go; see _CREATE_BINDING_RE) ------

    def _binding_mask(self, stmt: str) -> tuple[str, int]:
        """Replace every literal (strings, standalone numbers) with a
        positional ``:bN`` marker, left-to-right, hint blocks preserved
        verbatim (their numbers are NOT literals — the incoming statement
        has no counterpart for them).  Returns (masked text, n_literals)."""
        stash: list[str] = []
        # Digit-free stash markers (unary length): a digit in the
        # placeholder would itself match _NUM_LIT_RE below.
        s = self._HINT_BLOCK_RE.sub(
            lambda m: (
                stash.append(m.group(0))
                or "\x01" + "h" * len(stash) + "\x01"
            ),
            stmt,
        )
        counter = itertools.count()
        s = re.sub(
            lex.STRING_RE.pattern + "|" + _NUM_LIT_RE.pattern,
            lambda m: f":b{next(counter)}",
            s,
        )
        n = next(counter)
        s = re.sub(
            r"\x01(h+)\x01", lambda m: stash[len(m.group(1)) - 1], s
        )
        return s, n

    def _binding_digest(self, stmt: str) -> tuple[str, list[str]]:
        """Literal-stripped, hint-stripped, whitespace-collapsed digest
        (bindinfo's normalized SQL) plus the statement's literals in text
        order — the values a matched binding re-injects.

        Plan-cache ``:pN`` markers (the prepared-statement lowering pass,
        _lower_for_cache) normalize like literals: they occupy exactly the
        positions where the literal statement has real literals, so
        digesting them to ``?`` makes EXECUTE pick up the same bindings the
        plain statement would (bindinfo applies to prepared statements in
        the reference too); re-injection then splices the markers into the
        template and they bind at execute time as usual."""
        s = self._HINT_BLOCK_RE.sub(" ", stmt.strip().rstrip(";"))
        lits: list[str] = []
        # String pattern FIRST: a ':p0' inside a quoted literal is string
        # content, not a marker (markers substitute '?' placeholders,
        # which only exist outside strings) — the alternation must let
        # the string match swallow it.
        s = re.sub(
            lex.STRING_RE.pattern
            + r"|:p\d+\b|"
            + _NUM_LIT_RE.pattern,
            lambda m: (lits.append(m.group(0)) or "?"),
            s,
        )
        return re.sub(r"\s+", " ", s).strip().lower(), lits

    def _run_create_binding(self, m: re.Match) -> None:
        """CREATE [GLOBAL|SESSION] BINDING FOR <stmt> USING <stmt>
        (bindinfo/handle.go CreateBindRecord).  Validates the reference's
        own invariant: both statements must normalize identically once
        hints are stripped (otherwise literal re-injection would be
        unsound), then stores digest -> USING template."""
        orig, using = m.group("orig"), m.group("using").strip().rstrip(";")
        d_orig, lits_o = self._binding_digest(orig)
        d_using, lits_u = self._binding_digest(using)
        if d_orig != d_using:
            raise ValueError(
                "CREATE BINDING: the original SQL and the bind SQL must be "
                "identical after normalization (hints excluded) — got\n  "
                f"{d_orig}\nvs\n  {d_using}"
            )
        template, n = self._binding_mask(using)
        if n != len(lits_o):
            # Invariant (must survive python -O, so no assert): the mask
            # pass and the digest pass share literal regexes, so the
            # template's :bN count must equal the digest's literal count —
            # otherwise _apply_bindings' re-injection would be unsound.
            raise ValueError(
                "CREATE BINDING: internal literal-count mismatch between "
                f"mask ({n}) and digest ({len(lits_o)}) — refusing to store"
            )
        self.bindings[d_orig] = (re.sub(r"\s+", " ", orig.strip()), template, n)

    def _run_drop_binding(self, m: re.Match) -> None:
        d, _ = self._binding_digest(m.group("orig"))
        if d not in self.bindings:
            raise ValueError("DROP BINDING: no binding matches this statement")
        del self.bindings[d]

    def _apply_bindings(self, query: str) -> str:
        """If the statement's digest has a binding, splice the statement's
        OWN literals into the binding's USING template (bindinfo match +
        rewrite; the reference applies the stored hint set to the plan —
        text substitution is the lowered-pipeline equivalent here)."""
        d, lits = self._binding_digest(query)
        ent = self.bindings.get(d)
        if ent is None:
            self._last_plan_from_binding = False
            return query
        _, template, n = ent
        if n != len(lits):  # cannot happen post-validation; stay safe
            self._last_plan_from_binding = False
            return query
        self._last_plan_from_binding = True
        return re.sub(
            r":b(\d+)\b", lambda bm: lits[int(bm.group(1))], template
        )

    def _run_deallocate(self, m: re.Match) -> None:
        name = m.group("name")
        if name not in self.prepared:
            raise ValueError(f"Unknown prepared statement handler {name!r}")
        del self.prepared[name]

    _SEQ_OPT_RE = re.compile(
        r"(?i)(START\s+WITH|INCREMENT\s+BY|MINVALUE|MAXVALUE|CACHE)\s+"
        r"(-?\d+)|(?P<flag>CYCLE|NOCYCLE|NO\s+CYCLE)"
    )

    def _run_create_sequence(self, m: re.Match) -> None:
        """CREATE SEQUENCE (ddl/sequence.go CreateSequence): START WITH /
        INCREMENT BY / MINVALUE / MAXVALUE / CYCLE.  CACHE is accepted and
        ignored — it tunes the reference's KV round-trip batching, which
        the engine-side counter replaces."""
        name = m.group("name")
        if not self._claim(name, bool(m.group("ifnex"))):
            return
        opts = {"start": 1, "increment": 1, "min": 1, "max": 2**63 - 1,
                "cycle": False}
        for om in self._SEQ_OPT_RE.finditer(m.group("opts") or ""):
            if om.group("flag"):
                opts["cycle"] = om.group("flag").upper() == "CYCLE"
            else:
                key = re.sub(r"\s+", " ", om.group(1).upper())
                val = int(om.group(2))
                opts[{"START WITH": "start", "INCREMENT BY": "increment",
                      "MINVALUE": "min", "MAXVALUE": "max", "CACHE": "cache"}
                     [key]] = val
        if opts["increment"] == 0:
            raise ValueError("CREATE SEQUENCE: INCREMENT BY must be non-zero")
        opts.pop("cache", None)
        # next value to hand out; lastval = last handed out (None until used)
        opts["next"] = opts["start"]
        opts["lastval"] = None
        self.sequences[name] = opts

    def _run_drop_sequence(self, m: re.Match) -> None:
        name = m.group("name")
        if name not in self.sequences:
            if m.group("ifex"):
                return
            # ddl.go ErrWrongObject shape: dropping a non-sequence errors.
            raise ValueError(f"DROP SEQUENCE: {name!r} is not a sequence")
        del self.sequences[name]

    def _seq_nextval(self, name: str) -> int:
        s = self.sequences[name]
        val = s["next"]
        if val > s["max"] or val < s["min"]:
            if not s["cycle"]:
                # ddl/sequence.go ErrSequenceRunOut
                raise ValueError(f"Sequence {name!r} has run out")
            val = s["min"] if s["increment"] > 0 else s["max"]
        s["next"] = val + s["increment"]
        s["lastval"] = val
        return val

    def _substitute_sequence_funcs(self, query: str) -> str:
        """Evaluate NEXTVAL/LASTVAL/SETVAL calls against engine-side
        counters, splicing literal values into the statement (string-
        literal-aware).  Each textual occurrence allocates once per
        statement — so a multi-row ``INSERT … VALUES (NEXTVAL(s), …),
        (NEXTVAL(s), …)`` numbers each row, matching the reference's
        per-row evaluation for the statement shapes the engine accepts."""
        def sub(code: str) -> str:
            def repl(fm: re.Match) -> str:
                seq = fm.group("seq")
                if seq not in self.sequences:
                    raise ValueError(f"Unknown SEQUENCE {seq!r}")
                fn = fm.group("fn").upper()
                if fn == "NEXTVAL":
                    return str(self._seq_nextval(seq))
                if fn == "LASTVAL":
                    last = self.sequences[seq]["lastval"]
                    return "NULL" if last is None else str(last)
                if fm.group("val") is None:
                    raise ValueError("SETVAL(seq, value) requires a value")
                # SETVAL(seq, n): the next NEXTVAL returns a value past n
                # (TiDB docs); LASTVAL (session-scoped) is unaffected.
                val = int(fm.group("val"))
                self.sequences[seq]["next"] = (
                    val + self.sequences[seq]["increment"]
                )
                return str(val)

            return _SEQ_FUNC_RE.sub(repl, code)

        return lex.map_code(query, sub)

    def _run_seq_insert_select(self, query: str) -> DataFrame:
        """NEXTVAL per-row allocation inside INSERT/REPLACE … SELECT
        (ddl/sequence.go allocator + executor/insert_common.go evaluate
        sequence builtins once per inserted row).

        Batch reservation: the source SELECT is counted once (sequence
        calls replaced by 0 — cardinality only), n × sites values are
        reserved from the engine counter ANALYTICALLY, and each NEXTVAL
        site is spliced with a closed-form value expression over
        ``row_number()`` so the allocation itself runs JVM-side — no
        driver loop, no Python UDF.  The window is unpartitioned: a
        sequence is one global counter, so the serialization is
        semantic (the reference funnels every insert through one KV
        allocator the same way); bulk loads that only need unique ids
        should use AUTO_INCREMENT, which block-allocates without a
        global order.  With k sites for one sequence, row i's site j
        takes reservation index i·k + j (left-to-right per row, the
        reference's evaluation order).  CYCLE wraps fold into the
        expression; non-CYCLE exhaustion raises BEFORE any row is
        written (statement-atomic, ErrSequenceRunOut).  LASTVAL splices
        the pre-statement session value; SETVAL per source row is
        rejected (last-writer-wins noise, no reference use case)."""
        masked = lex.mask(query)
        for fm in _SEQ_FUNC_RE.finditer(masked):
            if fm.group("fn").upper() == "SETVAL":
                raise ValueError(
                    "SETVAL inside INSERT ... SELECT is not supported "
                    "(it would re-set the counter once per source row)"
                )
        om = re.search(r"(?i)\bON\s+DUPLICATE\s+KEY\s+UPDATE\b", masked)
        if om and _SEQ_FUNC_RE.search(masked[om.start():]):
            raise ValueError(
                "sequence functions in the ON DUPLICATE KEY UPDATE "
                "clause of INSERT ... SELECT are not supported"
            )
        sm = re.match(
            r"(?is)^\s*(?:INSERT|REPLACE)(?:\s+IGNORE)?\s+INTO\s+`?\w+`?\s*"
            r"(?:\([^)]*\)\s*)?((?:SELECT|WITH)\b.*)$",
            query,
        )
        if sm is None:
            # Not a plain SELECT source (e.g. a scalar subquery inside
            # VALUES tripped the dispatch regex): per-STATEMENT splicing
            # is correct there — each textual site allocates once.
            return self.sql(self._substitute_sequence_funcs(query))
        sel = sm.group(1)
        obm = _ODKU_RE.match(sel)
        if obm:
            sel = obm.group(1)

        # Pass 1: index the NEXTVAL sites per sequence (string-literal
        # aware) and splice LASTVAL as its pre-statement value.
        sites: dict[str, int] = {}

        def index_sites(code: str) -> str:
            def repl(fm: re.Match) -> str:
                seq = fm.group("seq")
                if seq not in self.sequences:
                    raise ValueError(f"Unknown SEQUENCE {seq!r}")
                if fm.group("fn").upper() == "LASTVAL":
                    last = self.sequences[seq]["lastval"]
                    return "NULL" if last is None else str(last)
                j = sites.get(seq, 0)
                sites[seq] = j + 1
                return f"__SEQ_SITE__{seq}__{j}__"
            return _SEQ_FUNC_RE.sub(repl, code)

        rewritten = lex.map_code(query, index_sites)
        if not sites:  # LASTVAL-only statement: nothing row-dependent
            return self.sql(rewritten)

        # Cardinality probe: the SELECT with every site zeroed.  One
        # extra evaluation of the source (a count, so column-pruned to
        # nothing); the reference instead pre-reserves allocator cache
        # batches per chunk — same idea, reservation before write.
        n = self.sql(
            lex.map_code(sel, lambda code: _SEQ_FUNC_RE.sub("0", code))
        ).count()

        rn = "(ROW_NUMBER() OVER (ORDER BY 1) - 1)"
        advances: list[tuple[str, int, int]] = []  # (seq, last_val, total)
        for seq, k in sites.items():
            s = self.sequences[seq]
            inc, minv, maxv = s["increment"], s["min"], s["max"]
            total = n * k
            cur = s["next"]
            if cur > maxv or cur < minv:  # counter parked past the bound
                if not s["cycle"] and total:
                    raise ValueError(f"Sequence {seq!r} has run out")
                if s["cycle"]:
                    cur = minv if inc > 0 else maxv
            if inc > 0:
                c0 = (maxv - cur) // inc + 1
                cycle_len = (maxv - minv) // inc + 1
                wrap = minv
            else:
                c0 = (cur - minv) // (-inc) + 1
                cycle_len = (maxv - minv) // (-inc) + 1
                wrap = maxv
            if total and total > c0 and not s["cycle"]:
                raise ValueError(f"Sequence {seq!r} has run out")

            def val_of(mm: int) -> int:
                if mm < c0:
                    return cur + mm * inc
                return wrap + ((mm - c0) % cycle_len) * inc

            for j in range(k):
                m_expr = f"({rn} * {k} + {j})" if k > 1 else rn
                if total <= c0:
                    formula = f"CAST({cur} + {m_expr} * {inc} AS BIGINT)"
                else:
                    formula = (
                        f"CAST(CASE WHEN {m_expr} < {c0} "
                        f"THEN {cur} + {m_expr} * {inc} "
                        f"ELSE {wrap} + pmod({m_expr} - {c0}, {cycle_len})"
                        f" * {inc} END AS BIGINT)"
                    )
                rewritten = rewritten.replace(
                    f"__SEQ_SITE__{seq}__{j}__", formula
                )
            if total:
                advances.append((seq, val_of(total - 1), total))

        result = self.sql(rewritten)
        # Counters advance only after the insert succeeded — a failed
        # statement must not burn reservations (statement-atomic, like
        # the reference's txn-scoped allocator rollback).
        for seq, last, _total in advances:
            self.sequences[seq]["next"] = last + self.sequences[seq]["increment"]
            self.sequences[seq]["lastval"] = last
        return result

    def _run_set(self, m: re.Match) -> None:
        """SET @var = expr / SET @@sysvar = value (executor/set.go:41-96).
        User variables evaluate eagerly to a literal (UserVars semantics);
        system variables are recorded — `spark.<conf>` names additionally
        pass through to the live Spark conf, the engine's actual tuning
        surface."""
        if m.group("user"):
            expr = self._substitute_user_vars(m.group("uexpr").strip())
            expr = translate(expr)
            val = self.spark.sql(f"SELECT ({expr}) AS v").collect()[0].v
            self.user_vars[m.group("uname")] = _sql_literal(val)
        else:
            name, val = m.group("sname"), m.group("sexpr").strip()
            self.sys_vars[name] = val
            if name.startswith("spark"):
                self.spark.conf.set(name.replace("_", "."), _strip_quotes(val))

    def _substitute_user_vars(self, query: str) -> str:
        """Replace @name references (outside string literals) with the
        variable's literal value — the read side of executor/set.go's
        UserVars map — and @@[session.|global.]sysvar reads with the
        session value (sessionctx/variable; includes the plan-cache
        observability vars @@last_plan_from_cache and the SHOW VARIABLES
        defaults).  Unknown sysvars raise like MySQL ER_UNKNOWN_SYSTEM_VAR
        rather than silently reading NULL."""
        if "@" not in query:
            return query

        def sys_sub(code: str) -> str:
            def one(vm: re.Match) -> str:
                name = vm.group(1).lower()
                if name == "last_plan_from_cache":
                    return "1" if self._prev_from_cache else "0"
                if name == "last_plan_from_binding":
                    return "1" if self._prev_from_binding else "0"
                if vm.group(1) in self.sys_vars:
                    return self.sys_vars[vm.group(1)]
                if name in self.sys_vars:
                    return self.sys_vars[name]
                defaults = {
                    "version": "'8.0-tidb_spark'",
                    "default_week_format": "'0'",
                    "time_zone": "'"
                    + self.spark.conf.get(
                        "spark.sql.session.timeZone", "UTC"
                    )
                    + "'",
                    "sql_mode": "'ANSI'",
                    "max_execution_time": "0",
                    "autocommit": "1",
                }
                if name in defaults:
                    return defaults[name]
                raise ValueError(f"Unknown system variable {name!r}")

            return re.sub(r"@@(?:SESSION\.|GLOBAL\.)?(\w+)", one, code,
                          flags=re.IGNORECASE)

        def sub(code: str) -> str:
            # Unset user variables read as NULL (MySQL semantics).
            return _USER_VAR_RE.sub(
                lambda vm: self.user_vars.get(vm.group(1), "NULL"), code
            )

        return lex.map_code(query, lambda code: sub(sys_sub(code)))

    def checksum(self, table: str) -> DataFrame:
        """ADMIN CHECKSUM TABLE (executor/checksum.go:39): one
        order-independent table digest — the sum of per-row xxhash64 over
        all columns — plus row/byte tallies.  Distributed: per-partition
        partial sums combine map-side; no row leaves the executor."""
        df = self.tables[table]
        # DECIMAL accumulation: a long sum of 2^63-range hashes overflows
        # under ANSI mode; decimal is exact and order-independent.
        row_hash = F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast(
            "decimal(20,0)"
        )
        return df.agg(
            F.sum(row_hash).alias("checksum"),
            F.count(F.lit(1)).alias("total_kvs"),
            F.sum(
                sum(
                    (F.length(F.col(c).cast("string")) for c in df.columns),
                    F.lit(0),
                )
            ).alias("total_bytes"),
        )

    _TABLESAMPLE_RE = re.compile(
        r"(?is)\b(FROM|JOIN)\s+`?(\w+)`?\s+TABLESAMPLE\s+REGIONS\s*\(\s*\)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|JOIN\b|ON\b"
        r"|LEFT\b|RIGHT\b|INNER\b|FULL\b|CROSS\b|UNION\b|HAVING\b)"
        r"(\w+))?"
    )

    def _rewrite_tablesample(self, query: str) -> str:
        """``FROM t TABLESAMPLE REGIONS()`` (executor/sample.go:42 — the
        reference returns the first row of each storage region): the
        Spark-native storage split is the parquet file, so this lowers to
        the first scan-order row per ``input_file_name()`` (projected in
        an inner subquery — nondeterministic funcs can't sit in a window
        spec directly), then a row_number window over the file column.
        Same sampling contract as the reference: rows ∝ storage splits,
        stable across runs, no RNG."""

        def repl(m: re.Match) -> str:
            kw, name, alias = m.groups()
            return (
                f"{kw} (SELECT * EXCEPT (__ts_rn, __ts_f) FROM ("
                f"SELECT *, row_number() OVER ("
                f"PARTITION BY __ts_f ORDER BY __ts_f) AS __ts_rn "
                f"FROM (SELECT *, input_file_name() AS __ts_f FROM {name})"
                f") WHERE __ts_rn = 1) AS {alias or name}"
            )

        return self._TABLESAMPLE_RE.sub(repl, query)

    def _run_recursive_cte(self, rc_stmt) -> DataFrame:
        """Execute the UNION-DISTINCT recursive CTE form Spark rejects
        natively (sqlshim/recursive_cte.py): seed and recursive member
        each run through the full engine pipeline; the fixpoint is the
        shared pipelined round driver (operators/cte.py — the same
        dedup-by-hashtable semantics as the reference's executor/cte.go).
        The recursive member sees the previous round's NEW rows, per the
        MySQL/reference iteration contract; column names map by position
        like any set operation."""
        from tidb_spark.operators.cte import recursive_cte as fixpoint
        from tidb_spark.sqlshim import recursive_cte as rc

        seed = self.sql(rc_stmt.seed_sql)
        cols = rc_stmt.cols or seed.columns
        seed = seed.toDF(*cols)
        n = next(_view_counter)
        frontier_view = f"__rcte_f_{n}"

        def step(frontier: DataFrame) -> DataFrame:
            frontier.createOrReplaceTempView(frontier_view)
            # Rebinding the frontier view is a catalog mutation the
            # statement text can't see: the step SQL is byte-identical
            # every round, so without this bump the statement cache
            # would replay round 1's analyzed DataFrame (which
            # resolved the view to round 1's rows) and the fixpoint would
            # converge one round early.
            self._bump_epoch()
            out = self.sql(
                rc.replace_name(rc_stmt.step_sql, rc_stmt.name, frontier_view)
            )
            return out.toDF(*cols)

        result = fixpoint(seed, step, distinct_keys=list(cols))
        out_view = f"__rcte_r_{n}"
        result.createOrReplaceTempView(out_view)
        rest = rc.replace_name(rc_stmt.rest_sql, rc_stmt.name, out_view)
        if rest.startswith(","):
            rest = "WITH " + rest[1:]
        return self.sql(rest)

    def _rewrite_as_of(self, query: str) -> str:
        """``FROM t AS OF TIMESTAMP '…'`` (stale read, parser/ast/dml.go:276
        → executor/stale_txn_test.go:143) on managed tables: bind the
        historical snapshot as a temp view and re-alias it to the table
        name, so the surrounding statement is unchanged."""

        def repl(m: re.Match) -> str:
            name, ts, alias = m.group(1), m.group(2), m.group(3)
            if name not in self.managed:
                return m.group(0)
            view = f"__asof_{next(_view_counter)}"
            self.managed[name].as_of(ts).createOrReplaceTempView(view)
            return f"{view} AS {alias or name}"

        return _AS_OF_RE.sub(repl, query)

    def _lower_any_shortest(self, path: mc.MatchPath) -> tuple[str, list[str]]:
        """MATCH ANY/ALL SHORTEST or TOP k → run the distributed BFS now,
        bind the result as a temp view, and join it back to the vertex
        tables so the outer statement sees src/dst rows plus ``path`` /
        ``dist`` (and ``rank`` for TOP k) columns — the GraphAnyShortestExec
        output shape (executor/graph_shortest.go:90-139).  ALL SHORTEST and
        TOP k are extensions: the reference's planner rejects them
        (logical_plan_builder.go:6567-6577).  The reference restricts ANY
        SHORTEST to one OUT hop with explicit destination (:6710-6712); we
        apply that restriction to all three."""
        if not (
            len(path.hops) == 1
            and path.hops[0].direction == "OUT"
            and path.hops[0].dest is not None
        ):
            raise ValueError("unsupported any shortest path query")
        src, hop = path.source, path.hops[0]
        dst = hop.dest
        src_pk = self.graph.vertex(src.table).id_col
        dst_pk = self.graph.vertex(dst.table).id_col
        sources = self.spark.sql(
            f"SELECT {src.alias}.{src_pk} AS root FROM {src.table} AS "
            f"{src.alias}" + (f" WHERE {src.where}" if src.where else "")
        )
        dests = self.spark.sql(
            f"SELECT {dst.alias}.{dst_pk} AS dst_id FROM {dst.table} AS "
            f"{dst.alias}" + (f" WHERE {dst.where}" if dst.where else "")
        )
        edge_t = self.graph.edge(hop.edge)
        if path.kind == "all":
            result = all_shortest(sources, dests, edge_t)
        elif path.kind == "top":
            # Exact enumeration when the hop budget is small (simple paths
            # grow exponentially with depth, so exhaustive search is safe
            # only on a short horizon); the beam-pruned variant kicks in
            # only when the user raised the horizon or explicitly SET
            # @@graph_topk_beam — beam pruning must not be silently
            # always-on, or ranks > 1 go approximate even at the default
            # hop budget where the DataFrame API is exact.  Rank 1 is exact
            # either way (= the ANY SHORTEST canonical path).  Default
            # horizon 4 (the DataFrame corpus query's bound): the old
            # default of 8 let an ~10-out-degree graph enumerate 10^8
            # simple paths before the per-round explosion guard existed —
            # a silent 100-second walk on the sf0.001 FIXTURE.  Deeper
            # horizons are one SET away and run beam-pruned; past the
            # guard's cap the enumeration fails fast with the beam hint.
            max_hops = int(self.sys_vars.get("graph_topk_max_hops", 4))
            beam_var = self.sys_vars.get("graph_topk_beam")
            if beam_var is not None:
                beam = max(int(beam_var), path.top_k)
            elif max_hops <= 4:
                beam = None  # exact enumeration, same as the DataFrame API
            else:
                beam = max(32, path.top_k)
            result = top_k_shortest(
                sources,
                dests,
                edge_t,
                k=path.top_k,
                max_hops=max_hops,
                beam=beam,
            )
        else:
            result = any_shortest(sources, dests, edge_t)
        view = f"__match_shortest_{next(_view_counter)}"
        result.createOrReplaceTempView(view)
        preds = []
        if src.where:
            preds.append(f"({src.where})")
        if dst.where:
            preds.append(f"({dst.where})")
        chain = (
            f"{src.table} AS {src.alias} "
            f"JOIN {view} ON {view}.src_id = {src.alias}.{src_pk} "
            f"JOIN {dst.table} AS {dst.alias} "
            f"ON {view}.dst_id = {dst.alias}.{dst_pk}"
        )
        return chain, preds

    # -- control plane (§2.13) ----------------------------------------------

    def explain(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN: the optimized/physical plan text (executor/explain.go)."""
        return self._explain_df(self.sql(query), mode)

    def explain_analyze(self, query: str) -> str:
        """EXPLAIN ANALYZE (executor/explain.go runtime-stats mode): execute
        the statement, then return the FINAL adaptive plan — the post-AQE
        physical plan actually run (runtime-re-planned joins, coalesced
        partitions), not the initial estimate — plus the result row count."""
        df = self.sql(query)
        # Execute THIS DataFrame's queryExecution with zero driver-side
        # materialization: toRdd().count() runs the exact physical plan
        # (AQE finalizes — isFinalPlan=true in the text below) and ships
        # only per-partition counts to the driver.  count() would plan a
        # separate aggregate and leave this plan unexecuted; collect()
        # funnels the whole result to the driver — on a large result
        # EXPLAIN ANALYZE itself became the bottleneck (VERDICT r5).
        n = df._jdf.queryExecution().toRdd().count()  # noqa: SLF001
        plan = self._explain_df(df, "formatted")
        # Plan provenance, mirroring the reference's EXPLAIN [ANALYZE]
        # runtime diagnostics for prepared/bound statements
        # (executor/explain.go + sessionctx last_plan_from_cache/
        # last_plan_from_binding): the LIVE flags were reset at the body
        # statement's entry and set only by what it actually exercised,
        # so they describe exactly the statement explained above; the
        # hit/miss totals are session-cumulative (@@last_plan_from_*
        # expose the same values statement-by-statement; this puts them
        # next to the plan they explain) and match SHOW STATUS.
        st = self._cache_stats()
        prov = (
            f"-- plan_from_cache: {int(self._last_plan_from_cache)}"
            f"  plan_from_binding: {int(self._last_plan_from_binding)}"
            f"  (session plan cache: {st['plan_cache_hits']} hits /"
            f" {st['plan_cache_misses']} misses; direct statements:"
            f" {st['stmt_cache_hits']} hits)"
        )
        return f"-- rows: {n}\n{prov}\n{plan}"

    def _explain_df(self, df: DataFrame, mode: str) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode
        )

    def analyze(self, table: str) -> DataFrame:
        """ANALYZE TABLE … COMPUTE STATISTICS — and FEED them to Catalyst.

        The reference's ANALYZE builds histograms/CMSketch/TopN that drive
        its cost-based planner (executor/analyze.go:68,
        statistics/histogram.go → planner rule_join_reorder.go).  The Spark
        analogue is catalog statistics consumed by the CBO
        (``spark.sql.cbo.enabled`` + joinReorder): we register the table's
        current parquet location as an external catalog table and run the
        real ``ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS``, then
        drop the shadowing temp view so name resolution reaches the
        stats-bearing catalog table.  Catalyst's optimizedPlan.stats then
        reports the analyzed rowCount instead of a file-size guess, and
        join reordering / broadcast selection become stats-driven.

        A subsequent write to a managed table re-binds the temp view
        (``_refresh_view``), which shadows the catalog entry again — stats
        snapshots never serve stale data.

        Returns the per-column count/ndv/null summary (the reference's
        feedback output)."""
        df = self.tables[table]
        path = None
        if table in self.managed:
            # None for an empty table: there are no files to analyze.
            path = self.managed[table].parquet_path()
        elif table != "events":
            # events.parquet carries TIMESTAMP(NANOS) — the raw file can't
            # back a catalog table with the view's (micros) schema, so it
            # stays a temp view (see catalog.load_table).
            cand = os.path.join(self.sf_dir, f"{table}.parquet")
            if os.path.exists(cand):
                path = cand
        if path is not None:
            self.spark.sql(f"DROP TABLE IF EXISTS `{table}`")
            self.spark.sql(
                f"CREATE TABLE `{table}` USING parquet LOCATION '{path}'"
            )
            # Equi-height histograms — the Spark analogue of the reference's
            # histogram/TopN (statistics/histogram.go); CBO uses them for
            # range-predicate selectivity beyond plain min/max.
            self.spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
            self.spark.sql(
                f"ANALYZE TABLE `{table}` COMPUTE STATISTICS FOR ALL COLUMNS"
            )
            self.spark.catalog.dropTempView(table)
            # CBO reads catalog stats only when enabled; join reorder uses
            # per-column ndv/min/max from the FOR ALL COLUMNS pass.
            self.spark.conf.set("spark.sql.cbo.enabled", "true")
            self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
            self.tables[table] = self.spark.table(table)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in df.columns:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__ndv"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        return df.agg(*aggs)

    def show_tables(self) -> list[str]:
        return sorted(self.tables)

    def _record(self, name: str) -> ct.TableDef:
        """A table's record: a managed table's own, else one built from the
        table's schema and its graph registration."""
        if name in self.managed:
            return self.managed[name].table
        e, vertex = self.graph.edges.get(name), self.graph.vertices.get(name)
        if e is not None:
            t = ct.TableDef.from_schema(e.df.schema)
            return t.as_edge(e.src_col, e.dst_col, e.src_table, e.dst_table)
        df = self.tables[name] if name in self.tables else self.graph.vertex(name).df
        return ct.TableDef.from_schema(df.schema, [vertex.id_col] if vertex else ())

    def show_create_table(self, name: str) -> str:
        """SHOW CREATE TABLE: the table's record as DDL (``TableDef.ddl``,
        which round-trips the graph DDL extensions — SOURCE KEY /
        DESTINATION KEY, executor/show.go:922)."""
        if name in self.views:
            # show.go serves views through SHOW CREATE TABLE as well
            # (fetchShowCreateTable4View).
            return f"CREATE VIEW `{name}` AS {self.views[name][0]}"
        return self._record(name).ddl(name)


# Statement dispatch for Engine.sql: one (pattern, handler) table per phase,
# because rewrites run between the phases.  Within a table the first
# matching pattern wins.  A handler takes (engine, match) and returns the
# statement's DataFrame, or None for the status = 'OK' frame (Engine._ok).

# Phase 1: the statement as issued.
_PRE_REWRITE = (
    (_EXPLAIN_TABLE_RE, lambda e, m: e.sql(f"DESC {m.group(1)}")),
    (_EXPLAIN_STMT_RE, Engine._run_explain),
    (_TOOL_STMT_RE, Engine._run_tool_stmt),
    (_SET_RE, Engine._run_set),
    (_CHECKSUM_RE, lambda e, m: e.checksum(m.group(1))),
    (_CREATE_BINDING_RE, Engine._run_create_binding),
    (_DROP_BINDING_RE, Engine._run_drop_binding),
    (_PREPARE_RE, Engine._run_prepare),
    (_DEALLOC_RE, Engine._run_deallocate),
    (_EXECUTE_RE, Engine._run_execute),
    (_CREATE_SEQ_RE, Engine._run_create_sequence),
    (_DROP_SEQ_RE, Engine._run_drop_sequence),
)

# Phase 2: after sequence, binding, hint and user-variable substitution.
_AFTER_VARS = (
    (_SHOW_RE, lambda e, m: e._run_show(m.string)),
    (Engine._VIEW_RE, Engine._run_create_view),
    (Engine._DROP_VIEW_RE, Engine._run_drop_view),
    (_CTAS_RE, Engine._run_ctas),
    (_CREATE_LIKE_RE, Engine._run_create_like),
    (_CREATE_TABLE_RE, Engine._run_create),
    (Engine._LOAD_DATA_RE, Engine._run_load_data),
    (Engine._INTO_OUTFILE_RE, Engine._run_into_outfile),
    (_ALTER_TABLE_RE, lambda e, m: e._run_alter(m.string)),
    (_ZORDER_RE, Engine._run_optimize_zorder),
    (_RENAME_TABLE_RE, Engine._run_rename),
)

# Phase 3: after information_schema rewriting and dialect translate().
_AFTER_TRANSLATE = (
    (_DDL_RE, Engine._run_ddl),
    (_MULTI_DELETE_RE, Engine._run_multi_delete),
    (_DML_RE, Engine._run_dml),
)
