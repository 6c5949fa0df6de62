"""``MERGE INTO`` statement parsing.

The reference speaks MySQL dialect and has no MERGE statement — its upsert
surface is ``INSERT … ON DUPLICATE KEY UPDATE`` / ``REPLACE``
(executor/insert.go:43, executor/replace.go:38), both already lowered by the
engine.  MERGE is the lakehouse-standard generalization of that surface
(one statement expressing update + delete + insert against a key match), so
the engine accepts it as an extension and lowers it onto the same
copy-on-write merge operator (``sources/dml.py`` ``ManagedTable.merge`` —
one full-outer join on the keys, CASE projection, single shuffle).

Grammar accepted::

    MERGE INTO <managed-table> [AS t]
    USING (<subquery>) | <table> [AS s]
    ON t.<key> = s.<col> [AND ...]          -- must equate exactly the keys
    [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, ...]
    [WHEN MATCHED [AND <cond>] THEN DELETE]
    [WHEN NOT MATCHED THEN INSERT * | INSERT (cols) VALUES (exprs)]

In UPDATE/DELETE expressions ``t.col`` is the existing row and ``s.col`` the
incoming one (→ ``VALUES(col)`` semantics); in INSERT value expressions
``s.col`` is a raw source column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from tidb_spark.sqlshim import lex

_HEAD_RE = re.compile(
    r"(?is)^\s*MERGE\s+INTO\s+(?P<tab>\w+)(?:\s+AS\s+(?P<talias>\w+))?"
    r"\s+USING\s+"
)
_ALIAS_RE = re.compile(r"(?is)\s*(?:AS\s+)?(?!ON\b)(\w+)")
_ON_RE = re.compile(r"(?is)\s*ON\s+")
_CLAUSE_RE = re.compile(
    r"(?is)^\s*(?P<not>NOT\s+)?MATCHED\s*(?:AND\s+(?P<cond>.+?))?\s*THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+(?P<set>.+)|DELETE"
    r"|INSERT\s*(?P<ins>\*|(?:\([^)]*\)\s*)?VALUES\s*\(.*\)))\s*;?\s*$"
)
_INSERT_RE = re.compile(
    r"(?is)^(?:\((?P<cols>[^)]*)\)\s*)?VALUES\s*\((?P<vals>.*)\)$"
)
_EQ_RE = re.compile(r"(?is)^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")


@dataclass
class MergeClause:
    matched: bool
    cond: str | None
    action: str  # 'update' | 'delete' | 'insert'
    assignments: list[tuple[str, str]] = field(default_factory=list)
    insert_cols: list[str] | None = None  # None with action='insert' → INSERT *
    insert_vals: list[str] | None = None


@dataclass
class MergeStmt:
    table: str
    talias: str
    source_sql: str  # full SELECT over the source
    salias: str
    on_pairs: list[tuple[str, str]]  # (target key col, source col)
    clauses: list[MergeClause] = field(default_factory=list)


def parse(sql: str) -> MergeStmt | None:
    """Parse a MERGE statement; None if ``sql`` is not one."""
    hm = _HEAD_RE.match(sql)
    if not hm:
        return None
    i = hm.end()
    if sql[i] == "(":
        end = lex.find_closing(sql, i)
        source_sql = sql[i + 1 : end].strip()
        i = end + 1
    else:
        tm = re.compile(r"\w+").match(sql, i)
        if not tm:
            raise ValueError("MERGE USING: expected table or (subquery)")
        source_sql = f"SELECT * FROM {tm.group(0)}"
        i = tm.end()
    am = _ALIAS_RE.match(sql, i)
    if am:
        salias = am.group(1)
        i = am.end()
    elif sql[hm.end()] != "(":
        salias = source_sql.rsplit(" ", 1)[-1]  # bare table: name is alias
    else:
        raise ValueError("MERGE USING (subquery) requires an alias")
    om = _ON_RE.match(sql, i)
    if not om:
        raise ValueError("MERGE: expected ON <condition>")
    rest = sql[om.end() :]
    pieces = lex.split_top_level(rest, "WHEN")
    on_text, clause_texts = pieces[0], pieces[1:]
    if not clause_texts:
        raise ValueError("MERGE: at least one WHEN clause required")

    talias = hm.group("talias") or hm.group("tab")
    on_pairs: list[tuple[str, str]] = []
    for conj in lex.split_top_level(on_text, "AND"):
        em = _EQ_RE.match(conj)
        if not em:
            raise ValueError(
                f"MERGE ON supports alias.col = alias.col conjunctions "
                f"only, got {conj.strip()!r}"
            )
        a_alias, a_col, b_alias, b_col = em.groups()
        if a_alias == talias and b_alias == salias:
            on_pairs.append((a_col, b_col))
        elif a_alias == salias and b_alias == talias:
            on_pairs.append((b_col, a_col))
        else:
            raise ValueError(
                f"MERGE ON aliases must be {talias!r}/{salias!r}: "
                f"{conj.strip()!r}"
            )

    clauses = []
    for text in clause_texts:
        cm = _CLAUSE_RE.match(text)
        if not cm:
            raise ValueError(f"cannot parse MERGE WHEN clause: {text.strip()!r}")
        matched = not cm.group("not")
        action_text = cm.group("action")
        if cm.group("set") is not None:
            clause = MergeClause(matched, cm.group("cond"), "update")
            for frag in lex.split_args(cm.group("set")):
                col, expr = frag.split("=", 1)
                clause.assignments.append(
                    (col.strip().strip("`").split(".")[-1], expr.strip())
                )
        elif action_text.upper().startswith("DELETE"):
            clause = MergeClause(matched, cm.group("cond"), "delete")
        else:
            clause = MergeClause(matched, cm.group("cond"), "insert")
            ins = cm.group("ins").strip()
            if ins != "*":
                im = _INSERT_RE.match(ins)
                if not im or not im.group("cols"):
                    raise ValueError(
                        "MERGE INSERT needs '*' or '(cols) VALUES (exprs)'"
                    )
                clause.insert_cols = [
                    c.strip().strip("`") for c in im.group("cols").split(",")
                ]
                clause.insert_vals = lex.split_args(im.group("vals"))
                if len(clause.insert_cols) != len(clause.insert_vals):
                    raise ValueError("MERGE INSERT cols/VALUES arity mismatch")
        if not matched and clause.action != "insert":
            raise ValueError("WHEN NOT MATCHED supports only INSERT")
        if not matched and clause.cond is not None:
            raise ValueError(
                "WHEN NOT MATCHED AND <cond> is not supported; filter the "
                "USING source instead"
            )
        if matched and clause.action == "insert":
            raise ValueError("WHEN MATCHED cannot INSERT")
        clauses.append(clause)

    return MergeStmt(
        hm.group("tab"), talias, source_sql, salias, on_pairs, clauses
    )


def rewrite_refs(
    expr: str,
    talias: str,
    salias: str,
    new_prefix: str,
    src_to_target: dict[str, str] | None = None,
) -> str:
    """Map ``t.col`` → ``col`` and ``s.col`` → ``<new_prefix><target col>``
    outside string literals (the merge projection's old/new name
    convention).  ``src_to_target`` translates original source column names
    to the canonical target-schema names the source frame was projected to
    (from the ON equalities and the INSERT mapping)."""
    ren = src_to_target or {}

    def fn(code: str) -> str:
        code = re.sub(
            rf"(?i)\b{re.escape(salias)}\.(\w+)",
            lambda m: new_prefix + ren.get(m.group(1), m.group(1)),
            code,
        )
        return re.sub(rf"(?i)\b{re.escape(talias)}\.(\w+)", r"\1", code)

    return lex.map_code(expr, fn)


def strip_source_refs(expr: str, salias: str) -> str:
    """Map ``s.col`` → ``col`` for expressions evaluated on the raw source."""

    def fn(code: str) -> str:
        return re.sub(rf"(?i)\b{re.escape(salias)}\.(\w+)", r"\1", code)

    return lex.map_code(expr, fn)
