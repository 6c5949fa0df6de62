"""``WITH RECURSIVE name AS (seed UNION step)`` — the UNION-DISTINCT form.

Spark 4 executes ``WITH RECURSIVE ... UNION ALL`` natively, but rejects
the distinct form (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE).  MySQL and the
reference support both — ``executor/cte.go`` dedups produced rows in a
hashtable, exactly UNION-DISTINCT fixpoint semantics — so the engine
lowers the distinct form onto :func:`tidb_spark.operators.cte.
recursive_cte` (same semantics: rows whose full tuple appeared in any
earlier round are dropped; recursion ends when a round adds nothing).

Parsing is deliberately narrow and loud: one leading recursive CTE,
split at the LAST top-level distinct UNION inside its body (earlier
top-level set ops stay inside the seed and run natively).  The UNION ALL
form returns ``None`` here and flows to Spark untouched.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from tidb_spark.sqlshim import lex

_HEAD_RE = re.compile(
    r"(?is)^\s*WITH\s+RECURSIVE\s+`?(?P<name>\w+)`?\s*"
    r"(?:\((?P<cols>[^)]*)\))?\s*AS\s*\("
)
_UNION = r"UNION\b(\s+(?:ALL|DISTINCT)\b)?"


@dataclass
class RecursiveCte:
    name: str
    cols: list[str] | None
    seed_sql: str
    step_sql: str
    rest_sql: str  # starts with ',' (more CTEs) or the main statement


def replace_name(sql: str, name: str, view: str) -> str:
    """Replace table references to ``name`` with ``view`` (string-aware,
    backtick-aware, word-bounded)."""
    pat = re.compile(rf"(?is)(?<![\w.])`?{re.escape(name)}`?(?![\w])")
    return lex.map_code(sql, lambda code: pat.sub(view, code))


def parse(query: str) -> RecursiveCte | None:
    hm = _HEAD_RE.match(query)
    if hm is None:
        return None
    body_open = hm.end() - 1
    body_close = lex.find_closing(query, body_open)
    body = query[body_open + 1 : body_close]
    # Split at the last top-level UNION [DISTINCT]; UNION ALLs before it
    # stay inside the seed.
    split = None
    for um in lex.top_level(body, _UNION):
        if (um.group(1) or "").strip().upper() != "ALL":
            split = um
    if split is None:
        return None  # UNION ALL form — Spark executes it natively
    seed_sql = body[: split.start()].strip()
    step_sql = body[split.end() :].strip()
    name = hm.group("name")
    if re.search(rf"(?is)(?<![\w.])`?{re.escape(name)}`?(?![\w])", seed_sql):
        raise ValueError(
            f"WITH RECURSIVE: seed member may not reference {name!r} "
            "(the reference rejects this too)"
        )
    cols = (
        [c.strip().strip("`") for c in hm.group("cols").split(",")]
        if hm.group("cols")
        else None
    )
    return RecursiveCte(
        name=name,
        cols=cols,
        seed_sql=seed_sql,
        step_sql=step_sql,
        rest_sql=query[body_close + 1 :].strip(),
    )
