"""JSON_TABLE(...) lowering — executed extension.

MySQL 8.0.4 added JSON_TABLE; the reference's grammar has no production
for it (parser/parser.y — no JSON_TABLE rule, checked against the full
table-factor alternatives at parser.y:8726), so this is the same
executed-extension posture as GROUPS frames / ALL SHORTEST / LATERAL:
the MySQL-dialect surface accepts it and the engine lowers it to native
Spark relational algebra.

Lowering:

    FROM t, JSON_TABLE(t.j, '$.items[*]' COLUMNS (
        a INT PATH '$.a',
        rn FOR ORDINALITY)) AS jt

becomes a correlated LATERAL derived table over ``posexplode`` —
Catalyst plans it as a generator join, one pass, no UDFs:

    FROM t, LATERAL (
      SELECT CAST(get_json_object(__e, '$.a') AS INT) AS a,
             CAST(__pos + 1 AS BIGINT) AS rn
      FROM (SELECT posexplode(from_json(
              get_json_object(t.j, '$.items'), 'array<string>'))
            AS (__pos, __e))
    ) AS jt

``posexplode`` (not ``_outer``) matches MySQL: an empty row-path array,
a missing row path, or a NULL document produce ZERO rows, not one
all-NULL row.

``from_json(col, 'array<string>')`` splits a JSON array into raw element
strings; object/array elements keep their JSON text, but STRING elements
are unquoted (``'["a","b"]'`` yields ``a``, ``b`` — no longer valid JSON
documents).  Deeper PATHs only match object/array elements, where
``get_json_object`` still works; for ``PATH '$'`` the lowering emits
``coalesce(get_json_object(__e, '$'), __e)`` so scalar elements come
through verbatim instead of silently going NULL.

Supported column forms: ``name TYPE PATH '<json path>'``, ``name FOR
ORDINALITY``, and ONE level of ``NESTED [PATH] '<path>[*]' COLUMNS
(...)`` — lowered to a ``LATERAL VIEW OUTER posexplode`` over the inner
array, which gives exactly MySQL's NESTED semantics (parent rows with an
empty/missing inner array keep one row with NULL nested columns; nested
FOR ORDINALITY restarts per parent row).  Multiple sibling NESTED paths,
NESTED-within-NESTED, EXISTS PATH and DEFAULT ... ON EMPTY|ERROR raise
(loud parity error, never silent wrong answers).  The row path must be
``'$[*]'`` or ``'$<object path>[*]'`` — element iteration, which is what
JSON_TABLE is for; a non-``[*]`` row path raises.
"""

from __future__ import annotations

import re

from tidb_spark.sqlshim import lex

_JT_RE = re.compile(r"(?is)\bJSON_TABLE\s*\(")

# MySQL column type -> Spark cast target.
_TYPE_MAP: dict[str, str] = {
    "TINYINT": "INT",
    "SMALLINT": "INT",
    "MEDIUMINT": "INT",
    "INT": "INT",
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "FLOAT": "FLOAT",
    "DOUBLE": "DOUBLE",
    "REAL": "DOUBLE",
    "DATE": "DATE",
    "DATETIME": "TIMESTAMP_NTZ",
    "TIMESTAMP": "TIMESTAMP_NTZ",
    "JSON": "STRING",
    "TEXT": "STRING",
    "BOOLEAN": "BOOLEAN",
}


def _spark_type(mysql_type: str) -> str:
    t = mysql_type.strip()
    m = re.match(r"(?is)^(VARCHAR|CHAR)\s*\(\s*\d+\s*\)$", t)
    if m:
        return "STRING"
    m = re.match(r"(?is)^DECIMAL\s*\((\s*\d+\s*,\s*\d+\s*)\)$", t)
    if m:
        return f"DECIMAL({m.group(1)})"
    m = re.match(r"(?is)^DECIMAL\s*\(\s*(\d+)\s*\)$", t)
    if m:
        return f"DECIMAL({m.group(1)},0)"
    up = re.sub(r"(?is)\s+UNSIGNED$", "", t.upper()).strip()
    mapped = _TYPE_MAP.get(up)
    if mapped is None:
        raise ValueError(f"JSON_TABLE: unsupported column type {mysql_type!r}")
    return mapped


def _value_expr(path_literal: str, cast_t: str, elem: str) -> str:
    """PATH evaluation against one exploded element.

    ``from_json(..., 'array<string>')`` unquotes STRING elements, so for
    ``PATH '$'`` the element itself may no longer be a valid JSON
    document — fall back to the raw element text (scalar passthrough).
    Deeper paths only ever match object/array elements, whose JSON text
    survives intact.
    """
    if path_literal[1:-1] == "$":
        return (
            f"CAST(coalesce(get_json_object({elem}, '$'), {elem}) "
            f"AS {cast_t})"
        )
    return f"CAST(get_json_object({elem}, {path_literal}) AS {cast_t})"


def _lower_columns(
    cols_src: str, *, elem: str = "__e", pos: str = "__pos",
    allow_nested: bool = True,
) -> tuple[list[str], str | None]:
    """Lower a COLUMNS(...) body to select-list expressions.

    Returns ``(exprs, nested_root)`` where ``nested_root`` is the inner
    array's object path (relative to the parent element) when the clause
    contains a NESTED PATH, else ``None``.  Nested column expressions are
    spliced in declaration order and reference ``__e2`` / ``__pos2``.
    """
    exprs: list[str] = []
    nested_root: str | None = None
    for item in lex.split_top_level(cols_src, ","):
        item = item.strip()
        if not item:
            continue
        nm = re.match(
            r"(?is)^NESTED\s+(?:PATH\s+)?(?P<path>'(?:[^'\\]|\\.)*')"
            r"\s+COLUMNS\s*\(",
            item,
        )
        if nm:
            if not allow_nested:
                raise ValueError(
                    "JSON_TABLE: NESTED within NESTED is not supported "
                    "(one nesting level only)"
                )
            if nested_root is not None:
                raise ValueError(
                    "JSON_TABLE: multiple sibling NESTED paths are not "
                    "supported (MySQL unions them with cross-NULLs; use "
                    "separate JSON_TABLE calls)"
                )
            npath = nm.group("path")[1:-1]
            if not npath.endswith("[*]"):
                raise ValueError(
                    "JSON_TABLE: NESTED path must iterate an array "
                    "('...[*]')"
                )
            nested_root = npath[:-3]
            inner_open = item.index("(", nm.end() - 1)
            inner_end = lex.find_closing(item, inner_open)
            if item[inner_end + 1 :].strip():
                raise ValueError(
                    "JSON_TABLE: trailing tokens after NESTED COLUMNS(...)"
                )
            inner_exprs, _ = _lower_columns(
                item[inner_open + 1 : inner_end],
                elem="__e2", pos="__pos2", allow_nested=False,
            )
            exprs.extend(inner_exprs)
            continue
        if re.match(r"(?is)^NESTED\b", item):
            raise ValueError(f"JSON_TABLE: cannot parse NESTED item {item!r}")
        m = re.match(r"(?is)^`?(\w+)`?\s+FOR\s+ORDINALITY$", item)
        if m:
            exprs.append(f"CAST({pos} + 1 AS BIGINT) AS {m.group(1)}")
            continue
        m = re.match(
            r"(?is)^`?(?P<name>\w+)`?\s+(?P<type>[A-Za-z]+(?:\s*\([^)]*\))?"
            r"(?:\s+UNSIGNED)?)\s+"
            r"(?P<exists>EXISTS\s+)?PATH\s+(?P<path>'(?:[^'\\]|\\.)*')"
            r"(?P<onx>.*)$",
            item,
        )
        if not m:
            raise ValueError(f"JSON_TABLE: cannot parse column {item!r}")
        if m.group("exists"):
            raise ValueError("JSON_TABLE: EXISTS PATH is not supported")
        if m.group("onx").strip():
            raise ValueError(
                "JSON_TABLE: DEFAULT/ERROR ON EMPTY|ERROR clauses are not "
                "supported (NULL-on-missing is the only behavior)"
            )
        cast_t = _spark_type(m.group("type"))
        exprs.append(
            f"{_value_expr(m.group('path'), cast_t, elem)} "
            f"AS {m.group('name')}"
        )
    if not exprs:
        raise ValueError("JSON_TABLE: empty COLUMNS clause")
    return exprs, nested_root


def lower(query: str) -> str:
    """Rewrite every top-level JSON_TABLE(...) table factor in ``query``."""
    while True:
        m = next(lex.code_matches(_JT_RE, query), None)
        if m is None:
            return query
        open_at = query.index("(", m.end() - 1)
        end = lex.find_closing(query, open_at) + 1
        args = query[open_at + 1 : end - 1]
        parts = lex.split_top_level(args, ",")
        if len(parts) != 2:
            raise ValueError(
                "JSON_TABLE expects (expr, 'row path' COLUMNS (...))"
            )
        src_expr = parts[0].strip()
        pm = re.match(
            r"(?is)^\s*(?P<path>'(?:[^'\\]|\\.)*')\s+COLUMNS\s*\(",
            parts[1],
        )
        if not pm:
            raise ValueError(
                "JSON_TABLE: second argument must be 'row path' COLUMNS (...)"
            )
        cols_open = parts[1].index("(", pm.end() - 1)
        cols_end = lex.find_closing(parts[1], cols_open)
        if parts[1][cols_end + 1 :].strip():
            raise ValueError(
                "JSON_TABLE: trailing tokens after COLUMNS(...) are not "
                "supported"
            )
        row_path = pm.group("path")[1:-1]
        if not row_path.endswith("[*]"):
            raise ValueError(
                "JSON_TABLE: row path must iterate an array ('...[*]')"
            )
        root = row_path[:-3]
        if root in ("$", ""):
            arr_src = src_expr
        else:
            arr_src = f"get_json_object({src_expr}, '{root}')"
        col_exprs, nested_root = _lower_columns(
            parts[1][cols_open + 1 : cols_end]
        )

        am = re.match(r"(?is)\s*(?:AS\s+)?`?(\w+)`?", query[end:])
        if not am:
            raise ValueError("JSON_TABLE: an alias is required (AS name)")
        alias = am.group(1)
        after = end + am.end()

        outer_from = (
            "(SELECT posexplode(from_json("
            + arr_src
            + ", 'array<string>')) AS (__pos, __e))"
        )
        if nested_root is None:
            body = "SELECT " + ", ".join(col_exprs) + " FROM " + outer_from
        else:
            if nested_root in ("$", ""):
                inner_src = "__e"
            else:
                inner_src = f"get_json_object(__e, '{nested_root}')"
            # LATERAL VIEW OUTER keeps one all-NULL inner row when the
            # nested array is empty/missing — exactly MySQL's NESTED
            # semantics (outer-join, ordinality restarting per parent).
            body = (
                "SELECT " + ", ".join(col_exprs)
                + " FROM " + outer_from + " __jt0"
                + " LATERAL VIEW OUTER posexplode(from_json("
                + inner_src
                + ", 'array<string>')) __njt AS __pos2, __e2"
            )
        replacement = "LATERAL (" + body + ") AS " + alias
        query = query[: m.start()] + replacement + query[after:]
