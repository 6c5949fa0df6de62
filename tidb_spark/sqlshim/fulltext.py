"""MATCH(col, ...) AGAINST('query' [mode]) — executed extension.

The reference parses the MySQL full-text predicate into its AST
(parser/parser.y:5182 → ast.MatchAgainst, parser/ast/dml.go:3461's
FulltextSearchModifier) but no planner or expression rule ever consumes
ast.MatchAgainst — building a plan over it fails.  Executing it here is
therefore the same executed-extension posture as GROUPS frames / ALL
SHORTEST: the surface is accepted and lowered to native Spark SQL, with
every form we can't honor raising loudly.

Semantics (documented simplification — binary term frequency):

* The searched document is ``concat_ws(' ', col1, col2, ...)`` with NULLs
  treated as empty; a term matches via a case-insensitive word-boundary
  regexp, so tokenization lives entirely in the JVM regex engine.
* NATURAL LANGUAGE MODE (the default): relevance = number of distinct
  query terms present, as DOUBLE.  MySQL's InnoDB TF-IDF weighting needs
  corpus statistics a scalar expression cannot see; binary TF preserves
  the ``> 0 ⇔ row matches`` contract exactly, which is how the predicate
  is used in WHERE position.  (For true corpus-weighted ranking the
  engine ships BM25 as a relational operator — data/text.py.)
* BOOLEAN MODE: ``+term`` must be present, ``-term`` must be absent,
  bare terms each add 1 to the relevance of a matching row, ``term*``
  matches any completion, ``"a phrase"`` matches the words in order
  (whitespace-normalized).  A row failing a +/- constraint scores 0.
* BOOLEAN MODE weighting/grouping (r8): ``>x`` doubles and ``<x``
  halves x's contribution, ``~x`` flips it to −0.5× (presence lowers
  relevance but never excludes), ``( ... )`` groups terms — prefix
  operators on a group distribute multiplicatively over its members,
  ``+(group)`` gates on ≥1 member present, ``-(group)`` prohibits all
  members, and sign gates apply globally at any nesting depth.  The
  final relevance is ``GREATEST(Σ contributions, 0)`` when every gate
  passes, else 0.  MySQL documents only the direction of ``> < ~``
  ("increases/decreases the contribution"), not the numbers — the
  ×2 / ×0.5 / ×−0.5 factors are this engine's documented, oracle-pinned
  choice.  ``@distance`` proximity still raises loudly.
* WITH QUERY EXPANSION raises at the expression layer (needs a
  first-pass result corpus a scalar rewrite cannot see); the engine
  executes it statement-level via a two-pass blind-feedback rewrite —
  see engine._expand_fulltext_query.

The query string must be a literal — the same restriction MySQL places
on the AGAINST argument.
"""

from __future__ import annotations

import re

from tidb_spark.sqlshim import lex

_MATCH_RE = re.compile(r"(?is)\bMATCH\s*\(")
_MODE_RE = re.compile(
    r"(?is)^\s*IN\s+(?P<mode>NATURAL\s+LANGUAGE|BOOLEAN)\s+MODE"
    r"(?P<exp>\s+WITH\s+QUERY\s+EXPANSION)?\s*$"
    r"|^\s*(?P<exp2>WITH\s+QUERY\s+EXPANSION)\s*$"
)

# Characters with meaning in Java regex that must be escaped inside a term.
_REGEX_META = re.compile(r"([.^$|?*+\[\]{}()\\])")


def _term_regex(term: str, prefix_wildcard: bool) -> str:
    """Case-insensitive word-boundary Java regex for one term/phrase."""
    star = term.endswith("*")
    if star:
        term = term[:-1]
    if not term:
        raise ValueError("MATCH AGAINST: empty search term")
    # Spark's string literal parser consumes one level of backslash, so the
    # SQL text needs '\\.' for the regex engine to see '\.'.
    body = _REGEX_META.sub(r"\\\\\1", term)
    # Phrase: interior whitespace matches any run of whitespace.
    body = re.sub(r"\s+", r"\\\\s+", body)
    body = body.replace("'", "''")
    tail = r"\\w*" if (star or prefix_wildcard) else r"\\b"
    return f"(?i)\\\\b{body}{tail}"


def _match_expr(doc: str, rx: str) -> str:
    return f"{doc} RLIKE '{rx}'"


class _BNode:
    """One boolean-query node: an atom (term/phrase) or a group."""

    __slots__ = ("sign", "weight", "term", "children")

    def __init__(self) -> None:
        self.sign = ""  # '', '+', '-'
        self.weight = 1.0  # × 2 per '>', × 0.5 per '<', × −0.5 per '~'
        self.term: str | None = None
        self.children: list[_BNode] | None = None


def _parse_bool_nodes(q: str, i: int = 0, depth: int = 0) -> tuple[list["_BNode"], int]:
    # Hand-written: this is the boolean-mode grammar inside the AGAINST
    # literal, not SQL, so ``lex`` has no say in it.
    nodes: list[_BNode] = []
    while i < len(q):
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c == ")":
            if depth == 0:
                raise ValueError("MATCH AGAINST: unbalanced ')' in boolean query")
            return nodes, i + 1
        node = _BNode()
        saw_op = False
        while i < len(q) and q[i] in "+-><~":
            ch = q[i]
            saw_op = True
            if ch in "+-":
                if node.sign:
                    raise ValueError(
                        "MATCH AGAINST: conflicting +/- operators on one term"
                    )
                node.sign = ch
            elif ch == ">":
                node.weight *= 2.0
            elif ch == "<":
                node.weight *= 0.5
            else:  # '~'
                node.weight *= -0.5
            i += 1
        if i >= len(q) or q[i].isspace():
            if saw_op:
                raise ValueError("MATCH AGAINST: dangling +/- operator")
            continue
        c = q[i]
        if c == "@":
            raise ValueError(
                "MATCH AGAINST: the boolean operator '@' (phrase proximity) "
                "is not supported"
            )
        if c == "(":
            node.children, i = _parse_bool_nodes(q, i + 1, depth + 1)
            if not node.children:
                raise ValueError("MATCH AGAINST: empty () group in boolean query")
        elif c == '"':
            end = q.find('"', i + 1)
            if end < 0:
                raise ValueError("MATCH AGAINST: unterminated phrase quote")
            node.term = q[i + 1 : end].strip()
            i = end + 1
            if not node.term:
                continue
        else:
            j = i
            while j < len(q) and not q[j].isspace() and q[j] not in '()"':
                if q[j] == "@":
                    raise ValueError(
                        "MATCH AGAINST: the boolean operator '@' (phrase "
                        "proximity) is not supported"
                    )
                j += 1
            node.term = q[i:j]
            i = j
        nodes.append(node)
    if depth:
        raise ValueError("MATCH AGAINST: unbalanced '(' in boolean query")
    return nodes, i


def _presence_sql(node: "_BNode", doc: str) -> str:
    """Boolean SQL: does the row contain this node (any member, for
    groups)?"""
    if node.term is not None:
        return _match_expr(doc, _term_regex(node.term, False))
    return "(" + " OR ".join(_presence_sql(ch, doc) for ch in node.children) + ")"


def _contrib_sql(node: "_BNode", doc: str, mult: float, out: list[str]) -> None:
    """Append this subtree's weighted score contributions ('-' subtrees
    contribute nothing; group weights distribute multiplicatively)."""
    if node.sign == "-":
        return
    w = mult * node.weight
    if node.term is not None:
        out.append(
            f"(CAST({_match_expr(doc, _term_regex(node.term, False))} AS INT)"
            f" * CAST({w!r} AS DOUBLE))"
        )
        return
    for ch in node.children:
        _contrib_sql(ch, doc, w, out)


def _gates_sql(node: "_BNode", doc: str, out: list[str]) -> None:
    """Collect +/- gates (global, at any nesting depth)."""
    if node.sign == "+":
        out.append(_presence_sql(node, doc))
    elif node.sign == "-":
        out.append(f"NOT ({_presence_sql(node, doc)})")
    if node.children is not None:
        for ch in node.children:
            _gates_sql(ch, doc, out)


def _lower_one(cols: list[str], against: str) -> str:
    am = re.match(
        r"(?is)^\s*(?P<q>'(?:[^'\\]|\\.|'')*')\s*(?P<mod>.*)$", against
    )
    if not am:
        raise ValueError(
            "MATCH AGAINST: the search expression must be a string literal"
        )
    query = am.group("q")[1:-1]
    mod = am.group("mod").strip()
    boolean = False
    if mod:
        mm = _MODE_RE.match(mod)
        if not mm:
            raise ValueError(f"MATCH AGAINST: unsupported modifier {mod!r}")
        if mm.group("exp") or mm.group("exp2"):
            raise ValueError(
                "MATCH AGAINST: WITH QUERY EXPANSION is not supported "
                "(needs a first-pass result corpus)"
            )
        boolean = (mm.group("mode") or "").upper() == "BOOLEAN"

    if len(cols) == 1:
        doc = f"coalesce({cols[0]}, '')"
    else:
        doc = "concat_ws(' ', " + ", ".join(
            f"coalesce({c}, '')" for c in cols
        ) + ")"

    if not boolean:
        terms = [t for t in re.split(r"\s+", query.strip()) if t]
        if not terms:
            raise ValueError("MATCH AGAINST: empty search query")
        hits = " + ".join(
            f"CAST({_match_expr(doc, _term_regex(t, False))} AS INT)"
            for t in terms
        )
        return f"(CAST({hits} AS DOUBLE))"

    nodes, _ = _parse_bool_nodes(query)
    if not nodes:
        raise ValueError("MATCH AGAINST: empty boolean query")
    contribs: list[str] = []
    for n in nodes:
        _contrib_sql(n, doc, 1.0, contribs)
    if contribs:
        # Negative ~ contributions can drag the sum below zero; MySQL's
        # relevance is never negative, so floor at 0 (a ~-only match
        # then scores 0 and fails the >0 predicate coercion).
        hits = f"GREATEST({' + '.join(contribs)}, CAST(0 AS DOUBLE))"
    else:
        # Only prohibitions: every non-prohibited row matches with score 1.
        hits = "CAST(1 AS DOUBLE)"
    conds: list[str] = []
    for n in nodes:
        _gates_sql(n, doc, conds)
    if conds:
        gate = " AND ".join(conds)
        return (
            f"(CASE WHEN {gate} THEN {hits} ELSE CAST(0 AS DOUBLE) END)"
        )
    return f"({hits})"


def lower(sql: str) -> str:
    """Rewrite every ``MATCH(cols) AGAINST(...)`` predicate in ``sql``.

    Graph ``FROM MATCH (n)-[e]->(m)`` clauses are untouched: the rewrite
    only fires when the token after the MATCH argument list is AGAINST.
    """
    pos = 0
    while True:
        # Literal spans are re-read from the current text (it changes per
        # rewrite).
        m = next(lex.code_matches(_MATCH_RE, sql, pos), None)
        if m is None:
            return sql
        open_idx = sql.index("(", m.end() - 1)
        close_idx = lex.find_closing(sql, open_idx)
        after = sql[close_idx + 1 :]
        ag = re.match(r"(?is)^\s*AGAINST\s*\(", after)
        if not ag:
            pos = close_idx + 1
            continue
        ag_open = close_idx + 1 + ag.end() - 1
        ag_close = lex.find_closing(sql, ag_open)
        cols = [
            c.strip().strip("`")
            for c in sql[open_idx + 1 : close_idx].split(",")
            if c.strip()
        ]
        if not cols:
            raise ValueError("MATCH AGAINST: empty column list")
        repl = _lower_one(cols, sql[ag_open + 1 : ag_close])
        # MySQL coerces the relevance to a predicate in boolean position
        # (bare ``WHERE MATCH(c) AGAINST('x')``); Spark requires a real
        # boolean, so append ``> 0`` when the occurrence stands alone in a
        # condition: preceded by a boolean keyword and not followed by an
        # operator that would consume the DOUBLE.
        before = sql[: m.start()].rstrip()
        # THEN/ELSE are deliberately absent: CASE branches are VALUE
        # positions in MySQL (the relevance DOUBLE is the branch result),
        # so coercing there would silently change results.
        prev_tok = re.search(
            r"(?is)(\bWHERE|\bAND|\bOR|\bNOT|\bWHEN|\bON|\bHAVING|\()\s*$",
            before,
        )
        if prev_tok and prev_tok.group(1) == "(":
            fm = re.search(r"(\w+)\s*\($", before)
            if fm and fm.group(1).upper() not in (
                "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE",
                "ON", "HAVING", "SELECT", "BY",
            ):
                prev_tok = None  # function-call argument, not a predicate
        after_txt = sql[ag_close + 1 :].lstrip()
        consumed = re.match(r"(?s)^[=<>!+\-*/%,]|^(?i:IS|IN|BETWEEN|AS)\b", after_txt)
        if prev_tok and not consumed:
            repl = f"({repl} > 0)"
        sql = sql[: m.start()] + repl + sql[ag_close + 1 :]
        pos = m.start() + len(repl)
