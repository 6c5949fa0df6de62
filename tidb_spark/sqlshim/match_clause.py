"""``FROM MATCH`` clause parsing + lowering to SQL join chains / BFS calls.

Mirrors the reference grammar (parser/parser.y:8861-9002; AST
parser/ast/graph.go:25-79) and plan builder (buildGraphPathSimple
planner/core/logical_plan_builder.go:6579-6708, buildGraphPathAnyShortest
:6709-6780):

- ``MATCH (v [AS a] [WHERE cond]) .OUT|IN|BOTH(e [AS ea]) [.(v2 ...)] ...``
  lowers to an inner-join chain: OUT joins edge.src to the previous vertex
  pk and the next vertex pk to edge.dst; IN swaps; BOTH keeps only edges
  whose reverse also exists (executor/graph.go:234-265) then walks OUT.
- Implicit destinations come from the edge DDL references
  (:6629 ``SELECT * FROM MATCH (v).OUT(e).OUT(e).(v)``).
- ``MATCH ANY SHORTEST (v ...).OUT(e).(v2 ...)`` — exactly one OUT hop with
  explicit destination (:6710-6712) — is computed by the distributed BFS
  (tidb_spark/graph/shortest.py) into a temp view joined back to the vertex
  tables, exposing ``path`` and ``dist`` columns like GraphAnyShortestExec's
  output (executor/graph_shortest.go:90-139).

Vertex/edge WHERE conditions hoist into the statement's WHERE (paths are
inner joins, so this is equivalent and lets Catalyst push them down).

Unsupported in the SQL surface (use the DataFrame API): comma-separated
multi-path MATCH (``tidb_spark.graph.match.union_paths``).  ALL SHORTEST and
TOP k ARE supported here as extensions (the reference errors on them,
logical_plan_builder.go:6567-6577) — lowered to the all-paths BFS / beam
search in tidb_spark/graph/shortest.py; bare ALL / ANY walk enumeration
still errors like the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from tidb_spark.sqlshim import lex

_MATCH_RE = re.compile(r"\bMATCH\b", re.IGNORECASE)
_ANY_SHORTEST_RE = re.compile(r"\s*ANY\s+SHORTEST\b", re.IGNORECASE)
_ALL_SHORTEST_RE = re.compile(r"\s*ALL\s+SHORTEST\b", re.IGNORECASE)
_TOP_K_RE = re.compile(r"\s*TOP\s+(\d+)\b", re.IGNORECASE)
# Path types the reference's planner rejects outright (bare ALL / ANY walk
# enumeration, logical_plan_builder.go:6567-6577).  ALL SHORTEST / TOP k are
# ALSO rejected there, but this engine executes them (graph/shortest.py) —
# an extension past reference parity.
_UNSUPPORTED_PATH_RE = re.compile(
    r"\s*(ALL\b(?!\s+SHORTEST)|ANY\b(?!\s+SHORTEST))", re.IGNORECASE
)
_VERTEX_RE = re.compile(
    r"(?is)^\s*(\w+)\s*(?:AS\s+(\w+)\s*)?(?:WHERE\s+(.+?)\s*)?$"
)
_EDGE_RE = re.compile(r"(?is)^\s*(\w+)\s*(?:AS\s+(\w+)\s*)?$")
_DIR_RE = re.compile(r"(?i)\s*\.\s*(OUT|IN|BOTH)\s*\(")


@dataclass
class VertexElem:
    table: str
    alias: str
    where: str | None


@dataclass
class Hop:
    direction: str  # OUT | IN | BOTH
    edge: str
    edge_alias: str
    dest: VertexElem | None  # None = implicit from edge DDL refs


@dataclass
class MatchPath:
    # kind: None = plain join-chain path; 'any' / 'all' = ANY / ALL
    # SHORTEST; 'top' = TOP k (k in top_k).
    kind: str | None
    source: VertexElem
    hops: list[Hop] = field(default_factory=list)
    top_k: int | None = None

    @property
    def shortest(self) -> bool:
        return self.kind is not None


def _parse_vertex(body: str) -> VertexElem:
    m = _VERTEX_RE.match(body)
    if not m:
        raise ValueError(f"cannot parse MATCH vertex element: {body!r}")
    table, alias, where = m.groups()
    return VertexElem(table, alias or table, where)


def _parse_path_body(
    sql: str, i: int, kind: str | None, top_k: int | None
) -> tuple[MatchPath, int]:
    """Parse ``(vertex)[.DIR(edge)[.(vertex)]]...`` starting at the opening
    paren; return (path, index past the last consumed char)."""
    close = lex.find_closing(sql, i)
    path = MatchPath(kind, _parse_vertex(sql[i + 1 : close]), top_k=top_k)
    i = close + 1
    while True:
        m = _DIR_RE.match(sql, i)
        if not m:
            break
        open_idx = sql.index("(", m.end() - 1)
        close = lex.find_closing(sql, open_idx)
        em = _EDGE_RE.match(sql[open_idx + 1 : close])
        if not em:
            raise ValueError(
                f"cannot parse MATCH edge element: "
                f"{sql[open_idx + 1:close]!r}"
            )
        hop = Hop(
            m.group(1).upper(), em.group(1), em.group(2) or em.group(1), None
        )
        path.hops.append(hop)
        i = close + 1
        # Optional explicit destination: ".(" follows.
        dm = re.compile(r"\s*\.\s*\(").match(sql, i)
        if dm:
            vopen = sql.index("(", dm.start())
            vclose = lex.find_closing(sql, vopen)
            hop.dest = _parse_vertex(sql[vopen + 1 : vclose])
            i = vclose + 1
    return path, i


def find_and_parse(sql: str) -> tuple[int, int, list[MatchPath]] | None:
    """Locate the first MATCH table-ref in code; return
    (start, end, paths).  ``paths`` has one entry per comma-separated path
    (the reference unions them, buildGraph
    logical_plan_builder.go:6484-6506); shortest-path kinds are only valid
    as a single path, like the reference's planner."""
    for cand in lex.code_matches(_MATCH_RE, sql):
        start = cand.start()
        i = cand.end()
        kind, top_k = None, None
        if m := _ANY_SHORTEST_RE.match(sql, i):
            kind, i = "any", m.end()
        elif m := _ALL_SHORTEST_RE.match(sql, i):
            kind, i = "all", m.end()
        elif m := _TOP_K_RE.match(sql, i):
            kind, top_k, i = "top", int(m.group(1)), m.end()
        elif _UNSUPPORTED_PATH_RE.match(sql, i):
            # Same behavior (and message) as the reference planner.
            raise ValueError("unsupported path pattern type in MATCH")
        while i < len(sql) and sql[i].isspace():
            i += 1
        if i >= len(sql) or sql[i] != "(":
            continue  # MATCH used as an identifier elsewhere
        path, i = _parse_path_body(sql, i, kind, top_k)
        paths = [path]
        while cm := re.compile(r"\s*,\s*(?=\()").match(sql, i):
            # Peek past the '(': only a vertex element continues the
            # multi-path list — a derived table `, (SELECT ...) x` in
            # the FROM list must not be pulled into MATCH parsing
            # (ADVICE r5: it previously failed deep in vertex parsing).
            pk = re.compile(r"\(\s*(\w+)").match(sql, cm.end())
            if pk and pk.group(1).upper() in ("SELECT", "WITH", "VALUES"):
                break
            p2, i = _parse_path_body(sql, cm.end(), None, None)
            paths.append(p2)
        if re.compile(
            r"\s*,\s*(?:ANY|ALL|TOP|SHORTEST|CHEAPEST)\b", re.I
        ).match(sql, i):
            # A comma path with its own path-kind prefix previously fell
            # out of the multi-path scan silently, leaving raw MATCH text
            # for Spark to choke on (ADVICE r5) — reject it clearly, like
            # the reference's one-kind-per-MATCH planner restriction.
            raise ValueError(
                "path pattern prefix (ANY/ALL/TOP/SHORTEST/CHEAPEST) "
                "after a comma is not supported in multi-path MATCH"
            )
        if len(paths) > 1 and path.shortest:
            # The reference's planner binds one path per shortest pattern
            # (buildGraphPathAnyShortest :6709).
            raise ValueError(
                "shortest-path MATCH cannot be combined with comma paths"
            )
        return start, i, paths
    return None


def _implicit_dest(schema, hop: Hop) -> VertexElem:
    edge = schema.edge(hop.edge)
    table = edge.src_table if hop.direction == "IN" else edge.dst_table
    return VertexElem(table, table, None)


def lower_simple_path(schema, path: MatchPath) -> tuple[str, list[str]]:
    """(FROM-clause join chain, hoisted WHERE predicates)."""
    preds: list[str] = []
    src = path.source
    frags = [f"{src.table} AS {src.alias}"]
    if src.where:
        preds.append(f"({src.where})")
    used = {src.alias}

    def _uniq(alias: str) -> str:
        # Defaulted aliases (= table names) collide when a table/edge
        # repeats along the path; suffix a hop ordinal like the reference's
        # hidden-name disambiguation.
        out, n = alias, 1
        while out in used:
            out = f"{alias}__{n}"
            n += 1
        used.add(out)
        return out

    prev_alias = src.alias
    prev_pk = schema.vertex(src.table).id_col
    for hop in path.hops:
        edge = schema.edge(hop.edge)
        ealias = _uniq(hop.edge_alias)
        dest = hop.dest or _implicit_dest(schema, hop)
        dest.alias = _uniq(dest.alias)
        if hop.direction == "IN":
            near_col, far_col = edge.dst_col, edge.src_col
        else:
            near_col, far_col = edge.src_col, edge.dst_col
        if hop.direction == "BOTH":
            # Forward edges whose reverse also exists (graph.go:234-265).
            edge_sql = (
                f"(SELECT * FROM {edge.name} __e WHERE EXISTS "
                f"(SELECT 1 FROM {edge.name} __r "
                f"WHERE __r.{edge.src_col} = __e.{edge.dst_col} "
                f"AND __r.{edge.dst_col} = __e.{edge.src_col}))"
            )
        else:
            edge_sql = edge.name
        frags.append(
            f"JOIN {edge_sql} AS {ealias} "
            f"ON {ealias}.{near_col} = {prev_alias}.{prev_pk}"
        )
        dest_pk = schema.vertex(dest.table).id_col
        frags.append(
            f"JOIN {dest.table} AS {dest.alias} "
            f"ON {dest.alias}.{dest_pk} = {ealias}.{far_col}"
        )
        if dest.where:
            preds.append(f"({dest.where})")
        prev_alias, prev_pk = dest.alias, dest_pk
    return " ".join(frags), preds


_CLAUSE_RE = r"WHERE\b|GROUP\s+BY\b|HAVING\b|ORDER\s+BY\b|LIMIT\b"


def lower_multi_statement(
    schema, sql: str, start: int, end: int, paths: list[MatchPath]
) -> str:
    """Comma-separated multi-path MATCH → UNION ALL of per-path join-chain
    SELECTs (buildGraph, logical_plan_builder.go:6484-6506; the DataFrame
    twin is :func:`tidb_spark.graph.match.union_paths`).

    Supported statement shape:
    ``SELECT <proj> FROM MATCH p1, p2[, ...] [WHERE w] [ORDER BY ...]
    [LIMIT ...]`` — the projection and WHERE evaluate per path (so each
    branch's hoisted vertex predicates AND in), ORDER BY / LIMIT apply to
    the union.  GROUP BY / HAVING over a multi-path MATCH are rejected
    (aggregate over ``union_paths`` in the DataFrame API instead) — the
    text layer cannot re-scope inner aliases past the union."""
    head = sql[:start]
    hm = re.match(r"(?is)^\s*(?P<sel>SELECT\s+.+?)\s+FROM\s+$", head)
    if hm is None:
        raise NotImplementedError(
            "multi-path MATCH must be the statement's entire FROM clause"
        )
    sel = hm.group("sel").strip()
    tail = sql[end:]
    # Start offset of the first depth-0 occurrence of each clause keyword.
    clauses: dict[str, int] = {}
    for m in lex.top_level(tail, _CLAUSE_RE):
        clauses.setdefault(" ".join(m.group(0).upper().split()), m.start())
    if "GROUP BY" in clauses or "HAVING" in clauses:
        raise NotImplementedError(
            "GROUP BY / HAVING over a multi-path MATCH is not supported in "
            "SQL; aggregate over tidb_spark.graph.match.union_paths"
        )
    where_sql = None
    outer_tail = ""
    if "WHERE" in clauses:
        if tail[: clauses["WHERE"]].strip():
            raise NotImplementedError(
                "multi-path MATCH cannot be joined with further table refs"
            )
        w_start = clauses["WHERE"] + len("WHERE")
        w_end = min(
            (v for k, v in clauses.items() if k != "WHERE"),
            default=len(tail),
        )
        where_sql = tail[w_start:w_end].strip()
        outer_start = w_end
    else:
        outer_start = min(clauses.values(), default=len(tail))
        if tail[:outer_start].strip():
            raise NotImplementedError(
                "multi-path MATCH cannot be joined with further table refs"
            )
    outer_tail = tail[outer_start:].strip()
    branches = []
    for p in paths:
        chain, preds = lower_simple_path(schema, p)
        conds = list(preds)
        if where_sql:
            conds.append(f"({where_sql})")
        branch = f"{sel} FROM {chain}"
        if conds:
            branch += f" WHERE {' AND '.join(conds)}"
        branches.append(branch)
    union = " UNION ALL ".join(f"({b})" for b in branches)
    if outer_tail:
        return f"SELECT * FROM ({union}) __match_multi {outer_tail}"
    return union


def splice(sql: str, start: int, end: int, replacement: str, preds: list[str]) -> str:
    """Replace sql[start:end] with the lowered FROM fragment and AND the
    hoisted predicates into the statement's WHERE clause."""
    out = sql[:start] + replacement + sql[end:]
    tail_at = start + len(replacement)
    # The FROM list may continue after the MATCH segment with comma
    # items (`, (SELECT ...) x`, `, other_table t`): the hoisted WHERE
    # must land after the whole list, not between MATCH and the comma.
    comma = re.compile(r"\s*,\s*")
    alias = re.compile(
        r"\s+(?:AS\s+)?`?(?!(?:WHERE|GROUP|ORDER|LIMIT|HAVING|JOIN|ON"
        r"|UNION|LEFT|RIGHT|INNER|CROSS|FULL)\b)(\w+)`?",
        re.IGNORECASE,
    )
    while m := comma.match(out, tail_at):
        j = m.end()
        if j < len(out) and out[j] == "(":
            j = lex.find_closing(out, j) + 1
        else:
            # qualified names (db.tbl) must consume the whole dotted
            # chain — stopping mid-token would splice the hoisted WHERE
            # inside the item (r6 ADVICE)
            w = re.compile(r"`?\w+`?(?:\.`?\w+`?)*").match(out, j)
            if not w:
                break
            j = w.end()
        am = alias.match(out, j)
        tail_at = am.end() if am else j
    if not preds:
        return out
    conj = " AND ".join(preds)
    m = re.compile(r"\s*WHERE\b", re.IGNORECASE).match(out, tail_at)
    if m:
        return out[: m.end()] + f" {conj} AND" + out[m.end() :]
    return out[:tail_at] + f" WHERE {conj}" + out[tail_at:]
