"""CREATE TABLE statement parsing — including the fork's signature graph
DDL: ``src BIGINT SOURCE KEY REFERENCES t, dst BIGINT DESTINATION KEY
REFERENCES t`` column options.

Reference surface: grammar ``parser/parser.y:8861-9002`` (ColumnOption
SOURCE KEY / DESTINATION KEY), semantics ``ddl/ddl_api.go:1946-2025``
(``handleEdgeOptions``: exactly one SOURCE and one DESTINATION column, both
or neither, user PRIMARY KEY forbidden on edges, (src,dst) key
synthesized), exercised in SQL at ``executor/write_test.go:4254-4282``.

This is a deliberately small recursive-descent-free parser: the column list
is split on top-level commas (string/paren aware), each item matched
against column-def / table-constraint patterns.  MySQL types map onto Spark
SQL types per SURVEY §1.2 (notably BIGINT UNSIGNED → DECIMAL(20,0), since
Spark has no unsigned 64-bit integral type).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from tidb_spark.sqlshim import lex

_CREATE_RE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s*\((?P<body>.*)\)\s*(?P<opts>[^()]*?)\s*;?\s*$"
)

# MySQL base type → Spark SQL DDL type.  Parametrized types handled below.
_TYPE_MAP = {
    "TINYINT": "TINYINT",
    "SMALLINT": "SMALLINT",
    "MEDIUMINT": "INT",
    "INT": "INT",
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "FLOAT": "FLOAT",
    "DOUBLE": "DOUBLE",
    "REAL": "DOUBLE",
    "BOOLEAN": "BOOLEAN",
    "BOOL": "BOOLEAN",
    "DATE": "DATE",
    "DATETIME": "TIMESTAMP",
    "TIMESTAMP": "TIMESTAMP",
    "TIME": "STRING",
    "YEAR": "INT",
    "CHAR": "STRING",
    "VARCHAR": "STRING",
    "TINYTEXT": "STRING",
    "TEXT": "STRING",
    "MEDIUMTEXT": "STRING",
    "LONGTEXT": "STRING",
    "JSON": "STRING",
    # Spark simpleString() names, so SHOW CREATE TABLE output re-parses.
    "STRING": "STRING",
    "ENUM": "STRING",
    "SET": "STRING",
    "BINARY": "BINARY",
    "VARBINARY": "BINARY",
    "TINYBLOB": "BINARY",
    "BLOB": "BINARY",
    "MEDIUMBLOB": "BINARY",
    "LONGBLOB": "BINARY",
    "BIT": "BIGINT",
}

_COL_RE = re.compile(
    r"(?is)^\s*`?(?P<name>\w+)`?\s+(?P<type>\w+)(?:\((?P<params>[^)]*)\))?"
    r"(?P<rest>.*)$"
)

_SRC_RE = re.compile(r"(?is)\bSOURCE\s+KEY\s+REFERENCES\s+`?(\w+)`?")
_DST_RE = re.compile(r"(?is)\bDESTINATION\s+KEY\s+REFERENCES\s+`?(\w+)`?")
_PK_INLINE_RE = re.compile(r"(?is)\bPRIMARY\s+KEY\b")
_PK_TABLE_RE = re.compile(r"(?is)^\s*PRIMARY\s+KEY\s*\(\s*(?P<cols>[^)]*)\)\s*$")
_INDEX_RE = re.compile(
    r"(?is)^\s*(?:UNIQUE\s+(?:KEY|INDEX)|KEY|INDEX|CONSTRAINT|FOREIGN\s+KEY"
    r"|FULLTEXT)\b"
)
_UNSIGNED_RE = re.compile(r"(?is)\bUNSIGNED\b")
_NOT_NULL_RE = re.compile(r"(?is)\bNOT\s+NULL\b")
_DEFAULT_RE = re.compile(
    r"(?is)\bDEFAULT\s+("
    r"NULL\b|CURRENT_TIMESTAMP(?:\(\d*\))?|NOW\(\)|"
    r"'(?:[^'\\]|\\.)*'|-?\d+(?:\.\d+)?|TRUE\b|FALSE\b"
    r")"
)


@dataclass
class ColumnDef:
    name: str
    spark_type: str
    not_null: bool = False
    primary_key: bool = False
    source_ref: str | None = None  # vertex table SOURCE KEY references
    dest_ref: str | None = None
    # ENUM('a','b') / SET('a','b') value domains (types/enum.go, types/set.go)
    # — storage is STRING, but writes validate against the domain.
    domain_kind: str | None = None  # "enum" | "set"
    domain: tuple[str, ...] = ()
    # DEFAULT literal (ast ColumnOptionDefaultValue): SQL expression text
    # evaluated when an INSERT omits the column.
    default_expr: str | None = None
    # AUTO_INCREMENT (ddl/ddl_api.go:2463 handleAutoIncID — the reference
    # keeps a per-table ID counter; here the counter is MAX(col) at write).
    auto_increment: bool = False
    # [GENERATED ALWAYS] AS (expr) [VIRTUAL|STORED]
    # (parser/model/model.go:111 GeneratedExprString).  Both kinds compute
    # at write time here (columnar storage has no row-read hook; STORED
    # semantics are read-equivalent for both).
    generated_expr: str | None = None
    generated_stored: bool = False
    # COLLATE name (util/collate/): recorded so the engine can apply its
    # case-insensitive comparison shim for *_ci collations.
    collation: str | None = None


@dataclass
class CreateTableStmt:
    name: str
    columns: list[ColumnDef] = field(default_factory=list)
    pk_cols: list[str] = field(default_factory=list)
    if_not_exists: bool = False
    partition_spec: object | None = None  # sqlshim.partition.PartitionSpec

    @property
    def is_edge(self) -> bool:
        return any(c.source_ref or c.dest_ref for c in self.columns)

    def schema_ddl(self) -> str:
        return ", ".join(f"{c.name} {c.spark_type}" for c in self.columns)


def _map_type(base: str, params: str | None, unsigned: bool) -> str:
    base = base.upper()
    if base == "DECIMAL" or base == "NUMERIC":
        if not params:
            return "DECIMAL(10,0)"
        parts = [p.strip() for p in params.split(",")]
        prec = int(parts[0])
        scale = int(parts[1]) if len(parts) > 1 else 0
        if prec > 38:
            # MySQL allows DECIMAL(65,30); Spark's maximum precision is 38.
            # Clamp with a warning (SURVEY §1.2) — scale shrinks by the same
            # amount so the integral range is preserved.
            import warnings

            new_scale = max(0, scale - (prec - 38))
            warnings.warn(
                f"DECIMAL({prec},{scale}) exceeds Spark's max precision 38; "
                f"clamped to DECIMAL(38,{new_scale})",
                stacklevel=2,
            )
            prec, scale = 38, new_scale
        return f"DECIMAL({prec},{scale})"
    if base not in _TYPE_MAP:
        raise ValueError(f"unsupported column type: {base}")
    t = _TYPE_MAP[base]
    if unsigned:
        # SURVEY §1.2: Spark has no unsigned integrals.  BIGINT UNSIGNED
        # needs the full 0..2^64-1 domain → DECIMAL(20,0); smaller unsigned
        # types fit the next-wider signed integral.
        widen = {"TINYINT": "SMALLINT", "SMALLINT": "INT", "INT": "BIGINT",
                 "BIGINT": "DECIMAL(20,0)"}
        t = widen.get(t, t)
    return t


def parse(sql: str) -> CreateTableStmt | None:
    """Parse CREATE TABLE, or return None if this is not one.  Raises on a
    malformed/unsupported body so callers surface a real error instead of
    silently running it as a query."""
    from tidb_spark.sqlshim import partition as _part

    sql, part_text = _part.split_partition_clause(sql)
    m = _CREATE_RE.match(sql)
    if m is None:
        if re.match(r"(?is)^\s*CREATE\s+TABLE\b", sql):
            raise ValueError(
                "unsupported CREATE TABLE form (expected a parenthesized "
                "column list; CTAS is not supported — use "
                "engine.create_table(name, df, key_cols) from Python)"
            )
        return None
    stmt = CreateTableStmt(
        name=m.group("name"), if_not_exists=bool(m.group("ine"))
    )
    if part_text is not None:
        stmt.partition_spec = _part.parse_spec(part_text)
    for item in lex.split_args(m.group("body")):
        item = item.strip()
        if not item:
            continue
        pk_m = _PK_TABLE_RE.match(item)
        if pk_m:
            cols = [c.strip().strip("`") for c in pk_m.group("cols").split(",")]
            if stmt.pk_cols:
                raise ValueError("Multiple primary key defined")
            stmt.pk_cols = cols
            continue
        if _INDEX_RE.match(item):
            # Secondary indexes are physical-layout hints in the reference;
            # Spark's analogue is bucketing/sorting at write time — accepted
            # and ignored here.
            continue
        cm = _COL_RE.match(item)
        if cm is None:
            raise ValueError(f"unsupported CREATE TABLE item: {item!r}")
        rest = cm.group("rest") or ""
        col = ColumnDef(
            name=cm.group("name"),
            spark_type=_map_type(
                cm.group("type"), cm.group("params"), bool(_UNSIGNED_RE.search(rest))
            ),
            not_null=bool(_NOT_NULL_RE.search(rest)),
        )
        col.auto_increment = bool(
            re.search(r"(?is)\bAUTO_INCREMENT\b", rest)
        )
        dm_ = _DEFAULT_RE.search(rest)
        if dm_:
            d = dm_.group(1)
            if d.upper() != "NULL":
                col.default_expr = (
                    "CURRENT_TIMESTAMP"
                    if d.upper().startswith(("CURRENT_TIMESTAMP", "NOW"))
                    else d
                )
        gm = re.search(r"(?is)\b(?:GENERATED\s+ALWAYS\s+)?AS\s*\(", rest)
        if gm:
            try:
                close = lex.find_closing(rest, gm.end() - 1)
            except ValueError:
                raise ValueError(
                    f"unbalanced generated-column expr: {item!r}"
                ) from None
            col.generated_expr = rest[gm.end() : close].strip()
            tail = rest[close + 1 :]
            col.generated_stored = bool(re.match(r"(?is)^\s*STORED\b", tail))
        colm = re.search(r"(?is)\bCOLLATE\s+`?(\w+)`?", rest)
        if colm:
            col.collation = colm.group(1)
        base_u = cm.group("type").upper()
        if base_u in ("ENUM", "SET"):
            # Capture the value domain; ENUM rejects duplicate members like
            # the reference (types/enum.go ParseEnumName over a fixed list).
            vals = tuple(
                v.strip().strip("'\"")
                for v in lex.split_args(cm.group("params") or "")
                if v.strip()
            )
            if not vals:
                raise ValueError(f"{base_u} column {col.name!r} needs values")
            if len(set(vals)) != len(vals):
                raise ValueError(f"Duplicated value in {base_u}: {col.name!r}")
            col.domain_kind, col.domain = base_u.lower(), vals
        src_m, dst_m = _SRC_RE.search(rest), _DST_RE.search(rest)
        if src_m:
            col.source_ref = src_m.group(1)
        if dst_m:
            col.dest_ref = dst_m.group(1)
        if src_m and dst_m:
            raise ValueError(
                "a column cannot be both SOURCE KEY and DESTINATION KEY"
            )
        if _PK_INLINE_RE.search(rest) and not src_m and not dst_m:
            col.primary_key = True
            if stmt.pk_cols:
                raise ValueError("Multiple primary key defined")
            stmt.pk_cols = [col.name]
        stmt.columns.append(col)

    autos = [c for c in stmt.columns if c.auto_increment]
    if len(autos) > 1:
        # MySQL: "there can be only one auto column"
        raise ValueError("Incorrect table definition; there can be only one auto column")
    if autos and autos[0].spark_type not in ("TINYINT", "SMALLINT", "INT", "BIGINT"):
        raise ValueError("AUTO_INCREMENT column must be an integer type")
    if autos and autos[0].generated_expr:
        raise ValueError("AUTO_INCREMENT column cannot be generated")

    # handleEdgeOptions validation (ddl/ddl_api.go:1953-1985).
    srcs = [c for c in stmt.columns if c.source_ref]
    dsts = [c for c in stmt.columns if c.dest_ref]
    if len(srcs) > 1:
        raise ValueError("Only one column can be specified SOURCE KEY option")
    if len(dsts) > 1:
        raise ValueError(
            "Only one column can be specified DESTINATION KEY option"
        )
    if bool(srcs) != bool(dsts):
        raise ValueError(
            "SOURCE KEY and DESTINATION KEY columns need to be specified "
            "at the same time"
        )
    if srcs and stmt.pk_cols:
        raise ValueError("can not specified primary key on edge")
    if srcs:
        # The reference synthesizes the clustered (src, dst) primary key and
        # marks both columns NOT NULL (ddl_api.go:2000-2008).
        stmt.pk_cols = [srcs[0].name, dsts[0].name]
        srcs[0].not_null = dsts[0].not_null = True
    if stmt.partition_spec is not None:
        col_m = re.match(r"^`?(\w+)`?$", stmt.partition_spec.expr)
        if col_m and col_m.group(1) not in {c.name for c in stmt.columns}:
            raise ValueError(
                f"partition column {col_m.group(1)!r} is not a table column"
            )
    return stmt
