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

import functools
import re
from dataclasses import dataclass, replace

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

INTEGRAL = ("TINYINT", "SMALLINT", "INT", "BIGINT")

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


@dataclass(frozen=True)
class ColumnDef:
    """One column as declared (the reference's ``model.ColumnInfo``,
    parser/model/model.go).  Immutable: a DDL verb builds a new one."""

    name: str
    spark_type: str
    not_null: bool = False  # recorded for SHOW CREATE; not enforced
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
    # [GENERATED ALWAYS] AS (expr) [VIRTUAL|STORED], as declared (MySQL
    # dialect; parser/model/model.go:111 GeneratedExprString).  Both kinds
    # compute at write time here (columnar storage has no row-read hook;
    # STORED semantics are read-equivalent for both).
    generated_expr: str | None = None
    generated_stored: bool = False
    # COLLATE name (util/collate/): recorded so the engine can apply its
    # case-insensitive comparison shim for *_ci collations.
    collation: str | None = None

    def ddl(self) -> str:
        """This column's CREATE TABLE item, in the form :func:`parse` reads."""
        typ = self.spark_type
        if self.domain_kind:
            vals = ",".join(f"'{v}'" for v in self.domain)
            typ = f"{self.domain_kind.upper()}({vals})"
        gen = f"GENERATED ALWAYS AS ({self.generated_expr}) "
        gen += "STORED" if self.generated_stored else "VIRTUAL"
        options = [
            self.collation and f"COLLATE {self.collation}",
            self.generated_expr and gen,
            self.not_null and "NOT NULL",
            self.default_expr and f"DEFAULT {self.default_expr}",
            self.auto_increment and "AUTO_INCREMENT",
            self.source_ref and f"SOURCE KEY REFERENCES {self.source_ref}",
            self.dest_ref and f"DESTINATION KEY REFERENCES {self.dest_ref}",
        ]
        return " ".join([f"`{self.name}` {typ}", *filter(None, options)])


def _mentions(expr: str, name: str) -> bool:
    """Whether SQL ``expr`` names column ``name`` outside its literals
    (MySQL column names are case-insensitive)."""
    word = re.compile(rf"(?i)(?<!\w){re.escape(name)}(?!\w)")
    return any(
        word.search(t) if code else t.lower() == f"`{name.lower()}`"
        for code, t in lex.segments(expr)
    )


@dataclass(frozen=True)
class TableDef:
    """A table's declared semantics — its columns, key and partitioning
    (the reference's ``model.TableInfo``).  Immutable: every DDL verb
    returns a new record, so a record can be shared (CREATE TABLE LIKE)
    and replaced only once the data it describes has committed."""

    columns: tuple[ColumnDef, ...] = ()
    key_cols: tuple[str, ...] = ()
    partition_spec: object | None = None  # sqlshim.partition.PartitionSpec

    def __post_init__(self) -> None:
        names = [c.name for c in self.columns]
        dup = next((n for n in names if names.count(n) > 1), None)
        if dup is not None:
            raise ValueError(f"Duplicate column name {dup!r}")
        autos = [c for c in self.columns if c.auto_increment]
        if len(autos) > 1:
            # MySQL: "there can be only one auto column"
            raise ValueError(
                "Incorrect table definition; there can be only one auto column"
            )
        if autos and autos[0].spark_type not in INTEGRAL:
            raise ValueError("AUTO_INCREMENT column must be an integer type")
        if autos and autos[0].generated_expr:
            raise ValueError("AUTO_INCREMENT column cannot be generated")

    @classmethod
    def from_schema(cls, struct, key_cols=(), partition_spec=None) -> TableDef:
        """The record of a table created from a Spark StructType (Python
        ``create_table``, CTAS, LIKE of a dataset table): types only.
        ``struct`` is a StructType or a list of its fields."""
        cols = (ColumnDef(f.name, f.dataType.simpleString().upper()) for f in struct)
        return cls(tuple(cols), tuple(key_cols), partition_spec)

    def col(self, name: str) -> ColumnDef | None:
        return next((c for c in self.columns if c.name == name), None)

    @property
    def edge(self) -> tuple[str, str, str, str] | None:
        """(SOURCE KEY column, DESTINATION KEY column, their vertex tables)
        of an edge table; None for any other table."""
        src = next((c for c in self.columns if c.source_ref), None)
        dst = next((c for c in self.columns if c.dest_ref), None)
        return src and dst and (src.name, dst.name, src.source_ref, dst.dest_ref)

    @functools.cached_property
    def generated(self) -> dict[str, str]:
        """Generated column -> its declared expression."""
        return {c.name: c.generated_expr for c in self.columns if c.generated_expr}

    @functools.cached_property
    def collations(self) -> dict[str, str]:
        """Column -> its declared COLLATE name."""
        return {c.name: c.collation for c in self.columns if c.collation}

    def schema_ddl(self) -> str:
        return ", ".join(f"{c.name} {c.spark_type}" for c in self.columns)

    # -- DDL verbs: each returns a new record -------------------------------

    def add_column(self, col: ColumnDef) -> TableDef:
        return replace(self, columns=(*self.columns, col))

    def drop_column(self, name: str) -> TableDef:
        self._check_unpinned(name)
        if name in self.key_cols:
            raise ValueError(f"cannot drop key column {name!r}")
        return replace(self, columns=tuple(c for c in self.columns if c.name != name))

    def rename_column(self, old: str, new: str) -> TableDef:
        """The column keeps everything it declares, a key keeps it."""
        self._check_unpinned(old)
        cols = tuple(replace(c, name=new) if c.name == old else c for c in self.columns)
        keys = tuple(new if k == old else k for k in self.key_cols)
        return replace(self, columns=cols, key_cols=keys)

    def _check_unpinned(self, name: str) -> None:
        """A column that a generated column or the partition expression
        reads can be neither dropped nor renamed (MySQL ERROR 3108 and the
        partitioning-function error)."""
        if self.col(name) is None:
            raise ValueError(f"Unknown column {name!r}")  # MySQL ERROR 1054
        if any(g != name and _mentions(e, name) for g, e in self.generated.items()):
            raise ValueError(f"Column {name!r} has a generated column dependency")
        spec = self.partition_spec
        if spec is not None and _mentions(spec.expr, name):
            raise ValueError(
                f"Column {name!r} has a partitioning function dependency and "
                "cannot be dropped or renamed"
            )

    def as_edge(self, src: str, dst: str, src_table: str, dst_table: str) -> TableDef:
        """The graph-ify ALTER: ``src``/``dst`` become the SOURCE and
        DESTINATION KEY columns and the (src, dst) key, as in CREATE."""
        refs = {src: {"source_ref": src_table}, dst: {"dest_ref": dst_table}}
        cols = tuple(
            replace(c, not_null=True, **refs[c.name]) if c.name in refs else c
            for c in self.columns
        )
        return replace(self, columns=cols, key_cols=(src, dst))

    def with_partitions(self, spec) -> TableDef:
        return replace(self, partition_spec=spec)

    def ddl(self, name: str) -> str:
        """The CREATE TABLE text that :func:`parse` reads back as this
        record (SHOW CREATE TABLE).  An edge's key is implied by its
        SOURCE/DESTINATION KEY columns."""
        items = [f"  {c.ddl()}" for c in self.columns]
        if self.key_cols and not self.edge:
            keys = ", ".join(f"`{k}`" for k in self.key_cols)
            items.append(f"  PRIMARY KEY ({keys})")
        body = ",\n".join(items)
        spec = self.partition_spec
        tail = "" if spec is None else "\n" + spec.ddl()
        return f"CREATE TABLE `{name}` (\n{body}\n){tail}"


@dataclass(frozen=True)
class CreateTableStmt:
    name: str
    table: TableDef
    if_not_exists: bool = False

    columns = property(lambda self: self.table.columns)
    pk_cols = property(lambda self: self.table.key_cols)
    partition_spec = property(lambda self: self.table.partition_spec)
    is_edge = property(lambda self: bool(self.table.edge))


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


def parse_column(item: str) -> ColumnDef:
    """One column-definition item of a CREATE TABLE body (also of ALTER
    TABLE MODIFY)."""
    cm = _COL_RE.match(item)
    if cm is None:
        raise ValueError(f"unsupported CREATE TABLE item: {item!r}")
    name, rest = cm.group("name"), cm.group("rest") or ""
    opts: dict = {}
    dm_ = _DEFAULT_RE.search(rest)
    if dm_ and dm_.group(1).upper() != "NULL":
        d = dm_.group(1)
        opts["default_expr"] = (
            "CURRENT_TIMESTAMP"
            if d.upper().startswith(("CURRENT_TIMESTAMP", "NOW"))
            else d
        )
    gm = re.search(r"(?is)\b(?:GENERATED\s+ALWAYS\s+)?AS\s*\(", rest)
    if gm:
        try:
            close = lex.find_closing(rest, gm.end() - 1)
        except ValueError:
            raise ValueError(f"unbalanced generated-column expr: {item!r}") from None
        opts["generated_expr"] = rest[gm.end() : close].strip()
        tail = rest[close + 1 :]
        opts["generated_stored"] = bool(re.match(r"(?is)^\s*STORED\b", tail))
    colm = re.search(r"(?is)\bCOLLATE\s+`?(\w+)`?", rest)
    if colm:
        opts["collation"] = colm.group(1)
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
            raise ValueError(f"{base_u} column {name!r} needs values")
        if len(set(vals)) != len(vals):
            raise ValueError(f"Duplicated value in {base_u}: {name!r}")
        opts["domain_kind"], opts["domain"] = base_u.lower(), vals
    src_m, dst_m = _SRC_RE.search(rest), _DST_RE.search(rest)
    if src_m and dst_m:
        raise ValueError("a column cannot be both SOURCE KEY and DESTINATION KEY")
    return ColumnDef(
        name=name,
        spark_type=_map_type(
            cm.group("type"), cm.group("params"), bool(_UNSIGNED_RE.search(rest))
        ),
        not_null=bool(_NOT_NULL_RE.search(rest)),
        source_ref=src_m and src_m.group(1),
        dest_ref=dst_m and dst_m.group(1),
        auto_increment=bool(re.search(r"(?is)\bAUTO_INCREMENT\b", rest)),
        **opts,
    )


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
    cols: list[ColumnDef] = []
    pk_cols: list[str] = []
    for item in lex.split_args(m.group("body")):
        pk_m = _PK_TABLE_RE.match(item)
        if pk_m:
            if pk_cols:
                raise ValueError("Multiple primary key defined")
            pk_cols = [c.strip().strip("`") for c in pk_m.group("cols").split(",")]
            continue
        if _INDEX_RE.match(item):
            # Secondary indexes are physical-layout hints in the reference;
            # Spark's analogue is bucketing/sorting at write time — accepted
            # and ignored here.
            continue
        col = parse_column(item)
        if _PK_INLINE_RE.search(item) and not (col.source_ref or col.dest_ref):
            if pk_cols:
                raise ValueError("Multiple primary key defined")
            pk_cols = [col.name]
        cols.append(col)

    # handleEdgeOptions validation (ddl/ddl_api.go:1953-1985).
    srcs = [c for c in cols if c.source_ref]
    dsts = [c for c in cols if c.dest_ref]
    for kind, refs in (("SOURCE", srcs), ("DESTINATION", dsts)):
        if len(refs) > 1:
            raise ValueError(f"Only one column can be specified {kind} KEY option")
    if bool(srcs) != bool(dsts):
        raise ValueError(
            "SOURCE KEY and DESTINATION KEY columns need to be specified "
            "at the same time"
        )
    if srcs and pk_cols:
        raise ValueError("can not specified primary key on edge")
    table = TableDef(tuple(cols), tuple(pk_cols))
    if table.edge:
        # The reference synthesizes the clustered (src, dst) primary key and
        # marks both columns NOT NULL (ddl_api.go:2000-2008).
        table = table.as_edge(*table.edge)
    if part_text is not None:
        spec = _part.parse_spec(part_text)
        col_m = re.match(r"^`?(\w+)`?$", spec.expr)
        if col_m and table.col(col_m.group(1)) is None:
            raise ValueError(
                f"partition column {col_m.group(1)!r} is not a table column"
            )
        table = table.with_partitions(spec)
    return CreateTableStmt(m.group("name"), table, bool(m.group("ine")))
