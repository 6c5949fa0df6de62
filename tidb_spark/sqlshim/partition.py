"""Table partitioning: ``PARTITION BY RANGE / HASH / LIST`` DDL.

Reference surface: partition model ``parser/model/model.go:820-822``
(RANGE / HASH / LIST), DDL handling ``ddl/partition.go`` (bound checking:
"VALUES LESS THAN value must be strictly increasing for each partition";
insert with no matching partition → ``Table has no partition for value``,
error 1526), and planner-side static pruning
``planner/core/rule_partition_processor.go`` (equality / range / IN
predicates on the partition expression select the partition subset at plan
time).

Spark-first mapping: each managed-table write computes a hidden label
column ``__part`` (a codegen CASE chain / pmod — JVM-side, no UDF) and
writes with ``partitionBy("__part")`` — Hive-style directory partitioning.
A filter on ``__part`` therefore becomes a *native Spark partition-pruning*
predicate (``PartitionFilters`` in the scan, whole directories skipped —
the 100 TB behavior the reference gets from its partition processor).  The
engine mirrors ``rule_partition_processor`` by statically mapping simple
WHERE predicates on the partition column to a ``__part IN (...)`` filter
(:meth:`PartitionSpec.prune`), and supports MySQL's explicit
``FROM t PARTITION (p0, p1)`` selection syntax.

NULL routing follows MySQL: RANGE → lowest partition; HASH → partition 0;
LIST → only a partition explicitly listing NULL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_spark.sqlshim import lex

PART_COL = "__part"

_SPEC_RE = re.compile(
    r"(?is)^\s*PARTITION\s+BY\s+"
    r"(?P<method>RANGE|LIST|HASH|KEY)\s*"
    r"(?P<columns>COLUMNS)?\s*\(\s*(?P<expr>[^)]+?)\s*\)\s*"
    r"(?:PARTITIONS\s+(?P<num>\d+))?\s*"
    r"(?:\(\s*(?P<parts>.*)\s*\))?\s*;?\s*$"
)

_RANGE_PART_RE = re.compile(
    r"(?is)^PARTITION\s+`?(?P<name>\w+)`?\s+VALUES\s+LESS\s+THAN\s*"
    r"(?:\(\s*(?P<bound>.+?)\s*\)|(?P<maxval>MAXVALUE))$"
)
_LIST_PART_RE = re.compile(
    r"(?is)^PARTITION\s+`?(?P<name>\w+)`?\s+VALUES\s+IN\s*"
    r"\(\s*(?P<vals>.+?)\s*\)$"
)


def _parse_literal(text: str):
    """SQL literal → Python value for driver-side bound comparison.
    Strings (and dates, which MySQL partitions compare as their literal
    form) stay strings; integers/floats go numeric; MAXVALUE → +inf."""
    t = text.strip()
    if t.upper() == "MAXVALUE":
        return float("inf")
    if t.upper() == "NULL":
        return None
    if (t.startswith("'") and t.endswith("'")) or (
        t.startswith('"') and t.endswith('"')
    ):
        return t[1:-1]
    try:
        return int(t)
    except ValueError:
        try:
            return float(t)
        except ValueError:
            return t


def _lt(a, b) -> bool:
    if b == float("inf"):
        return True
    if a == float("inf"):
        return False
    if isinstance(a, str) != isinstance(b, str):
        a, b = str(a), str(b)
    return a < b


@dataclass(frozen=True)
class PartitionSpec:
    """One table's partitioning clause.  Immutable: ADD and DROP PARTITION
    build a new spec (:meth:`added`, :meth:`without`).

    ``bounds``: RANGE — ascending exclusive upper-bound literal SQL strings
    (last may be ``MAXVALUE``); LIST — one tuple of literal SQL strings per
    partition; HASH — unused."""

    method: str  # RANGE | LIST | HASH
    expr: str  # partition expression (SQL over base columns)
    names: tuple[str, ...] = ()
    bounds: tuple = ()
    num: int = 0  # HASH partition count

    # -- label computation (write path) ------------------------------------

    def label_col(self) -> Column:
        """The ``__part`` label for each row, as a codegen column expression
        (CASE chain / pmod — never a Python UDF).  A row matching no
        partition raises at write time via ``raise_error`` — the
        reference's error 1526 'Table has no partition for value'."""
        e = F.expr(self.expr)
        if self.method == "HASH":
            idx = F.pmod(F.coalesce(e.cast("long"), F.lit(0)), F.lit(self.num))
            return F.concat(F.lit("p"), idx.cast("string"))
        err = F.raise_error(
            F.concat(
                F.lit("Table has no partition for value "),
                F.coalesce(e.cast("string"), F.lit("NULL")),
            )
        )
        if self.method == "RANGE":
            # NULL sorts below every bound in MySQL RANGE partitioning →
            # lowest partition.
            col = F.when(e.isNull(), F.lit(self.names[0]))
            for name, bound in zip(self.names, self.bounds):
                if str(bound).upper() == "MAXVALUE":
                    col = col.when(F.lit(True), F.lit(name))
                else:
                    col = col.when(e < F.expr(str(bound)), F.lit(name))
            return col.otherwise(err)
        # LIST
        col = None
        for name, vals in zip(self.names, self.bounds):
            non_null = [v for v in vals if str(v).upper() != "NULL"]
            cond = F.lit(False)
            if non_null:
                cond = e.isin(*[_py_lit(v) for v in non_null])
            if len(non_null) < len(vals):  # NULL listed for this partition
                cond = cond | e.isNull()
            col = F.when(cond, F.lit(name)) if col is None else col.when(
                cond, F.lit(name)
            )
        return col.otherwise(err)

    # -- DDL round-trip ----------------------------------------------------

    def ddl(self) -> str:
        if self.method == "HASH":
            return f"PARTITION BY HASH ({self.expr}) PARTITIONS {self.num}"
        if self.method == "RANGE":
            parts = ", ".join(
                f"PARTITION `{n}` VALUES LESS THAN "
                + ("MAXVALUE" if str(b).upper() == "MAXVALUE" else f"({b})")
                for n, b in zip(self.names, self.bounds)
            )
            return f"PARTITION BY RANGE ({self.expr}) ({parts})"
        parts = ", ".join(
            f"PARTITION `{n}` VALUES IN ({', '.join(map(str, vs))})"
            for n, vs in zip(self.names, self.bounds)
        )
        return f"PARTITION BY LIST ({self.expr}) ({parts})"

    def partition_names(self) -> list[str]:
        if self.method == "HASH":
            return [f"p{i}" for i in range(self.num)]
        return list(self.names)

    # -- DDL: ADD / DROP PARTITION (ddl/partition.go) -----------------------

    def added(self, defs: str) -> PartitionSpec:
        """This spec with the RANGE/LIST ``PARTITION …`` definitions of
        ``defs`` appended: RANGE bounds must strictly increase, LIST values
        and partition names must be unique."""
        names, bounds = list(self.names), list(self.bounds)
        for item in lex.split_args(defs):
            rx = _RANGE_PART_RE if self.method == "RANGE" else _LIST_PART_RE
            pm = rx.match(item)
            if pm is None:
                raise ValueError(
                    f"unsupported {self.method} partition def: {item!r}"
                )
            if self.method == "RANGE":
                bound = "MAXVALUE" if pm.group("maxval") else pm.group("bound")
                if bounds and not _lt(
                    _parse_literal(str(bounds[-1])), _parse_literal(bound)
                ):
                    raise ValueError(
                        "VALUES LESS THAN value must be strictly increasing "
                        "for each partition"
                    )
            else:
                bound = tuple(lex.split_args(pm.group("vals")))
                seen = {_parse_literal(str(v)) for vs in bounds for v in vs}
                dup = [v for v in bound if _parse_literal(str(v)) in seen]
                if dup:
                    raise ValueError(
                        f"Multiple definition of same constant: {dup[0]}"
                    )
            names.append(pm.group("name"))
            bounds.append(bound)
        if len(set(names)) != len(names):
            raise ValueError("Duplicate partition name")
        return replace(self, names=tuple(names), bounds=tuple(bounds))

    def without(self, dropped: list[str]) -> PartitionSpec:
        """This spec without the named RANGE/LIST partitions."""
        kept = [i for i, n in enumerate(self.names) if n not in dropped]
        names, bounds = (tuple(xs[i] for i in kept) for xs in (self.names, self.bounds))
        return replace(self, names=names, bounds=bounds)

    # -- static pruning (rule_partition_processor analogue) ----------------

    def _range_sets(self):
        """(lows, highs) per partition: [low, high) driver-side values."""
        lows, highs = [], []
        prev = None
        for b in self.bounds:
            lows.append(prev)
            highs.append(_parse_literal(str(b)))
            prev = highs[-1]
        return lows, highs

    def partitions_for(self, op: str, value) -> list[str] | None:
        """Partitions possibly containing rows where ``<expr> <op> value``.
        ``op`` ∈ {=, <, <=, >, >=, is_null}.  None = cannot prune (keep
        all).  Only meaningful when the partition expression is a bare
        column (the engine checks)."""
        names = self.partition_names()
        if self.method == "HASH":
            if op == "is_null":
                return ["p0"]
            if op == "=":
                if not isinstance(value, (int, float)) or isinstance(
                    value, bool
                ):
                    return None
                return [f"p{int(value) % self.num}"]
            return None
        if self.method == "LIST":
            if op == "is_null":
                return [
                    n
                    for n, vs in zip(self.names, self.bounds)
                    if any(str(v).upper() == "NULL" for v in vs)
                ]
            if op == "=":
                return [
                    n
                    for n, vs in zip(self.names, self.bounds)
                    if any(
                        _parse_literal(str(v)) == value
                        for v in vs
                        if str(v).upper() != "NULL"
                    )
                ]
            return None
        # RANGE
        lows, highs = self._range_sets()
        if op == "is_null":
            return [names[0]]
        keep = []
        for n, lo, hi in zip(names, lows, highs):
            if op == "=":
                ok = (lo is None or not _lt(value, lo)) and _lt(value, hi)
            elif op == "<":
                ok = lo is None or _lt(lo, value)
            elif op == "<=":
                ok = lo is None or _lt(lo, value) or lo == value
            elif op == ">":
                ok = _lt(value, hi)
            elif op == ">=":
                ok = _lt(value, hi)
            else:
                return None
            if ok:
                keep.append(n)
        return keep

    def prune_where(self, where_text: str) -> list[str] | None:
        """Conservative static pruning from a WHERE-clause text: extract
        top-level ``col op literal`` / ``col IN (...)`` / ``col BETWEEN a
        AND b`` / ``col IS NULL`` predicates on the partition column and
        intersect their partition sets.  Any OR, or no recognizable
        predicate → None (scan all partitions — always correct, just
        unpruned).  Mirrors rule_partition_processor.go's static prune."""
        col_m = re.match(r"^\s*`?(\w+)`?\s*$", self.expr)
        if col_m is None:
            return None
        col = col_m.group(1)
        if re.search(r"(?i)\bOR\b", where_text):
            return None
        allowed: set[str] | None = None

        def narrow(parts: list[str] | None):
            nonlocal allowed
            if parts is None:
                return
            allowed = set(parts) if allowed is None else allowed & set(parts)

        lit = r"('(?:[^'\\]|\\.)*'|-?\d+(?:\.\d+)?)"
        for m in re.finditer(
            rf"(?i)\b`?{col}`?\s*(=|<=|>=|<|>)\s*{lit}", where_text
        ):
            narrow(self.partitions_for(m.group(1), _parse_literal(m.group(2))))
        for m in re.finditer(
            rf"(?i)\b{lit}\s*(=|<=|>=|<|>)\s*`?{col}`?\b", where_text
        ):
            flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}
            op = flip.get(m.group(2), m.group(2))
            narrow(self.partitions_for(op, _parse_literal(m.group(1))))
        for m in re.finditer(
            rf"(?i)\b`?{col}`?\s+IN\s*\(([^()]*)\)", where_text
        ):
            union: set[str] = set()
            bad = False
            for v in m.group(1).split(","):
                p = self.partitions_for("=", _parse_literal(v))
                if p is None:
                    bad = True
                    break
                union |= set(p)
            if not bad:
                narrow(sorted(union))
        for m in re.finditer(
            rf"(?i)\b`?{col}`?\s+BETWEEN\s+{lit}\s+AND\s+{lit}", where_text
        ):
            lo = self.partitions_for(">=", _parse_literal(m.group(1)))
            hi = self.partitions_for("<=", _parse_literal(m.group(2)))
            narrow(lo)
            narrow(hi)
        if re.search(rf"(?i)\b`?{col}`?\s+IS\s+NULL\b", where_text):
            narrow(self.partitions_for("is_null", None))
        if allowed is None:
            return None
        return [n for n in self.partition_names() if n in allowed]


def _py_lit(sql_literal: str) -> object:
    """SQL literal string → value usable in Column.isin."""
    return _parse_literal(str(sql_literal))


def parse_spec(text: str) -> PartitionSpec:
    """Parse a ``PARTITION BY …`` clause (the CREATE TABLE tail)."""
    m = _SPEC_RE.match(text)
    if m is None:
        raise ValueError(f"unsupported PARTITION BY clause: {text!r}")
    method = m.group("method").upper()
    expr = m.group("expr").strip().strip("`")
    if method == "KEY":
        method = "HASH"  # KEY hashes the column(s); same routing shape.
    if method == "HASH":
        num = int(m.group("num") or 0)
        if num <= 0:
            raise ValueError("PARTITION BY HASH requires PARTITIONS n")
        return PartitionSpec(method="HASH", expr=expr, num=num)
    body = m.group("parts")
    if not body:
        raise ValueError(f"PARTITION BY {method} requires a partition list")
    return PartitionSpec(method=method, expr=expr).added(body)


def split_partition_clause(sql: str) -> tuple[str, str | None]:
    """Split a CREATE TABLE statement into (head, partition-clause-text):
    finds the top-level (outside parens/strings) ``PARTITION BY``.  Returns
    (sql, None) when the statement has no partition clause."""
    m = next(lex.top_level(sql, r"PARTITION\s+BY\b"), None)
    if m is None:
        return sql, None
    return sql[: m.start()].rstrip(), sql[m.start() :].strip().rstrip(";")
