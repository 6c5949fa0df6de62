"""Quantified subquery comparisons — ``x <op> ALL|ANY|SOME (SELECT ...)``.

MySQL and the reference execute quantified comparisons (the planner
decorrelates them into aggregate joins — planner/core/expression_rewriter.go
handleCompareSubquery: ``> ALL`` becomes a MAX() comparison with explicit
NULL bookkeeping); Spark's parser rejects the syntax outright.  This
module lowers the predicate to scalar-subquery aggregates with the full
three-valued MySQL semantics:

    x > ALL (S)   TRUE  if S is empty
                  NULL  if x IS NULL (S non-empty)
                  FALSE if some non-NULL s fails the comparison
                  NULL  if undecided because S contains NULLs
                  TRUE  otherwise (x > MAX(S))

    x > ANY (S)   FALSE if S is empty; TRUE if some non-NULL s satisfies
                  (x > MIN(S)); NULL when only NULLs could decide.

``= ANY`` lowers to IN and ``<> ALL`` to NOT IN (Spark's own NULL
semantics for IN match MySQL's).  ``= ALL`` / ``<> ANY`` use the
MIN=MAX collapse.  SOME is ANY.

The three scalar subqueries per predicate (COUNT(*), COUNT(col),
MIN/MAX) are textually identical copies of the original subquery, which
Catalyst deduplicates at physical planning (ReusedSubquery), so the
subquery executes once.
"""

from __future__ import annotations

import itertools
import re

from tidb_spark.sqlshim import lex

_GATE_RE = re.compile(r"(?is)\b(ALL|ANY|SOME)\s*\(\s*SELECT\b")
_OP_RE = re.compile(r"(>=|<=|<>|!=|=|>|<)\s*$")
_ALIAS_N = itertools.count()


def _lhs_start(sql: str, end: int) -> int:
    """Start index of the simple operand ending at ``end`` (exclusive):
    a chain of identifiers / qualified names / literals / balanced
    call-parens, scanned backwards.  Hand-written because ``lex`` scans
    forwards only."""
    i = end
    while i > 0 and sql[i - 1].isspace():
        i -= 1
    start = i
    while start > 0:
        c = sql[start - 1]
        if c == ")":
            # balanced group (function call args), scan back to its '('
            depth = 0
            j = start - 1
            while j >= 0:
                if sql[j] == ")":
                    depth += 1
                elif sql[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if j < 0:
                break
            start = j
            continue
        if c.isalnum() or c in "_.`@$'":
            j = start - 1
            if c == "'":
                # string literal: scan to its opening quote
                j -= 1
                while j >= 0 and sql[j] != "'":
                    j -= 1
                if j < 0:
                    break
                start = j
                continue
            while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "_.`@$"):
                j -= 1
            start = j
            continue
        break
    tok = sql[start:i].strip()
    if not tok:
        raise ValueError(
            "quantified comparison: cannot determine the left operand "
            "(use a simple column/function operand before ALL/ANY)"
        )
    return start


def _build(op: str, quant: str, lhs: str, subq: str) -> str:
    n = next(_ALIAS_N)

    def wrap(agg: str) -> str:
        nonlocal n
        n += 1
        return f"(SELECT {agg} FROM ({subq}) __qsub{n}(__qc))"

    cnt = wrap("COUNT(*)")
    nn = wrap("COUNT(__qc)")
    null_bool = "CAST(NULL AS BOOLEAN)"
    if op in ("=", "<>", "!="):
        eq = op == "="
        if (eq and quant == "ANY") or (not eq and quant == "ALL"):
            # IN / NOT IN semantics — but NOT via Spark's InSubquery,
            # whose value-position result is FALSE where the standard
            # (and MySQL) say NULL when only NULLs could match.
            n2 = next(_ALIAS_N)
            eqcnt = (
                f"(SELECT COUNT(*) FROM ({subq}) __qeq{n2}(__qc) "
                f"WHERE __qc = ({lhs}))"
            )
            if eq:  # = ANY
                return (
                    f"(CASE WHEN {cnt} = 0 THEN FALSE "
                    f"WHEN ({lhs}) IS NULL THEN {null_bool} "
                    f"WHEN {eqcnt} > 0 THEN TRUE "
                    f"WHEN {nn} < {cnt} THEN {null_bool} ELSE FALSE END)"
                )
            # <> ALL
            return (
                f"(CASE WHEN {cnt} = 0 THEN TRUE "
                f"WHEN ({lhs}) IS NULL THEN {null_bool} "
                f"WHEN {eqcnt} > 0 THEN FALSE "
                f"WHEN {nn} < {cnt} THEN {null_bool} ELSE TRUE END)"
            )
        mn, mx = wrap("MIN(__qc)"), wrap("MAX(__qc)")
        differs = f"({mn} <> ({lhs}) OR {mx} <> ({lhs}))"
        if eq:  # = ALL
            return (
                f"(CASE WHEN {cnt} = 0 THEN TRUE "
                f"WHEN ({lhs}) IS NULL THEN {null_bool} "
                f"WHEN {nn} > 0 AND {differs} THEN FALSE "
                f"WHEN {nn} < {cnt} THEN {null_bool} ELSE TRUE END)"
            )
        # <> ANY
        return (
            f"(CASE WHEN {cnt} = 0 THEN FALSE "
            f"WHEN ({lhs}) IS NULL THEN {null_bool} "
            f"WHEN {nn} > 0 AND {differs} THEN TRUE "
            f"WHEN {nn} < {cnt} THEN {null_bool} ELSE FALSE END)"
        )
    # Ordering comparisons: ALL tests against the adversarial bound,
    # ANY against the favorable one.
    if quant == "ALL":
        bound = wrap("MAX(__qc)") if op in (">", ">=") else wrap("MIN(__qc)")
        return (
            f"(CASE WHEN {cnt} = 0 THEN TRUE "
            f"WHEN ({lhs}) IS NULL THEN {null_bool} "
            f"WHEN {nn} > 0 AND NOT(({lhs}) {op} {bound}) THEN FALSE "
            f"WHEN {nn} < {cnt} THEN {null_bool} ELSE TRUE END)"
        )
    bound = wrap("MIN(__qc)") if op in (">", ">=") else wrap("MAX(__qc)")
    return (
        f"(CASE WHEN {cnt} = 0 THEN FALSE "
        f"WHEN ({lhs}) IS NULL THEN {null_bool} "
        f"WHEN {nn} > 0 AND (({lhs}) {op} {bound}) THEN TRUE "
        f"WHEN {nn} < {cnt} THEN {null_bool} ELSE FALSE END)"
    )


def lower(sql: str) -> str:
    """Rewrite every quantified comparison in ``sql`` (string-aware)."""
    while True:
        m = None
        for cand in lex.code_matches(_GATE_RE, sql):
            # The token before must be a comparison operator — `UNION ALL (`,
            # `MATCH ALL (` etc. must not match.
            before = sql[: cand.start()].rstrip()
            if _OP_RE.search(before):
                m = cand
                break
        if m is None:
            return sql
        before = sql[: m.start()].rstrip()
        opm = _OP_RE.search(before)
        op = opm.group(1)
        if op == "!=":
            op = "<>"
        quant = m.group(1).upper()
        if quant == "SOME":
            quant = "ANY"
        open_idx = sql.index("(", m.start() + len(m.group(1)))
        close_idx = lex.find_closing(sql, open_idx)
        subq = sql[open_idx + 1 : close_idx].strip()
        lhs_s = _lhs_start(sql, opm.start())
        lhs = sql[lhs_s : opm.start()].strip()
        repl = _build(op, quant, lhs, subq)
        sql = sql[:lhs_s] + repl + sql[close_idx + 1 :]
