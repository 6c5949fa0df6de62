"""The one lexical rule of the MySQL-dialect layer.

Every rewrite in ``sqlshim/`` and ``engine.py`` that has to know what is a
string literal, what is a quoted identifier and what is paren depth 0 asks
this module (the reference has one lexer under its whole grammar,
parser/lexer.go).  A skipped span is a ``'…'`` or ``"…"`` literal with
backslash escapes, or a backtick identifier; a doubled ``''`` reads as two
adjacent literals covering the same span.  An unterminated quote is not a
span: it is scanned as code.
"""

from __future__ import annotations

import re

# String literals only.  Literal counts (plan bindings, the plan-cache
# lowering) are defined by this exact pattern.
STRING_RE = re.compile(r"('(?:[^'\\]|\\.)*')|(\"(?:[^\"\\]|\\.)*\")")
_SKIP_RE = re.compile(STRING_RE.pattern + r"|(`[^`]*`)")
_EVENT_RE = re.compile(_SKIP_RE.pattern + r"|[()]")


def segments(sql: str) -> list[tuple[bool, str]]:
    """``[(is_code, text), ...]``; literals and backtick identifiers are
    kept verbatim as non-code segments, and the texts join back to
    ``sql``."""
    out: list[tuple[bool, str]] = []
    last = 0
    for m in _SKIP_RE.finditer(sql):
        if m.start() > last:
            out.append((True, sql[last : m.start()]))
        out.append((False, m.group(0)))
        last = m.end()
    if last < len(sql):
        out.append((True, sql[last:]))
    return out


def map_code(sql: str, fn) -> str:
    """``sql`` with ``fn`` applied to each code segment."""
    return "".join(fn(t) if is_code else t for is_code, t in segments(sql))


def code_matches(pattern: re.Pattern, sql: str, pos: int = 0):
    """Yield the matches of ``pattern`` from ``pos`` on that start in code,
    not inside a literal or a backtick identifier."""
    skips = [m.span() for m in _SKIP_RE.finditer(sql)]
    for m in pattern.finditer(sql, pos):
        if not any(a <= m.start() < b for a, b in skips):
            yield m


def find_closing(sql: str, open_idx: int) -> int:
    """Index of the ``)`` that closes the ``(`` at ``sql[open_idx]``."""
    depth = 0
    for m in _EVENT_RE.finditer(sql, open_idx):
        c = m.group(0)
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return m.start()
    raise ValueError("unbalanced parentheses in SQL")


def top_level(sql: str, pattern: str, start: int = 0):
    """Yield the case-insensitive matches of ``pattern`` in ``sql[start:]``
    at paren depth 0, outside literals and backtick identifiers.  A match
    that begins with a word character must not continue a word or a
    qualified name.  Stops at a ``)`` that closes a paren opened before
    ``start``."""
    rx = re.compile(rf"(?is)(?:(?<![\w.])|(?!\w))(?:{pattern})")
    depth, pos = 0, start
    for m in _EVENT_RE.finditer(sql, start):
        if depth == 0:
            yield from rx.finditer(sql, pos, m.start())
        c = m.group(0)
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return
            depth -= 1
        pos = m.end()
    if depth == 0:
        yield from rx.finditer(sql, pos)


def split_top_level(sql: str, sep: str) -> list[str]:
    """Split ``sql`` at every top-level ``sep`` (``","`` or a keyword);
    the pieces are returned as they are, not stripped."""
    pattern = "," if sep == "," else rf"{sep}\b"
    pieces, last = [], 0
    for m in top_level(sql, pattern):
        pieces.append(sql[last : m.start()])
        last = m.end()
    pieces.append(sql[last:])
    return pieces


def split_args(argstr: str) -> list[str]:
    """A call's argument list: stripped top-level comma pieces, without
    the empty piece after a trailing comma (so ``""`` has no argument)."""
    args = [a.strip() for a in split_top_level(argstr, ",")]
    return args[:-1] if not args[-1] else args


def mask(sql: str) -> str:
    """``sql`` with each string literal's content blanked to spaces between
    its own quotes, so offsets still index ``sql``; backtick identifiers
    stay."""

    def blank(m: re.Match) -> str:
        q = m.group(0)[0]
        return m.group(0) if q == "`" else q + " " * (len(m.group(0)) - 2) + q

    return _SKIP_RE.sub(blank, sql)
