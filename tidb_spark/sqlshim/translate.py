"""MySQL-dialect → Spark SQL translation.

The reference accepts MySQL 5.7 SQL (parser/parser.y); Spark SQL already
covers most of the surface (backtick quoting, ``<=>``, ``DIV``, ``RLIKE``,
same core function names), so translation is a small set of targeted
rewrites rather than a full parser:

- ``LIMIT offset, count``          → ``LIMIT count OFFSET offset``
- ``expr REGEXP pat``              → ``expr RLIKE pat``
- ``DATE_ADD/SUB(x, INTERVAL n u)``→ ``(x + INTERVAL n u)`` / ``-``
- ``STR_TO_DATE(x, '%fmt')``       → ``to_timestamp(x, 'jvm-fmt')``
- ``DATE_FORMAT(x, '%fmt')``       → ``date_format(x, 'jvm-fmt')``
- ``GROUP_CONCAT([DISTINCT] x [ORDER BY x [ASC|DESC]] [SEPARATOR s])``
                                   → ``concat_ws(s, sort_array(collect_…))``
- ``JSON_EXTRACT(x, p)``           → ``get_json_object(x, p)``

Everything else (FIELD, MAKE_SET, EXPORT_SET, CONV, INET_*, JSON mutators)
ships as session-registered UDFs under their MySQL names — see
``register_shim_udfs`` — so those calls pass through untouched.

All rewrites are string-literal-aware: the statement is split into
code/string segments first and only code segments are rewritten.

Cited reference behavior: expression/builtin_time.go (DATE_ADD/STR_TO_DATE),
builtin_string.go (FIELD/ELT/MAKE_SET/EXPORT_SET), builtin_json.go
(JSON_* family), executor/aggfuncs/func_group_concat.go (GROUP_CONCAT).
"""

from __future__ import annotations

import re

from tidb_spark.functions.mysql import mysql_format_to_jvm
from tidb_spark.sqlshim import lex


def _rewrite_calls(sql: str, name: str, builder, guard=None) -> str:
    """Replace every ``name( args )`` call; ``builder(args: list[str]) ->
    str`` receives already-translated top-level args.  ``guard(sql, start)``
    may veto a candidate (e.g. INSERT-the-function vs ``THEN INSERT (…)``
    in MERGE)."""
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    if not pat.search(sql):
        return sql
    out: list[str] = []
    pos = 0
    while True:
        m = next(
            (
                cand
                for cand in lex.code_matches(pat, sql, pos)
                if guard is None or guard(sql, cand.start())
            ),
            None,
        )
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        open_idx = sql.index("(", m.end() - 1)
        close_idx = lex.find_closing(sql, open_idx)
        # Recurse into args so nested same-name calls are handled; the
        # replacement itself is never rescanned (it may legitimately contain
        # the case-insensitive name, e.g. DATE_FORMAT → date_format).
        args = [
            _rewrite_calls(a, name, builder)
            for a in lex.split_args(sql[open_idx + 1 : close_idx])
        ]
        out.append(sql[pos : m.start()])
        out.append(builder(args))
        pos = close_idx + 1


def _limit_offset(code: str) -> str:
    # Operands: integer literals, or the engine plan cache's :pN parameter
    # markers (engine._lower_for_cache pins ``?`` placeholders as :pN
    # before lowering — MySQL ``LIMIT offset, count`` REORDERS them, so
    # the markers must ride the rewrite for rebinding to stay positional).
    #
    # PLAN-CACHE INVARIANT for every rewrite in this module: any rewrite
    # whose pattern matches LITERAL operands must ALSO match the ``:p\d+``
    # marker form, exactly like this one.  A rewrite that fires on the
    # literal statement but silently skips the marked form would make
    # cached EXECUTE runs diverge from the plain-SQL slow path while still
    # emitting valid Spark SQL — the engine's post-lowering marker-set
    # check only catches rewrites that DROP markers, not ones that skip
    # them (engine._lower_for_cache).  Today _limit_offset is the only
    # literal-sensitive rewrite; add ``|:p\d+`` to any future one.
    return re.sub(
        r"\bLIMIT\s+(\d+|:p\d+)\s*,\s*(\d+|:p\d+)",
        r"LIMIT \2 OFFSET \1",
        code,
        flags=re.IGNORECASE,
    )


def _regexp_kw(code: str) -> str:
    return re.sub(r"\bREGEXP\b", "RLIKE", code, flags=re.IGNORECASE)


_GROUP_BY_RE = re.compile(r"(?is)\bGROUP\s+BY\s+")
# What ends a GROUP BY list at its own depth; group 1 is the MySQL suffix.
_ROLLUP_END = (
    r"(WITH\s+ROLLUP\b)"
    r"|(?:HAVING|ORDER|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT|QUALIFY)\b"
)


def _with_rollup(sql: str) -> str:
    """MySQL's ``GROUP BY a, b WITH ROLLUP`` → ``GROUP BY ROLLUP(a, b)``.

    Executed extension: the reference parser documents the MySQL form only
    in a grammar comment (parser/parser.y:13846) with no production, same
    posture as GROUPING SETS.  Super-aggregate rows carry NULL group keys
    in both dialects, so the standard ROLLUP lowering is semantics-exact.
    Scans string-aware at clause depth so subquery GROUP BYs rewrite
    independently and literals can't trigger or terminate the match.
    """
    while True:
        for m in lex.code_matches(_GROUP_BY_RE, sql):
            end = next(lex.top_level(sql, _ROLLUP_END, m.end()), None)
            if end is not None and end.group(1):
                grouping = sql[m.end() : end.start()].strip()
                sql = (
                    sql[: m.start()]
                    + f"GROUP BY ROLLUP({grouping})"
                    + sql[end.end() :]
                )
                break
        else:
            return sql


def _unquote(lit: str) -> str:
    return lit.strip()[1:-1]


def _date_addsub(args: list[str], sign: str) -> str:
    if len(args) != 2:
        raise ValueError("DATE_ADD/DATE_SUB expect (expr, INTERVAL n unit)")
    interval = args[1].strip()
    if not re.match(r"(?i)^INTERVAL\b", interval):
        interval = f"INTERVAL {interval} DAY"  # ADDDATE(d, n) day form
    return f"({args[0]} {sign} {interval})"


def _str_to_date(args: list[str]) -> str:
    fmt = mysql_format_to_jvm(_unquote(args[1]))
    fn = "to_timestamp" if any(x in fmt for x in ("HH", "mm", "ss", "H")) else "to_date"
    return f"{fn}({args[0]}, '{fmt}')"


def _date_format(args: list[str]) -> str:
    fmt = mysql_format_to_jvm(_unquote(args[1]))
    return f"date_format({args[0]}, '{fmt}')"


_GC_RE = re.compile(
    r"(?is)^\s*(DISTINCT\s+)?(.*?)(?:\s+ORDER\s+BY\s+(.*?)(\s+ASC|\s+DESC)?)?"
    r"(?:\s+SEPARATOR\s+('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"))?\s*$"
)


def _group_concat(args: list[str]) -> str:
    """GROUP_CONCAT([DISTINCT] x [ORDER BY y [ASC|DESC]] [SEPARATOR s])
    (executor/aggfuncs/func_group_concat.go semantics).

    When the ORDER BY expression differs from the aggregated one, sorting
    the collected values by THEMSELVES would be wrong — we collect
    (order-key, value) structs, array_sort (asc; reversed for DESC), then
    project the value back out.  ``transform`` on the grouped array is an
    interpreted HOF, but group_concat outputs are bounded
    (group_concat_max_len in MySQL) so this is not a hot loop."""
    inner = ", ".join(args)  # GROUP_CONCAT takes one expr in our surface
    m = _GC_RE.match(inner)
    if not m:
        raise ValueError(f"unsupported GROUP_CONCAT form: {inner!r}")
    distinct, expr, order_expr, direction, sep = m.groups()
    sep_sql = sep if sep else "','"
    desc = bool(direction and direction.strip().upper() == "DESC")
    same_key = order_expr is None or order_expr.strip() == expr.strip()
    if not same_key:
        if distinct:
            # MySQL itself rejects DISTINCT with an ORDER BY expression that
            # is not in the argument list — mirror that instead of guessing.
            raise ValueError(
                "GROUP_CONCAT(DISTINCT x ORDER BY y) with y != x is "
                "unsupported (MySQL parity)"
            )
        sorted_structs = (
            f"array_sort(collect_list(struct({order_expr} AS _o, {expr} AS _v)))"
        )
        if desc:
            sorted_structs = f"reverse({sorted_structs})"
        return f"concat_ws({sep_sql}, transform({sorted_structs}, s -> s._v))"
    collect = f"collect_set({expr})" if distinct else f"collect_list({expr})"
    if order_expr is not None or distinct:
        # MySQL emits ORDER BY order; we additionally pin DISTINCT output to
        # sorted order for determinism (MySQL's is unspecified without
        # ORDER BY).
        asc = "false" if desc else "true"
        collect = f"sort_array({collect}, {asc})"
    return f"concat_ws({sep_sql}, {collect})"


def _field(args: list[str]) -> str:
    # FIELD(x, a, b, …) → 1-based index of x among the list, 0 if absent or
    # NULL (builtin_string.go); CASE's NULL-never-matches gives that free.
    whens = " ".join(
        f"WHEN {a} THEN {i + 1}" for i, a in enumerate(args[1:])
    )
    return f"(CASE {args[0]} {whens} ELSE 0 END)"


def _make_set(args: list[str]) -> str:
    # MAKE_SET(bits, s1, s2, …): comma-join strings whose bit is set;
    # concat_ws skips the NULLs from unset bits.
    parts = ", ".join(
        f"CASE WHEN ({args[0]} & {1 << i}) != 0 THEN {s} END"
        for i, s in enumerate(args[1:])
    )
    return f"concat_ws(',', {parts})"


_QUOTED = re.compile(r"^'(?:[^'\\]|\\.)*'$")


def _json_object(args: list[str]) -> str:
    keys, vals = args[0::2], args[1::2]
    if all(_QUOTED.match(k.strip()) for k in keys):
        pairs = ", ".join(f"{k}, {v}" for k, v in zip(keys, vals))
        return f"to_json(named_struct({pairs}))"
    pairs = ", ".join(
        f"CAST({k} AS STRING), {v}" for k, v in zip(keys, vals)
    )
    return f"to_json(map({pairs}))"


def _json_array(args: list[str]) -> str:
    return f"to_json(array({', '.join(args)}))"


def _inet_aton(args: list[str]) -> str:
    x = args[0]
    parts = " + ".join(
        f"CAST(element_at(split({x}, '\\\\.'), {i + 1}) AS BIGINT) * {mult}"
        if mult > 1
        else f"CAST(element_at(split({x}, '\\\\.'), {i + 1}) AS BIGINT)"
        for i, mult in enumerate((16777216, 65536, 256, 1))
    )
    return f"({parts})"


def _inet_ntoa(args: list[str]) -> str:
    n = f"CAST({args[0]} AS BIGINT)"
    octets = ", ".join(
        f"CAST((shiftright({n}, {s}) & 255) AS STRING)" for s in (24, 16, 8, 0)
    )
    return f"concat_ws('.', {octets})"


def _export_set(args: list[str]) -> str:
    # EXPORT_SET(bits, on, off[, sep[, n_bits]]) unrolled to n_bits CASE
    # terms — a wide but whole-stage-codegen expression, vs the previous
    # per-row Python UDF (the JVM cliff for a 100 TB scan).  shiftright is
    # arithmetic, so (bits >> 63) & 1 still extracts the top bit correctly.
    bits, on, off = args[0], args[1], args[2]
    sep = args[3] if len(args) > 3 else "','"
    n_bits = int(args[4]) if len(args) > 4 else 64
    b = f"CAST({bits} AS BIGINT)"
    terms = ", ".join(
        f"CASE WHEN (shiftright({b}, {i}) & 1) = 1 THEN {on} ELSE {off} END"
        for i in range(n_bits)
    )
    return f"concat_ws({sep}, {terms})"


def _json_length(args: list[str]) -> str:
    # MySQL JSON_LENGTH: array → #elements, object → #keys, scalar → 1
    # (builtin_json.go).  Composed from natives so it stays JVM-side.
    x = args[0]
    return (
        f"coalesce(json_array_length({x}), size(json_object_keys({x})), "
        f"CASE WHEN {x} IS NULL THEN CAST(NULL AS INT) ELSE 1 END)"
    )


def _json_keys(args: list[str]) -> str:
    # Deterministically sorted (MySQL leaves object-key order unspecified);
    # non-objects yield NULL via json_object_keys.
    return f"to_json(sort_array(json_object_keys({args[0]})))"


# ---------------------------------------------------------------------------
# Datetime long tail (expression/builtin_time.go).  All pure-native
# lowerings: wide expressions, but whole-stage-codegen — no Python UDF on
# the scan path.  Day/second anchors: TO_DAYS('1970-01-01') = 719528,
# TO_SECONDS('1970-01-01 00:00:00') = 62167219200 (719528 * 86400).

def _to_days(args: list[str]) -> str:
    return f"(datediff(CAST({args[0]} AS DATE), DATE'1970-01-01') + 719528)"


def _from_days(args: list[str]) -> str:
    return f"date_add(DATE'1970-01-01', CAST({args[0]} AS INT) - 719528)"


def _to_seconds(args: list[str]) -> str:
    return (
        f"(unix_timestamp(CAST({args[0]} AS TIMESTAMP)) + 62167219200)"
    )


def _hms(seconds_expr: str) -> str:
    """Seconds → 'HH:MM:SS' (MySQL TIME text; negative supported)."""
    s = f"CAST({seconds_expr} AS BIGINT)"
    return (
        f"concat(CASE WHEN {s} < 0 THEN '-' ELSE '' END, "
        f"lpad(CAST(CAST(abs({s}) / 3600 AS BIGINT) AS STRING), 2, '0'), ':', "
        f"lpad(CAST(CAST(abs({s}) % 3600 / 60 AS BIGINT) AS STRING), 2, '0'), ':', "
        f"lpad(CAST(abs({s}) % 60 AS STRING), 2, '0'))"
    )


def _sec_to_time(args: list[str]) -> str:
    return _hms(args[0])


def _time_secs(t: str) -> str:
    """'[-]HH:MM:SS[.f]' → signed seconds."""
    u = f"regexp_replace({t}, '^-', '')"
    core = (
        f"(CAST(element_at(split({u}, ':'), 1) AS BIGINT) * 3600 + "
        f"CAST(element_at(split({u}, ':'), 2) AS BIGINT) * 60 + "
        f"CAST(CAST(element_at(split({u}, ':'), 3) AS DOUBLE) AS BIGINT))"
    )
    return f"((CASE WHEN {t} LIKE '-%' THEN -1 ELSE 1 END) * {core})"


def _time_to_sec(args: list[str]) -> str:
    return _time_secs(args[0])


def _timediff(args: list[str]) -> str:
    # Datetime/timestamp form; pure-TIME args also parse via CAST(t AS
    # TIMESTAMP) only when they carry a date part, so we route through
    # unix_timestamp of both operands (builtin_time.go TimeDiff).
    return _hms(
        f"(unix_timestamp(CAST({args[0]} AS TIMESTAMP)) - "
        f"unix_timestamp(CAST({args[1]} AS TIMESTAMP)))"
    )


def _addtime(args: list[str], sign: str) -> str:
    secs = _time_secs(args[1])
    return (
        f"(CAST({args[0]} AS TIMESTAMP) {sign} "
        f"make_interval(0, 0, 0, 0, 0, 0, CAST({secs} AS DOUBLE)))"
    )


def _maketime(args: list[str]) -> str:
    h, m, s = args
    return _hms(
        f"(CAST({h} AS BIGINT) * 3600 + CAST({m} AS BIGINT) * 60 "
        f"+ CAST({s} AS BIGINT))"
    )


def _makedate(args: list[str]) -> str:
    y, d = args
    return (
        f"(CASE WHEN CAST({d} AS INT) >= 1 THEN "
        f"date_add(make_date(CAST({y} AS INT), 1, 1), CAST({d} AS INT) - 1) "
        f"END)"
    )


def _period_months(p: str) -> str:
    q = f"CAST({p} AS BIGINT)"
    return f"(CAST({q} / 100 AS BIGINT) * 12 + {q} % 100 - 1)"


def _period_add(args: list[str]) -> str:
    m = f"({_period_months(args[0])} + CAST({args[1]} AS BIGINT))"
    return f"CAST(CAST({m} / 12 AS BIGINT) * 100 + {m} % 12 + 1 AS BIGINT)"


def _period_diff(args: list[str]) -> str:
    return (
        f"CAST({_period_months(args[0])} - {_period_months(args[1])} "
        f"AS BIGINT)"
    )


def _microsecond(args: list[str]) -> str:
    return f"pmod(unix_micros(CAST({args[0]} AS TIMESTAMP)), 1000000)"


def _week_parts(d_expr: str) -> tuple[str, str, str]:
    """(d, week's-Sunday, week#-within-Sunday's-year) for WEEK mode 0 /
    YEARWEEK mode 0 (builtin_time.go calcWeek, default_week_format=0):
    week 1 starts at the first Sunday of the year; earlier days are week 0
    (WEEK) or the previous year's last week (YEARWEEK)."""
    d = f"CAST({d_expr} AS DATE)"
    s = f"date_sub({d}, pmod(dayofweek({d}) - 1, 7))"  # Sunday on/before d
    j = f"trunc({s}, 'YEAR')"
    fs = f"date_add({j}, pmod(8 - dayofweek({j}), 7))"  # 1st Sunday of S-yr
    wk = f"(CAST(datediff({s}, {fs}) / 7 AS INT) + 1)"
    return d, s, wk


def _week(args: list[str]) -> str:
    mode = args[1].strip() if len(args) > 1 else "0"
    if mode == "3":
        return f"weekofyear({args[0]})"  # ISO — Spark native
    if mode != "0":
        raise ValueError(
            f"WEEK mode {mode} unsupported (modes 0 and 3 implemented)"
        )
    d, s, wk = _week_parts(args[0])
    return f"(CASE WHEN year({s}) < year({d}) THEN 0 ELSE {wk} END)"


def _yearweek(args: list[str]) -> str:
    if len(args) > 1 and args[1].strip() not in ("0",):
        raise ValueError("YEARWEEK: only mode 0 implemented")
    _, s, wk = _week_parts(args[0])
    return f"CAST(year({s}) * 100 + {wk} AS BIGINT)"


_UTC_TS = "to_utc_timestamp(current_timestamp(), current_timezone())"


def _time_format(args: list[str]) -> str:
    fmt = mysql_format_to_jvm(_unquote(args[1]))
    return (
        f"date_format(to_timestamp(concat('1970-01-01 ', {args[0]})), "
        f"'{fmt}')"
    )


# GET_FORMAT(type, loc) constant table (builtin_time.go getFormat).
_GET_FORMATS = {
    ("DATE", "USA"): "%m.%d.%Y", ("DATE", "JIS"): "%Y-%m-%d",
    ("DATE", "ISO"): "%Y-%m-%d", ("DATE", "EUR"): "%d.%m.%Y",
    ("DATE", "INTERNAL"): "%Y%m%d",
    ("TIME", "USA"): "%h:%i:%s %p", ("TIME", "JIS"): "%H:%i:%s",
    ("TIME", "ISO"): "%H:%i:%s", ("TIME", "EUR"): "%H.%i.%s",
    ("TIME", "INTERNAL"): "%H%i%s",
    ("DATETIME", "USA"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "JIS"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "ISO"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "EUR"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "INTERNAL"): "%Y%m%d%H%i%s",
}


def _get_format(args: list[str]) -> str:
    typ = args[0].strip().upper()
    loc = _unquote(args[1]).upper()
    fmt = _GET_FORMATS.get((typ, loc))
    if fmt is None:
        return "CAST(NULL AS STRING)"  # MySQL returns NULL on unknown loc
    return f"'{fmt}'"


# ---------------------------------------------------------------------------
# String / misc long tail (expression/builtin_string.go, builtin_info.go).

def _ord(args: list[str]) -> str:
    # Multibyte-aware: the UTF-8 bytes of the first character, big-endian
    # (MySQL ORD numeric form).  conv('') is NULL → coalesce to 0 for ''.
    x = args[0]
    return (
        f"(CASE WHEN {x} IS NULL THEN CAST(NULL AS BIGINT) ELSE "
        f"coalesce(CAST(conv(hex(encode(substr({x}, 1, 1), 'UTF-8')), 16, 10)"
        f" AS BIGINT), 0) END)"
    )


def _quote(args: list[str]) -> str:
    # QUOTE: single-quoted, ' and \ escaped; NULL → the string 'NULL'.
    x = args[0]
    esc = (
        f"replace(replace({x}, '\\\\', '\\\\\\\\'), '\\'', '\\\\\\'')"
    )
    return (
        f"(CASE WHEN {x} IS NULL THEN 'NULL' "
        f"ELSE concat('\\'', {esc}, '\\'') END)"
    )


def _insert_func(args: list[str]) -> str:
    # INSERT(str, pos, len, newstr): out-of-range pos → str unchanged;
    # len < 0 or beyond the remainder → replace through the end.
    s, pos, ln, new = args
    p = f"CAST({pos} AS INT)"
    n = f"CAST({ln} AS INT)"
    return (
        f"(CASE WHEN {p} < 1 OR {p} > char_length({s}) THEN {s} "
        f"WHEN {n} < 0 THEN concat(left({s}, {p} - 1), {new}) "
        f"ELSE concat(left({s}, {p} - 1), {new}, "
        f"substr({s}, {p} + {n})) END)"
    )


def _char_fn(args: list[str]) -> str:
    # CHAR(n1, n2 … [USING cs]): concat of code points, NULL args skipped
    # (concat_ws drops NULLs).  Only UTF-8-ish USING accepted.
    if args and re.search(r"(?i)\bUSING\s+\w+\s*$", args[-1]):
        args = args[:-1] + [re.sub(r"(?i)\s*USING\s+\w+\s*$", "", args[-1])]
    parts = ", ".join(f"chr(CAST({a} AS BIGINT))" for a in args)
    return f"concat_ws('', {parts})"


def _convert(args: list[str]) -> str:
    # CONVERT(x USING charset) → string; CONVERT(x, type) → CAST.
    if len(args) == 1:
        m = re.match(r"(?is)^(.*)\bUSING\s+\w+\s*$", args[0])
        if not m:
            raise ValueError(f"unsupported CONVERT form: {args[0]!r}")
        return f"CAST({m.group(1).strip()} AS STRING)"
    t = args[1].strip().upper()
    tm = re.match(r"(\w+)(?:\((.*)\))?", t)
    base, params = tm.group(1), tm.group(2)
    mapped = {
        "SIGNED": "BIGINT", "UNSIGNED": "DECIMAL(20,0)", "INTEGER": "BIGINT",
        "CHAR": "STRING", "NCHAR": "STRING", "BINARY": "BINARY",
        "DATE": "DATE", "DATETIME": "TIMESTAMP", "TIME": "STRING",
        "DECIMAL": f"DECIMAL({params})" if params else "DECIMAL(10,0)",
        "DOUBLE": "DOUBLE", "FLOAT": "FLOAT", "JSON": "STRING",
    }.get(base)
    if mapped is None:
        raise ValueError(f"unsupported CONVERT target type: {t!r}")
    return f"CAST({args[0]} AS {mapped})"


def _interval_fn(args: list[str]) -> str:
    # INTERVAL(n, a1, a2, …): #args ≤ n (args sorted ascending per MySQL
    # contract); NULL n → -1.
    n = args[0]
    terms = " + ".join(
        f"(CASE WHEN {a} <= {n} THEN 1 ELSE 0 END)" for a in args[1:]
    )
    return f"(CASE WHEN {n} IS NULL THEN -1 ELSE {terms} END)"


def _uncompressed_length(args: list[str]) -> str:
    # MySQL COMPRESS format: 4-byte little-endian original length + zlib.
    b = f"CAST({args[0]} AS BINARY)"
    total = " + ".join(
        f"CAST(conv(hex(substr({b}, {i + 1}, 1)), 16, 10) AS BIGINT) * {1 << (8 * i)}"
        if i else f"CAST(conv(hex(substr({b}, 1, 1)), 16, 10) AS BIGINT)"
        for i in range(4)
    )
    return f"(CASE WHEN length({b}) = 0 THEN 0 ELSE {total} END)"


def _format_bytes(args: list[str]) -> str:
    n = f"CAST({args[0]} AS DOUBLE)"
    tiers = [
        (1024.0**5, "PiB"), (1024.0**4, "TiB"), (1024.0**3, "GiB"),
        (1024.0**2, "MiB"), (1024.0, "KiB"),
    ]
    whens = " ".join(
        f"WHEN abs({n}) >= {div!r} THEN "
        f"concat(format_number({n} / {div!r}, 2), ' {unit}')"
        for div, unit in tiers
    )
    return (
        f"(CASE WHEN {n} IS NULL THEN NULL {whens} "
        f"ELSE concat(format_number({n}, 0), ' bytes') END)"
    )


def _format_nano_time(args: list[str]) -> str:
    n = f"CAST({args[0]} AS DOUBLE)"
    tiers = [(1e9, "s"), (1e6, "ms"), (1e3, "µs")]
    whens = " ".join(
        f"WHEN abs({n}) >= {div!r} THEN "
        f"concat(format_number({n} / {div!r}, 2), ' {unit}')"
        for div, unit in tiers
    )
    return (
        f"(CASE WHEN {n} IS NULL THEN NULL {whens} "
        f"ELSE concat(format_number({n}, 0), ' ns') END)"
    )


_UUID_RE = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)
_IPV4_OCTET = "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"


def _bin_to_uuid(args: list[str]) -> str:
    h = f"lower(hex({args[0]}))"
    return (
        f"concat_ws('-', substr({h}, 1, 8), substr({h}, 9, 4), "
        f"substr({h}, 13, 4), substr({h}, 17, 4), substr({h}, 21, 12))"
    )


def _json_quote(args: list[str]) -> str:
    x = args[0]
    esc = f"replace(replace({x}, '\\\\', '\\\\\\\\'), '\"', '\\\\\"')"
    return f'concat(\'"\', {esc}, \'"\')'


# Zero-arg / constant session-info functions (builtin_info.go): lowered to
# literals or Spark natives.  No connection protocol → fixed values,
# documented rather than pretending at session state.
_CONST_FNS = {
    "DATABASE": "current_database()",
    "SCHEMA": "current_database()",
    "SYSTEM_USER": "current_user()",
    "SESSION_USER": "current_user()",
    "CHARSET": "'utf8mb4'",
    "COLLATION": "'utf8mb4_bin'",
    "COERCIBILITY": "2",
    "CONNECTION_ID": "CAST(1 AS BIGINT)",
    "CURRENT_ROLE": "'NONE'",
    "TIDB_VERSION": "'tidb_spark-8.0-compat'",
    "SYSDATE": "current_timestamp()",
    "LOCALTIME": "current_timestamp()",
    "LOCALTIMESTAMP": "current_timestamp()",
    "UTC_TIMESTAMP": _UTC_TS,
    "UTC_DATE": f"CAST({_UTC_TS} AS DATE)",
    "UTC_TIME": f"date_format({_UTC_TS}, 'HH:mm:ss')",
    "CURTIME": "date_format(current_timestamp(), 'HH:mm:ss')",
    "CURRENT_TIME": "date_format(current_timestamp(), 'HH:mm:ss')",
    "UUID_SHORT": "CAST(conv(substr(md5(uuid()), 1, 15), 16, 10) AS BIGINT)",
}


def _truncate_fn(args: list[str]) -> str:
    # Numeric TRUNCATE(x, d): toward-zero at d decimals, exact via DECIMAL
    # scaling (builtin_math.go; mirrors functions.mysql.truncate).  The
    # statement form TRUNCATE TABLE has no '(' and never reaches here.
    x, d = args
    try:
        scale = 10 ** int(d)
    except ValueError as exc:
        raise ValueError("TRUNCATE requires a literal decimal count") from exc
    s = f"(CAST({x} AS DECIMAL(30,15)) * {scale})"
    tz = f"CASE WHEN {s} >= 0 THEN floor({s}) ELSE ceil({s}) END"
    return f"CAST(CAST({tz} AS DECIMAL(30,15)) / {scale} AS DOUBLE)"


def translate(sql: str) -> str:
    """Translate one MySQL-dialect statement to Spark SQL."""
    sql = lex.map_code(sql, _limit_offset)
    sql = lex.map_code(sql, _regexp_kw)
    sql = _with_rollup(sql)
    if re.search(r"(?i)\bAGAINST\s*\(", sql):
        from tidb_spark.sqlshim import fulltext

        sql = fulltext.lower(sql)
    # GET_FORMAT first: its literal result feeds STR_TO_DATE/DATE_FORMAT
    # rewrites below (which need the format known at translate time).
    sql = _rewrite_calls(sql, "GET_FORMAT", _get_format)
    sql = _rewrite_calls(sql, "DATE_ADD", lambda a: _date_addsub(a, "+"))
    sql = _rewrite_calls(sql, "ADDDATE", lambda a: _date_addsub(a, "+"))
    sql = _rewrite_calls(sql, "DATE_SUB", lambda a: _date_addsub(a, "-"))
    sql = _rewrite_calls(sql, "SUBDATE", lambda a: _date_addsub(a, "-"))
    sql = _rewrite_calls(sql, "STR_TO_DATE", _str_to_date)
    sql = _rewrite_calls(sql, "DATE_FORMAT", _date_format)
    sql = _rewrite_calls(sql, "GROUP_CONCAT", _group_concat)
    sql = _rewrite_calls(
        sql, "JSON_EXTRACT", lambda a: f"get_json_object({a[0]}, {a[1]})"
    )
    sql = _rewrite_calls(sql, "FIELD", _field)
    sql = _rewrite_calls(sql, "MAKE_SET", _make_set)
    sql = _rewrite_calls(sql, "JSON_OBJECT", _json_object)
    sql = _rewrite_calls(sql, "JSON_ARRAY", _json_array)
    # Bit-arithmetic / JSON-read shims with pure-native lowerings: keep the
    # SQL surface on the JVM instead of falling off to the Python UDFs
    # (which remain registered for direct un-translated use).
    sql = _rewrite_calls(sql, "INET_ATON", _inet_aton)
    sql = _rewrite_calls(sql, "INET_NTOA", _inet_ntoa)
    sql = _rewrite_calls(sql, "EXPORT_SET", _export_set)
    sql = _rewrite_calls(sql, "JSON_LENGTH", _json_length)
    sql = _rewrite_calls(sql, "JSON_KEYS", _json_keys)
    sql = _rewrite_calls(sql, "JSON_QUOTE", _json_quote)
    # Datetime long tail (builtin_time.go) — all codegen-native lowerings.
    sql = _rewrite_calls(sql, "TO_DAYS", _to_days)
    sql = _rewrite_calls(sql, "FROM_DAYS", _from_days)
    sql = _rewrite_calls(sql, "TO_SECONDS", _to_seconds)
    sql = _rewrite_calls(sql, "SEC_TO_TIME", _sec_to_time)
    sql = _rewrite_calls(sql, "TIME_TO_SEC", _time_to_sec)
    sql = _rewrite_calls(sql, "TIMEDIFF", _timediff)
    sql = _rewrite_calls(sql, "ADDTIME", lambda a: _addtime(a, "+"))
    sql = _rewrite_calls(sql, "SUBTIME", lambda a: _addtime(a, "-"))
    sql = _rewrite_calls(sql, "MAKETIME", _maketime)
    sql = _rewrite_calls(sql, "MAKEDATE", _makedate)
    sql = _rewrite_calls(sql, "PERIOD_ADD", _period_add)
    sql = _rewrite_calls(sql, "PERIOD_DIFF", _period_diff)
    sql = _rewrite_calls(sql, "MICROSECOND", _microsecond)
    sql = _rewrite_calls(sql, "WEEK", _week)
    sql = _rewrite_calls(sql, "YEARWEEK", _yearweek)
    sql = _rewrite_calls(sql, "TIME_FORMAT", _time_format)
    # String / misc long tail (builtin_string.go, builtin_info.go).
    sql = _rewrite_calls(sql, "MID", lambda a: f"substr({', '.join(a)})")
    sql = _rewrite_calls(sql, "ORD", _ord)
    sql = _rewrite_calls(
        sql, "OCT", lambda a: f"conv(CAST({a[0]} AS BIGINT), 10, 8)"
    )
    sql = _rewrite_calls(
        sql, "TO_BASE64", lambda a: f"base64(CAST({a[0]} AS BINARY))"
    )
    sql = _rewrite_calls(sql, "FROM_BASE64", lambda a: f"unbase64({a[0]})")
    sql = _rewrite_calls(
        sql,
        "FORMAT",
        lambda a: f"format_number(CAST({a[0]} AS DOUBLE), CAST({a[1]} AS INT))",
    )
    sql = _rewrite_calls(sql, "QUOTE", _quote)
    sql = _rewrite_calls(
        sql,
        "INSERT",
        _insert_func,
        # MERGE's "WHEN NOT MATCHED THEN INSERT (cols)" is the INSERT
        # action, not the string function.
        guard=lambda s, i: not s[:i].rstrip().upper().endswith("THEN"),
    )
    # CAST(x AS CHAR(10)) must not look like a CHAR() call.
    sql = lex.map_code(
        sql,
        lambda c: re.sub(r"(?i)\bAS\s+CHAR\s*\(", "AS VARCHAR(", c),
    )
    sql = _rewrite_calls(sql, "CHAR", _char_fn)
    sql = _rewrite_calls(
        sql,
        "CONVERT_TZ",
        lambda a: (
            f"from_utc_timestamp(to_utc_timestamp(CAST({a[0]} AS TIMESTAMP), "
            f"{a[1]}), {a[2]})"
        ),
    )
    sql = _rewrite_calls(sql, "CONVERT", _convert)
    sql = _rewrite_calls(sql, "INTERVAL", _interval_fn)
    sql = _rewrite_calls(sql, "UNCOMPRESSED_LENGTH", _uncompressed_length)
    sql = _rewrite_calls(sql, "TRUNCATE", _truncate_fn)
    sql = _rewrite_calls(sql, "FORMAT_BYTES", _format_bytes)
    sql = _rewrite_calls(sql, "FORMAT_NANO_TIME", _format_nano_time)
    sql = _rewrite_calls(
        sql,
        "IS_UUID",
        lambda a: f"CAST({a[0]} RLIKE '{_UUID_RE}' AS INT)",
    )
    sql = _rewrite_calls(
        sql,
        "IS_IPV4",
        lambda a: (
            f"CAST({a[0]} RLIKE '^{_IPV4_OCTET}(\\\\.{_IPV4_OCTET}){{3}}$' "
            f"AS INT)"
        ),
    )
    sql = _rewrite_calls(sql, "BIN_TO_UUID", _bin_to_uuid)
    sql = _rewrite_calls(
        sql, "UUID_TO_BIN", lambda a: f"unhex(replace({a[0]}, '-', ''))"
    )
    sql = _rewrite_calls(
        sql, "WEIGHT_STRING", lambda a: f"CAST({a[0]} AS BINARY)"
    )
    # Session-info constants (no wire protocol → fixed, documented values).
    for name, repl in _CONST_FNS.items():
        sql = _rewrite_calls(sql, name, lambda a, r=repl: r)
    return sql
