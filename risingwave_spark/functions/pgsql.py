"""PG-flavored SQL → Spark SQL translation shim.

The reference speaks PostgreSQL (`src/sqlparser/`); Spark SQL covers most
of the same surface but differs in spelling. This shim rewrites the
high-frequency PG-isms so a reference user's query text runs unchanged
through `Engine.sql` / `spark.sql`:

- `expr::type`          → CAST(expr AS type)  (incl. chained casts)
- `expr ~ 'pat'`        → expr RLIKE 'pat'   (and `!~` → NOT ... RLIKE)
- `now()`               → current_timestamp()
- `string_agg(x, d)`    → array_join(collect_list(x), d)
- `bool_and/bool_or`    → every / any
- `strpos(s, sub)`      → instr(s, sub)
- type names            → text→STRING, int4/int8→INT/BIGINT,
                          float4/float8→FLOAT/DOUBLE, bytea→BINARY,
                          timestamptz→TIMESTAMP

It is deliberately token-level (regex on string literals masked out) —
a full PG parser is out of scope; anything untranslated passes through
to Spark's own parser, which already accepts `ILIKE`, `||`,
`IS [NOT] DISTINCT FROM`, lateral views, etc.
"""

from __future__ import annotations

import re

_TYPE_MAP = {
    "text": "STRING",
    "varchar": "STRING",
    "bool": "BOOLEAN",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "bytea": "BINARY",
    "timestamptz": "TIMESTAMP",
    "jsonb": "STRING",
}

# operand alternatives, most specific first: function call (one nesting
# level; NO space before the paren, so `SELECT (expr)` isn't mistaken
# for a call), parenthesized expression, masked string literal (the
# \x00N\x00 placeholder _mask_strings leaves — `'1'::int8` is a very
# common PG idiom), bare identifier/column path
_CAST_RE = re.compile(
    r"(\b[\w.]+\((?:[^()]|\([^()]*\))*\)"
    r"|\((?:[^()]|\([^()]*\))*\)"
    r"|\x00\d+\x00"
    r"|\b[\w.]+)"
    r"\s*::\s*([a-zA-Z_][\w]*(?:\(\d+(?:,\s*\d+)?\))?)"
)


def _mask_strings(sql: str):
    """Replace string literals with placeholders so rewrites never
    touch string contents; returns (masked_sql, literals). Handles
    both ``'...'`` and PG dollar-quoting (``$$...$$`` / ``$tag$...``,
    tag never starting with a digit — ``$1`` params stay visible) in
    one left-to-right pass, so a quote inside a dollar-quoted UDF
    body can't desynchronize the masking."""
    lits: list[str] = []

    def repl(m):
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    rx = r"\$(?P<dtag>[A-Za-z_][A-Za-z_0-9]*|)\$.*?\$(?P=dtag)\$|'(?:[^']|'')*'"
    return re.sub(rx, repl, sql, flags=re.S), lits


def _unmask(sql: str, lits: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], sql)


def _map_type(t: str) -> str:
    base = t.split("(")[0].lower()
    if base in ("decimal", "numeric"):
        # bare PG numeric is arbitrary-precision; Spark's bare DECIMAL
        # is (10,0) and would silently truncate the scale — default to
        # a wide shape, keep explicit (p,s) suffixes verbatim
        return "DECIMAL" + (t[len(base):] if len(t) > len(base)
                            else "(38,9)")
    mapped = _TYPE_MAP.get(base)
    if mapped is None:
        return t
    if len(t) > len(base):
        # other mapped targets (STRING, DOUBLE, ...) take no parameter —
        # keeping the suffix would produce invalid SQL like STRING(10)
        return mapped
    return mapped


_VARCHAR_N = re.compile(r"(?:var)?char\s*\(\s*(\d+)\s*\)", re.I)


def _cast_repl(m: re.Match) -> str:
    """expr::type → CAST(expr AS mapped_type), except length-typed
    strings: Spark's CAST ignores char/varchar length ('simply treats
    them as string type'), while PG TRUNCATES to n (and blank-pads
    char(n)) — so spell the PG semantics out explicitly."""
    expr, t = m.group(1), m.group(2)
    ln = _VARCHAR_N.fullmatch(t.strip())
    if ln:
        n = int(ln.group(1))
        truncated = f"left(CAST({expr} AS STRING), {n})"
        if t.strip().lower().startswith("char"):
            return f"rpad({truncated}, {n}, ' ')"
        return truncated
    return f"CAST({expr} AS {_map_type(t)})"


# `AS <pg_type> )` — the ANSI CAST spelling of the same type names.
# Only unparameterized names are rewritten (use ::varchar(n) for PG
# truncation semantics); the trailing ')' anchors the match to a CAST
# argument rather than a select-item alias.
_CAST_AS_RE = re.compile(
    r"(\bAS\s+)("
    + "|".join(list(_TYPE_MAP) + ["decimal", "numeric"])
    + r")(\s*\))",
    re.I,
)


def _cast_as_repl(m: re.Match) -> str:
    return m.group(1) + _map_type(m.group(2)) + m.group(3)


def _find_top_kw(text: str, kw_rx: str):
    """First match of kw_rx at paren depth 0 (text already masked)."""
    depth = 0
    for mm in re.finditer(r"[()]|" + kw_rx, text, re.I):
        t = mm.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            return mm
    return None


def _rewrite_distinct_on(masked: str) -> str:
    """Top-level `SELECT DISTINCT ON (keys) items FROM ... [ORDER BY o]
    [LIMIT n]` → row_number window + rn=1 filter (reference
    `binder/select.rs` BoundDistinct::DistinctOn — first row per key
    tuple under the ORDER BY; Spark has no DISTINCT ON). Only the
    top-level query shape is rewritten; DISTINCT ON inside subqueries
    or CTEs is out of scope and reaches Spark's parser, which rejects
    it loudly."""
    m = re.match(r"^\s*SELECT\s+DISTINCT\s+ON\s*\(", masked, re.I)
    if not m:
        return masked
    i, depth, n = m.end() - 1, 0, len(masked)
    j = i
    while j < n:
        if masked[j] == "(":
            depth += 1
        elif masked[j] == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    keys = masked[i + 1 : j].strip()
    rest = masked[j + 1 :]
    fm = _find_top_kw(rest, r"\bFROM\b")
    if fm is None:
        return masked
    items = rest[: fm.start()].strip()
    tail = rest[fm.start() :]
    om = _find_top_kw(tail, r"\bORDER\s+BY\b")
    lm = _find_top_kw(tail, r"\bLIMIT\b|\bOFFSET\b")
    cuts = [x.start() for x in (om, lm) if x is not None]
    cut = min(cuts) if cuts else len(tail)
    body, suffix = tail[:cut].rstrip(), tail[cut:]
    order = keys
    if om is not None:
        oend = lm.start() if (lm is not None and lm.start() > om.start()) else len(tail)
        order = tail[om.end() : oend].strip()
    return (
        f"SELECT {items} FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {order}) AS __don_rn {body}) __don "
        f"WHERE __don_rn = 1 {suffix}"
    )


def _string_agg_repl(m: re.Match) -> str:
    """string_agg(x, d [ORDER BY k [ASC|DESC]]) → deterministic Spark
    concat. PG leaves the order unspecified without ORDER BY, but
    `collect_list` order is partition-dependent — this repo's convention
    is deterministic output everywhere, so the no-ORDER-BY form sorts by
    the value itself (matching queries/aggregates.py's agg_string_agg)."""
    x, d, ob, direction = m.group(1), m.group(2), m.group(3), m.group(4)
    desc = direction is not None and direction.upper() == "DESC"
    if ob is None or ob.strip() == x.strip():
        arr = f"sort_array(collect_list({x}), {'false' if desc else 'true'})"
    else:
        # ORDER BY a different key: sort (key, value) structs — struct
        # arrays sort by fields in declaration order — then project v
        arr = f"array_sort(collect_list(struct({ob} AS k, {x} AS v)))"
        if desc:
            arr = f"reverse({arr})"
        arr = f"transform({arr}, e -> e.v)"
    return f"array_join({arr}, {d})"


def pg_to_spark_sql(sql: str) -> str:
    """Rewrite PG-isms; see module docstring for the covered set."""
    masked, lits = _mask_strings(sql)

    # '\x...'::bytea — PG's hex bytea input syntax. CAST(string AS
    # BINARY) would UTF-8-encode the literal characters; rewrite to a
    # Spark X'..' hex literal instead (exact bytes).
    def _bytea_lit(m: re.Match) -> str:
        lit = lits[int(m.group(1))]
        if lit.startswith(("'\\x", "'\\X")):
            return "X'" + lit[3:-1] + "'"  # a binary literal already
        return m.group(0)

    masked = re.sub(r"\x00(\d+)\x00\s*::\s*bytea\b", _bytea_lit,
                    masked, flags=re.I)

    # :: casts — innermost first; loop to handle chained casts
    prev = None
    while prev != masked:
        prev = masked
        masked = _CAST_RE.sub(_cast_repl, masked)

    # CAST(expr AS pg_type) — same mapping for the ANSI spelling
    # (PG-only names like varchar/text/int8 fail Spark's parser; the
    # `AS <type>)` context inside CAST is unambiguous enough to rewrite
    # textually, incl. varchar(n)/char(n) truncation semantics)
    masked = _CAST_AS_RE.sub(_cast_as_repl, masked)

    # CAST(x AS struct<f1 int8, ...>) — map the PG field types inside
    # the struct (angle brackets balance-scanned; _map_any_type
    # handles nested structs/arrays the same way)
    pos = 0
    while True:
        ms = re.search(r"\bAS\s+(struct\s*<)", masked[pos:], re.I)
        if ms is None:
            break
        start = pos + ms.start(1)
        depth, k = 0, masked.index("<", start)
        while k < len(masked):
            if masked[k] == "<":
                depth += 1
            elif masked[k] == ">":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        if depth != 0:
            break  # unbalanced — leave for Spark's parser to report
        # lazy: frontend imports this module at top (no cycle at call)
        from risingwave_spark.frontend import _map_any_type

        mapped = _map_any_type(masked[start:k + 1])
        masked = masked[:start] + mapped + masked[k + 1:]
        pos = start + len(mapped)

    # SELECT DISTINCT ON (keys) → row_number window + rn=1
    masked = _rewrite_distinct_on(masked)

    # ROW(...) constructor → struct(...) (reference struct_table.slt;
    # positional struct casts at the insert boundary rename the fields)
    masked = re.sub(r"\bROW\s*\(", "struct(", masked, flags=re.I)

    # ARRAY[...] literal → array(...) — convert the MATCHING bracket
    # (subscripts like a[1] have no ARRAY keyword and pass through)
    while True:
        mm = re.search(r"\bARRAY\s*\[", masked, re.I)
        if mm is None:
            break
        i = masked.index("[", mm.start())
        depth, j = 0, i
        while j < len(masked):
            if masked[j] == "[":
                depth += 1
            elif masked[j] == "]":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            break  # unbalanced — leave for Spark's parser to report
        masked = (
            masked[: mm.start()] + "array(" + masked[i + 1 : j] + ")" + masked[j + 1 :]
        )

    # PG array subscripts are 1-BASED and NULL out of bounds — INCLUDING
    # a[0] and negative subscripts (Spark's try_element_at(-1) wraps to
    # the LAST element and 0 errors, so the index needs a >= 1 guard);
    # rewrite `a[expr]` / `t.c[expr]` / `(expr)[i]` / chained `a[i][j]`
    # to a guarded try_element_at, which carries PG's exact contract
    # even under ANSI batch mode (issue_12474.slt shape `x[1]`). Runs
    # AFTER the ARRAY[...] literal conversion, so every remaining
    # bracket is a subscript; slices (a[i:j]) and empty type brackets
    # (int[]) pass through untouched.
    def _pg_subscript(base: str, idx: str) -> str:
        # one parenthesized expression, so a chained subscript re-scans
        # on the trailing ')'. The >= 1 guard is for PG's 1-based array
        # contract — but it must not break MAP/string-key subscripts
        # (`m['k']` would hit a string-vs-int compare that errors under
        # ANSI — ADVICE r8): an integer literal keeps the static guard; a
        # string literal is definitely a map key (no guard); any other
        # expression guards through try_cast, so a non-numeric key falls
        # back to the plain map lookup branch.
        s = idx.strip()
        if re.fullmatch(r"[-+]?\d+", s):
            return f"(CASE WHEN ({idx}) >= 1 THEN try_element_at({base}, {idx}) END)"
        if re.fullmatch(r"'(?:[^']|'')*'", s):
            return f"try_element_at({base}, {idx})"
        return (
            f"(CASE WHEN try_cast(({idx}) AS double) IS NULL "
            f"THEN try_element_at({base}, {idx}) "
            f"WHEN try_cast(({idx}) AS double) >= 1 "
            f"THEN try_element_at({base}, {idx}) END)"
        )

    # keywords that can directly precede '(' without being a call head
    _kw_nofn = {
        "WHEN", "THEN", "ELSE", "AND", "OR", "NOT", "IN", "SELECT",
        "WHERE", "ON", "BY", "AS", "CASE", "END", "FROM", "DISTINCT",
        "ALL", "ANY", "SOME", "EXISTS", "BETWEEN", "LIKE", "ILIKE",
        "IS", "OVER", "VALUES", "UNION", "EXCEPT", "INTERSECT", "JOIN",
        "USING", "HAVING", "LIMIT", "OFFSET", "ORDER", "GROUP",
        "RETURNING", "SET",
    }
    while True:
        m2 = re.search(
            r"\b([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)\s*\[([^\[\]:]+)\]", masked
        )
        if m2 is not None:
            masked = (
                masked[: m2.start()]
                + _pg_subscript(m2.group(1), m2.group(2))
                + masked[m2.end():]
            )
            continue
        # parenthesized / call / chained bases: (ARRAY[...])[1],
        # f(...)[1], a[i][j] (the inner rewrite leaves a ')' base)
        m3 = re.search(r"\)\s*\[([^\[\]:]+)\]", masked)
        if m3 is None:
            break
        depth, k = 0, m3.start()
        while k >= 0:
            if masked[k] == ")":
                depth += 1
            elif masked[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        if k < 0:
            break  # unbalanced — leave for Spark's parser to report
        h = k
        mfn = re.search(r"([A-Za-z_]\w*)$", masked[:k])
        if mfn and mfn.group(1).upper() not in _kw_nofn:
            h = mfn.start()  # f(...)  — the call is the subscript base
        base = masked[h : m3.start() + 1]
        masked = masked[:h] + _pg_subscript(base, m3.group(1)) + masked[m3.end():]

    # approx_percentile(q[, e]) WITHIN GROUP (ORDER BY col) →
    # percentile_approx(col, q) (reference agg spelling,
    # `approx_percentile` in binder/expr; Spark's t-digest plays the
    # same bounded-error role — the retractable streaming sketch lives
    # in streaming/approx_percentile.py). percentile_cont/_disc pass
    # through: Spark accepts WITHIN GROUP for those natively.
    masked = re.sub(
        r"\bapprox_percentile\s*\(\s*([^(),]+?)\s*(?:,\s*[^(),]+?\s*)?\)\s*"
        r"WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+([^()]+?)\s*\)",
        r"percentile_approx(\2, \1)",
        masked,
        flags=re.I,
    )

    # regex match operators (avoid touching `!~~` / `~~` which are LIKE).
    # The operand token is matched from its start only and possessively,
    # so each token is scanned once: linear in the text (an unanchored
    # `\S+` is retried at every suffix of a long token — quadratic on
    # VALUES lists).
    if "~" in masked:
        masked = re.sub(r"(?<!\S)(\S++)\s+!~\s+", r"\1 NOT RLIKE ", masked)
        masked = re.sub(r"(?<!\S)(\S++)\s+~\s+(?=\x00)", r"\1 RLIKE ", masked)

    # TUMBLE/HOP window TVFs in ad-hoc batch queries (reference
    # binder/relation/window_table_function.rs; hop_window.rs row
    # expansion): rewritten to a derived-table subquery that attaches
    # window_start/window_end — TUMBLE via epoch-aligned truncation, HOP
    # via an explode over the size/slide covering windows (each row
    # appears once per window, the reference's expansion semantics).
    def _iv_us(tok: str, unit: str | None) -> int:
        units = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                 "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}
        body = lits[int(tok)].strip("'")
        if unit:
            return int(float(body) * units[unit.lower()] * 1_000_000)
        m = re.match(r"^([\d.]+)\s+(\w+)$", body.strip())
        if not m or m.group(2).lower() not in units:
            raise ValueError(f"cannot parse interval {body!r} in window TVF")
        return int(float(m.group(1)) * units[m.group(2).lower()] * 1_000_000)

    def _tumble_repl(m: re.Match) -> str:
        tbl, col = m.group("tbl"), m.group("ts")
        size = _iv_us(m.group("iv"), m.group("ivu"))
        ws = f"timestamp_micros(CAST(floor(unix_micros({col}) / {size}) AS BIGINT) * {size})"
        return (
            f"(SELECT *, {ws} AS window_start, "
            f"{ws} + INTERVAL {size} MICROSECOND AS window_end FROM {tbl})"
        )

    def _hop_repl(m: re.Match) -> str:
        tbl, col = m.group("tbl"), m.group("ts")
        slide = _iv_us(m.group("slide"), m.group("slu"))
        size = _iv_us(m.group("size"), m.group("szu"))
        if size <= 0 or slide <= 0 or size % slide != 0:
            raise ValueError("HOP size must be a positive multiple of the slide")
        n = size // slide
        base = f"CAST(floor(unix_micros({col}) / {slide}) AS BIGINT) * {slide}"
        ws = f"timestamp_micros({base} - __hop_j * {slide})"
        return (
            f"(SELECT *, {ws} AS window_start, "
            f"{ws} + INTERVAL {size} MICROSECOND AS window_end "
            f"FROM (SELECT *, explode(sequence(0, {n - 1})) AS __hop_j FROM {tbl}))"
        )

    _iv_rx = r"INTERVAL\s+\x00(?P<{t}>\d+)\x00(?:\s+(?P<{u}>\w+))?"
    masked = re.sub(
        r"\bTUMBLE\s*\(\s*(?P<tbl>\w+)\s*,\s*(?P<ts>\w+)\s*,\s*"
        + _iv_rx.format(t="iv", u="ivu") + r"\s*\)",
        _tumble_repl,
        masked,
        flags=re.I,
    )
    masked = re.sub(
        r"\bHOP\s*\(\s*(?P<tbl>\w+)\s*,\s*(?P<ts>\w+)\s*,\s*"
        + _iv_rx.format(t="slide", u="slu") + r"\s*,\s*"
        + _iv_rx.format(t="size", u="szu") + r"\s*\)",
        _hop_repl,
        masked,
        flags=re.I,
    )

    # functions
    masked = re.sub(r"\bnow\s*\(\s*\)", "current_timestamp()", masked, flags=re.I)
    # operands may be function calls (one paren nesting level, matching
    # _CAST_RE's depth) — lower(name), coalesce(a, b), expr(x) ORDER BY keys
    _sa_arg = r"((?:[^,()]|\((?:[^()]|\([^()]*\))*\))+?)"
    masked = re.sub(
        r"\bstring_agg\s*\(\s*" + _sa_arg + r"\s*,\s*(\x00\d+\x00)\s*"
        r"(?:ORDER\s+BY\s+" + _sa_arg + r"\s*(ASC|DESC)?\s*)?\)",
        _string_agg_repl,
        masked,
        flags=re.I,
    )
    if re.search(r"\bstring_agg\s*\(", masked, flags=re.I):
        # Spark 4's native string_agg aggregates in partition-dependent
        # order — silently nondeterministic; refuse rather than pass through
        raise ValueError(
            "string_agg call too complex for the deterministic rewrite "
            "(nested parens > 1 level?); use array_join(collect_list(...)) "
            "with an explicit sort instead"
        )
    masked = re.sub(r"\bbool_and\s*\(", "every(", masked, flags=re.I)
    masked = re.sub(r"\bbool_or\s*\(", "any(", masked, flags=re.I)
    masked = re.sub(r"\bstrpos\s*\(", "instr(", masked, flags=re.I)
    # select-position unnest(arr) → explode(arr) (reference ProjectSet;
    # FROM-position unnest stays Spark's LATERAL VIEW territory)
    masked = re.sub(r"\bunnest\s*\(", "explode(", masked, flags=re.I)

    return _unmask(masked, lits)


def similar_to_regex(pattern: str) -> str:
    """SQL `SIMILAR TO` pattern → anchored Java regex (reference
    `similar_to_escape.rs`): `%` → `.*`, `_` → `.`; the regex-like
    operators SIMILAR TO shares with POSIX (`|`, `*`, `+`, `()`, `[]`)
    pass through unchanged. Covers the standard's core; PG's `{m,n}`
    bounds also pass through verbatim."""
    out = []
    in_class = False
    for ch in pattern:
        if ch == "[":
            in_class = True
            out.append(ch)
        elif ch == "]":
            in_class = False
            out.append(ch)
        elif not in_class and ch == "%":
            out.append(".*")
        elif not in_class and ch == "_":
            out.append(".")
        elif ch in ".^$\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"
