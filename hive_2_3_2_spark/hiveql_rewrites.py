"""HiveQL text-rewrite layer: the module-level regex + rewriter pairs
behind ``engine.rewrite_hiveql`` and ``Engine.sql``'s dispatch/retry
pipeline (split out of engine.py in round 10 — pure move, no behavior
change; the reference for each rewrite is cited in its docstring).

Every scan that must tell code from text goes through one lexer,
``_code_matches``, with Hive's lexical rules (parse/HiveLexer.g
StringLiteral, Identifier, COMMENT; Spark's lexer shares them): '…' and
"…" string literals with backslash escapes, `…` backquoted identifiers
and ``--`` line comments are not code, and every code position has a
bracket depth. It yields each match of a regex that starts in code,
with its depth; the regex runs first and the lexer walks only as far
as each candidate. The substitution loops and the top-level keyword
finders iterate it directly. Helpers over it: ``_search_code`` (the
first match), ``_scan_balanced`` (the matching close),
``_split_top_commas`` (depth-0 commas; ``angle`` also counts ``<>`` in
type lists) and ``_open_parens`` (the parens still open at a position).

Everything here is string → string: those helpers, the
HiveQL-divergence rewrites (decimal/float comparison precedence,
int-to-timestamp millis, distinct windows, greatest/least null
propagation, PTF/window clause spellings, MAP/REDUCE transform
spellings, CTE reordering), and the error-keyed retry rewrites
(_retry_rewrite). No SparkSession, no engine state — engine.py imports
these names; nothing here imports engine.
"""

from __future__ import annotations

import re

#: Where each non-code span ends, matched from just past the character
#: that opens it: '…' and "…" string literals with backslash escapes (a
#: doubled quote closes one literal and opens the next; an unterminated
#: literal runs to the end), `…` backquoted identifiers, and ``--`` line
#: comments (opened by "--", so the match starts at the second dash).
_SPAN_END = {
    "'": re.compile(r"(?:[^'\\]|\\.)*(?:'|\\)?", re.DOTALL),
    '"': re.compile(r'(?:[^"\\]|\\.)*(?:"|\\)?', re.DOTALL),
    "`": re.compile(r"[^`]*`?"),
    "-": re.compile(r"-[^\n]*"),
}
#: what the lexer acts on in code: a bracket moves the depth, anything
#: else opens a non-code span; type lists also count ``<>``
_EVENTS = re.compile(r"[()'\"`]|--")
_TYPE_EVENTS = re.compile(r"[()<>'\"`]|--")


def _span_end(text: str, start: int) -> int:
    """End of the literal, backquoted identifier or comment whose opening
    character is at ``start``."""
    return _SPAN_END[text[start]].match(text, start + 1).end()


def _code_matches(
    pattern: re.Pattern, text: str, pos: int = 0, angle: bool = False
):
    """The lexer: yield ``(match, depth)`` for each match of ``pattern``
    from ``pos`` that starts in code, with the bracket depth at its start
    (``pos`` must be a code position; it is depth 0). The character that
    opens a span is code. The regex runs first and the lexer walks only
    as far as each candidate, once: text without a candidate is never
    lexed. A candidate inside a span resumes the search at its end."""
    m = pattern.search(text, pos)
    if m is None:
        return
    events = _TYPE_EVENTS if angle else _EVENTS
    ev = events.search(text, pos)
    lexed, depth = pos, 0
    while m is not None:
        while ev is not None and ev.start() < m.start():
            s = ev.start()
            if text[s] in "(<":
                depth += 1
                lexed = s + 1
            elif text[s] in ")>":
                depth -= 1
                lexed = s + 1
            else:
                lexed = _span_end(text, s)
            ev = events.search(text, lexed)
        if lexed > m.start():  # inside a literal, identifier or comment
            m = pattern.search(text, lexed)
            continue
        yield m, depth
        m = pattern.search(text, max(m.end(), m.start() + 1))


def _search_code(pattern: re.Pattern, text: str):
    """``pattern.search`` skipping matches inside literals, backquoted
    identifiers and comments — a rewrite must never fire on 'use
    greatest(x) wisely' appearing in a string constant."""
    return next((m for m, _d in _code_matches(pattern, text)), None)


_CLOSE = re.compile(r"\)")
_TYPE_CLOSE = re.compile(r"[)>]")


def _scan_balanced(text: str, open_idx: int, angle: bool = False) -> int:
    """Index of the bracket closing the one at ``open_idx``;
    ``len(text)`` if unbalanced. ``angle`` counts ``<>`` too."""
    close = _TYPE_CLOSE if angle else _CLOSE
    return next(
        (
            m.start()
            for m, d in _code_matches(close, text, open_idx, angle)
            if d == 1
        ),
        len(text),
    )


_COMMA = re.compile(",")


def _split_top_commas(s: str, angle: bool = False) -> list[str]:
    """Split on depth-0 commas in code: commas inside brackets belong to
    the nested expression, and commas inside literals are text — found
    by the hypothesis roundtrip property, e.g. ``SET c = 'a,b'``.
    ``angle`` (type lists) counts ``<>`` as brackets."""
    parts: list[str] = []
    last = 0
    for m, d in _code_matches(_COMMA, s, angle=angle):
        if d == 0:
            parts.append(s[last:m.start()])
            last = m.end()
    parts.append(s[last:])
    return parts


_PARENS = re.compile(r"[()]")


def _open_parens(text: str, end: int) -> list[int]:
    """Positions of the '(' still open at ``end``, innermost last."""
    stack: list[int] = []
    for m, _d in _code_matches(_PARENS, text):
        if m.start() >= end:
            break
        if m.group() == "(":
            stack.append(m.start())
        elif stack:
            stack.pop()
    return stack


_FIELD_CALL = re.compile(r"\bfield\s*\(", re.IGNORECASE)


_PRINTF_CALL = re.compile(r"\b(?:printf|format_string)\s*\(", re.IGNORECASE)
_REPLICATE_ROWS_CALL = re.compile(r"\breplicate_rows\s*\(", re.IGNORECASE)


_DISTINCT_WIN_CALL = re.compile(
    r"\b(count|sum|avg)\s*\(\s*distinct\b", re.IGNORECASE
)


_OVER_AFTER = re.compile(r"\s*\bOVER\b\s*", re.IGNORECASE)
_BARE_FRACTION = re.compile(r"^[+-]?\d+\.\d+$")


def _rewrite_call_args(
    query: str, call: re.Pattern, fn
) -> str:
    """Generic quoted-literal-safe call rewriter: for each ``name(...)``
    occurrence in code position, pass its top-level argument list to
    ``fn(args)``: None leaves the call untouched, a list of strings
    replaces the argument list, and a plain string replaces the ENTIRE
    call expression."""
    out = []
    while True:
        # each iteration consumes through a full call in code position,
        # so the remainder always starts outside any quoted literal and
        # _search_code's quote tracking stays valid per segment
        m = _search_code(call, query)
        if m is None:
            break
        open_idx = query.index("(", m.start())
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            break
        args = [
            a.strip() for a in _split_top_commas(query[open_idx + 1:close])
        ]
        new_args = fn(args)
        if new_args is None:
            out.append(query[:close + 1])
        elif isinstance(new_args, str):
            out.append(query[:m.start()] + new_args)
        else:
            out.append(
                query[:open_idx + 1] + ", ".join(new_args) + ")"
            )
        query = query[close + 1:]
    out.append(query)
    return "".join(out)


_MONTHS_BETWEEN_CALL = re.compile(r"\bmonths_between\s*\(", re.IGNORECASE)


def _hv_mb_norm(arg: str) -> str:
    """Hive's lenient string→timestamp for months_between operands as
    a pure Catalyst expression: out-of-range month/day fields ROLL
    OVER via add_months/date_add from the year start, out-of-range
    time fields roll ARITHMETICALLY (lenient GregorianCalendar: hour
    25 lands in the next day, minute 70 adds an hour — seconds since
    midnight added onto the rolled date), and only a FULL H:M:S
    time-of-day counts (a partial '10:39' is midnight)."""
    xs = f"CAST({arg} AS STRING)"
    y = (
        f"CAST(regexp_extract({xs}, "
        "'^\\\\s*(\\\\d{1,4})-', 1) AS INT)"
    )
    mo = (
        f"CAST(regexp_extract({xs}, "
        "'^\\\\s*\\\\d{1,4}-(\\\\d{1,2})', 1) AS INT)"
    )
    d = (
        f"CAST(regexp_extract({xs}, "
        "'^\\\\s*\\\\d{1,4}-\\\\d{1,2}-(\\\\d{1,2})', 1) AS INT)"
    )
    ymd = f"date_add(add_months(make_date({y}, 1, 1), {mo} - 1), {d} - 1)"
    tpat = (
        "'^\\\\s*\\\\d{1,4}-\\\\d{1,2}-\\\\d{1,2}\\\\s+"
        "(\\\\d{1,2}):(\\\\d{1,2}):(\\\\d{1,2})'"
    )

    def _tfield(idx: int) -> str:
        # '' (no full H:M:S match) casts to NULL INT → secs coalesces 0
        return f"CAST(regexp_extract({xs}, {tpat}, {idx}) AS INT)"

    secs = (
        f"COALESCE({_tfield(1)} * 3600 + {_tfield(2)} * 60 "
        f"+ {_tfield(3)}, 0)"
    )
    return (
        f"CASE WHEN {xs} RLIKE "
        "'^\\\\s*\\\\d{1,4}-\\\\d{1,2}-\\\\d{1,2}' "
        f"THEN timestampadd(SECOND, {secs}, "
        f"CAST({ymd} AS TIMESTAMP)) "
        "ELSE NULL END"
    )


_ADD_MONTHS_CALL = re.compile(r"\badd_months\s*\(", re.IGNORECASE)


#: typed-operand classifier result: operands that CANNOT carry
#: out-of-range fields keep Spark's native intrinsic (a DATE column
#: passes through untouched; a TIMESTAMP column only truncates to
#: whole seconds the way GenericUDFMonthsBetween.java:135-140 does)
_DT_DATE = "date"
_DT_TIMESTAMP = "timestamp"


def _rewrite_add_months(query: str, operand_type=None) -> str:
    """Hive GenericUDFAddMonths shares months_between's LENIENT string
    parse: add_months('2014-01-32', 1) rolls Jan 32 over to Feb 1 and
    returns '2014-03-01' (udf_add_months.q golden), where Spark's
    add_months NULLs the invalid date. The first operand normalizes
    through the same pure Catalyst expression; Spark's own
    add_months then applies (it already pins last-day → last-day like
    Hive). MUST run BEFORE _rewrite_months_between in the pipeline —
    that rewrite emits internal add_months(make_date(...)) calls that
    need no (and must not get) re-normalization.

    ``operand_type`` (engine-provided, schema-resolved) classifies an
    operand expression as 'date'/'timestamp'/None: typed DATE and
    TIMESTAMP operands cannot carry out-of-range fields, so they skip
    the normalization entirely — Spark's native add_months IS Hive's
    behavior there (both take the date part)."""
    typed = operand_type or (lambda expr: None)

    def fn(args):
        if len(args) < 2 or "make_date" in args[0]:
            return None
        if typed(args[0]) in (_DT_DATE, _DT_TIMESTAMP):
            return None
        return [_hv_mb_norm(args[0])] + list(args[1:])

    return _rewrite_call_args(query, _ADD_MONTHS_CALL, fn)


def _rewrite_months_between(query: str, operand_type=None) -> str:
    """Hive GenericUDFMonthsBetween parses STRING operands with a
    LENIENT GregorianCalendar — out-of-range fields roll over
    ('2002-02-31' → 2002-03-03, udf_months_between.q golden
    0.06451613) — and SKIPS a partial time-of-day ('1995-02-02 10:39'
    counts as midnight, golden 1.03225806). Spark's months_between
    NULLs the former and COUNTS the latter — two real value
    divergences found by the r11 sweep. String operands normalize
    through a pure Catalyst expression (regexp_extract + make_date +
    add_months rollover), so the fix stays JVM-side: no UDF in the
    path, codegen intact.

    ``operand_type`` classifies schema-resolved operands: a DATE
    operand passes through untouched (native months_between); a
    TIMESTAMP operand only truncates to whole seconds —
    GenericUDFMonthsBetween.java:135-140 counts the time part in
    SECONDS, where Spark's native intrinsic counts microseconds —
    no regex battery on operands that cannot have out-of-range
    fields."""
    typed = operand_type or (lambda expr: None)

    def _norm(arg: str) -> str:
        t = typed(arg)
        if t == _DT_DATE:
            return arg
        if t == _DT_TIMESTAMP:
            return f"date_trunc('SECOND', {arg})"
        return _hv_mb_norm(arg)

    def fn(args):
        if len(args) < 2:
            return None
        if (
            typed(args[0]) == _DT_DATE
            and typed(args[1]) == _DT_DATE
        ):
            return None  # both native — leave the call untouched
        return [_norm(args[0]), _norm(args[1])] + list(args[2:])

    return _rewrite_call_args(query, _MONTHS_BETWEEN_CALL, fn)


def _rewrite_distinct_window(query: str) -> str:
    """Hive's DISTINCT windowed aggregates — ``COUNT/SUM/AVG(DISTINCT
    x) OVER (...)`` (windowing_distinct.q; HIVE-9534) — which Spark's
    analyzer rejects outright. Composition over the frame-respecting
    collect_set window function:

    - COUNT(DISTINCT x) OVER w  → size(collect_set(x) OVER w)
      (multi-arg COUNT guards NULLs the Hive way: a row with ANY null
      argument is excluded);
    - SUM(DISTINCT x) OVER w    → aggregate(collect_set(x) OVER w,
      IF(FALSE, (x) + CAST(0 AS BIGINT), NULL),
      (__dwa, __dwv) -> coalesce(__dwa, CAST(0 AS BIGINT)) + __dwv) —
      the never-evaluated IF(FALSE, ...) seed is a NULL *of the
      accumulator type* (x widened by one BIGINT add), so an empty
      frame yields NULL like Hive AND the result type matches Hive's
      SUM: BIGINT for integral x, DOUBLE for float/double. DECIMAL x
      widens precision on every fold step, which Spark's aggregate()
      rejects (accumulator type is fixed) — _retry_rewrite catches
      that exact DATATYPE_MISMATCH and pins the merge result back to
      the accumulator's DECIMAL type, so decimals stay decimal (no
      binary-float round-off; Hive types the sum DECIMAL(p+10,s) vs
      our DECIMAL(p+3,s) — value-identical within 38 digits);
    - AVG(DISTINCT x) OVER w    → that sum divided by the size.

    A DISTINCT aggregate NOT followed by OVER is left for Spark's
    regular distinct-aggregate path. Named window references
    (``OVER w``) are supported."""
    out = []
    while True:
        m = _search_code(_DISTINCT_WIN_CALL, query)
        if m is None:
            break
        fn = m.group(1).lower()
        open_idx = query.index("(", m.start())
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            break
        inner = query[open_idx + 1:close]
        # strip the leading DISTINCT keyword from the argument text
        inner = re.sub(r"^\s*distinct\b", "", inner, flags=re.IGNORECASE)
        om = _OVER_AFTER.match(query, close + 1)
        if not om:
            # plain distinct aggregate — Spark handles it natively
            out.append(query[:close + 1])
            query = query[close + 1:]
            continue
        oend = om.end()
        if oend < len(query) and query[oend] == "(":
            oclose = _scan_balanced(query, oend)
            if oclose >= len(query):
                break
            over = query[oend:oclose + 1]
            consumed = oclose + 1
        else:
            wm = re.match(r"`?\w+`?", query[oend:])
            if not wm:
                break
            over = wm.group(0)
            consumed = oend + wm.end()
        args = [a.strip() for a in _split_top_commas(inner)]
        if fn == "count" and len(args) > 1:
            guard = " OR ".join(f"({a.strip()}) IS NULL" for a in args)
            tup = ", ".join(a.strip() for a in args)
            elem = f"CASE WHEN {guard} THEN NULL ELSE struct({tup}) END"
        else:
            elem = inner.strip()
        cset = f"collect_set({elem}) OVER {over}"
        sum_form = (
            f"aggregate({cset}, "
            f"IF(FALSE, ({elem.strip()}) + CAST(0 AS BIGINT), NULL), "
            f"(__dwa, __dwv) -> coalesce(__dwa, CAST(0 AS BIGINT)) "
            f"+ __dwv)"
        )
        if fn == "count":
            repl = f"size({cset})"
        elif fn == "sum":
            repl = sum_form
        else:  # avg
            repl = f"(({sum_form}) / size({cset}))"
        out.append(query[:m.start()] + repl)
        query = query[consumed:]
    out.append(query)
    return "".join(out)


def _rewrite_replicate_rows(query: str) -> str:
    """Hive's SQL-callable ``replicate_rows(n, e1, ...)`` UDTF
    (GenericUDTFReplicateRows, exec/FunctionRegistry.java:499;
    udtf_replicate_rows.q golden): emits the tuple (n, e1, ...) n
    times, nothing for n <= 0. Spark-side composition:
    ``inline(array_repeat(struct(n AS col0, e1 AS col1, ...),
    greatest(0, cast(n AS int))))`` — pure JVM expressions, no UDF.
    The count expression appears twice, so a nondeterministic n is
    unsupported (same documented restriction as greatest/least)."""
    def fix(args):
        if len(args) < 2:
            return None
        fields = ", ".join(
            f"({a.strip()}) AS col{i}" for i, a in enumerate(args)
        )
        n = args[0].strip()
        return (
            f"inline(array_repeat(struct({fields}), "
            f"greatest(0, cast(({n}) AS INT))))"
        )

    return _rewrite_call_args(query, _REPLICATE_ROWS_CALL, fix)


def _rewrite_printf_double_literals(query: str) -> str:
    """Hive types an unsuffixed fractional literal as DOUBLE; Spark
    types it DECIMAL, and Spark's printf/format_string cannot format
    its internal Decimal with %e/%f/%g/%a (udf_printf.q goldens fail
    with 'e != org.apache.spark.sql.types.Decimal'). Suffix bare
    fractional-literal arguments with D so they reach the Java
    Formatter as doubles, exactly as Hive passes them. Decimal-typed
    COLUMNS under %f remain unsupported (cast to double explicitly)."""
    def fix(args):
        if len(args) < 2:
            return None
        changed = False
        new = [args[0]]
        for a in args[1:]:
            s = a.strip()
            if _BARE_FRACTION.fullmatch(s):
                new.append(s + "D")
                changed = True
            else:
                new.append(a)
        return new if changed else None

    return _rewrite_call_args(query, _PRINTF_CALL, fix)


#: The reference's TEST-JAR function classes → Python equivalents
#: (functions/test_jar_udfs.py documents each source file). "alias"
#: entries are behaviorally a Spark builtin — registered as fn_aliases
#: so every type overload works.
_TEST_JAR_CLASSES: dict[str, tuple[str, str]] = {
    "org.apache.hadoop.hive.ql.udf.UDFTestLength": (
        "py", "hive_2_3_2_spark.functions.test_jar_udfs.testlength"),
    "org.apache.hadoop.hive.ql.udf.UDFTestLength2": (
        "py", "hive_2_3_2_spark.functions.test_jar_udfs.testlength2"),
    "org.apache.hadoop.hive.ql.udf.UDAFTestMax": ("alias", "max"),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDAFSumList": (
        "py", "hive_2_3_2_spark.functions.test_jar_udfs.sum_list"),
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDFTestGetJavaString":
        ("py",
         "hive_2_3_2_spark.functions.test_jar_udfs"
         ".test_udf_get_java_string"),
    "org.apache.hadoop.hive.contrib.udtf.example.GenericUDTFCount2": (
        "py", "hive_2_3_2_spark.functions.test_jar_udfs.UDTFCount2"),
    "hive.it.custom.udfs.GenericUDFRot13": (
        "py", "hive_2_3_2_spark.functions.test_jar_udfs.rot13"),
    # itests/util .../generic/GenericUDFTestTranslate.java — "Mimics
    # oracle's function translate(str1, str2, str3)" = Spark's builtin
    "org.apache.hadoop.hive.ql.udf.generic.GenericUDFTestTranslate": (
        "alias", "translate"),
}

#: Hive builtin class tails whose Spark function name differs from the
#: lowercased class tail (FunctionRegistry.java registrations)
_HIVE_CLASS_FN_EXCEPTIONS = {
    "average": "avg",
    "opplus": "+",
    "opnegative": "negative",
    "stddevsamp": "stddev_samp",
    "stddev": "stddev_pop",     # Hive std/stddev are POPULATION forms
    "variance": "var_pop",
    "varsamp": "var_samp",
    "collectset": "collect_set",
    "collectlist": "collect_list",
    "rowsequence": "monotonically_increasing_id",
    "tolower": "lower",
    "toupper": "upper",
}

# Simple TRANSFORM select — the shape the partial-consumption mode
# handles (script_pipe.q); anything fancier keeps the native path
_TRANSFORM_PARTIAL_STMT = re.compile(
    r"^\s*SELECT\s+TRANSFORM\s*\((.*?)\)\s+USING\s+'([^']+)'"
    r"(?:\s+AS\s+(\([^)]*\)|[\w\s,]+?))?\s+FROM\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# Noop pass-through PTF family (udf/ptf/Noop*.java) — SQL invocation
# ``noop(on <src> partition by ... order by ...)``
_NOOP_PTF_HEAD = re.compile(
    r"\b(?:noop|noopwithmap|noopstreaming|noopwithmapstreaming)"
    r"\s*\(\s*on\b",
    re.IGNORECASE,
)
_PTF_SPEC_CLAUSE = re.compile(
    r"\b(?:partition\s+by|distribute\s+by|order\s+by|sort\s+by|"
    r"cluster\s+by)\b",
    re.IGNORECASE,
)
#: words that can follow a FROM-item where an alias CANNOT appear
_FROM_TAIL_KEYWORDS = frozenset(
    "join inner left right full cross outer semi anti on where group "
    "order sort distribute cluster window having limit union intersect "
    "except insert select lateral using natural".split()
)

_CAST_OPEN = re.compile(r"\bcast\s*\(", re.IGNORECASE)


_AS_KW = re.compile(r"\bas\b", re.IGNORECASE)


def _last_toplevel_as(text: str) -> int | None:
    """Start index of the last depth-0 ``AS`` keyword in a cast body,
    or None."""
    last = None
    for m, d in _code_matches(_AS_KW, text):
        if d == 0:
            last = m.start()
    return last


_FLOAT_LIT_CAST = r"CAST\s*\(\s*(?:'[^']*'|-?\d+(?:\.\d+)?)\s*AS\s+FLOAT\s*\)"
_FLOAT_LIT_CMP_R = re.compile(
    rf"([\w.]+)\s*(==|=|!=|<>|<=|>=|<|>)\s*({_FLOAT_LIT_CAST})",
    re.IGNORECASE,
)
_FLOAT_LIT_CMP_L = re.compile(
    rf"({_FLOAT_LIT_CAST})\s*(==|=|!=|<>|<=|>=|<|>)\s*([\w.]+)",
    re.IGNORECASE,
)


_TS_LIT = r"TIMESTAMP\s+'(\d{1,4})-\d{1,2}-\d{1,2}[^']*'"
_ANCIENT_TS_CMP_R = re.compile(
    rf"([A-Za-z_][\w.]*)\s*(==|=|!=|<>|<=|>=|<|>)\s*({_TS_LIT})",
    re.IGNORECASE,
)
_ANCIENT_TS_CMP_L = re.compile(
    rf"({_TS_LIT})\s*(==|=|!=|<>|<=|>=|<|>)\s*([A-Za-z_][\w.]*)",
    re.IGNORECASE,
)
_ANCIENT_TS_IN = re.compile(
    rf"([A-Za-z_][\w.]*)\s+((?:NOT\s+)?IN)\s*"
    rf"(\(\s*{_TS_LIT}(?:\s*,\s*{_TS_LIT})*\s*\))",
    re.IGNORECASE,
)
#: first year safely past the Julian/Gregorian cutover
_GREGORIAN_SAFE_YEAR = 1583


def _rewrite_ancient_ts_filters(query: str) -> str:
    """Filters comparing a column against a PRE-GREGORIAN timestamp
    literal (year < 1583) must not push to the ORC reader: Spark
    builds the ORC SearchArgument from the proleptic micros without
    the hybrid-calendar rebase ORC files use, so stripe elimination
    silently drops the matching rows (vectorized_timestamp.q's
    0001-01-01 golden returns the row in Hive; pushed-down Spark
    returns nothing). Wrapping the COLUMN side in ``+ INTERVAL 0
    SECOND`` is a value-identity that makes the predicate an
    expression instead of an attribute ref — unpushable, evaluated
    row-side, correct. Modern literals (≥ 1583) are untouched and
    keep their pushdown."""

    def _wrap_r(m: re.Match[str]) -> str:
        if int(m.group(4)) >= _GREGORIAN_SAFE_YEAR:
            return m.group(0)
        return (f"({m.group(1)} + INTERVAL 0 SECOND) {m.group(2)} "
                f"{m.group(3)}")

    def _wrap_l(m: re.Match[str]) -> str:
        if int(m.group(2)) >= _GREGORIAN_SAFE_YEAR:
            return m.group(0)
        return (f"{m.group(1)} {m.group(3)} "
                f"({m.group(4)} + INTERVAL 0 SECOND)")

    def _wrap_in(m: re.Match[str]) -> str:
        years = [int(y) for y in re.findall(
            r"TIMESTAMP\s+'(\d{1,4})-", m.group(3), re.IGNORECASE
        )]
        if not years or min(years) >= _GREGORIAN_SAFE_YEAR:
            return m.group(0)
        return (f"({m.group(1)} + INTERVAL 0 SECOND) {m.group(2)} "
                f"{m.group(3)}")

    query = _ANCIENT_TS_CMP_R.sub(_wrap_r, query)
    query = _ANCIENT_TS_CMP_L.sub(_wrap_l, query)
    return _ANCIENT_TS_IN.sub(_wrap_in, query)


def _rewrite_float_cast_compares(query: str) -> str:
    """DECIMAL vs FLOAT comparisons happen AT FLOAT in Hive: the
    common-comparison type walks TypeInfoUtils.numericTypeList in
    registration order (BYTE<SHORT<INT<LONG<DECIMAL<FLOAT<DOUBLE), and
    DECIMAL(5) < FLOAT(6) means decimal converts UP to float
    (FunctionRegistry.getCommonClassForComparison:836-841) — so
    ``decimal_col = cast('0.22' as float)`` MATCHES 0.220 in Hive
    (parquet_ppd_decimal.q golden) while Spark compares both at double
    and misses. Rewrite ``<ident> <op> CAST(<literal> AS FLOAT)`` (and
    the mirrored form) to a typeof-dispatched CASE: decimal operands
    compare at float, everything else keeps Spark's plan (and its
    pushdown). Scope: literal float casts against simple column
    references — the only spelling float values have in HiveQL text;
    decimal-vs-float-COLUMN comparisons resolve statically in
    Engine._rewrite_decimal_float_col_compares (schema-resolved)."""

    def repl_r(m: re.Match[str]) -> str:
        a, op, c = m.group(1), m.group(2), m.group(3)
        return (
            f"(CASE WHEN typeof({a}) LIKE 'decimal%' "
            f"THEN CAST({a} AS FLOAT) {op} {c} "
            f"ELSE {a} {op} {c} END)"
        )

    def repl_l(m: re.Match[str]) -> str:
        c, op, a = m.group(1), m.group(2), m.group(3)
        return (
            f"(CASE WHEN typeof({a}) LIKE 'decimal%' "
            f"THEN {c} {op} CAST({a} AS FLOAT) "
            f"ELSE {c} {op} {a} END)"
        )

    query = _FLOAT_LIT_CMP_R.sub(repl_r, query)
    return _FLOAT_LIT_CMP_L.sub(repl_l, query)


_IN_NUMERIC_STRINGS = re.compile(
    r"([\w.]+)\s+(NOT\s+)?IN\s*\(\s*"
    r"('-?\d+(?:\.\d+)?'(?:\s*,\s*'-?\d+(?:\.\d+)?')*)\s*\)",
    re.IGNORECASE,
)


def _rewrite_decimal_in_strings(query: str) -> str:
    """``decimal_col IN ('0.22', ...)`` matches in Hive (GenericUDFIn
    folds decimal+string through the numeric comparison path) but
    Spark's IN coercion picks STRING — '0.220' != '0.22', silently no
    rows (parquet_ppd_decimal.q). When every list item is a QUOTED
    NUMERIC literal, dispatch on typeof: decimal operands compare the
    list at double (Hive's string-vs-numeric route), everything else
    keeps Spark's plan."""

    def repl(m: re.Match[str]) -> str:
        a, neg, lst = m.group(1), (m.group(2) or ""), m.group(3)
        if "." not in lst:
            # integer-looking string lists (key IN ('238','86') over
            # string columns everywhere in the golden corpus) compare
            # string-wise identically in Hive and Spark — leave them
            # on Spark's plan so the IN still pushes to the scan
            return m.group(0)
        unq = ", ".join(
            x.strip().strip("'") for x in lst.split(",")
        )
        return (
            f"(CASE WHEN typeof({a}) LIKE 'decimal%' "
            f"THEN CAST({a} AS DOUBLE) {neg}IN ({unq}) "
            f"ELSE {a} {neg}IN ({lst}) END)"
        )

    return _IN_NUMERIC_STRINGS.sub(repl, query)


def _rewrite_int_ts_casts(query: str) -> str:
    """``hive.int.timestamp.conversion.in.seconds=false`` mode (the
    reference DEFAULT — HiveConf.java:1337; TimestampWritable
    .longToTimestamp): integral and boolean values cast to TIMESTAMP
    count MILLISECONDS since epoch, while float/double/decimal/string
    keep their usual meaning. Spark's cast is always seconds, so each
    ``CAST(x AS TIMESTAMP)`` becomes a typeof-dispatched CASE bound
    once inside ``transform(array(expr), x -> ...)`` — the operand is
    evaluated EXACTLY once (safe for rand()/uuid()), and every branch
    analyzes for every operand type (integrals route through a STRING
    round-trip because e.g. DATE has no BIGINT cast; the branch is only
    TAKEN for integral x, where the round-trip is exact). This mode is
    the engine DEFAULT (reference parity); SET ...in.seconds=true
    restores Spark's plain seconds cast
    (timestamp_ints_casts.q exercises both settings)."""
    out: list[str] = []
    i = 0
    for m, _d in _code_matches(_CAST_OPEN, query):
        if m.start() < i:
            continue  # inside a cast already rewritten
        open_idx = query.index("(", m.start())
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            break
        inner = query[open_idx + 1: close]
        k = _last_toplevel_as(inner)
        if k is None or inner[k + 2:].strip().lower() != "timestamp":
            # not a cast-to-timestamp: step INSIDE so nested casts are
            # still scanned
            out.append(query[i: open_idx + 1])
            i = open_idx + 1
            continue
        expr = _rewrite_int_ts_casts(inner[:k].strip())
        out.append(query[i: m.start()])
        # Literal operands stay FOLDABLE — wrapping a constant in the
        # typeof CASE would turn `l_shipdate <= CAST('1998-09-02' AS
        # TIMESTAMP)` into a non-constant comparison and LOSE the
        # parquet PushedFilter (a full-scan regression at 100 TB).
        if re.fullmatch(r"'(?:[^']|'')*'", expr) or re.fullmatch(
            r"(?:date|timestamp)\s*'[^']*'", expr, re.IGNORECASE
        ):
            out.append(f"CAST({expr} AS TIMESTAMP)")
        elif re.fullmatch(r"[+-]?\d+", expr):
            out.append(f"timestamp_millis({expr})")
        elif re.fullmatch(
            r"[+-]?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?|"
            r"[+-]?\d+[eE][+-]?\d+",
            expr,
        ):
            out.append(f"CAST({expr} AS TIMESTAMP)")
        elif re.fullmatch(r"(?:true|false)", expr, re.IGNORECASE):
            out.append(
                f"timestamp_millis({1 if expr.lower() == 'true' else 0})"
            )
        elif re.fullmatch(r"null", expr, re.IGNORECASE):
            out.append("CAST(NULL AS TIMESTAMP)")
        else:
            out.append(
                f"transform(array({expr}), x_its -> CASE "
                "WHEN typeof(x_its) = 'boolean' THEN timestamp_millis("
                "CASE WHEN CAST(x_its AS STRING) = 'true' THEN 1 "
                "WHEN x_its IS NOT NULL THEN 0 END) "
                "WHEN typeof(x_its) IN "
                "('tinyint','smallint','int','bigint')"
                " THEN timestamp_millis("
                "CAST(CAST(x_its AS STRING) AS BIGINT))"
                " ELSE CAST(x_its AS TIMESTAMP) END)[0]"
            )
        i = close + 1
    out.append(query[i:])
    return "".join(out)


_GREATEST_CALL = re.compile(r"\b(greatest|least)\s*\(", re.IGNORECASE)


def _rewrite_greatest_least(query: str) -> str:
    """Hive 2.3's GREATEST/LEAST return NULL when ANY argument is NULL
    (GenericUDFGreatest/Least after HIVE-12082; pinned by the
    udf_greatest.q golden: GREATEST(null,'b','c') → NULL). Spark and
    DuckDB both SKIP nulls, so Engine.sql rewrites to a null-guarded
    array_max/array_min — loop-safe because the replacement contains no
    greatest/least token. Each argument is emitted exactly ONCE into an
    array bound to a lambda variable (transform over a one-element
    array-of-array), so nondeterministic args (rand(), uuid()) are
    evaluated a single time and the NULL guard always agrees with the
    returned value."""
    counter = [0]

    def rewrite(text: str) -> str:
        while True:
            m = _search_code(_GREATEST_CALL, text)
            if not m:
                return text
            fn = (
                "array_max"
                if m.group(1).lower() == "greatest"
                else "array_min"
            )
            open_idx = text.index("(", m.start())
            close = _scan_balanced(text, open_idx)
            if close >= len(text):
                return text
            args = [
                a.strip() for a in _split_top_commas(text[open_idx + 1:close])
            ]
            if len(args) < 2:
                return text
            # inner calls in the args must be rewritten first — recurse
            args = [rewrite(a) for a in args]
            var = f"__gl{counter[0]}"  # unique per call site: nested
            counter[0] += 1           # lambdas must not share a name
            arr = ", ".join(f"({a})" for a in args)
            repl = (
                f"(transform(array(array({arr})), {var} -> "
                f"CASE WHEN exists({var}, x{var} -> x{var} IS NULL) "
                f"THEN NULL ELSE {fn}({var}) END)[0])"
            )
            text = text[:m.start()] + repl + text[close + 1:]

    return rewrite(query)


def _rewrite_field_calls(query: str) -> str:
    """Hive's variadic ``field(needle, v1, v2, ...)`` (UDFField,
    exec/FunctionRegistry.java:262) — 1-based index of needle, 0 when
    absent — has no Spark builtin, but composes from array_position:
    ``coalesce(cast(array_position(array(v1, ...), needle) as int), 0)``
    (same expression as functions/gaps.py field, here made SQL-callable)."""
    while True:
        m = _search_code(_FIELD_CALL, query)
        if not m:
            return query
        open_idx = query.index("(", m.start())
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            return query
        args = [
            a.strip() for a in _split_top_commas(query[open_idx + 1:close])
        ]
        if len(args) < 2:
            return query
        needle, hay = args[0], ", ".join(args[1:])
        repl = (
            f"coalesce(cast(array_position(array({hay}), {needle}) "
            f"as int), 0)"
        )
        query = query[:m.start()] + repl + query[close + 1:]


_WITH_HEAD = re.compile(r"^\s*WITH\s+", re.IGNORECASE)
_CTE_ITEM_HEAD = re.compile(r"\s*(`?\w+`?)\s+AS\s*\(", re.IGNORECASE)


def _reorder_forward_ctes(query: str) -> str:
    """Hive 2.3 allows a CTE to reference one defined LATER in the same
    WITH list (parse/SemanticAnalyzer.java gatherCTEReferences resolves
    the whole map before rewriting; cte_1.q's q1-before-q2 golden).
    Spark resolves WITH items strictly left-to-right, so topologically
    reorder the definitions — any topo order is semantics-preserving
    because Hive forbids recursive CTEs too. On any shape this parser
    doesn't recognize (or a cycle), return the query untouched and let
    Spark produce its own error."""
    m = _WITH_HEAD.match(query)
    if not m:
        return query
    i = m.end()
    n = len(query)
    ctes: list[tuple[str, str]] = []
    while True:
        m2 = _CTE_ITEM_HEAD.match(query, i)
        if not m2:
            return query
        name = m2.group(1).strip("`")
        j = _scan_balanced(query, m2.end() - 1)
        if j >= n:
            return query
        ctes.append((name, query[i:j + 1].strip()))
        k = j + 1
        while k < n and query[k].isspace():
            k += 1
        if k < n and query[k] == ",":
            i = k + 1
        else:
            break
    if len(ctes) < 2:
        return query
    names = [nm.lower() for nm, _ in ctes]
    pos = {nm: idx for idx, nm in enumerate(names)}
    deps: dict[int, set[int]] = {}
    forward = False
    for idx, (_nm, text) in enumerate(ctes):
        body = text[text.index("("):]
        refs = {
            pos[w.lower()]
            for w in re.findall(r"\b\w+\b", body)
            if w.lower() in pos and pos[w.lower()] != idx
        }
        deps[idx] = refs
        if any(r > idx for r in refs):
            forward = True
    if not forward:
        return query
    ordered: list[int] = []
    done: set[int] = set()

    def visit(idx: int, stack: frozenset[int]) -> bool:
        if idx in done:
            return True
        if idx in stack:
            return False  # cycle (possibly a false-positive ref) — bail
        for d in sorted(deps[idx]):
            if not visit(d, stack | {idx}):
                return False
        done.add(idx)
        ordered.append(idx)
        return True

    for idx in range(len(ctes)):
        if not visit(idx, frozenset()):
            return query
    return (
        query[:m.end()]
        + ", ".join(ctes[idx][1] for idx in ordered)
        + " "
        + query[k:]
    )


_NESTED_WIN_AGG = re.compile(
    r"\b(sum|avg|min|max|count)\s*\(", re.IGNORECASE
)
_WIN_FN_HEAD = re.compile(
    r"^\s*(lag|lead|first_value|last_value|rank|dense_rank|row_number|"
    r"ntile|cume_dist|percent_rank)\s*\(",
    re.IGNORECASE,
)
_TOP_KW = re.compile(
    r"\b(FROM|WHERE|WINDOW|ORDER|LIMIT|GROUP|HAVING|DISTRIBUTE|SORT|"
    r"CLUSTER|UNION|INTERSECT|EXCEPT)\b",
    re.IGNORECASE,
)


def _top_level_spans(text: str) -> list[tuple[str, int]]:
    """(keyword, offset) for every depth-0 top keyword in code."""
    return [
        (m.group(1).upper(), m.start())
        for m, d in _code_matches(_TOP_KW, text)
        if d == 0
    ]


def _rewrite_alias_in_window(query: str) -> str | None:
    """Inline SELECT-list alias definitions into window OVER clauses
    (Hive's PTF translator resolves output-column aliases there —
    distinct_windowing_no_cbo.q's ``max(f) mf ... rank() over (order
    by mf)``; Spark raises LATERAL_COLUMN_ALIAS_IN_WINDOW). Only runs
    on statements Spark already rejected with that error. Returns None
    when no alias could be inlined (the original error stands)."""
    head = re.match(r"^\s*SELECT\s+(?:DISTINCT\s+)?", query, re.IGNORECASE)
    if not head:
        return None
    from_off = next(
        (i for k, i in _top_level_spans(query) if k == "FROM"), None
    )
    if from_off is None:
        return None
    items = _split_top_commas(query[head.end():from_off])
    aliases: dict[str, str] = {}
    for it in items:
        m = re.match(
            r"^(.*?)\s+(?:AS\s+)?`?(\w+)`?\s*$", it.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            continue
        expr, name = m.group(1).strip(), m.group(2)
        # a bare column item ("f" or "t.f") is its own alias — skip
        if not expr or re.fullmatch(r"[\w.`]+", expr):
            continue
        if expr.count("(") == expr.count(")"):
            aliases[name.lower()] = expr
    if not aliases:
        return None
    changed = False
    out = []
    rest = query
    while True:
        m = _search_code(_OVER_OPEN, rest)
        if not m:
            break
        open_idx = rest.index("(", m.start())
        close = _scan_balanced(rest, open_idx)
        if close >= len(rest):
            break
        body = rest[open_idx + 1:close]
        for name, expr in aliases.items():
            new_body = re.sub(
                rf"\b{re.escape(name)}\b", f"({expr})", body,
                flags=re.IGNORECASE,
            )
            if new_body != body:
                body = new_body
                changed = True
        out.append(rest[:open_idx + 1] + body + ")")
        rest = rest[close + 1:]
    out.append(rest)
    return "".join(out) if changed else None


def _rewrite_nested_window(query: str) -> str | None:
    """Hoist Hive's window-function-inside-windowed-aggregate
    (GenericUDAF over a windowing-function stream — windowing PTF
    evaluates the inner function first, then the aggregate over the
    SAME window spec; windowing_expressions.q's
    ``sum(lag(p_retailprice,1,0.0)) over w1``). Spark has no nested
    form, so the statement becomes a two-level select: the inner level
    computes each nested function ``<fn> OVER <spec> AS __wnN``, the
    outer aggregates ``agg(__wnN) OVER <spec>``. Only plain
    single-SELECT statements (no GROUP BY / set ops at top level) are
    attempted; anything else returns None and the original Spark error
    stands."""
    head = re.match(r"^\s*SELECT\s+", query, re.IGNORECASE)
    if not head:
        return None
    spans = _top_level_spans(query)
    if any(k in ("GROUP", "HAVING", "UNION", "INTERSECT", "EXCEPT",
                 "DISTRIBUTE", "SORT", "CLUSTER") for k, _ in spans):
        return None
    from_off = next((i for k, i in spans if k == "FROM"), None)
    if from_off is None:
        return None
    select_list = query[head.end():from_off]
    tail = query[from_off:]  # FROM ... [WHERE ...] [WINDOW ...] [ORDER/LIMIT]
    tail_spans = _top_level_spans(tail)
    win_off = next((i for k, i in tail_spans if k == "WINDOW"), None)
    post_off = next(
        (i for k, i in tail_spans if k in ("ORDER", "LIMIT")), None
    )
    if win_off is None:
        from_where = tail if post_off is None else tail[:post_off]
        window_clause = ""
    else:
        from_where = tail[:win_off]
        window_clause = (
            tail[win_off:post_off] if post_off is not None else tail[win_off:]
        )
    post = tail[post_off:] if post_off is not None else ""

    hoists: list[str] = []
    new_list = select_list
    changed = True
    while changed:
        changed = False
        for m in _NESTED_WIN_AGG.finditer(new_list):
            open_idx = new_list.index("(", m.start())
            close = _scan_balanced(new_list, open_idx)
            if close >= len(new_list):
                continue
            inner = new_list[open_idx + 1:close]
            if not _WIN_FN_HEAD.match(inner) or re.search(
                r"\bover\b", inner, re.IGNORECASE
            ):
                continue
            om = re.match(
                r"\s*\bover\b\s*", new_list[close + 1:], re.IGNORECASE
            )
            if not om:
                continue
            spec_start = close + 1 + om.end()
            if new_list[spec_start] == "(":
                spec_end = _scan_balanced(new_list, spec_start)
                spec = new_list[spec_start:spec_end + 1]
            else:
                sm = re.match(r"`?\w+`?", new_list[spec_start:])
                if not sm:
                    continue
                spec = sm.group(0)
                spec_end = spec_start + len(spec) - 1
            alias = f"__wn{len(hoists)}"
            hoists.append(f"{inner.strip()} over {spec} AS {alias}")
            new_list = (
                new_list[:m.start()]
                + f"{m.group(1)}({alias}) over {spec}"
                + new_list[spec_end + 1:]
            )
            changed = True
            break
    if not hoists:
        return None
    inner_sql = (
        f"SELECT *, {', '.join(hoists)} {from_where} {window_clause}"
    )
    return (
        f"SELECT {new_list} FROM ({inner_sql}) __wnest "
        f"{window_clause} {post}"
    )


_MAP_REDUCE_KW = re.compile(r"\b(MAP|REDUCE)\s", re.IGNORECASE)
_TRANSFORM_STOP = re.compile(
    r"\b(FROM|WHERE|GROUP|ORDER|HAVING|LIMIT|UNION|INTERSECT|EXCEPT|"
    r"SELECT|JOIN|ON|INSERT|DISTRIBUTE|SORT|CLUSTER)\b|;",
    re.IGNORECASE,
)
_USING_SCRIPT = re.compile(r"\bUSING\s*'", re.IGNORECASE)
#: what a clause scan looks at: a comma, a word, ';' or a ')'
_CLAUSE_TOKEN = re.compile(r"[,;)]|[^\W\d]\w*")


def _rewrite_map_reduce_transform(query: str) -> str:
    """Hive's ``MAP exprs USING 'script'`` / ``REDUCE exprs USING
    'script'`` spellings are pure aliases of ``SELECT TRANSFORM (exprs)
    USING`` (SemanticAnalyzer treats all three identically; mapreduce1.q
    ff.). Spark only parses the TRANSFORM spelling, so normalize. A
    match requires a top-level ``USING '<script>'`` after the keyword
    BEFORE any other clause keyword — which can never happen for the
    ``map(...)`` constructor, MAP-type DDL, or ``JOIN ... USING (cols)``
    (no quoted script)."""
    out = []
    while True:
        m = _search_code(_MAP_REDUCE_KW, query)
        if m is None:
            break
        # scan forward at top level for USING '<script>' before any
        # clause keyword or an unbalanced ')'
        using_at = -1
        for tm, d in _code_matches(_CLAUSE_TOKEN, query, m.end()):
            if d != 0:
                continue
            if _USING_SCRIPT.match(query, tm.start()):
                using_at = tm.start()
                break
            if tm.group() == ")" or _TRANSFORM_STOP.match(query, tm.start()):
                break
        if using_at < 0:
            out.append(query[:m.end()])
            query = query[m.end():]
            continue
        exprs = query[m.end():using_at].strip()
        head = query[:m.start()]
        # MAP/REDUCE stands in for the whole `SELECT TRANSFORM`; keep a
        # single SELECT if one is (unusually) already present
        kw = "TRANSFORM" if re.search(
            r"\bSELECT\s*$", head, re.IGNORECASE
        ) else "SELECT TRANSFORM"
        out.append(head + f"{kw} ({exprs}) ")
        query = query[using_at:]
    out.append(query)
    return "".join(out)


_WINDOW_KW = re.compile(r"\bWINDOW\s+(?=`?\w+`?\s+AS\b)", re.IGNORECASE)
_WIN_NAME = re.compile(r"`?\w+`?")
_FRAME_KW = re.compile(r"\b(ROWS|RANGE)\b", re.IGNORECASE)


def _split_frame(spec_body: str) -> tuple[str, str]:
    """Split a window-spec body into (partition/order part, frame part)
    at the top-level ROWS/RANGE keyword; frame part is '' if absent."""
    for wm, d in _code_matches(_FRAME_KW, spec_body):
        if d == 0:
            return spec_body[:wm.start()].rstrip(), spec_body[wm.start():].strip()
    return spec_body.strip(), ""


def _rewrite_named_windows(query: str) -> str | None:
    """Inline Hive's WINDOW clause forms that Spark cannot parse.

    Spark accepts plain ``WINDOW w AS (spec)`` and even ``w2 AS w3``
    aliases, but rejects (a) a definition refining another window —
    ``w2 AS (w1 ROWS BETWEEN ...)`` — and (b) a use-site refinement —
    ``OVER (w3 ROWS BETWEEN ...)`` (windowing.q:340,358 test 32/34;
    PTFTranslator.translate resolves the inheritance chain in Hive).
    Both fail with PARSE_SYNTAX_ERROR, so this runs retry-only: it
    resolves every definition transitively (forward references and
    frame inheritance included), substitutes the full spec into each
    ``OVER name`` / ``OVER (name [frame])`` use inside the clause's
    subquery scope, and deletes the clause. Use-site / inherited
    frames override the base window's own frame, matching Hive's
    effectiveWindowFrame resolution. Returns None when no WINDOW
    clause parses (the original Spark error stands). Window names are
    resolved per-clause; a name reused with a different spec in a
    DIFFERENT subquery of the same statement is scoped by the
    enclosing parentheses."""
    changed = False
    guard = 0
    while guard < 20:
        guard += 1
        m = _search_code(_WINDOW_KW, query)
        if m is None:
            break
        # parse the comma-separated `name AS def` items
        pos = m.end()
        defs: dict[str, str] = {}
        ok = True
        while True:
            im = re.compile(r"\s*(`?\w+`?)\s+AS\s*", re.IGNORECASE).match(
                query, pos
            )
            if not im:
                ok = False
                break
            name = im.group(1).strip("`").lower()
            p = im.end()
            if p < len(query) and query[p] == "(":
                close = _scan_balanced(query, p)
                if close >= len(query):
                    ok = False
                    break
                defs[name] = query[p:close + 1]
                p = close + 1
            else:
                nm = _WIN_NAME.match(query, p)
                if not nm:
                    ok = False
                    break
                defs[name] = nm.group(0).strip("`").lower()
                p = nm.end()
            cm = re.compile(r"\s*,").match(query, p)
            if cm:
                pos = cm.end()
                continue
            clause_end = p
            break
        if not ok or not defs:
            break

        resolved: dict[str, str | None] = {}

        def resolve(name: str, stack: frozenset) -> str | None:
            if name in resolved:
                return resolved[name]
            if name in stack or name not in defs:
                return None
            d = defs[name]
            if not d.startswith("("):
                r = resolve(d, stack | {name})
            else:
                body = d[1:-1].strip()
                bm = re.match(r"(`?\w+`?)\b\s*(.*)$", body, re.DOTALL)
                bname = bm.group(1).strip("`").lower() if bm else ""
                if bname in defs:
                    base = resolve(bname, stack | {name})
                    rest = bm.group(2).strip()
                    if base is None:
                        r = None
                    elif rest:
                        r = (_split_frame(base)[0] + " " + rest).strip()
                    else:
                        r = base
                else:
                    r = body
            resolved[name] = r
            return r

        for n in defs:
            resolve(n, frozenset())
        if any(v is None for v in resolved.values()):
            return None

        # scope: the innermost unmatched '(' before the clause opens the
        # subquery that owns it; uses may appear before the clause and
        # (for ORDER BY) after it, bounded by the scope's closing paren
        stack = _open_parens(query, m.start())
        scope_start = stack[-1] + 1 if stack else 0
        scope_end = (
            _scan_balanced(query, stack[-1]) if stack else len(query)
        )
        scope_end = max(scope_end, clause_end)

        def inline_uses(seg: str) -> str:
            # OVER (name [frame]) — use-site refinement or plain ref
            out = []
            while True:
                om = _search_code(
                    re.compile(r"\bover\s*\(", re.IGNORECASE), seg
                )
                if om is None:
                    break
                op = om.end() - 1
                close = _scan_balanced(seg, op)
                if close >= len(seg):
                    break
                body = seg[op + 1:close].strip()
                bm = re.match(r"(`?\w+`?)\b\s*(.*)$", body, re.DOTALL)
                bname = bm.group(1).strip("`").lower() if bm else ""
                if bname in resolved:
                    rest = bm.group(2).strip()
                    if rest:
                        new_body = (
                            _split_frame(resolved[bname])[0] + " " + rest
                        )
                    else:
                        new_body = resolved[bname]
                    out.append(seg[:op + 1] + new_body + ")")
                else:
                    out.append(seg[:close + 1])
                seg = seg[close + 1:]
            out.append(seg)
            seg = "".join(out)
            # OVER name — bare reference
            def bare(mm: re.Match[str]) -> str:
                nm = mm.group(1).strip("`").lower()
                if nm in resolved:
                    return f"over ({resolved[nm]})"
                return mm.group(0)
            return re.sub(
                r"\bover\s+(`?\w+`?)(?!\s*\()", bare, seg,
                flags=re.IGNORECASE,
            )

        query = (
            query[:scope_start]
            + inline_uses(query[scope_start:m.start()])
            + inline_uses(query[clause_end:scope_end])
            + query[scope_end:]
        )
        changed = True
    return query if changed else None


_RANGE_SHORT = re.compile(
    r"\bRANGE\s+(\d+)\s+(PRECEDING|FOLLOWING)\b(?!\s+AND)", re.IGNORECASE
)
_RANGE_BETWEEN = re.compile(
    r"\bRANGE\s+BETWEEN\s+"
    r"(UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))"
    r"\s+AND\s+"
    r"(UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW|\d+\s+(?:PRECEDING|FOLLOWING))",
    re.IGNORECASE,
)


def _rewrite_range_frame_bounds(query: str, unit: str | None) -> str | None:
    """Numeric RANGE frame bounds over non-numeric sort keys, as Hive
    2.3's ValueBoundaryScanner family evaluates them.

    ``unit=None`` (STRING sort key): StringValueBoundaryScanner.
    isDistanceGreater (ql/.../udf/ptf/ValueBoundaryScanner.java:~440)
    IGNORES the amount — any strictly-greater value ends the scan — so
    ``N PRECEDING`` degenerates to the peer-group start and
    ``N FOLLOWING`` to the peer-group end. Spark rejects the frame
    outright (SPECIFIED_WINDOW_FRAME_UNACCEPTED_TYPE), so on that
    retry the bounds collapse to CURRENT ROW (RANGE CURRENT ROW = the
    peer group in standard semantics, which is exactly Hive's scan
    result for non-null keys; a null sort key adjacent to the frame
    edge would extend Hive's scan — undefined-order corner, not
    exercised by the goldens). ``N FOLLOWING`` as a START bound or
    ``N PRECEDING`` as an END bound have no peer-group equivalent and
    are left unchanged (the original error stands).

    ``unit='DAY'``/``'SECOND'`` (DATE/TIMESTAMP sort keys):
    DateValueBoundaryScanner measures amt in days, Timestamp in
    seconds (same file) — rewrite to the equivalent INTERVAL bound,
    which Spark accepts natively and matches Hive's inclusive
    distance-> amt cutoff exactly."""

    changed = [False]

    def map_bound(tok: str, is_start: bool) -> str:
        mm = re.match(r"(\d+)\s+(PRECEDING|FOLLOWING)", tok, re.IGNORECASE)
        if not mm:
            return tok
        n, direction = mm.group(1), mm.group(2).upper()
        if unit is not None:
            changed[0] = True
            return f"INTERVAL {n} {unit} {direction}"
        if is_start and direction == "PRECEDING":
            changed[0] = True
            return "CURRENT ROW"
        if not is_start and direction == "FOLLOWING":
            changed[0] = True
            return "CURRENT ROW"
        return tok

    def fix_between(mm: re.Match[str]) -> str:
        lo = map_bound(mm.group(1), True)
        hi = map_bound(mm.group(2), False)
        return f"RANGE BETWEEN {lo} AND {hi}"

    def fix_short(mm: re.Match[str]) -> str:
        tok = map_bound(f"{mm.group(1)} {mm.group(2)}", True)
        if tok == f"{mm.group(1)} {mm.group(2)}":
            return mm.group(0)
        return f"RANGE BETWEEN {tok} AND CURRENT ROW"

    out = _RANGE_BETWEEN.sub(fix_between, query)
    out = _RANGE_SHORT.sub(fix_short, out)
    return out if changed[0] else None


_DW_REQUIRED_TYPE = re.compile(r'requires the "(DECIMAL\(\d+,\s*\d+\))"')
# our generated seed+merge, capturing the seed's element expression so
# the erroring aggregate can be matched back to its text position
_DW_SUM_FORM = re.compile(
    # elem is tempered on __dwa so a span can never swallow an
    # already-pinned merge lambda and alias the NEXT aggregate's seed
    r"IF\(FALSE, \((?P<elem>(?:(?!__dwa).)*?)\) \+ CAST\(0 AS BIGINT\), "
    r"NULL\), "
    r"\(__dwa, __dwv\) -> coalesce\(__dwa, CAST\(0 AS BIGINT\)\) "
    r"\+ __dwv",
    re.DOTALL,
)
# the analyzer prints the failing aggregate's seed verbatim in the error
_DW_ERR_ELEM = re.compile(
    r"IF\(false, \((?P<elem>.*?) \+ CAST\(0 AS BIGINT\)\), NULL\)"
)


def _dw_canon(expr: str) -> str:
    return re.sub(r"[\s()`]+", "", expr).lower()


def _pin_distinct_window_decimal(query: str, err: str) -> str | None:
    """DECIMAL leg of the _rewrite_distinct_window fold: Spark's
    ``aggregate()`` fixes the accumulator type at the seed, but DECIMAL
    addition widens precision by one each step, so the merge lambda's
    result type no longer matches and the analyzer raises
    DATATYPE_MISMATCH naming the REQUIRED accumulator type. Pin THAT
    aggregate's merge result back to the exact accumulator type with an
    explicit CAST — decimals keep their scale (no silent widening to
    DOUBLE; the old behavior the r6 ADVICE flagged). The failing
    aggregate is identified by the seed's element expression, which the
    analyzer prints verbatim in the error; statements with several
    distinct-window decimals converge over Engine.sql's retry loop,
    each error naming its own accumulator type."""
    tm = _DW_REQUIRED_TYPE.search(err)
    if not tm:
        return None
    want = None
    em = _DW_ERR_ELEM.search(err)
    if em:
        want = _dw_canon(em.group("elem"))
    cands = list(_DW_SUM_FORM.finditer(query))
    if not cands:
        return None
    m = next(
        (c for c in cands if want and _dw_canon(c.group("elem")) == want),
        None,
    )
    if m is None:
        # The cands[0] guess is only safe when it can't hit the wrong
        # aggregate: with several distinct-window folds in one
        # statement, pinning the first would cast SOME fold to THIS
        # error's accumulator type — silently changing its result type
        # if the analyzer's seed-expression format ever drifts from
        # _DW_ERR_ELEM. Let the original error surface instead.
        if len(cands) != 1:
            return None
        m = cands[0]
    lam_start = query.index("(__dwa", m.start())
    pinned = (
        "(__dwa, __dwv) -> CAST(coalesce(__dwa, CAST(0 AS BIGINT)) "
        f"+ __dwv AS {tm.group(1)})"
    )
    return query[:lam_start] + pinned + query[m.end():]


_RANGE_NO_ORDER = re.compile(
    r"\(\s*partition\s+by\s+((?:[^()]|\([^()]*\))*?)\s+(range\b)",
    re.IGNORECASE,
)


def _rewrite_range_frame_order(query: str) -> str | None:
    """Hive allows a RANGE frame on an ORDER-less window spec —
    WindowingSpec.ensureOrderSpec fills the ORDER BY with the
    PARTITION BY expressions (all rows are peers, so CURRENT ROW spans
    the whole partition). Spark rejects it
    (RANGE_FRAME_WITHOUT_ORDER); inject the same order spec on
    retry (windowing_windowspec3.q's head shape)."""
    changed = [False]

    def fix(m: re.Match[str]) -> str:
        part = m.group(1).strip()
        if re.search(r"\border\s+by\b", part, re.IGNORECASE):
            return m.group(0)
        changed[0] = True
        return (
            f"( partition by {part} order by {part} {m.group(2)}"
        )

    out = _RANGE_NO_ORDER.sub(fix, query)
    return out if changed[0] else None


_DTF_CALLS = re.compile(
    r"\b(date_format|from_unixtime|unix_timestamp|to_unix_timestamp|"
    r"to_date|to_timestamp)\s*\(",
    re.IGNORECASE,
)
#: NULL result type per datetime-formatting function (Hive returns a
#: typed NULL when the pattern is invalid)
_DTF_NULL_TYPE = {
    "date_format": "STRING",
    "from_unixtime": "STRING",
    "unix_timestamp": "BIGINT",
    "to_unix_timestamp": "BIGINT",
    "to_date": "DATE",
    "to_timestamp": "TIMESTAMP",
}


#: pattern letters SimpleDateFormat accepts (Java 8 — the parser Hive
#: 2.3 wraps; anything else raises at GenericUDFDateFormat.initialize)
_SDF_LETTERS = frozenset("GyYMLwWDdFEuaHkKhmsSzZX")


def _invalid_sdf_pattern(pattern: str) -> bool:
    """True when the pattern is NOT a valid SimpleDateFormat — an
    unquoted ASCII letter outside the SimpleDateFormat alphabet."""
    in_quote = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "'":
            if pattern[i + 1: i + 2] == "'":
                i += 2
                continue
            in_quote = not in_quote
        elif not in_quote and ch.isalpha() and ch not in _SDF_LETTERS:
            return True
        i += 1
    return False


def _rewrite_invalid_sdf_literals(query: str) -> str:
    """Hive's datetime UDFs return NULL when their pattern argument is
    not a valid SimpleDateFormat (GenericUDFDateFormat.initialize
    catches the IllegalArgumentException; udf_date_format.q golden:
    date_format('2015-04-08','Q') → NULL for every row). Spark raises
    INVALID_DATETIME_PATTERN at EXECUTION time — after Engine.sql has
    returned the lazy frame — so this is validated up front: any
    datetime call whose LAST top-level argument is a string literal
    with a non-SimpleDateFormat letter becomes a typed NULL."""
    out = query
    pos = 0
    while True:
        cm = _DTF_CALLS.search(out, pos)
        if cm is None:
            return out
        open_idx = out.index("(", cm.start())
        close = _scan_balanced(out, open_idx)
        if close >= len(out):
            return out
        args = _split_top_commas(out[open_idx + 1: close])
        last = args[-1].strip() if len(args) >= 2 else ""
        lm = re.fullmatch(r"'((?:[^']|'')*)'", last)
        if lm and _invalid_sdf_pattern(lm.group(1)):
            ty = _DTF_NULL_TYPE[cm.group(1).lower()]
            out = (
                out[:cm.start()] + f"CAST(NULL AS {ty})" + out[close + 1:]
            )
            pos = cm.start()
        else:
            pos = open_idx + 1
    return out


def _rewrite_invalid_dtf_pattern(query: str, err: str) -> str | None:
    """Hive's datetime UDFs return NULL when the pattern is not a valid
    SimpleDateFormat (GenericUDFDateFormat.initialize catches the
    IllegalArgumentException and every evaluate yields NULL —
    udf_date_format.q golden: date_format('2015-04-08','Q') → NULL).
    Spark raises INVALID_DATETIME_PATTERN instead; replace each call
    carrying that exact pattern literal with a typed NULL."""
    pm = re.search(r"pattern: '([^']*)'", err)
    if not pm:
        return None
    pattern = pm.group(1)
    needle = f"'{pattern}'"
    out = query
    changed = False
    while True:
        hit = None
        for cm in _DTF_CALLS.finditer(out):
            open_idx = out.index("(", cm.start())
            close = _scan_balanced(out, open_idx)
            if close < len(out) and needle in out[open_idx:close]:
                hit = (cm, open_idx, close)
                break
        if hit is None:
            break
        cm, open_idx, close = hit
        ty = _DTF_NULL_TYPE[cm.group(1).lower()]
        out = out[:cm.start()] + f"CAST(NULL AS {ty})" + out[close + 1:]
        changed = True
    return out if changed else None


#: words that END a GROUP BY / ORDER BY / SORT BY expression list at
#: paren depth 0 (clause keywords + set operators + multi-insert)
_POSITIONAL_LIST_TERMINATORS = frozenset({
    "ORDER", "HAVING", "LIMIT", "SORT", "CLUSTER", "DISTRIBUTE",
    "WINDOW", "UNION", "INTERSECT", "EXCEPT", "MINUS", "GROUPING",
    "GROUP", "INSERT", "SELECT", "FROM", "WHERE", "OFFSET",
})
_OVER_OPEN = re.compile(r"\bover\s*\(", re.IGNORECASE)
_POSITIONAL_HEAD = re.compile(
    r"\b(GROUP|ORDER|SORT)\s+BY\s+", re.IGNORECASE
)
#: a list item that is a bare integer literal (optionally carrying an
#: ORDER BY direction/null-order suffix) — the rewrite target
_BARE_INT_ITEM = re.compile(
    r"(\s*)(\d+)(\s*(?:ASC|DESC)?\s*(?:NULLS\s+(?:FIRST|LAST))?\s*)$",
    re.IGNORECASE,
)


def _rewrite_positional_constants(
    query: str,
    gby_constants: bool = True,
    oby_constants: bool = False,
    sortby_constants: bool = True,
) -> str | None:
    """Hive 2.3 position-alias semantics, PER ITEM (SemanticAnalyzer
    processPositionAlias, SemanticAnalyzer.java:12743): each bare
    integer literal in a GROUP BY / ORDER BY list is individually an
    ordinal or a constant depending on the conf — so a MIXED list like
    ``GROUP BY key, 2`` keeps ``key`` and turns ``2`` into a constant
    when the group-by alias is off (HIVE_GROUPBY_POSITION_ALIAS and
    the deprecated combined conf both default false). ORDER BY
    defaults to ordinals (HIVE_ORDERBY_POSITION_ALIAS default TRUE —
    Spark's orderByOrdinal IS that behavior), so ``oby_constants``
    only fires when the user sets it false. SORT BY is NEVER
    position-processed in Hive (TOK_SORTBY is absent from
    processPositionAlias), so its integers are ALWAYS constants.

    Each rewritten ordinal becomes the non-bare constant ``(N+0)``
    (constant after folding — grouping collapses to one bucket like
    constGby.q, ungrouped select columns surface Spark's
    MISSING_AGGREGATION, a constant sort is a no-op). Only TOP-LEVEL
    list items rewrite: integers inside function calls/parens are
    expression arguments, and ORDER BY inside an OVER(...) window
    spec keeps Spark semantics (the conf governs statement-level
    clauses only). Returns None when nothing changed."""
    over_spans = [
        (om.start(), _scan_balanced(query, om.end() - 1))
        for om, _d in _code_matches(_OVER_OPEN, query)
    ]

    def in_over(abs_pos: int) -> bool:
        return any(s < abs_pos <= e for s, e in over_spans)

    want = {
        "GROUP": gby_constants,
        "ORDER": oby_constants,
        "SORT": sortby_constants,
    }
    out: list[str] = []
    base = 0
    rest = query
    changed = False
    while True:
        m = _search_code(_POSITIONAL_HEAD, rest)
        if m is None:
            break
        kw = m.group(1).upper()
        list_start = m.end()
        if not want[kw] or (kw == "ORDER" and in_over(base + m.start())):
            out.append(rest[:list_start])
            base += list_start
            rest = rest[list_start:]
            continue
        # top-level item spans: depth-0 commas split; a depth-0 clause
        # keyword, ';', unbalanced ')', or end-of-string terminates
        items: list[tuple[int, int]] = []
        item_start = list_start
        end = len(rest)
        for tm, d in _code_matches(_CLAUSE_TOKEN, rest, list_start):
            tok = tm.group()
            if d != 0:
                continue
            if tok == ",":
                items.append((item_start, tm.start()))
                item_start = tm.end()
            elif tok in ");" or tok.upper() in _POSITIONAL_LIST_TERMINATORS:
                end = tm.start()
                break
        items.append((item_start, end))
        buf = [rest[:list_start]]
        prev = list_start
        for s, e in items:
            buf.append(rest[prev:s])
            text = rest[s:e]
            im = _BARE_INT_ITEM.fullmatch(text)
            if im:
                buf.append(
                    f"{im.group(1)}({im.group(2)}+0){im.group(3)}"
                )
                changed = True
            else:
                buf.append(text)
            prev = e
        out.append("".join(buf))
        base += end
        rest = rest[end:]
    out.append(rest)
    result = "".join(out)
    return result if changed else None


def _rewrite_groupby_ordinal_constants(query: str) -> str | None:
    """GROUP BY-only wrapper (the qfile sweep mirrors the engine's
    constant semantics onto the DuckDB side with this)."""
    return _rewrite_positional_constants(
        query,
        gby_constants=True,
        oby_constants=False,
        sortby_constants=False,
    )


def _retry_rewrite(query: str, err: str) -> str | None:
    """Dispatch the error-keyed HiveQL retry rewrites (Engine.sql runs
    these in a loop, so chained gaps — e.g. a WINDOW clause refinement
    whose inlined spec then exposes a string RANGE frame — resolve in
    successive passes). Every rewrite fires only on its exact Spark
    error, so statements Spark already accepts are untouchable."""
    # no GROUP_BY_POS_AGGREGATE arm: with position alias OFF (the
    # default) the engine rewrites bare GROUP BY integers to constants
    # BEFORE dispatch, and with the conf SET true Hive errors on an
    # aggregate position exactly like Spark — the error must surface.
    if "WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE" in err:
        return _rewrite_nested_window(query)
    if "LATERAL_COLUMN_ALIAS_IN_WINDOW" in err:
        return _rewrite_alias_in_window(query)
    if "PARSE_SYNTAX_ERROR" in err and _search_code(_WINDOW_KW, query):
        return _rewrite_named_windows(query)
    if (
        "DATATYPE_MISMATCH" in err
        and "__dwa" in query
        and "aggregate(" in err.lower()
    ):
        return _pin_distinct_window_decimal(query, err)
    if "RANGE_FRAME_WITHOUT_ORDER" in err:
        return _rewrite_range_frame_order(query)
    if "AMBIGUOUS_REFERENCE" in err:
        return _qualify_ambiguous_reference(query, err)
    if "INVALID_ORDERING_TYPE" in err and '"MAP<' in err:
        return _rewrite_map_orderby(query, err)
    if "BINARY_OP_DIFF_TYPES" in err and (
        "TIMESTAMP" in err or "BOOLEAN" in err
    ):
        return _rewrite_ts_numeric_cmp(query, err)
    if "FILTER_NOT_BOOLEAN" in err:
        return _rewrite_nonbool_filter(query, err)
    if "INVALID_DATETIME_PATTERN" in err:
        return _rewrite_invalid_dtf_pattern(query, err)
    if (
        "SPECIFIED_WINDOW_FRAME_UNACCEPTED_TYPE" in err
        or "RANGE_FRAME_INVALID_TYPE" in err
    ):
        for ty, unit in (
            ('"STRING"', None),
            ('"DATE"', "DAY"),
            ('"TIMESTAMP"', "SECOND"),
        ):
            if ty in err:
                return _rewrite_range_frame_bounds(query, unit)
    return None


_FILTER_NOT_BOOL = re.compile(
    r'Filter expression "(.+?)" of type '
    r'"([A-Z_]+(?:\([^)]*\))?(?:<[^"]*>)?)" is not a boolean'
)


def _rewrite_nonbool_filter(query: str, err: str) -> str | None:
    """Hive implicitly converts any primitive WHERE/HAVING expression
    to boolean (UDFToBoolean: numerics ``!= 0``, strings
    ``length != 0``, timestamps ``seconds||nanos != 0`` —
    vector_empty_where.q filters on bare cstring1/cint/cfloat/
    ctimestamp1 columns). Spark rejects with FILTER_NOT_BOOLEAN; the
    retry wraps the exact reported expression with the matching
    UDFToBoolean spelling, only where it appears after WHERE/HAVING."""
    m = _FILTER_NOT_BOOL.search(err)
    if m is None:
        return None
    expr, ty = m.group(1), m.group(2)
    if ty.startswith(("STRING", "CHAR", "VARCHAR")):
        wrapped = f"(length({expr}) > 0)"
    elif ty in ("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT",
                "DOUBLE") or ty.startswith("DECIMAL"):
        wrapped = f"(({expr}) <> 0)"
    elif ty.startswith("TIMESTAMP"):
        wrapped = f"(CAST({expr} AS DOUBLE) <> 0)"
    else:
        return None
    if wrapped in query:
        return None
    pat = re.compile(
        rf"(\b(?:WHERE|HAVING)\b\s*)(?<![\w.`]){re.escape(expr)}"
        r"(?![\w.`(])",
        re.IGNORECASE,
    )
    new = pat.sub(lambda mm: mm.group(1) + wrapped, query)
    return new if new != query else None


_TS_NUM_CMP = re.compile(
    r'Cannot resolve "\((.+) (<=>|==|=|<=|>=|<|>|!=|<>) (.+)\)" due to '
    r"data type mismatch: the left and right operands of the binary "
    r'operator have incompatible types \("([A-Z_]+(?:\([^)]*\))?)" and '
    r'"([A-Z_]+(?:\([^)]*\))?)"\)'
)
_TS_NUM_TYPES = {"TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE"}


def _rewrite_ts_numeric_cmp(query: str, err: str) -> str | None:
    """Hive compares operand pairs with NO common comparison class by
    converting BOTH to DOUBLE (GenericUDFBaseCompare.java:141-144 "we
    always convert to double if we can't find a common type"): a
    TIMESTAMP becomes SECONDS-as-double (TimestampWritable.getDouble —
    vectorization_short_regress.q's ``ctimestamp2 > -5``) and a BOOLEAN
    becomes 1.0/0.0 (vectorization_6.q's ``cboolean1 <= 0``). Spark
    rejects both with BINARY_OP_DIFF_TYPES; this retry casts the
    non-numeric operand of the exact reported comparison to DOUBLE —
    Spark's timestamp→double and boolean→double casts produce the same
    values — and fires only on that error, so no Spark-valid statement
    can be touched."""
    m = _TS_NUM_CMP.search(err)
    if m is None:
        return None
    left, op, right, lt, rt = m.groups()

    def _is_num(t: str) -> bool:
        return t in _TS_NUM_TYPES or t.startswith("DECIMAL")

    def _is_dbl_side(t: str) -> bool:
        return t.startswith("TIMESTAMP") or t == "BOOLEAN"

    if _is_dbl_side(lt) and _is_num(rt):
        ts_left = True
    elif _is_dbl_side(rt) and _is_num(lt):
        ts_left = False
    else:
        return None
    # The analyzer normalizes operators (``a != b`` is reported as the
    # inner ``(a = b)`` of a NOT; ``<>``/``==`` print as !=/=), so try
    # the exact op first, then the source spellings it may stand for —
    # the rewrite preserves whichever operator the source actually used.
    ops = [op]
    if op == "!=":
        ops.append("<>")
    elif op == "=":
        ops += ["==", "!=", "<>"]
    for o in ops:
        pat = re.compile(
            rf"(?<![\w.`])({re.escape(left)})\s*({re.escape(o)})\s*"
            rf"({re.escape(right)})(?![\w.`])"
        )

        def _rep(mm: re.Match[str]) -> str:
            if ts_left:
                return (
                    f"CAST({mm.group(1)} AS DOUBLE) "
                    f"{mm.group(2)} {mm.group(3)}"
                )
            return (
                f"{mm.group(1)} {mm.group(2)} "
                f"CAST({mm.group(3)} AS DOUBLE)"
            )

        new = pat.sub(_rep, query)
        if new != query:
            return new
    return None


_MAP_SORT_ITEM = re.compile(
    r'Cannot resolve "(.+?) (?:ASC|DESC) NULLS (?:FIRST|LAST)"'
)


def _rewrite_map_orderby(query: str, err: str) -> str | None:
    """Hive ORDERs BY map-typed expressions
    (groupby_complex_types_multi_single_reducer.q sorts a GROUP BY
    MAP(...) key); Spark's sortorder rejects MAP. The retry replaces
    the map sort item with ``sort_array(map_entries(item))`` — a
    deterministic (key, value)-entry order equivalent to Hive's
    map comparison for the golden corpus — firing only on the exact
    INVALID_ORDERING_TYPE/MAP error."""
    m = _MAP_SORT_ITEM.search(err)
    if m is None:
        return None
    item = m.group(1).strip().strip("`")
    wrapped = f"sort_array(map_entries({item}))"
    if wrapped in query:
        return None
    pat = re.compile(
        rf"(\b(?:ORDER|SORT)\s+BY\b[^;]*?)(?<![\w.`(]){re.escape(item)}"
        r"(?![\w.`(])",
        re.IGNORECASE | re.DOTALL,
    )
    new = pat.sub(lambda mm: mm.group(1) + wrapped, query)
    return new if new != query else None


_AMBIG_REF = re.compile(
    r"Reference `([\w]+)` is ambiguous, could be: \[([^\]]+)\]"
)


def _qualify_ambiguous_reference(query: str, err: str) -> str | None:
    """Hive's RowResolver lets a bare select-list column that is
    ambiguous across join inputs bind to the one the query ALREADY
    references qualified elsewhere — tez_join_hash.q groups by
    ``a.key`` and selects bare ``key`` with ``b.key`` also in scope
    (SemanticAnalyzer genSelectPlan resolves against the GROUP BY row
    schema first). Spark raises AMBIGUOUS_REFERENCE; the retry
    qualifies the bare name with the unique candidate whose qualified
    spelling appears in the query text, and only when exactly one
    does — anything less determinate keeps the error."""
    m = _AMBIG_REF.search(err)
    if not m:
        return None
    name = m.group(1)
    cands = re.findall(r"`([\w]+)`\.`" + re.escape(name) + r"`", m.group(2))
    hits = [
        q for q in dict.fromkeys(cands)
        if re.search(
            rf"\b{re.escape(q)}\s*\.\s*`?{re.escape(name)}`?", query,
            re.IGNORECASE,
        )
    ]
    if len(hits) != 1:
        return None
    qual = hits[0]
    bare = re.compile(
        rf"(?<![\w.`]){re.escape(name)}(?![\w.`])", re.IGNORECASE
    )
    out: list[str] = []
    last = 0
    for bm, d in _code_matches(bare, query):
        # only the OUTER query scope (depth 0, in code) — a bare `name`
        # inside a parenthesized subquery resolves in its own scope and
        # must stay untouched
        if d != 0:
            continue
        out.append(query[last: bm.start()])
        out.append(f"{qual}.{name}")
        last = bm.end()
    if not out:
        return None
    out.append(query[last:])
    return "".join(out)


_GROUPING_SETS_CALL = re.compile(r"\bGROUPING\s+SETS\s*\(", re.IGNORECASE)


def _dedup_grouping_sets(query: str) -> str:
    """Hive DEDUPS duplicate grouping sets: SemanticAnalyzer keys each
    set by its column bitmask, so ``GROUPING SETS ((a), (a))`` groups by
    ``a`` once (pinned by groupby_grouping_sets1.q's golden: one row per
    value) and ``(a, b)`` equals ``(b, a)``. Spark keeps duplicates —
    each extra set re-emits every group — so the rewrite canonicalizes
    each top-level set (whitespace-insensitive, order-insensitive
    element frozenset) and drops repeats, preserving first-occurrence
    order."""
    out = []
    pos = 0
    while True:
        m = _search_code(_GROUPING_SETS_CALL, query[pos:])
        if not m:
            out.append(query[pos:])
            return "".join(out)
        open_idx = pos + m.end() - 1
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            out.append(query[pos:])
            return "".join(out)
        items = _split_top_commas(query[open_idx + 1:close])
        seen: set[frozenset[str]] = set()
        kept: list[str] = []
        for item in items:
            inner = item.strip()
            body = inner[1:-1] if (
                inner.startswith("(") and _scan_balanced(inner, 0) == len(inner) - 1
            ) else inner
            key = frozenset(
                "".join(e.split()).lower() for e in _split_top_commas(body)
            )
            if key not in seen:
                seen.add(key)
                kept.append(inner)
        out.append(query[pos:open_idx + 1] + ", ".join(kept))
        pos = close

