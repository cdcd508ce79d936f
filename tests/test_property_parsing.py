"""Property-based tests (hypothesis) for the pure-Python parsing layer
behind Engine.sql — the reference's grammar is a 2,814-line ANTLR file
(parse/HiveParser.g); our statement front-end is regex + splitters, so
random structured inputs guard the corners a hand-written example set
misses. No SparkSession needed: these run in milliseconds."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from hive_2_3_2_spark.engine import (
    _parse_partition_spec,
    _split_assignments,
    _split_top_commas,
)
from hive_2_3_2_spark.functions.hive_hash import _hash_batch, _hash_one

# expression fragments with balanced nested parens and embedded commas
_leaf = st.sampled_from(
    ["a", "b1", "col_x", "'lit'", "1.5", "NULL", "x + 1", "'a,b'"]
)


def _exprs():
    return st.recursive(
        _leaf,
        lambda inner: st.builds(
            lambda f, args: f + "(" + ", ".join(args) + ")",
            st.sampled_from(["concat", "if", "coalesce", "greatest"]),
            st.lists(inner, min_size=1, max_size=3),
        ),
        max_leaves=6,
    )


@given(st.lists(_exprs(), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_split_top_commas_roundtrip(parts):
    """Joining on ', ' then splitting must recover the parts — commas
    inside nested call parens never split."""
    joined = ", ".join(parts)
    assert [p.strip() for p in _split_top_commas(joined)] == [
        p.strip() for p in parts
    ]


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True), _exprs()
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_assignments_roundtrip(pairs):
    s = ", ".join(f"{c} = {e}" for c, e in pairs)
    got = _split_assignments(s)
    assert [c for c, _ in got] == [c for c, _ in pairs]
    assert [e.strip() for _, e in got] == [e.strip() for _, e in pairs]


@given(
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
        st.from_regex(r"'[a-zA-Z0-9 _-]{0,12}'|[0-9]{1,6}", fullmatch=True),
        min_size=0,
        max_size=3,
    ),
    st.lists(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
        min_size=0,
        max_size=3,
        unique=True,
    ),
)
@settings(max_examples=200, deadline=None)
def test_parse_partition_spec_separates_static_dynamic(static, dynamic):
    dynamic = [d for d in dynamic if d not in static]
    spec = ", ".join(
        [f"{k} = {v}" for k, v in static.items()] + dynamic
    )
    got_static, got_dynamic = _parse_partition_spec(spec)
    assert got_static == {k: v for k, v in static.items()}
    assert got_dynamic == dynamic


@given(st.lists(st.text(max_size=40), min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_hive_hash_batch_equals_reference_on_arbitrary_text(strings):
    """The vectorized fold equals the per-row reference fold on ARBITRARY
    unicode — full surrogate-free codepoint space, not just samples."""
    batch = _hash_batch(strings)
    assert [int(h) for h in batch] == [_hash_one(s) for s in strings]


@given(
    st.lists(
        st.from_regex(
            r"SELECT '[a-z;,() -]{0,12}' AS c[0-9]", fullmatch=True
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_statements_roundtrip(stmts):
    """Script splitting recovers each statement: semicolons inside string
    literals never split, trailing semicolon optional."""
    from hive_2_3_2_spark.engine import _split_statements

    script = ";\n".join(stmts) + ";"
    assert _split_statements(script) == [s.strip() for s in stmts]


# --- MERGE WHEN clause splitter (quote/paren/CASE-aware) ---

_cond_leaf = st.sampled_from(
    [
        "s.bal > 0",
        "t.c_acctbal <= 100",
        "s.k IN (1, 2, 3)",
        "t.c_name = 'x WHEN MATCHED THEN y'",   # keyword inside literal
        "(s.bal + 1) * 2 > t.c_acctbal",
        "CASE WHEN s.bal > 0 THEN true ELSE false END",
        "t.c_name = 'a;b''c'",
    ]
)

_action = st.sampled_from(
    [
        "UPDATE SET c_acctbal = 0",
        "UPDATE SET c_name = 'has WHEN MATCHED inside', c_acctbal = 1",
        "DELETE",
        "INSERT (c_custkey, c_name) VALUES (s.k, 'then THEN when')",
    ]
)


@given(
    st.lists(
        st.tuples(st.booleans(), st.one_of(st.none(), _cond_leaf), _action),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_when_clauses_roundtrip(clauses):
    """Rendering random WHEN clauses (conditions/actions deliberately
    containing WHEN/THEN keywords inside string literals and CASE
    expressions) then splitting must recover exactly the rendered
    structure."""
    from hive_2_3_2_spark.engine import _split_when_clauses

    text = " ".join(
        "WHEN "
        + ("NOT " if nm else "")
        + "MATCHED"
        + (f" AND {cond}" if cond else "")
        + f" THEN {action}"
        for nm, cond, action in clauses
    )
    got = _split_when_clauses(text)
    assert len(got) == len(clauses)
    for (nm, cond, action), (g_nm, g_cond, g_action) in zip(clauses, got):
        assert g_nm == nm
        assert g_cond == (cond or "")
        assert g_action == action


def _bare_engine():
    """Engine instance without a SparkSession — _expand_macros is pure
    text, so parser-level tests need no JVM."""
    from hive_2_3_2_spark.engine import Engine

    eng = object.__new__(Engine)
    eng.macros = {}
    return eng


_int_expr = st.recursive(
    st.integers(-99, 99).map(str),
    lambda inner: st.tuples(inner, st.sampled_from("+-*"), inner).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    ),
    max_leaves=4,
)


@given(a=_int_expr, b=_int_expr)
@settings(max_examples=200, deadline=None)
def test_macro_expansion_matches_python_eval(a, b):
    """Expanding f(a, b) = (a*b)+a over random parenthesized integer
    expressions must evaluate (in Python) to the same value as
    substituting first — i.e. expansion preserves argument grouping
    (each actual lands parenthesized, so operator precedence cannot
    leak across the boundary)."""
    eng = _bare_engine()
    eng.macros["f"] = (["x", "y"], "(x * y) + x")
    out = eng._expand_macros(f"SELECT f({a}, {b}) AS v")
    expr = out[len("SELECT "): -len(" AS v")]
    va, vb = eval(a), eval(b)
    assert eval(expr) == (va * vb) + va


def test_macro_expansion_respects_quotes_and_boundaries():
    eng = _bare_engine()
    eng.macros["f"] = (["x"], "x + 1")
    # commas inside quotes / nested parens stay one argument
    out = eng._expand_macros("SELECT f(g('a,b', h(1,2)))")
    assert out == "SELECT ((g('a,b', h(1,2))) + 1)"
    # word boundary: prefix_f( isn't macro f(
    out = eng._expand_macros("SELECT prefix_f(3)")
    assert out == "SELECT prefix_f(3)"
    # case-insensitive call site
    out = eng._expand_macros("SELECT F(3)")
    assert out == "SELECT ((3) + 1)"


def test_macro_formal_not_substituted_inside_strings_note():
    # formals substitute on word boundaries — a formal name embedded in
    # a longer identifier in the body must NOT be replaced
    eng = _bare_engine()
    eng.macros["f"] = (["x"], "x + x_total")
    out = eng._expand_macros("SELECT f(2)")
    assert out == "SELECT ((2) + x_total)"


# ---- CREATE TABLE restructure (Hive clause order → Spark order) ----

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)

_simple_type = st.sampled_from(
    ["INT", "BIGINT", "STRING", "DOUBLE", "decimal(10,2)", "decimal(38,18)"]
)


def _types():
    return st.recursive(
        _simple_type,
        lambda inner: st.one_of(
            st.builds(lambda t: f"array<{t}>", inner),
            st.builds(lambda k, v: f"map<{k},{v}>", _simple_type, inner),
            st.builds(
                lambda ts: "uniontype<" + ",".join(ts) + ">",
                st.lists(inner, min_size=2, max_size=3),
            ),
        ),
        max_leaves=4,
    )


@given(
    cols=st.lists(
        st.tuples(_ident, _types()), min_size=1, max_size=5, unique_by=lambda c: c[0]
    ),
    part_cols=st.lists(
        st.tuples(_ident, st.sampled_from(["STRING", "INT"])),
        max_size=2,
        unique_by=lambda c: c[0],
    ),
    bucketed=st.booleans(),
    external=st.booleans(),
    comment=st.booleans(),
    fmt=st.sampled_from(["PARQUET", "ORC", "AVRO"]),
)
@settings(max_examples=150, deadline=None)
def test_create_table_restructure_properties(
    cols, part_cols, bucketed, external, comment, fmt
):
    """Random Hive-clause-order CREATE TABLE DDL (typed PARTITIONED BY,
    CLUSTERED BY, COMMENT, EXTERNAL, nested/union column types) must
    restructure into Spark order: USING directly after the column list,
    partition columns folded in (name-only clause after USING), no
    EXTERNAL, every uniontype rewritten to its struct encoding."""
    import re

    from hive_2_3_2_spark.engine import (
        _rewrite_stored_as,
        _rewrite_uniontype,
    )

    names = {c[0] for c in cols} | {p[0] for p in part_cols}
    if len(names) != len(cols) + len(part_cols):
        return  # partition col shadowing a data col — not a valid DDL
    col_list = ", ".join(f"{n} {t}" for n, t in cols)
    ddl = "CREATE "
    if external:
        ddl += "EXTERNAL "
    ddl += f"TABLE tbl ({col_list})"
    if comment:
        ddl += " COMMENT 'a table'"
    if part_cols:
        ddl += (
            " PARTITIONED BY ("
            + ", ".join(f"{n} {t}" for n, t in part_cols)
            + ")"
        )
    if bucketed:
        first = cols[0][0]
        ddl += f" CLUSTERED BY ({first}) INTO 4 BUCKETS"
    ddl += f" STORED AS {fmt}"

    out = _rewrite_stored_as(_rewrite_uniontype(ddl))

    assert "uniontype" not in out.lower()
    assert "STORED AS" not in out.upper()
    assert "EXTERNAL" not in out.upper()
    # USING directly follows the (possibly extended) column list
    m = re.search(r"\)\s+USING\s+\w+", out)
    assert m, out
    if part_cols:
        # typed partition cols folded into the column list...
        for n, t in part_cols:
            assert re.search(rf"\b{n} {t}", out), out
        # ...and the clause is name-only, right after USING
        mp = re.search(r"PARTITIONED BY \(([^)]*)\)", out)
        assert mp, out
        assert mp.group(1) == ", ".join(n for n, _ in part_cols)
        assert "STRING)" not in mp.group(0)  # no types in the clause
    if bucketed:
        assert re.search(r"CLUSTERED BY \(\w+\) INTO 4 BUCKETS", out), out
    # every original column name survives
    for n, _t in cols:
        assert re.search(rf"\b{n}\b", out), out


# --- ALTER ... COLUMNS column-definition parser ---------------------------

_COL_TYPES = [
    "int",
    "bigint",
    "string",
    "double",
    "decimal(12,2)",
    "array<int>",
    "map<string,int>",
    "struct<a:int,b:string>",
    "array<struct<p:int,q:array<double>>>",
]


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
            st.sampled_from(_COL_TYPES),
            st.booleans(),  # attach a COMMENT?
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=60, deadline=None)
def test_parse_col_defs_roundtrip(spark, cols):
    """Engine._parse_col_defs must recover every (name, type) from a
    rendered Hive column list — commas inside nested types and COMMENT
    strings (including commas in the comment text) must not split.
    (StructType.fromDDL parses through the live session's parser, hence
    the spark fixture.)"""
    from hive_2_3_2_spark.engine import Engine

    text = ", ".join(
        f"{n} {t}" + (" COMMENT 'x, y (z)'" if c else "")
        for n, t, c in cols
    )
    got = Engine._parse_col_defs(text)
    assert [g[0] for g in got] == [n for n, _t, _c in cols]
    for (_n, t, _c), (_gn, gt) in zip(cols, got):
        assert gt.simpleString() == t.replace(" ", "")


def test_parse_col_defs_rejects_garbage(spark):
    import pytest

    from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

    with pytest.raises(HiveQLUnsupportedError):
        Engine._parse_col_defs("c notatype")
    with pytest.raises(HiveQLUnsupportedError):
        Engine._parse_col_defs("")


# --- ngram_windows ≡ the transform(sequence, slice) formulation -----------


_NGRAM_CASE = st.tuples(
    st.lists(
        st.from_regex(r"[a-z]{0,3}", fullmatch=True), min_size=0, max_size=12
    ),
    st.integers(min_value=1, max_value=5),
    st.booleans(),
)


@given(st.lists(_NGRAM_CASE, min_size=20, max_size=30))
@settings(max_examples=5, deadline=None)
def test_ngram_windows_matches_reference_formulation(spark, cases):
    """The linearized zip_with construction must produce EXACTLY the
    strings of the quadratic transform(sequence, slice) formulation it
    replaced — full-window mode (guarded sequence) and partial-tail
    shingle mode (indexes 0..max(size-n,0), truncated last windows) —
    including empty tokens, docs shorter than n, and n=1.

    Each example is a batch of (tokens, n, partial) cases checked in one
    frame and one collect (at least 100 cases per run): the reference
    reads n per row, and ngram_windows, whose n is static, is selected
    per row from its ten (n, partial) variants."""
    from pyspark.sql import functions as F

    from hive_2_3_2_spark.functions.gaps import ngram_windows

    df = spark.createDataFrame(
        [(i, toks, n, partial) for i, (toks, n, partial) in enumerate(cases)],
        "case int, t array<string>, n int, partial boolean",
    )
    t, n, partial = F.col("t"), F.col("n"), F.col("partial")
    idx = F.when(
        partial, F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    ).when(F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)).otherwise(
        F.array().cast("array<int>")
    )
    reference = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
    got = None
    for width in range(1, 6):
        for mode in (False, True):
            hit = (n == width) & (partial == F.lit(mode))
            windows = ngram_windows(t, width, partial_tail=mode)
            got = F.when(hit, windows) if got is None else got.when(hit, windows)
    rows = df.select("case", reference.alias("ref"), got.alias("got")).collect()
    assert len(rows) == len(cases)
    for row in rows:
        assert row.got is not None, cases[row.case]
        assert list(row.got) == list(row.ref), cases[row.case]


# --- r5: rewriter properties --------------------------------------------


@given(
    st.lists(
        st.one_of(st.integers(-100, 100), st.none()),
        min_size=2,
        max_size=6,
    ),
    st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_greatest_least_rewrite_matches_hive_rule(vals, use_greatest):
    """Property: for any argument list of ints/NULLs, the rewritten
    greatest/least implements Hive's rule — NULL if ANY argument is
    NULL, else max/min (pure-Python reference)."""
    from hive_2_3_2_spark.engine import _rewrite_greatest_least

    fn = "greatest" if use_greatest else "least"
    args = ", ".join(
        "cast(null as int)" if v is None else str(v) for v in vals
    )
    sql = f"select {fn}({args}) as v"
    rewritten = _rewrite_greatest_least(sql)
    assert fn + "(" not in rewritten.lower()
    # expected under Hive's rule
    expected = None if any(v is None for v in vals) else (
        max(vals) if use_greatest else min(vals)
    )
    # evaluate on the session (module-scoped spark unavailable in a
    # hypothesis function param — use the active session)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # no session in this process → structural check only
        return
    got = spark.sql(rewritten).collect()[0].v
    assert got == expected


@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"),
            whitelist_characters=" _,.()='\"<>-+*",
        ),
        min_size=0,
        max_size=120,
    )
)
@settings(max_examples=300, deadline=None)
def test_rewriters_total_on_arbitrary_text(text):
    """Property: the r5 rewriters never crash on arbitrary input — they
    either rewrite recognized shapes or return the text unchanged
    (unrecognized/unbalanced shapes fall through to Spark's parser)."""
    from hive_2_3_2_spark.engine import (
        _reorder_forward_ctes,
        _rewrite_field_calls,
        _rewrite_greatest_least,
        _rewrite_noop_ptf,
    )

    for f in (
        _rewrite_greatest_least,
        _rewrite_field_calls,
        _rewrite_noop_ptf,
        _reorder_forward_ctes,
    ):
        out = f(text)
        assert isinstance(out, str)
