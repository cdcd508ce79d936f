"""The HiveQL lexer behind every text rewrite (``hiveql_rewrites``).

One lexer decides what is code: '…' and "…" string literals with
backslash escapes, `…` backquoted identifiers and ``--`` line comments
are not. These tests pin:

- the rules themselves, on generated literal content full of quotes,
  backslashes, commas, parens, ``--`` and a ``greatest(`` call, and on a
  few samples against Spark's own lexer;
- three statements that used to give a wrong answer through
  ``Engine.sql`` because one scanner or another missed an escape or the
  double quote.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hive_2_3_2_spark.engine import Engine
from hive_2_3_2_spark.hiveql_rewrites import (
    _rewrite_alias_in_window,
    _scan_balanced,
    _search_code,
    _split_top_commas,
)

_content = st.lists(
    st.sampled_from(
        ["'", '"', "\\", ",", "(", ")", "--", "`", " ", "a", "greatest("]
    ),
    max_size=12,
).map("".join)

#: everything in the content a scanner could mistake for code
_CODE_LIKE = re.compile(r"greatest\s*\(|[(),]|--")


def _single(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _double(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _backquoted(s: str) -> str:
    return "`" + s.replace("`", "``") + "`"


_ENCODINGS = (_single, _double, _backquoted)


@given(_content)
@settings(max_examples=300, deadline=None)
def test_literal_content_is_never_code(content):
    for encode in _ENCODINGS:
        lit = encode(content)
        assert _search_code(_CODE_LIKE, lit) is None, lit
        assert len(_split_top_commas(f"a, {lit}, b")) == 3, lit
        call = f"f({lit})"
        assert _scan_balanced(call, 1) == len(call) - 1, lit


def test_window_alias_retry_leaves_literals_alone():
    """The retry that inlines SELECT aliases into OVER specs rewrites
    only specs in code."""
    out = _rewrite_alias_in_window(
        "SELECT max(f) mf, 'x over (order by mf)' AS s, "
        "rank() over (order by mf) r FROM t"
    )
    assert "'x over (order by mf)'" in out
    assert "rank() over (order by (max(f)))" in out


_SAMPLES = [
    "it's",
    'say "hi", (then) -- leave',
    "back\\slash, greatest(1",
    "\\'",
    "tick`tock",
]


@pytest.mark.parametrize("content", _SAMPLES)
def test_spark_lexes_the_samples_the_same_way(spark, content):
    """Spark reads each encoding back as the same content."""
    for encode in (_single, _double):
        got = spark.sql("SELECT " + encode(content)).collect()[0][0]
        assert got == content
    df = spark.sql("SELECT 1 AS " + _backquoted(content))
    assert df.columns == [content]


# -- wrong answers through Engine.sql that the lexer fixes -------------------


def test_greatest_after_an_escaped_quote_propagates_null(spark):
    """Hive's GREATEST is NULL when an argument is NULL. An escaped
    quote earlier in the statement must not hide the call from the
    rewrite that gives it that rule."""
    eng = Engine(spark=spark)
    row = eng.sql("SELECT 'it\\'s' AS s, greatest(1, NULL) AS g").collect()[0]
    assert row.s == "it's"
    assert row.g is None


@pytest.fixture()
def lex_eng(spark, tmp_path):
    path = str(tmp_path / "lex_t")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(path)
    eng = Engine(spark=spark)
    eng.register_table("lex_t", path)
    return eng


def test_update_sets_a_double_quoted_value_with_a_comma(lex_eng):
    res = lex_eng.sql('UPDATE lex_t SET v = "x,y" WHERE k = 2').collect()
    assert res[0].rows_affected == 1
    got = dict(lex_eng.sql("SELECT k, v FROM lex_t").collect())
    assert got == {1: "a", 2: "x,y"}


def test_merge_condition_with_a_double_quoted_when(lex_eng, spark):
    spark.sql(
        "SELECT 1 AS k, 'a WHEN b' AS tag UNION ALL SELECT 2, 'other'"
    ).createOrReplaceTempView("lex_src")
    res = lex_eng.sql(
        "MERGE INTO lex_t t USING lex_src s ON t.k = s.k "
        'WHEN MATCHED AND s.tag = "a WHEN b" THEN UPDATE SET v = \'new\''
    ).collect()
    assert res[0].rows_affected == 1
    got = dict(lex_eng.sql("SELECT k, v FROM lex_t").collect())
    assert got == {1: "new", 2: "b"}
