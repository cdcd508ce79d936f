"""special_character_in_tabnames_1.q replay: backtick-quoted table
names containing / and other non-identifier characters
(hive.support.special.characters.tablename, default true — Hive
resolves `src/_/cbo` like any table). Spark's namespace rejects such
names, so Engine.sql rewrites every backticked special identifier to
a deterministic mangled name and register_table registers under the
same mangle — SQL text, Python registration, CTAS, DML, and DROP all
line up.

The regex-column mode (hive.support.quoted.identifiers=none) keeps
its backticked patterns untouched — the mangle only runs in the
default `column` mode, pinned here.
"""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine

from tests.conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qfiles_spec")
    eng = Engine(spark=spark)
    con = duckdb.connect()
    rows = [(str(i % 20), f"val_{i % 20}") for i in range(100)]
    p = str(root / "speccbo")
    spark.createDataFrame(rows, "key string, value string").coalesce(
        1
    ).write.parquet(p)
    eng.register_table("src/_/cbo", p)
    con.execute(
        f"CREATE VIEW cbo_plain AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    yield eng, con
    con.close()


def test_q_special_name_selects(qenv):
    """Plain and subquery selects over `src/_/cbo`, including the
    table-qualified column reference `src/_/cbo`.key."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql("select * from `src/_/cbo` b where b.key < 5"),
        con,
        "SELECT * FROM cbo_plain WHERE CAST(key AS DOUBLE) < 5",
    )
    assert_matches_oracle(
        eng.sql(
            "select key, value, count(*) AS n from `src/_/cbo` b "
            "where b.key in (select key from `src/_/cbo` s1 where "
            "s1.key > 10) group by key, value"
        ),
        con,
        "SELECT key, value, CAST(count(*) AS BIGINT) AS n FROM "
        "cbo_plain WHERE key IN (SELECT key FROM cbo_plain WHERE "
        "CAST(key AS DOUBLE) > 10) GROUP BY key, value",
    )
    # NOT IN + correlated EXISTS over the special name
    assert_matches_oracle(
        eng.sql(
            "select * from `src/_/cbo` where `src/_/cbo`.key not in "
            "(select key from `src/_/cbo` s1 where s1.key > 15)"
        ),
        con,
        "SELECT * FROM cbo_plain WHERE key NOT IN (SELECT key FROM "
        "cbo_plain WHERE CAST(key AS DOUBLE) > 15)",
    )


def test_q_special_name_ctas_and_dml(qenv, spark):
    """CTAS into a special name, INSERT into it, DROP it."""
    eng, con = qenv
    eng.sql(
        "create table `c/b/o_t2` stored as parquet as "
        "select * from `src/_/cbo` where key = '5'"
    )
    n0 = eng.sql("select count(*) AS n from `c/b/o_t2`").collect()[0].n
    exp = con.execute(
        "SELECT count(*) FROM cbo_plain WHERE key = '5'"
    ).fetchone()[0]
    assert n0 == exp
    eng.sql("insert into `c/b/o_t2` values ('5', 'extra')")
    assert eng.sql(
        "select count(*) AS n from `c/b/o_t2`"
    ).collect()[0].n == exp + 1
    eng.sql("drop table `c/b/o_t2`")
    with pytest.raises(Exception):
        eng.sql("select * from `c/b/o_t2`")


def test_q_regex_columns_still_work(qenv):
    """The quoted.identifiers=none mode keeps backticked REGEX column
    specs — the special-name mangle must not fire there."""
    eng, con = qenv
    eng.sql("set hive.support.quoted.identifiers=none")
    try:
        assert_matches_oracle(
            eng.sql("select `k.+` from cbo_plain_view"),
            con,
            "SELECT key FROM cbo_plain",
        )
    finally:
        eng.sql("set hive.support.quoted.identifiers=column")


@pytest.fixture(scope="module", autouse=True)
def _plain_view(spark, qenv):
    eng, _ = qenv
    eng.metastore[
        [k for k in eng.metastore if k.startswith("spec_")][0]
    ].frame.createOrReplaceTempView("cbo_plain_view")
    yield
