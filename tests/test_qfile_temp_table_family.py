"""clientpositive temp_table*.q replay, round 9 (reference:
ql/src/test/queries/clientpositive/temp_table.q, temp_table_gb1.q,
temp_table_join1.q, temp_table_subquery1.q, temp_table_names.q,
temp_table_precedence.q — the session-scoped TEMPORARY TABLE surface,
SemanticAnalyzer's isTemporary branch + SessionHiveMetaStoreClient).

Hive's semantics: a temp table lives in the session's metastore map,
is WRITABLE (unlike a view), resolves BEFORE — i.e. SHADOWS — a
same-named permanent table (temp_table_precedence.q), and DROP
restores the permanent one. The engine materializes temp tables as
parquet under per-table scratch dirs registered in the path-backed DML
registry, with a shadow snapshot for the restore."""

from __future__ import annotations

import os

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError
from tests.conftest import assert_matches_oracle

SRC = [(str(k), f"val_{k}") for k in
       (0, 2, 4, 5, 8, 9, 10, 17, 19, 20, 24, 26, 27, 28, 30,
        33, 34, 35, 37, 41, 42, 43, 44, 47, 51, 53, 54, 57, 58, 64)]


@pytest.fixture()
def env(spark, tmp_path):
    eng = Engine(spark=spark)
    p = os.path.join(str(tmp_path), "tsrc")
    spark.createDataFrame(SRC, "key string, value string") \
        .coalesce(1).write.parquet(p)
    eng.register_table("tsrc", p)
    con = duckdb.connect()
    body = ", ".join(f"('{k}', '{v}')" for k, v in SRC)
    con.execute(
        "CREATE VIEW tsrc AS SELECT * FROM (VALUES "
        + body + ") AS t(key, value)"
    )
    yield eng, con
    con.close()


def test_q_temp_table_ctas_union(env):
    """temp_table.q head: two CTAS temp tables split by key parity,
    read back individually and through a UNION ALL subquery."""
    eng, con = env
    eng.sql("CREATE TEMPORARY TABLE foo AS SELECT * FROM tsrc "
            "WHERE key % 2 = 0")
    eng.sql("CREATE TEMPORARY TABLE bar AS SELECT * FROM tsrc "
            "WHERE key % 2 = 1")
    assert_matches_oracle(
        eng.sql("select * from foo order by key limit 10"),
        con,
        "SELECT * FROM tsrc WHERE CAST(key AS INT) % 2 = 0 "
        "ORDER BY key LIMIT 10",
    )
    assert_matches_oracle(
        eng.sql("select * from (select * from foo union all "
                "select * from bar) u order by key limit 10"),
        con,
        "SELECT * FROM tsrc ORDER BY key LIMIT 10",
    )


def test_q_temp_table_like_and_stored_as(env):
    """temp_table.q: CREATE TEMPORARY TABLE LIKE copies the schema
    into an empty WRITABLE temp table; STORED AS variants accept a
    column list; both take INSERT OVERWRITE."""
    eng, con = env
    eng.sql("CREATE TEMPORARY TABLE foo AS SELECT * FROM tsrc "
            "WHERE key % 2 = 0")
    eng.sql("CREATE TEMPORARY TABLE baz LIKE foo")
    assert eng.sql("select * from baz").count() == 0
    eng.sql("INSERT OVERWRITE TABLE baz SELECT * from foo")
    assert_matches_oracle(
        eng.sql("select key, value from baz"),
        con,
        "SELECT key, value FROM tsrc WHERE CAST(key AS INT) % 2 = 0",
    )
    eng.sql("CREATE TEMPORARY TABLE bay (key string, value string) "
            "STORED AS orc")
    assert eng.sql("select * from bay").count() == 0
    eng.sql("INSERT OVERWRITE TABLE bay SELECT * FROM tsrc ORDER BY key")
    assert_matches_oracle(
        eng.sql("select key, value from bay"),
        con, "SELECT key, value FROM tsrc",
    )


def test_q_temp_table_shadows_permanent(env):
    """temp_table.q tail: `create temporary table s as select * from s
    limit 2` — the CTAS body reads the PERMANENT table (shadowing
    begins only once the temp exists), then the temp shadows it, and
    DROP TABLE restores the permanent data."""
    eng, con = env
    eng.sql("create temporary table tsrc as "
            "select * from tsrc order by key limit 2")
    assert eng.sql("select count(*) as c from tsrc").collect()[0].c == 2
    eng.sql("drop table tsrc")
    assert eng.sql("select count(*) as c from tsrc").collect()[0].c \
        == len(SRC)
    # a second temp of the same name is Hive's "already exists"
    eng.sql("create temporary table tsrc as select * from tsrc limit 1")
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        eng.sql("create temporary table tsrc (x int)")
    eng.sql("drop table tsrc")


def test_q_temp_table_gb1(env):
    """temp_table_gb1.q: the classic groupby1 aggregate re-driven
    through a CTAS temp copy of src."""
    eng, con = env
    eng.sql("CREATE TEMPORARY TABLE src_temp AS SELECT * FROM tsrc")
    assert_matches_oracle(
        eng.sql(
            "SELECT substr(src_temp.key,1,1) as g, "
            "count(DISTINCT substr(src_temp.value,5)) as cd, "
            "concat(substr(src_temp.key,1,1), "
            "sum(substr(src_temp.value,5))) as cc "
            "FROM src_temp GROUP BY substr(src_temp.key,1,1)"
        ),
        con,
        """
        SELECT substr(key,1,1) AS g,
               CAST(COUNT(DISTINCT substr(value,5)) AS BIGINT) AS cd,
               substr(key,1,1) ||
                 CAST(SUM(CAST(substr(value,5) AS DOUBLE)) AS VARCHAR)
                 AS cc
        FROM tsrc GROUP BY substr(key,1,1)
        """,
    )
    eng.sql("DROP TABLE src_temp")


def test_q_temp_table_join1(env):
    """temp_table_join1.q: permanent⋈permanent, permanent⋈temp and
    temp⋈temp joins answer identically."""
    eng, con = env
    eng.sql("CREATE TEMPORARY TABLE src_temp AS SELECT * FROM tsrc "
            "ORDER BY key LIMIT 10")
    oracle = """
        WITH ten AS (SELECT * FROM tsrc ORDER BY key LIMIT 10)
        SELECT a.key AS key, b.value AS value
        FROM ten a JOIN ten b ON a.key = b.key
    """
    eng.sql("CREATE TEMPORARY TABLE src_nontemp AS SELECT * FROM tsrc "
            "ORDER BY key LIMIT 10")
    for lhs, rhs in (("src_nontemp", "src_nontemp"),
                     ("src_nontemp", "src_temp"),
                     ("src_temp", "src_temp")):
        assert_matches_oracle(
            eng.sql(f"SELECT src1.key as key, src2.value as value "
                    f"FROM {lhs} src1 JOIN {rhs} src2 "
                    f"ON (src1.key = src2.key)"),
            con, oracle,
        )
    eng.sql("DROP TABLE src_temp")
    eng.sql("DROP TABLE src_nontemp")


def test_q_temp_table_subquery1(env):
    """temp_table_subquery1.q: EXISTS and IN subqueries against a temp
    table."""
    eng, con = env
    eng.sql("create temporary table src_temp as select * from tsrc")
    assert_matches_oracle(
        eng.sql(
            "select * from src_temp b where exists "
            "(select a.key from src_temp a "
            " where b.value = a.value and a.key = b.key "
            " and a.value > 'val_4')"
        ),
        con,
        "SELECT * FROM tsrc WHERE value > 'val_4'",
    )
    assert_matches_oracle(
        eng.sql(
            "select * from src_temp "
            "where src_temp.key in "
            "(select key from src_temp s1 where s1.key > '5')"
        ),
        con,
        "SELECT * FROM tsrc WHERE key > '5'",
    )
    eng.sql("DROP TABLE src_temp")


def test_q_temp_table_names_case_and_qualifier(env):
    """temp_table_names.q: mixed-case creation under an explicit
    Default qualifier; qualified and bare, upper- and lower-case
    references all resolve; DROP under a differently-cased qualifier."""
    eng, con = env
    eng.sql("create temporary table Default.Temp_Table_Names "
            "(C1 string, c2 string)")
    assert eng.sql(
        "select c1 from default.temp_table_names").count() == 0
    assert eng.sql(
        "select C1 from DEFAULT.TEMP_TABLE_NAMES").count() == 0
    eng.sql("insert into temp_table_names values ('a', 'b')")
    assert eng.sql(
        "select c1 from default.temp_table_names").count() == 1
    eng.sql("drop table Default.TEMP_TABLE_names")
    assert "temp_table_names" not in eng.metastore


def test_q_temp_table_precedence_catalog_shadow(spark, tmp_path):
    """temp_table_precedence.q core: a temp table created over an
    existing CATALOG table shadows it — reads and writes hit the temp
    — and DROP restores the permanent table's data untouched."""
    eng = Engine(spark=spark)
    spark.sql("DROP TABLE IF EXISTS ttp_tab1")
    try:
        eng.sql("create table ttp_tab1 (a1 string, a2 string)")
        eng.sql("insert into ttp_tab1 values ('5', 'val_5'), "
                "('5', 'val_5b')")
        eng.sql("create temporary table ttp_tab1 (c1 int, c2 string)")
        assert eng.sql("select * from ttp_tab1").count() == 0
        eng.sql("insert into ttp_tab1 values (0, 'val_0')")
        got = eng.sql("select * from ttp_tab1").collect()
        assert [(r.c1, r.c2) for r in got] == [(0, "val_0")]
        eng.sql("drop table ttp_tab1")
        assert eng.sql("select count(*) as c from ttp_tab1") \
            .collect()[0].c == 2
    finally:
        spark.catalog.dropTempView("ttp_tab1")
        spark.sql("DROP TABLE IF EXISTS ttp_tab1")
