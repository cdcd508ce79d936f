"""groupby family second batch: groupby_grouping_sets3.q/5.q,
groupby_grouping_sets_limit.q, groupby_join_pushdown.q, groupby11.q,
groupby_complex_types_multi_single_reducer.q, groupby_ppr.q — the
shapes tests/test_qfile_groupby_family.py's first 11 don't cover:
cube over an aggregate subquery, grouping-set projections that DROP
some group keys, aggregation over self-joins (Hive's
groupby_join_pushdown surface = Catalyst pushing partial aggregation
below the join), multi-insert into PARTITIONED sinks with per-branch
DISTINCT, COMPLEX-TYPE group keys (array and map — ORDER BY a map key
goes through the engine's INVALID_ORDERING_TYPE retry), and
partition-pruned grouped multi-aggregate inserts.
"""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, TableDesc

from tests.conftest import assert_matches_oracle

T1 = [("1", "1", 1), ("1", "2", 2), ("2", "2", 3), ("3", "3", 4),
      ("3", None, 5), (None, "1", 6)]


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qfiles_gb2")
    eng = Engine(spark=spark)
    con = duckdb.connect()
    p = str(root / "gb2_t1")
    spark.createDataFrame(T1, "a string, b string, c int").coalesce(
        1
    ).write.parquet(p)
    eng.register_table("gb2_t1", p)
    con.execute(
        f"CREATE VIEW gb2_t1 AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    rows = [(str(i % 83), f"val_{i % 83}") for i in range(500)]
    ps = str(root / "gb2_src")
    spark.createDataFrame(rows, "key string, value string").coalesce(
        1
    ).write.parquet(ps)
    eng.register_table("gb2_src", ps)
    con.execute(
        f"CREATE VIEW gb2_src AS SELECT * FROM read_parquet('{ps}/*.parquet')"
    )
    yield eng, con
    con.close()


def test_q_grouping_sets3_cube_spellings(qenv):
    """groupby_grouping_sets3.q: avg + count under both cube
    spellings, NULL group values distinct from the rollup NULLs."""
    eng, con = qenv
    oracle = (
        "SELECT a, b, avg(c) AS av, CAST(count(*) AS BIGINT) AS n "
        "FROM gb2_t1 GROUP BY CUBE (a, b)"
    )
    for spelling in ("group by a, b with cube", "group by cube(a, b)"):
        assert_matches_oracle(
            eng.sql(
                "SELECT a, b, avg(c) AS av, count(*) AS n from gb2_t1 "
                + spelling
            ),
            con, oracle,
        )


def test_q_grouping_sets5_over_subquery_agg(qenv):
    """groupby_grouping_sets5.q: cube over the output of an inner
    GROUP BY subquery."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql(
            "SELECT a, b, count(*) AS n FROM (SELECT a, b, count(1) "
            "AS n0 from gb2_t1 group by a, b) subq1 group by a, b "
            "with cube"
        ),
        con,
        "SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM (SELECT a, b "
        "FROM gb2_t1 GROUP BY a, b) subq1 GROUP BY CUBE (a, b)",
    )


def test_q_grouping_sets_projection_subset(qenv):
    """groupby_grouping_sets_limit.q tail: SELECT only `a` while
    grouping sets span (a, b, c) — the unprojected keys still shape
    the groups."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql(
            "SELECT a, count(*) AS n FROM gb2_t1 GROUP BY a, b "
            "GROUPING SETS (a, (a, b)) "
        ),
        con,
        "SELECT a, CAST(count(*) AS BIGINT) AS n FROM gb2_t1 "
        "GROUP BY GROUPING SETS ((a), (a, b))",
    )
    assert_matches_oracle(
        eng.sql(
            "SELECT a FROM gb2_t1 GROUP BY a, b GROUPING SETS (a, b)"
        ),
        con,
        "SELECT a FROM gb2_t1 GROUP BY GROUPING SETS ((a), (b))",
    )


def test_q_groupby_join_pushdown(qenv):
    """groupby_join_pushdown.q: aggregate over a self-join keyed by
    the group columns, and DISTINCT over a join."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql(
            "SELECT f.key, g.key AS key2, count(g.key) AS n FROM "
            "gb2_src f JOIN gb2_src g ON(f.key = g.key) "
            "GROUP BY f.key, g.key"
        ),
        con,
        "SELECT f.key, g.key AS key2, CAST(count(g.key) AS BIGINT) AS "
        "n FROM gb2_src f JOIN gb2_src g ON f.key = g.key "
        "GROUP BY f.key, g.key",
    )
    assert_matches_oracle(
        eng.sql(
            "SELECT DISTINCT f.value, g.value AS value2 FROM gb2_src f "
            "JOIN gb2_src g ON(f.value = g.value)"
        ),
        con,
        "SELECT DISTINCT f.value, g.value AS value2 FROM gb2_src f "
        "JOIN gb2_src g ON f.value = g.value",
    )


def test_q_groupby11_partitioned_multi_insert_distinct(qenv, spark):
    """groupby11.q: FROM-first multi-insert into two PARTITIONED
    sinks, each branch with its own GROUP BY + count(DISTINCT)."""
    eng, con = qenv
    for t in ("gb2_dest1", "gb2_dest2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        eng.sql(
            f"CREATE TABLE {t}(val STRING, cnt BIGINT, dcnt BIGINT) "
            "PARTITIONED BY (ds STRING) STORED AS PARQUET"
        )
    eng.sql(
        "FROM gb2_src "
        "INSERT OVERWRITE TABLE gb2_dest1 partition(ds='111') "
        "SELECT gb2_src.value, count(gb2_src.key), "
        "count(distinct gb2_src.key) GROUP BY gb2_src.value "
        "INSERT OVERWRITE TABLE gb2_dest2 partition(ds='111') "
        "SELECT substr(gb2_src.value, 5), count(gb2_src.key), "
        "count(distinct gb2_src.key) GROUP BY substr(gb2_src.value, 5)"
    )
    assert_matches_oracle(
        eng.sql("SELECT val, cnt, dcnt FROM gb2_dest1"),
        con,
        "SELECT value AS val, CAST(count(key) AS BIGINT) AS cnt, "
        "CAST(count(DISTINCT key) AS BIGINT) AS dcnt FROM gb2_src "
        "GROUP BY value",
    )
    assert_matches_oracle(
        eng.sql("SELECT val, cnt, dcnt FROM gb2_dest2"),
        con,
        "SELECT substr(value, 5) AS val, CAST(count(key) AS BIGINT) "
        "AS cnt, CAST(count(DISTINCT key) AS BIGINT) AS dcnt FROM "
        "gb2_src GROUP BY substr(value, 5)",
    )
    for t in ("gb2_dest1", "gb2_dest2"):
        eng.sql(f"DROP TABLE {t}")


def test_q_groupby_complex_type_keys(qenv):
    """groupby_complex_types_multi_single_reducer.q: GROUP BY
    ARRAY(key) and GROUP BY MAP(key, value) — including ORDER BY the
    MAP key, which Spark rejects (INVALID_ORDERING_TYPE) and the
    engine retries as a sorted-entries order."""
    eng, con = qenv
    got = eng.sql(
        "SELECT ARRAY(gb2_src.key) as keyarray, COUNT(1) AS n FROM "
        "gb2_src GROUP BY ARRAY(gb2_src.key) ORDER BY keyarray LIMIT 10"
    ).collect()
    exp = con.execute(
        "SELECT [key] AS keyarray, count(1) AS n FROM gb2_src GROUP "
        "BY key ORDER BY keyarray LIMIT 10"
    ).fetchall()
    assert [(list(r.keyarray), r.n) for r in got] == \
        [(list(e[0]), e[1]) for e in exp]
    # map group key, ordered BY THE MAP (engine retry path)
    got = eng.sql(
        "SELECT MAP(gb2_src.key, gb2_src.value) as kvmap, COUNT(1) AS "
        "n FROM gb2_src GROUP BY MAP(gb2_src.key, gb2_src.value) "
        "ORDER BY kvmap LIMIT 10"
    ).collect()
    exp = con.execute(
        "SELECT key, value, count(1) AS n FROM gb2_src GROUP BY key, "
        "value ORDER BY key, value LIMIT 10"
    ).fetchall()
    assert [(dict(r.kvmap), r.n) for r in got] == \
        [({e[0]: e[1]}, e[2]) for e in exp]


def test_q_groupby_ppr_distinct_sum_substr(qenv, spark, tmp_path):
    """groupby_ppr.q: partition-pruned GROUP BY with count(DISTINCT
    substr) and concat(key, sum(substr)) — Hive's string-arithmetic
    sum coerces through double."""
    eng, con = qenv
    prows = [
        (k, f"val_{k}", ds)
        for ds in ("2008-04-08", "2008-04-09")
        for k in [str(i % 50) for i in range(200)]
    ]
    p = str(tmp_path / "gb2_srcpart")
    from pyspark.sql.types import StringType, StructField, StructType
    spark.createDataFrame(
        prows, "key string, value string, ds string"
    ).write.partitionBy("ds").parquet(p)
    eng.metastore["gb2_srcpart"] = TableDesc(schema=StructType(
        [StructField(c, StringType()) for c in ("key", "value", "ds")]
    ))
    eng.register_table("gb2_srcpart", p, ["ds"])
    body = ", ".join(f"('{k}','{v}','{d}')" for k, v, d in prows)
    con.execute(
        "CREATE VIEW gb2_srcpart AS SELECT * FROM (VALUES "
        + body + ") t(key, value, ds)"
    )
    assert_matches_oracle(
        eng.sql(
            "SELECT substr(src.key,1,1) AS k1, count(DISTINCT "
            "substr(src.value,5)) AS dc, concat(substr(src.key,1,1),"
            "sum(substr(src.value,5))) AS cs FROM gb2_srcpart src "
            "WHERE src.ds = '2008-04-08' GROUP BY substr(src.key,1,1)"
        ),
        con,
        "SELECT substr(key,1,1) AS k1, CAST(count(DISTINCT "
        "substr(value,5)) AS BIGINT) AS dc, substr(key,1,1) || "
        "CAST(SUM(TRY_CAST(substr(value,5) AS DOUBLE)) AS VARCHAR) "
        "AS cs FROM gb2_srcpart WHERE ds = '2008-04-08' "
        "GROUP BY substr(key,1,1)",
    )
