"""clientpositive `.q` slice, round 8: the ppd_* family tail —
predicate-pushdown shapes not covered by the earlier
ppd_gby/join2/outer_join/union/transform replays (reference:
ql/src/test/queries/clientpositive/ppd1.q, ppd_gby_join.q,
ppd_join_filter.q, ppd_outer_join3.q, ppd_udf_case.q,
ppd_multi_insert.q, ppd_constant_where.q).

In Hive these pin the PredicatePushDown/PredicateTransitivePropagate
optimizers (hive.optimize.ppd); Catalyst's PushDownPredicates gives
the same answers for free — each shape value-diffs against DuckDB and
the scan-level pins (PushedFilters on data columns, PartitionFilters
on partition columns) assert the pushdown actually reached the reader,
which is the part that matters at 100 TB.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, TableDesc

from tests.conftest import assert_matches_oracle

SRC = [(str(i % 83), f"val_{i % 83}") for i in range(500)]


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qfile_ppd")
    eng = Engine(spark=spark)
    con = duckdb.connect()
    p = str(root / "p_src")
    spark.createDataFrame(SRC, "key string, value string") \
        .coalesce(1).write.parquet(p)
    eng.register_table("p_src", p)
    con.execute(
        f"CREATE VIEW p_src AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    # srcpart: the same rows under (ds, hr) partitions
    pp = str(root / "p_srcpart")
    rows = [(k, v, ds, hr) for k, v in SRC[:120]
            for ds in ("2008-04-08", "2008-04-09") for hr in ("11", "12")]
    (spark.createDataFrame(rows, "key string, value string, ds string, hr string")
        .repartition("ds", "hr").write.partitionBy("ds", "hr").parquet(pp))
    eng.register_table("p_srcpart", pp, ["ds", "hr"])
    con.execute(
        "CREATE VIEW p_srcpart AS SELECT * FROM "
        f"read_parquet('{pp}/*/*/*.parquet', hive_partitioning=1)"
    )
    yield eng, con
    con.close()


def _chk(eng, con, hive_sql, duck_sql=None):
    df = eng.sql(hive_sql)
    assert_matches_oracle(df, con, duck_sql or hive_sql)
    return df


def _final_plan(df) -> str:
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def test_q_ppd1_filter_reaches_scan(qenv):
    """ppd1.q: the basic aliased-filter shape — and the pin that the
    predicate lands in the parquet reader's PushedFilters."""
    eng, con = qenv
    df = _chk(
        eng, con,
        "SELECT p_src.key AS c3 FROM p_src WHERE p_src.key > '2'",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(key,2)" in plan, plan


def test_q_ppd_gby_join(qenv):
    """ppd_gby_join.q: filters split across two filtered subqueries,
    the join condition, and a compound WHERE — then grouped."""
    eng, con = qenv
    _chk(
        eng, con,
        "SELECT src1.c1 AS c1, count(1) AS n FROM (SELECT key AS c1, "
        "value AS c2 FROM p_src WHERE key > '1') src1 JOIN (SELECT key "
        "AS c3, value AS c4 FROM p_src WHERE key > '2') src2 ON "
        "src1.c1 = src2.c3 AND src1.c1 < '400' WHERE src1.c1 > '20' "
        "AND (src1.c2 < 'val_50' OR src1.c1 > '2') AND (src2.c3 > '50' "
        "OR src1.c1 < '50') AND (src2.c3 <> '4') GROUP BY src1.c1 "
        "ORDER BY c1",
        "SELECT src1.c1 AS c1, CAST(count(1) AS BIGINT) AS n FROM "
        "(SELECT key AS c1, value AS c2 FROM p_src WHERE key > '1') "
        "src1 JOIN (SELECT key AS c3, value AS c4 FROM p_src WHERE "
        "key > '2') src2 ON src1.c1 = src2.c3 AND src1.c1 < '400' "
        "WHERE src1.c1 > '20' AND (src1.c2 < 'val_50' OR src1.c1 > "
        "'2') AND (src2.c3 > '50' OR src1.c1 < '50') AND (src2.c3 <> "
        "'4') GROUP BY src1.c1 ORDER BY c1 NULLS FIRST",
    )


def test_q_ppd_join_filter(qenv):
    """ppd_join_filter.q: join against an aggregate subquery carrying
    derived columns (min(key)+1/+2/+3), with the filter referencing
    the derived columns."""
    eng, con = qenv
    _chk(
        eng, con,
        "SELECT a.key AS k, b.k1 AS k1, b.k2 AS k2 FROM p_src a JOIN "
        "(SELECT key, min(key) AS k, min(key)+1 AS k1, min(key)+2 AS "
        "k2 FROM p_src GROUP BY key) b ON a.key = b.key AND b.k1 < '5' "
        "ORDER BY k, k1, k2",
        "SELECT a.key AS k, b.k1 AS k1, b.k2 AS k2 FROM p_src a JOIN "
        "(SELECT key, min(key) AS k, "
        "CAST(min(key) AS DOUBLE)+1 AS k1, "
        "CAST(min(key) AS DOUBLE)+2 AS k2 FROM p_src GROUP BY key) b "
        "ON a.key = b.key AND b.k1 < 5 "
        "ORDER BY k NULLS FIRST, k1 NULLS FIRST, k2 NULLS FIRST",
    )


def test_q_ppd_outer_join3(qenv):
    """ppd_outer_join3.q: Hive's FROM-first SELECT over a FULL OUTER
    join with range filters on BOTH sides in the WHERE — the filters
    must apply post-join (outer semantics), not get pushed below the
    null-extension."""
    eng, con = qenv
    _chk(
        eng, con,
        "SELECT a.key AS ak, a.value AS av, b.key AS bk, b.value AS bv "
        "FROM p_src a FULL OUTER JOIN p_src b ON (a.key = b.key) "
        "WHERE a.key > '10' AND a.key < '20' AND b.key > '15' "
        "AND b.key < '25' ORDER BY ak, bk",
        "SELECT a.key AS ak, a.value AS av, b.key AS bk, b.value AS bv "
        "FROM p_src a FULL OUTER JOIN p_src b ON (a.key = b.key) "
        "WHERE a.key > '10' AND a.key < '20' AND b.key > '15' "
        "AND b.key < '25' ORDER BY ak NULLS FIRST, bk NULLS FIRST",
    )


def test_q_ppd_udf_case(qenv):
    """ppd_udf_case.q: a three-way CASE (TRUE/FALSE/NULL) in the WHERE
    over a partitioned self-join — the NULL branch rows must drop."""
    eng, con = qenv
    _chk(
        eng, con,
        "SELECT a.key AS k, b.key AS k2, a.hr AS hr, b.hr AS hr2 FROM "
        "p_srcpart a JOIN p_srcpart b ON a.key = b.key WHERE a.ds = "
        "'2008-04-08' AND b.ds = '2008-04-08' AND CASE a.key WHEN '27' "
        "THEN TRUE WHEN '38' THEN FALSE ELSE NULL END "
        "ORDER BY k, k2, hr, hr2",
        "SELECT a.key AS k, b.key AS k2, a.hr AS hr, b.hr AS hr2 FROM "
        "p_srcpart a JOIN p_srcpart b ON a.key = b.key WHERE a.ds = "
        "'2008-04-08' AND b.ds = '2008-04-08' AND CASE a.key WHEN '27' "
        "THEN TRUE WHEN '38' THEN FALSE ELSE NULL END "
        "ORDER BY k NULLS FIRST, k2 NULLS FIRST, hr NULLS FIRST, "
        "hr2 NULLS FIRST",
    )


def test_q_ppd_constant_where_prunes_partitions(qenv):
    """ppd_constant_where.q: a constant-true conjunct must not defeat
    partition pruning — PartitionFilters carries the ds predicate and
    only half the partitions scan."""
    eng, con = qenv
    df = _chk(
        eng, con,
        "SELECT COUNT(*) AS c FROM p_srcpart WHERE ds = '2008-04-08' "
        "AND 'a' = 'a'",
        "SELECT CAST(COUNT(*) AS BIGINT) AS c FROM p_srcpart "
        "WHERE ds = '2008-04-08' AND 'a' = 'a'",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "2008-04-08" in plan, plan


def test_q_ppd_multi_insert(qenv, spark, tmp_path):
    """ppd_multi_insert.q: a self-join feeding FOUR sinks — two plain
    tables with disjoint key ranges, a static-partition insert, and an
    INSERT OVERWRITE DIRECTORY — each branch's WHERE pushed into its
    own sink path."""
    eng, con = qenv
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("p_mi1", "p_mi2", "p_mi3"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    eng.sql("CREATE TABLE p_mi1 (key INT, value STRING) STORED AS PARQUET")
    eng.sql("CREATE TABLE p_mi2 (key INT, value STRING) STORED AS PARQUET")
    eng.sql(
        "CREATE TABLE p_mi3 (key INT) PARTITIONED BY (ds STRING, "
        "hr STRING) STORED AS PARQUET"
    )
    out_dir = str(tmp_path / "mi4.out")
    eng.sql(
        "FROM p_src a JOIN p_src b ON (a.key = b.key) "
        "INSERT OVERWRITE TABLE p_mi1 SELECT a.key, a.value WHERE "
        "a.key < 100 "
        "INSERT OVERWRITE TABLE p_mi2 SELECT a.key, a.value WHERE "
        "a.key >= 100 AND a.key < 200 "
        "INSERT OVERWRITE TABLE p_mi3 PARTITION(ds='2008-04-08', "
        "hr='12') SELECT a.key WHERE a.key >= 200 AND a.key < 300 "
        f"INSERT OVERWRITE DIRECTORY '{out_dir}' SELECT a.value "
        "WHERE a.key >= 300"
    )
    _chk(
        eng, con,
        "SELECT key, value FROM p_mi1 ORDER BY key, value",
        "SELECT CAST(a.key AS INT) AS key, a.value AS value FROM p_src "
        "a JOIN p_src b ON a.key = b.key WHERE CAST(a.key AS DOUBLE) < "
        "100 ORDER BY key NULLS FIRST, value NULLS FIRST",
    )
    _chk(
        eng, con,
        "SELECT key FROM p_mi3 ORDER BY key",
        "SELECT CAST(a.key AS INT) AS key FROM p_src a JOIN p_src b "
        "ON a.key = b.key WHERE CAST(a.key AS DOUBLE) >= 200 AND "
        "CAST(a.key AS DOUBLE) < 300 ORDER BY key NULLS FIRST",
    )
    parts = [r[0] for r in eng.sql("SHOW PARTITIONS p_mi3").collect()]
    assert parts == ["ds=2008-04-08/hr=12"]
    assert os.path.isdir(out_dir) and any(
        not f.startswith((".", "_")) for f in os.listdir(out_dir)
    )
    for t in ("p_mi1", "p_mi2", "p_mi3"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q_ppd_gby2_filter_above_aggregate(qenv):
    """ppd_gby2.q: WHERE above a grouped subquery mixing a pushable
    conjunct (on the group key) with an OR over the aggregate — only
    the key conjunct may push below the GROUP BY."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql(
            "SELECT max(src1.c1) AS m, src1.c2 AS c2 FROM (SELECT "
            "p_src.value AS c1, count(p_src.key) AS c2 FROM p_src "
            "WHERE p_src.value > 'val_10' GROUP BY p_src.value) src1 "
            "WHERE src1.c1 > 'val_200' AND (src1.c2 > 30 OR src1.c1 < "
            "'val_400') GROUP BY src1.c2"
        ),
        con,
        "SELECT max(c1) AS m, c2 FROM (SELECT value AS c1, "
        "CAST(count(key) AS BIGINT) AS c2 FROM p_src WHERE value > "
        "'val_10' GROUP BY value) src1 WHERE c1 > 'val_200' AND "
        "(c2 > 30 OR c1 < 'val_400') GROUP BY c2",
    )


def test_q_ppd_random_nondeterministic_not_pushed(qenv):
    """ppd_random.q: rand() > 0.5 above a join must NOT push below it
    (a nondeterministic filter evaluated early changes semantics) —
    pinned by the result being a SUBSET of the join, and the plan
    keeping rand above the join."""
    eng, _ = qenv
    df = eng.sql(
        "SELECT src1.c1, src2.c4 FROM (SELECT p_src.key as c1, "
        "p_src.value as c2 from p_src) src1 JOIN (SELECT p_src.key as "
        "c3, p_src.value as c4 from p_src where p_src.key > '2') src2 "
        "ON src1.c1 = src2.c3 WHERE rand() > 0.5"
    )
    total = eng.sql(
        "SELECT count(*) AS n FROM p_src a JOIN (SELECT key FROM "
        "p_src WHERE key > '2') b ON a.key = b.key"
    ).collect()[0].n
    assert 0 <= df.count() <= total
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    join_pos = opt.find("Join")
    rand_pos = opt.find("rand(")
    assert join_pos != -1 and rand_pos != -1 and rand_pos < join_pos, opt


def test_q_ppd_udtf_filter_above_explode(qenv):
    """ppd_udtf.q: a filter above explode() applies to the EXPLODED
    values — it cannot push through the generator."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql(
            "SELECT value from (select explode(array(key, value)) as "
            "(value) from (select * FROM p_src WHERE key > 400) A) B "
            "WHERE value < 450"
        ),
        con,
        "SELECT u.value FROM (SELECT key, value AS v FROM p_src WHERE "
        "CAST(key AS DOUBLE) > 400) A, LATERAL (SELECT unnest([A.key, "
        "A.v]) AS value) u WHERE CAST(u.value AS DOUBLE) < 450",
    )


def test_q_ppd_constant_expr_null_arithmetic(qenv, spark):
    """ppd_constant_expr.q: constant-folded NULL arithmetic (4 + NULL,
    key - NULL, NULL + NULL) lands as NULLs of the sink types."""
    eng, _ = qenv
    spark.sql("DROP TABLE IF EXISTS ppd_ce")
    eng.sql(
        "CREATE TABLE ppd_ce (c1 INT, c2 DOUBLE, c3 DOUBLE) "
        "STORED AS PARQUET"
    )
    eng.sql(
        "FROM p_src INSERT OVERWRITE TABLE ppd_ce "
        "SELECT 4 + NULL, p_src.key - NULL, NULL + NULL"
    )
    rows = eng.sql("SELECT * FROM ppd_ce").collect()
    assert len(rows) == 500
    assert all(
        r.c1 is None and r.c2 is None and r.c3 is None for r in rows
    )
    eng.sql("DROP TABLE ppd_ce")


def test_q_ppd_union_view_partitioned_view(qenv, spark, tmp_path):
    """ppd_union_view.q: a PARTITIONED ON view over a union of a new
    table and an old-table-remapped join — the ds predicate prunes
    BOTH branches, and each ds serves from its source generation."""
    eng, _ = qenv
    for name, schema, rows in (
        ("puv_new", "key string, value string, ds string",
         [("key1", "value1", "2011-10-15"),
          ("key2", "value2", "2011-10-16")]),
        ("puv_old", "keymap string, value string, ds string",
         [("keymap3", "value3", "2011-10-13"),
          ("keymap4", "value4", "2011-10-14")]),
        ("puv_map", "key string, keymap string, ds string",
         [("key3", "keymap3", "2011-10-13"),
          ("key4", "keymap4", "2011-10-14")]),
    ):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.partitionBy(
            "ds"
        ).parquet(p)
        from pyspark.sql.types import StringType, StructField, StructType
        eng.metastore[name] = TableDesc(schema=StructType(
            [StructField(f.split()[0], StringType())
             for f in schema.split(", ")]
        ))
        eng.register_table(name, p, ["ds"])
    eng.sql("drop view if exists puv_t1")
    eng.sql(
        "create view puv_t1 partitioned on (ds) as select * from ("
        "select key, value, ds from puv_new union all "
        "select key, value, puv_old.ds from puv_old join puv_map on "
        "puv_old.keymap = puv_map.keymap and puv_old.ds = puv_map.ds"
        ") subq"
    )
    expected = {
        "2011-10-13": [("key3", "value3")],
        "2011-10-14": [("key4", "value4")],
        "2011-10-15": [("key1", "value1")],
        "2011-10-16": [("key2", "value2")],
        "2011-10-17": [],
    }
    for ds, exp in expected.items():
        got = sorted(
            (r.key, r.value)
            for r in eng.sql(
                f"select * from puv_t1 where ds = '{ds}'"
            ).collect()
        )
        assert got == exp, (ds, got)
    eng.sql("drop view puv_t1")
