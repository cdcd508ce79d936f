"""clientpositive input_part0.q–input_part9.q replay: partition
pruning through every HiveQL access shape (PartitionPruner /
OpProcFactory.getPartitionPruner).

The corners: string-vs-numeric coercion on STRING partition columns
(`hr = 11` prunes arithmetically), the UNQUOTED date literal in
input_part6 (`ds = 2008-04-08` is INTEGER SUBTRACTION = 1996, so the
predicate is ds='1996' → zero rows — both Hive and Spark fold it that
way), unions of pruned branches, pruning+data-filter multi-insert, and
the pruning plan pin (PartitionFilters carries the ds predicate, the
data filter stays in PushedFilters).
"""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, TableDesc

from tests.conftest import assert_matches_oracle

ROWS = [(str(i % 83), f"val_{i % 83}") for i in range(100)]


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qfiles_ip")
    eng = Engine(spark=spark)
    con = duckdb.connect()
    prows = [
        (k, v, ds, hr)
        for ds in ("2008-04-08", "2008-04-09")
        for hr in ("11", "12")
        for k, v in ROWS
    ]
    p = str(root / "ip_srcpart")
    spark.createDataFrame(
        prows, "key string, value string, ds string, hr string"
    ).write.partitionBy("ds", "hr").parquet(p)
    # Hive declares ds/hr as STRING; without the overlay Spark's
    # partition-type inference would read ds as DATE and hr as INT —
    # a different type lattice than the goldens assume
    from pyspark.sql.types import StringType, StructField, StructType
    eng.metastore["ip_srcpart"] = TableDesc(schema=StructType(
        [StructField(c, StringType()) for c in
         ("key", "value", "ds", "hr")]
    ))
    eng.register_table("ip_srcpart", p, ["ds", "hr"])
    body = ", ".join(
        f"('{k}', '{v}', '{ds}', '{hr}')" for k, v, ds, hr in prows
    )
    con.execute(
        "CREATE VIEW ip_srcpart AS SELECT * FROM (VALUES "
        + body + ") AS t(key, value, ds, hr)"
    )
    yield eng, con
    con.close()


def test_q_input_part0_string_prune_with_plan_pin(qenv):
    """input_part0.q: ds='2008-04-08' prunes to half the partitions —
    value-checked and plan-pinned (the ds predicate must be a
    PartitionFilter, NOT a post-scan filter)."""
    eng, con = qenv
    got = eng.sql("SELECT x.* FROM ip_srcpart x WHERE x.ds = '2008-04-08'")
    assert_matches_oracle(
        got, con,
        "SELECT * FROM ip_srcpart WHERE ds = '2008-04-08'",
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2008-04-08" in plan
    # fully partition-pruned: no data filter, no post-scan Filter node
    assert "DataFilters: []" in plan
    assert "+- Filter" not in plan and not plan.startswith("Filter")


def test_q_input_part3_numeric_coercion_prune(qenv):
    """input_part3.q: hr = 11 (INT literal vs STRING partition column)
    coerces and still prunes to the hr=11 partitions."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql("SELECT x.* FROM ip_srcpart x WHERE x.ds = '2008-04-08' "
                "and x.hr = 11"),
        con,
        "SELECT * FROM ip_srcpart WHERE ds = '2008-04-08' AND hr = '11'",
    )


def test_q_input_part6_unquoted_date_is_arithmetic(qenv):
    """input_part6.q: ds = 2008-04-08 with NO quotes is integer
    subtraction (= 1996) — the comparison is ds = 1996 and matches
    nothing. Hive's golden is empty; so is ours."""
    eng, _ = qenv
    assert eng.sql(
        "SELECT x.* FROM ip_srcpart x WHERE x.ds = 2008-04-08 LIMIT 10"
    ).count() == 0


def test_q_input_part7_union_of_pruned(qenv):
    """input_part7.q: UNION ALL of two identically-pruned selects with
    data filters."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql(
            "SELECT * FROM (SELECT X.* FROM ip_srcpart X WHERE X.ds = "
            "'2008-04-08' and X.key < 100 UNION ALL SELECT Y.* FROM "
            "ip_srcpart Y WHERE Y.ds = '2008-04-08' and Y.key < 100) A"
        ),
        con,
        "SELECT * FROM ip_srcpart WHERE ds = '2008-04-08' AND "
        "CAST(key AS DOUBLE) < 100 UNION ALL SELECT * FROM ip_srcpart "
        "WHERE ds = '2008-04-08' AND CAST(key AS DOUBLE) < 100",
    )


def test_q_input_part9_notnull_and_prune(qenv):
    """input_part9.q: IS NOT NULL on a data column alongside the
    partition predicate."""
    eng, con = qenv
    assert_matches_oracle(
        eng.sql("SELECT x.* FROM ip_srcpart x WHERE key IS NOT NULL "
                "AND ds = '2008-04-08'"),
        con,
        "SELECT * FROM ip_srcpart WHERE key IS NOT NULL AND "
        "ds = '2008-04-08'",
    )


def test_q_input_part2_multi_insert_pruned(qenv, spark):
    """input_part1.q/2.q: FROM-first multi-insert where each branch
    prunes a DIFFERENT ds partition plus a data filter; partition
    columns are carried as data into the sinks."""
    eng, con = qenv
    for t in ("ip_dest1", "ip_dest2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        eng.sql(
            f"CREATE TABLE {t}(key INT, value STRING, hr STRING, "
            "ds STRING) STORED AS PARQUET"
        )
    eng.sql(
        "FROM ip_srcpart "
        "INSERT OVERWRITE TABLE ip_dest1 SELECT ip_srcpart.key, "
        "ip_srcpart.value, ip_srcpart.hr, ip_srcpart.ds WHERE "
        "ip_srcpart.key < 100 and ip_srcpart.ds = '2008-04-08' and "
        "ip_srcpart.hr = '12' "
        "INSERT OVERWRITE TABLE ip_dest2 SELECT ip_srcpart.key, "
        "ip_srcpart.value, ip_srcpart.hr, ip_srcpart.ds WHERE "
        "ip_srcpart.key < 100 and ip_srcpart.ds = '2008-04-09' and "
        "ip_srcpart.hr = '12'"
    )
    for t, ds in (("ip_dest1", "2008-04-08"), ("ip_dest2", "2008-04-09")):
        assert_matches_oracle(
            eng.sql(f"SELECT key, value, hr, ds FROM {t}"),
            con,
            "SELECT CAST(key AS INT) AS key, value, hr, ds FROM "
            f"ip_srcpart WHERE CAST(key AS DOUBLE) < 100 AND "
            f"ds = '{ds}' AND hr = '12'",
        )
    for t in ("ip_dest1", "ip_dest2"):
        eng.sql(f"DROP TABLE {t}")


def test_q_input9_null_literal_insert_where_null(qenv, spark):
    """input9.q: WHERE NULL = NULL is NULL (not true) — the INSERT
    writes ZERO rows; the NULL select-literal still type-checks
    against the sink columns."""
    eng, _ = qenv
    spark.sql("DROP TABLE IF EXISTS ip_dest9")
    eng.sql(
        "CREATE TABLE ip_dest9 (value STRING, key INT) STORED AS PARQUET"
    )
    eng.sql(
        "FROM ip_srcpart INSERT OVERWRITE TABLE ip_dest9 "
        "SELECT NULL, ip_srcpart.key where NULL = NULL"
    )
    assert eng.sql("SELECT * FROM ip_dest9").count() == 0
    eng.sql("DROP TABLE ip_dest9")


def test_q_input24_count_over_empty_added_partition(qenv, spark,
                                                    tmp_path):
    """input24.q: ADD PARTITION creates an EMPTY partition — count(1)
    over it is 0, not an error."""
    eng, _ = qenv
    import os
    p = str(tmp_path / "ip_tst24")
    spark.createDataFrame(
        [(1, 2, "2000-01-01")], "a int, b int, d string"
    ).write.partitionBy("d").parquet(p)
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)
    eng.metastore["ip_tst24"] = TableDesc(schema=StructType([
        StructField("a", IntegerType()), StructField("b", IntegerType()),
        StructField("d", StringType()),
    ]))
    eng.register_table("ip_tst24", p, ["d"])
    eng.sql("alter table ip_tst24 add partition (d='2009-01-01')")
    assert eng.sql(
        "select count(1) AS n from ip_tst24 x where x.d='2009-01-01'"
    ).collect()[0].n == 0


def test_q_input26_union_ordered_limit_with_empty_branch(qenv):
    """input26.q: UNION ALL of an ORDER BY...LIMIT subquery and a
    LIMIT over a NONEXISTENT partition (hr='14') — the empty branch
    contributes nothing; the ordered branch contributes exactly its
    limited prefix."""
    eng, con = qenv
    got = eng.sql(
        "select * from (select * from (select * from ip_srcpart a "
        "where a.ds = '2008-04-08' and a.hr = '11' order by a.key "
        "limit 5)pa union all select * from (select * from ip_srcpart "
        "b where b.ds = '2008-04-08' and b.hr = '14' limit 5)pb)subq"
    ).collect()
    assert len(got) == 5
    exp_keys = [r[0] for r in con.execute(
        "SELECT key FROM ip_srcpart WHERE ds='2008-04-08' AND hr='11' "
        "ORDER BY key LIMIT 5"
    ).fetchall()]
    assert sorted(r.key for r in got) == sorted(exp_keys)
