"""DELETE, UPDATE and MERGE share one staged-rewrite core
(sources/writers.py ``_rewrite``), fed the table frame Engine.sql reads.

- DML after a type-converting CHANGE COLUMN: all three statements read
  the epoch-aware frame (old files cast to the declared type).
- A rewrite that fails mid-write leaves the table as it was and no
  ``<table>__staging_<hex>`` sibling behind.
- Spark-job ceilings per statement, through ``setJobGroup`` +
  ``StatusTracker``. Unpartitioned targets run the write (plus the
  re-registration of the table); partitioned targets add one discovery
  job; an UPDATE with an IN (SELECT ...) condition may add one count; a
  partitioned ``merge_upsert`` adds one collect of the updates'
  partition values instead of the discovery job. A static-partition
  INSERT OVERWRITE evaluates its spec literal without a job, and an
  unpartitioned INSERT … VALUES (the benchmark's ``insert_values``
  family) keeps its 2 jobs. The
  ceilings are upper bounds: the rewrite path may lower a count, never
  add a scan.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from hive_2_3_2_spark.engine import Engine
from hive_2_3_2_spark.sources.writers import merge_upsert


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"dml-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def dml_eng(spark, tmp_path):
    """``t`` (k, v) unpartitioned, ``tp`` (k, v, p) partitioned by p,
    and a MERGE source ``src`` (k, v, p)."""
    rows = [(i, i * 10, f"p{i % 3}") for i in range(12)]
    base = spark.createDataFrame(rows, "k int, v int, p string")
    base.drop("p").write.parquet(str(tmp_path / "t"))
    base.write.partitionBy("p").parquet(str(tmp_path / "tp"))
    spark.createDataFrame(
        [(1, 111, "p1"), (20, 200, "p2")], "k int, v int, p string"
    ).write.parquet(str(tmp_path / "src"))
    eng = Engine(spark=spark)
    eng.register_table("t", str(tmp_path / "t"))
    eng.register_table("tp", str(tmp_path / "tp"), ["p"])
    eng.register_table("src", str(tmp_path / "src"))
    return eng


# -- DML after a type-converting CHANGE COLUMN --------------------------------


@pytest.fixture()
def evolved(spark, tmp_path):
    """``ev`` (k int, v int) whose ``v`` was ALTERed to STRING with the
    incompatible-type check off: its files still store ``v`` as int."""
    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"
    ).write.parquet(path)
    spark.createDataFrame(
        [(1, "one"), (4, "four")], "k int, v string"
    ).write.parquet(str(tmp_path / "ev_src"))
    eng = Engine(spark=spark)
    eng.register_table("ev", path)
    eng.register_table("ev_src", str(tmp_path / "ev_src"))
    eng.sql(
        "SET hive.metastore.disallow.incompatible.col.type.changes=false"
    )
    eng.sql("ALTER TABLE ev CHANGE v v STRING")
    return eng


def _rows(eng, table):
    return sorted(tuple(r) for r in eng.table(table).collect())


def test_update_after_type_converting_change_column(evolved):
    res = evolved.sql("UPDATE ev SET v = concat(v, '!') WHERE k = 2")
    assert res.collect()[0].rows_affected == 1
    assert _rows(evolved, "ev") == [(1, "10"), (2, "20!"), (3, "30")]


def test_delete_after_type_converting_change_column(evolved):
    res = evolved.sql("DELETE FROM ev WHERE v = '30'")
    assert res.collect()[0].rows_affected == 1
    assert _rows(evolved, "ev") == [(1, "10"), (2, "20")]


def test_merge_after_type_converting_change_column(evolved):
    res = evolved.sql(
        "MERGE INTO ev USING ev_src s ON ev.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert res.collect()[0].rows_affected == 1
    assert _rows(evolved, "ev") == [(1, "one"), (2, "20"), (3, "30")]


# -- a failed rewrite leaves no staging ---------------------------------------
# raise_error sits in the written projection, so the failure happens in
# the write job itself, after the staging directory was set up.


@pytest.mark.parametrize(
    "stmt",
    [
        "MERGE INTO t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = raise_error('boom')",
        "UPDATE t SET v = raise_error('boom') WHERE k = 1",
        "INSERT INTO t SELECT k, raise_error('boom') FROM src",
    ],
    ids=["merge", "update", "insert_into"],
)
def test_failed_rewrite_leaves_table_and_no_staging(dml_eng, tmp_path, stmt):
    before = _rows(dml_eng, "t")
    with pytest.raises(Exception, match="boom"):
        dml_eng.sql(stmt)
    assert _rows(dml_eng, "t") == before
    assert not [n for n in os.listdir(tmp_path) if "__staging_" in n]


# -- job budget ---------------------------------------------------------------


_MERGE = (
    "MERGE INTO {t} USING src s ON {t}.k = s.k "
    "WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED THEN INSERT VALUES ({ins})"
)


@pytest.mark.parametrize(
    "stmt, affected, budget",
    [
        ("UPDATE t SET v = v + 1 WHERE k = 1", 1, 2),
        ("DELETE FROM t WHERE k = 2", 1, 2),
        (_MERGE.format(t="t", ins="s.k, s.v"), 2, 5),
        ("UPDATE tp SET v = v + 1 WHERE k = 1", 1, 5),
        ("DELETE FROM tp WHERE k = 2", 1, 5),
        (_MERGE.format(t="tp", ins="s.k, s.v, s.p"), 2, 10),
        ("UPDATE t SET v = 0 WHERE k IN (SELECT k FROM src)", 1, 6),
        ("DELETE FROM t WHERE k IN (SELECT k FROM src)", 1, 3),
        (
            "INSERT OVERWRITE TABLE tp PARTITION (p='x') "
            "SELECT k, v FROM t WHERE k = 1",
            1,
            3,
        ),
        ("INSERT INTO t VALUES (100, 1), (101, 2)", 2, 2),
    ],
    ids=[
        "update", "delete", "merge",
        "update_partitioned", "delete_partitioned", "merge_partitioned",
        "update_in_subquery", "delete_in_subquery",
        "insert_overwrite_static_partition", "insert_values",
    ],
)
def test_dml_job_budget(spark, dml_eng, stmt, affected, budget):
    out = []
    n = _jobs(spark, lambda: out.extend(dml_eng.sql(stmt).collect()))
    assert out[0].rows_affected == affected
    assert n <= budget, f"{n} jobs > budget {budget}: {stmt}"


def test_partitioned_merge_upsert_job_budget(spark, dml_eng):
    path = dml_eng.metastore["tp"].path
    updates = spark.createDataFrame(
        [(1, 5, "p1"), (30, 6, "p0")], "k int, v int, p string"
    )
    n = _jobs(
        spark, lambda: merge_upsert(spark, path, updates, ["k"], ["p"])
    )
    assert n <= 8
    got = spark.read.parquet(path)
    assert got.count() == 13
    assert got.filter(F.col("k") == 1).collect()[0].v == 5


def test_catalog_partitioned_insert_job_budget(spark):
    """A static-partition INSERT ... VALUES into a session-catalog table
    runs its write and nothing else: the partition columns come from
    DESCRIBE TABLE, answered on the driver."""
    name = f"ct_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark=spark)
    eng.sql(
        f"CREATE TABLE {name} (a INT, b STRING) "
        "PARTITIONED BY (p STRING) STORED AS PARQUET"
    )
    try:
        out = []
        n = _jobs(spark, lambda: out.extend(eng.sql(
            f"INSERT INTO {name} PARTITION (p='x') VALUES (1, 'a'), (2, 'b')"
        ).collect()))
        assert out[0].rows_affected == 2
        assert n <= 1, f"{n} jobs > budget 1"
        rows = sorted(tuple(r) for r in spark.table(name).collect())
        assert rows == [(1, "a", "x"), (2, "b", "x")]
    finally:
        eng.sql(f"DROP TABLE {name}")
