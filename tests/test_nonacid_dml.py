"""UPDATE/DELETE on a session-catalog table (``CREATE TABLE ... STORED AS
PARQUET``) — not transactional, so Hive refuses both at compile time
(ErrorMsg 10297, ACID_OP_ON_NONACID_TABLE). Engine.sql raises that as a
typed error from the call itself, before any Spark action runs."""

from __future__ import annotations

import uuid

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError


@pytest.fixture()
def nonacid(spark):
    spark.sql("DROP TABLE IF EXISTS nonacid_t")
    eng = Engine(spark=spark)
    eng.sql("CREATE TABLE nonacid_t (k INT, v STRING) STORED AS PARQUET")
    eng.sql("INSERT INTO nonacid_t VALUES (1, 'a'), (2, 'b')")
    yield eng
    spark.sql("DROP TABLE IF EXISTS nonacid_t")


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE nonacid_t SET v = 'z' WHERE k = 1",
        "DELETE FROM nonacid_t WHERE k = 1",
    ],
)
def test_update_delete_on_catalog_table_fail_eagerly(spark, nonacid, stmt):
    sc = spark.sparkContext
    group = f"nonacid-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(HiveQLUnsupportedError) as exc:
            nonacid.sql(stmt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert str(exc.value) == (
        "Attempt to do update or delete on table nonacid_t that does not "
        "use an AcidOutputFormat or is not bucketed"
    )
    rows = spark.table("nonacid_t").orderBy("k").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]
