"""SQL `CREATE TABLE ... STORED AS AVRO` in a jar-less container
routes to the pure-python Avro codec (sources/avro_py.py) instead of
failing on the absent spark-avro datasource.

Reference: ql/src/test/queries/clientpositive/avrocountemptytbl.q and
its golden (counts 0 → 1, final rows {0, 100});
serde2/avro/AvroSerDe.java's schema-from-columns path.
"""

from __future__ import annotations

import glob
import os

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError


@pytest.fixture()
def eng(spark):
    e = Engine(spark=spark)
    spark.createDataFrame(
        [("100", "val_100"), ("100", "val_100"), ("238", "val_238")],
        "key string, value string",
    ).createOrReplaceTempView("src_avro_fixture")
    yield e
    spark.catalog.dropTempView("src_avro_fixture")


def test_avrocountemptytbl_flow(eng):
    """The qfile's exact statement sequence against its golden."""
    eng.sql("drop table if exists emptyavro")
    eng.sql("create table emptyavro (a int) stored as avro")
    assert eng.sql(
        "select count(*) from emptyavro"
    ).collect()[0][0] == 0
    eng.sql("insert into emptyavro select count(*) from emptyavro")
    assert eng.sql(
        "select count(*) from emptyavro"
    ).collect()[0][0] == 1
    eng.sql(
        "insert into emptyavro select key from src_avro_fixture "
        "where key = 100 limit 1"
    )
    got = sorted(r.a for r in eng.sql("select * from emptyavro").collect())
    assert got == [0, 100]  # golden: string '100' cast into int a
    # the files on disk are REAL avro containers
    path = eng.metastore["emptyavro"].path
    files = glob.glob(os.path.join(path, "*.avro"))
    assert files
    assert open(files[0], "rb").read(4) == b"Obj\x01"
    eng.sql("drop table emptyavro")
    assert "emptyavro" not in eng.metastore


def test_avro_ctas_and_overwrite(eng):
    eng.sql("drop table if exists av_ctas")
    eng.sql(
        "create table av_ctas stored as avro as "
        "select key, value from src_avro_fixture where key = '238'"
    )
    assert [tuple(r) for r in eng.sql(
        "select * from av_ctas"
    ).collect()] == [("238", "val_238")]
    eng.sql(
        "insert overwrite table av_ctas "
        "select key, value from src_avro_fixture where key = '100'"
    )
    rows = sorted(
        tuple(r) for r in eng.sql("select * from av_ctas").collect()
    )
    assert rows == [("100", "val_100"), ("100", "val_100")]
    eng.sql("drop table av_ctas")


def test_avro_fallback_refuses_out_of_scope_shapes(eng):
    with pytest.raises(HiveQLUnsupportedError, match="PARTITIONED"):
        eng.sql(
            "create table avp (a int) partitioned by (ds string) "
            "stored as avro"
        )
    with pytest.raises(HiveQLUnsupportedError, match="TBLPROPERTIES"):
        eng.sql(
            "create table avl (a int) stored as avro "
            "tblproperties ('avro.schema.literal'='{}')"
        )


def test_avro_probe_is_memoized(eng):
    assert eng._avro_native is False  # this container is jar-less
    assert eng._avro_native_memo is False
