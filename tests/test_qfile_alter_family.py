"""clientpositive alter family replay: alter1.q, alter3.q,
alter_rename_partition.q, alter_view_as_select.q, alter_view_rename.q,
alter_char1.q — the ALTER surfaces not already pinned by
test_schema_evolution / test_ddl_extra: TBLPROPERTIES merge
semantics, table RENAME carrying partitions with special characters,
PARTITION ... RENAME TO PARTITION, ALTER VIEW AS re-definition,
ALTER VIEW RENAME (including the cross-database move Hive allows),
and CHANGE COLUMN to CHAR(n) with Hive's truncate-on-read."""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError, TableDesc


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qfiles_alt")
    eng = Engine(spark=spark)
    rows = [(str(i % 13), f"val_{i % 13}") for i in range(40)]
    p = str(root / "alt_src")
    spark.createDataFrame(rows, "key string, value string").coalesce(
        1
    ).write.parquet(p)
    eng.register_table("alt_src", p)
    yield eng, str(root)


def test_q_alter1_tblproperties_merge(qenv, spark, tmp_path):
    """alter1.q: SET TBLPROPERTIES merges (second SET updates 'c',
    adds 'd', keeps 'a')."""
    eng, _ = qenv
    p = str(tmp_path / "alter1")
    spark.range(1).selectExpr("CAST(id AS INT) a", "CAST(id AS INT) b") \
        .write.parquet(p)
    eng.register_table("alter1_t", p)
    eng.sql("alter table alter1_t set tblproperties ('a'='1', 'c'='3')")
    eng.sql(
        "alter table alter1_t set tblproperties ('a'='1', 'c'='4', "
        "'d'='3')"
    )
    props = {
        r.key: r.value
        for r in eng.sql("SHOW TBLPROPERTIES alter1_t").collect()
    }
    assert props == {"a": "1", "c": "4", "d": "3"}


def test_q_alter3_rename_partitioned_table(qenv, spark, tmp_path):
    """alter3.q: RENAME of a partitioned table whose partition VALUES
    contain ':' — data and partitions follow the new name."""
    eng, _ = qenv
    p = str(tmp_path / "alter3")
    spark.createDataFrame(
        [("r1", "test_part:", "test_part:")],
        "col1 string, pcol1 string, pcol2 string",
    ).write.partitionBy("pcol1", "pcol2").mode("overwrite").parquet(p)
    from pyspark.sql.types import StringType, StructField, StructType
    eng.metastore["alter3_t"] = TableDesc(schema=StructType(
        [StructField(c, StringType()) for c in ("col1", "pcol1", "pcol2")]
    ))
    eng.register_table("alter3_t", p, ["pcol1", "pcol2"])
    assert eng.sql(
        "select * from alter3_t where pcol1='test_part:' and "
        "pcol2='test_part:'"
    ).count() == 1
    eng.sql("alter table alter3_t rename to alter3_renamed")
    assert eng.sql(
        "select col1, pcol1, pcol2 from alter3_renamed "
        "where pcol1='test_part:'"
    ).collect()[0].col1 == "r1"
    with pytest.raises(Exception):
        eng.sql("select * from alter3_t")


def test_q_alter_rename_partition(qenv, spark, tmp_path):
    """alter_rename_partition.q: PARTITION (old) RENAME TO PARTITION
    (new) with ':' in both specs — old spec gone, new spec serves the
    rows."""
    eng, _ = qenv
    p = str(tmp_path / "arp")
    spark.createDataFrame(
        [("1", "old_part1:", "old_part2:")],
        "col1 string, pcol1 string, pcol2 string",
    ).write.partitionBy("pcol1", "pcol2").parquet(p)
    from pyspark.sql.types import StringType, StructField, StructType
    eng.metastore["arp_t"] = TableDesc(schema=StructType(
        [StructField(c, StringType()) for c in ("col1", "pcol1", "pcol2")]
    ))
    eng.register_table("arp_t", p, ["pcol1", "pcol2"])
    eng.sql(
        "alter table arp_t partition (pCol1='old_part1:', "
        "pcol2='old_part2:') rename to partition (pCol1='new_part1:', "
        "pcol2='new_part2:')"
    )
    assert eng.sql(
        "select * from arp_t where pcol1='old_part1:' and "
        "pcol2='old_part2:'"
    ).count() == 0
    got = eng.sql(
        "select col1 from arp_t where pcol1='new_part1:' and "
        "pcol2='new_part2:'"
    ).collect()
    assert [r.col1 for r in got] == ["1"]


def test_q_alter_view_as_select(qenv):
    """alter_view_as_select.q: ALTER VIEW ... AS replaces the
    definition (column set can change completely)."""
    eng, _ = qenv
    eng.sql("drop view if exists altv")
    eng.sql("CREATE VIEW altv as SELECT * FROM alt_src")
    assert eng.sql("SELECT * FROM altv").columns == ["key", "value"]
    eng.sql("ALTER VIEW altv AS SELECT value FROM alt_src WHERE key='8'")
    df = eng.sql("SELECT * FROM altv")
    assert df.columns == ["value"]
    assert {r.value for r in df.collect()} == {"val_8"}
    eng.sql(
        "ALTER VIEW altv AS SELECT * FROM alt_src WHERE key > '2' "
        "AND key < '5' "
    )
    assert eng.sql("SELECT * FROM altv").columns == ["key", "value"]
    eng.sql("drop view altv")


def test_q_alter_view_rename(qenv):
    """alter_view_rename.q: RENAME moves the view (body, data, and
    dependent reads) to the new name; the old name stops resolving;
    renaming onto an existing name is the Hive AlreadyExists error."""
    eng, _ = qenv
    eng.sql("drop view if exists altv1")
    eng.sql("drop view if exists altv2")
    eng.sql("CREATE VIEW altv1 as SELECT key, value FROM alt_src")
    eng.sql("ALTER VIEW altv1 RENAME TO altv2")
    assert eng.sql("SELECT count(*) AS n FROM altv2").collect()[0].n == 40
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM altv1")
    eng.sql("CREATE VIEW altv1 as SELECT key FROM alt_src")
    with pytest.raises(HiveQLUnsupportedError):
        eng.sql("ALTER VIEW altv1 RENAME TO altv2")
    eng.sql("drop view altv1")
    eng.sql("drop view altv2")


def test_q_alter_char1_change_to_char(qenv, spark, tmp_path):
    """alter_char1.q: CHANGE COLUMN value value char(20) then char(3)
    — the declared-schema overlay truncates/pads on read like Hive's
    metastore char."""
    eng, _ = qenv
    p = str(tmp_path / "ac1")
    spark.createDataFrame(
        [("0", "val_0"), ("1", "val_1")], "key string, value string"
    ).coalesce(1).write.parquet(p)
    eng.register_table("ac1_t", p)
    eng.sql("alter table ac1_t change column value value char(20)")
    vals = sorted(
        r.value for r in eng.sql("select value from ac1_t").collect()
    )
    # char(20) pads with spaces on read
    assert vals == ["val_0".ljust(20), "val_1".ljust(20)]
    eng.sql("alter table ac1_t change column value value char(3)")
    vals = sorted(
        r.value for r in eng.sql("select value from ac1_t").collect()
    )
    assert vals == ["val", "val"]


def test_q_alter_partition_coltype(qenv, spark, tmp_path):
    """alter_partition_coltype.q: retype a partition column (string →
    int → string) — directory values reparse under the new type; the
    int comparison prunes numerically after the change."""
    eng, _ = qenv
    import os
    p = str(tmp_path / "apc")
    spark.createDataFrame(
        [("k1", "v1", "100", "6.30"), ("k2", "v2", "100", "3.0")],
        "key string, value string, dt string, ts string",
    ).write.partitionBy("dt", "ts").parquet(p)
    from pyspark.sql.types import StringType, StructField, StructType
    eng.metastore["apc_t"] = TableDesc(schema=StructType(
        [StructField(c, StringType())
         for c in ("key", "value", "dt", "ts")]
    ))
    eng.register_table("apc_t", p, ["dt", "ts"])
    assert eng.sql(
        "select count(*) AS n from apc_t where dt = '100'"
    ).collect()[0].n == 2
    eng.sql("alter table apc_t partition column (dt int)")
    assert dict(eng.sql("select * from apc_t").dtypes)["dt"] == "int"
    assert eng.sql(
        "select count(*) AS n from apc_t where dt = 100"
    ).collect()[0].n == 2
    eng.sql("alter table apc_t partition column (ts double)")
    assert eng.sql(
        "select count(*) AS n from apc_t where ts = 3.0"
    ).collect()[0].n == 1
    # back to string: '6.30' compares as the original text again
    eng.sql("alter table apc_t partition column (dt string)")
    assert eng.sql(
        "select count(*) AS n from apc_t where dt = '100'"
    ).collect()[0].n == 2
    with pytest.raises(HiveQLUnsupportedError):
        eng.sql("alter table apc_t partition column (key int)")
