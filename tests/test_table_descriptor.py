"""One table descriptor per name (Hive's metastore ``Table`` struct:
``hive_metastore.thrift`` Table / StorageDescriptor / Partition).

``alterTable`` moves the whole struct to the new name, ``dropTable``
removes it, and a session TEMPORARY table hides the permanent struct
until it is dropped (SessionHiveMetaStoreClient). Each sequence below
replays those lifecycle events through ``Engine.sql`` and checks what
the statements observe afterwards: the storage descriptor (table and
per-partition formats), the informational constraints, the column
statistics and the table parameters.
"""

from __future__ import annotations

import os

import pytest

from hive_2_3_2_spark.engine import Engine, TableDesc

SRC1 = [("238", "val_238"), ("311", "val_311"), ("255", "val_255")]


def _data_files(d: str) -> list[str]:
    return [
        f for _r, _d, fs in os.walk(d) for f in fs
        if not f.startswith(("_", "."))
    ]


def _formatted(eng: Engine, table: str) -> list[tuple]:
    return [tuple(r) for r in eng.sql(f"DESCRIBE FORMATTED {table}").collect()]


@pytest.fixture()
def renamed(spark, tmp_path):
    """partition_wise_fileformat.q's table ``ptp``: dt=100 is parquet,
    dt=101 is written after SET FILEFORMAT orc; then a constraint is
    added and the table is renamed to ``ptq``."""
    eng = Engine(spark=spark)
    src = os.path.join(str(tmp_path), "src1")
    spark.createDataFrame(SRC1, "key string, value string") \
        .coalesce(1).write.parquet(src)
    eng.register_table("src1", src)
    t = os.path.join(str(tmp_path), "ptp")
    os.makedirs(t)
    eng.metastore["ptp"] = TableDesc(schema=spark.createDataFrame(
        [], "key string, value string, dt string"
    ).schema)
    eng.register_table("ptp", t, ["dt"])
    eng.sql("insert overwrite table ptp partition(dt=100) select * from src1")
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) select * from src1")
    eng.sql(
        "alter table ptp add constraint pk1 primary key (key) "
        "disable novalidate"
    )
    eng.sql("alter table ptp rename to ptq")
    return eng, t, tmp_path


def _register_fresh_ptp(eng, spark, tmp_path) -> str:
    p = os.path.join(str(tmp_path), "ptp_new")
    spark.createDataFrame(
        [("1", "a", "1")], "key string, value string, dt string"
    ).write.partitionBy("dt").parquet(p)
    eng.register_table("ptp", p, ["dt"])
    return p


def test_renamed_table_reads_its_orc_partition(renamed):
    eng, _t, _ = renamed
    assert eng.sql("SELECT count(*) AS c FROM ptq").collect()[0].c == 6


def test_renamed_table_writes_in_its_table_format(renamed):
    eng, t, _ = renamed
    eng.sql("insert overwrite table ptq partition(dt=102) select * from src1")
    files = _data_files(os.path.join(t, "dt=102"))
    assert files and all(f.endswith(".orc") for f in files), files


def test_new_table_under_the_old_name_writes_parquet(renamed, spark):
    eng, _t, tmp_path = renamed
    p = _register_fresh_ptp(eng, spark, tmp_path)
    eng.sql("insert into table ptp partition(dt=2) select * from src1")
    files = _data_files(os.path.join(p, "dt=2"))
    assert files and all(f.endswith(".parquet") for f in files), files


def test_new_table_under_the_old_name_has_no_constraint(renamed, spark):
    eng, _t, tmp_path = renamed
    _register_fresh_ptp(eng, spark, tmp_path)
    assert not any("pk1" in str(r) for r in _formatted(eng, "ptp"))


@pytest.fixture()
def shadowed(spark, tmp_path):
    """A permanent ``s(key int, value string)`` with a constraint,
    column stats and a table property, shadowed by a TEMPORARY ``s``
    of a different shape."""
    eng = Engine(spark=spark)
    p = os.path.join(str(tmp_path), "s")
    spark.createDataFrame([(1, "a"), (2, "b")], "key int, value string") \
        .write.parquet(p)
    eng.register_table("s", p)
    eng.sql(
        "alter table s add constraint pk1 primary key (key) "
        "disable novalidate"
    )
    eng.sql("analyze table s compute statistics for columns key")
    eng.sql("alter table s set tblproperties ('owner_note'='kept')")
    eng.sql("create temporary table s (a int, b string)")
    return eng


def test_temp_table_does_not_show_the_hidden_constraint(shadowed):
    assert not any(
        "Primary Key" in str(r) for r in _formatted(shadowed, "s")
    )


def test_drop_temp_table_restores_the_constraint(shadowed):
    shadowed.sql("drop table s")
    assert any(
        "Primary Key for default.s:[key]" in str(r)
        for r in _formatted(shadowed, "s")
    )


def test_drop_temp_table_restores_column_stats(shadowed):
    shadowed.sql("drop table s")
    desc = {
        r[0]: r[1]
        for r in shadowed.sql("DESCRIBE FORMATTED s key").collect()
    }
    assert (desc["min"], desc["max"]) == ("1", "2")


def test_drop_then_register_starts_from_an_empty_record(spark, tmp_path):
    """A session-catalog table's engine-side parameters die with it:
    the next table registered under the name shows none of them."""
    eng = Engine(spark=spark)
    spark.sql("DROP TABLE IF EXISTS desc_reuse")
    try:
        eng.sql("create table desc_reuse (a int) stored as parquet")
        eng.sql(
            "alter table desc_reuse set serdeproperties ('k1'='v1')"
        )
        eng.sql("drop table desc_reuse")
    finally:
        spark.sql("DROP TABLE IF EXISTS desc_reuse")
    p = os.path.join(str(tmp_path), "desc_reuse")
    spark.createDataFrame([(1,)], "a int").write.parquet(p)
    eng.register_table("desc_reuse", p)
    props = {
        r.key: r.value
        for r in eng.sql("show tblproperties desc_reuse").collect()
    }
    assert "serde.k1" not in props


def test_renamed_temp_table_gives_the_hidden_table_back(shadowed):
    """RENAME moves the TEMPORARY table's record; the permanent table it
    hid resolves under the old name again, and dropping the renamed
    temp table hides nothing."""
    shadowed.sql("alter table s rename to s_tmp")
    assert shadowed.sql("SELECT count(*) AS c FROM s").collect()[0].c == 2
    shadowed.sql("drop table s_tmp")
    assert shadowed.sql("SELECT count(*) AS c FROM s").collect()[0].c == 2
    assert any(
        "Primary Key for default.s:[key]" in str(r)
        for r in _formatted(shadowed, "s")
    )


@pytest.fixture()
def eng_catalog_rename(spark):
    eng = Engine(spark=spark)
    for t in ("desc_ren_c", "desc_ren_d"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql(
        "create table desc_ren_c (a int, primary key (a) disable "
        "novalidate) stored as parquet"
    )
    eng.sql("alter table desc_ren_c set serdeproperties ('k1'='v1')")
    eng.sql("alter table desc_ren_c rename to desc_ren_d")
    yield eng
    for t in ("desc_ren_c", "desc_ren_d"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_catalog_table_rename_moves_its_record(eng_catalog_rename):
    """Spark renames a session-catalog table; the engine-side props and
    constraint travel with it."""
    eng = eng_catalog_rename
    props = {
        r.key: r.value
        for r in eng.sql("show tblproperties desc_ren_d").collect()
    }
    assert props.get("serde.k1") == "v1"
    assert any(
        "Primary Key for default.desc_ren_d:[a]" in str(r)
        for r in _formatted(eng, "desc_ren_d")
    )
