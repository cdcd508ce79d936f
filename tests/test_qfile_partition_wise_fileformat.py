"""clientpositive partition_wise_fileformat*.q replay, round 9
(reference: ql/src/test/queries/clientpositive/
partition_wise_fileformat.q … fileformat9.q; golden results in
ql/src/test/results/clientpositive/partition_wise_fileformat3.q.out —
the per-partition storage-descriptor semantics).

Hive's model (metastore SDS, exec/MapOperator.java binds one
deserializer per partition descriptor): ALTER TABLE SET FILEFORMAT
changes the TABLE descriptor for FUTURE writes; each partition keeps
the format it was written with; INSERT OVERWRITE of an existing
partition ADOPTS the current table format (fileformat3.q golden:
re-overwritten dt=101 flips RCFile→SequenceFile). The engine
re-expresses mixed-format reads as ONE format-grouped DataSource scan
per format unioned at the plan level — partition pruning pushes into
each group exactly as for a homogeneous table.

The goldens use RCFILE/SEQUENCEFILE (out of scope per SURVEY §2.2);
the replay substitutes ORC and TEXTFILE, which exercise the identical
descriptor mechanics over in-scope formats.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError, TableDesc
from tests.conftest import assert_matches_oracle

SRC1 = [("238", "val_238"), ("", "val_empty"), ("311", "val_311"),
        ("255", "val_255"), ("278", "val_278"), ("98", "val_98"),
        ("401", "val_401"), ("150", "val_150"), ("273", "val_273"),
        ("66", "val_66")]


@pytest.fixture()
def env(spark, tmp_path):
    eng = Engine(spark=spark)
    p = os.path.join(str(tmp_path), "src1")
    spark.createDataFrame(SRC1, "key string, value string") \
        .coalesce(1).write.parquet(p)
    eng.register_table("src1", p)
    t = os.path.join(str(tmp_path), "ptp")
    os.makedirs(t)
    eng.metastore["ptp"] = TableDesc(schema=spark.createDataFrame(
        [], "key string, value string, dt string"
    ).schema)
    eng.register_table("ptp", t, ["dt"])
    con = duckdb.connect()
    body = ", ".join(f"('{k}', '{v}')" for k, v in SRC1)
    con.execute(
        "CREATE VIEW src1 AS SELECT * FROM (VALUES "
        + body + ") AS t(key, value)"
    )
    yield eng, con
    con.close()


def _fill_three_formats(eng):
    """fileformat.q/fileformat2.q statement sequence with ORC/TEXTFILE
    standing in for RCFILE/SEQUENCEFILE."""
    eng.sql("insert overwrite table ptp partition(dt=100) "
            "select * from src1")
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    eng.sql("alter table ptp set fileformat textfile")
    eng.sql("insert overwrite table ptp partition(dt=102) "
            "select * from src1")


def test_q_fileformat1_per_partition_selects(env):
    """partition_wise_fileformat.q: per-partition and whole-table
    SELECTs over three coexisting formats, plus the range predicate."""
    eng, con = env
    _fill_three_formats(eng)
    assert eng.metastore["ptp"].part_formats == {
        "dt=101": "orc", "dt=102": "csv"
    }
    for dt in ("100", "101", "102"):
        assert_matches_oracle(
            eng.sql(f"select key from ptp where dt={dt}"),
            con, "SELECT key FROM src1",
        )
    assert_matches_oracle(
        eng.sql("select key, dt from ptp"),
        con,
        "SELECT key, dt FROM src1, (VALUES ('100'), ('101'), ('102')) "
        "AS d(dt)",
    )
    assert_matches_oracle(
        eng.sql("select key from ptp where dt >= 100 and dt <= 102"),
        con,
        "SELECT key FROM src1, (VALUES ('100'), ('101'), ('102')) "
        "AS d(dt)",
    )


def test_q_fileformat2_select_star_all_columns(env):
    """fileformat2.q: SELECT * (data + partition columns) across the
    formats — value AND null/empty-string fidelity through textfile."""
    eng, con = env
    _fill_three_formats(eng)
    assert_matches_oracle(
        eng.sql("select key, value, dt from ptp "
                "where dt >= 100 and dt <= 102"),
        con,
        "SELECT key, value, dt FROM src1, "
        "(VALUES ('100'), ('101'), ('102')) AS d(dt)",
    )


def test_q_fileformat3_overwrite_adopts_table_format(env):
    """fileformat3.q golden: dt=101 written under ORC shows the ORC
    descriptor; after the table moves to TEXTFILE, RE-overwriting
    dt=101 flips its descriptor to the table's current format
    (golden lines 33→130: RCFileInputFormat → SequenceFileInputFormat)."""
    eng, con = env
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    lines = [r.tab_name for r in eng.sql(
        "show table extended like ptp partition(dt=101)").collect()]
    assert "inputformat:org.apache.hadoop.hive.ql.io.orc.OrcInputFormat" \
        in lines
    eng.sql("alter table ptp set fileformat textfile")
    eng.sql("insert overwrite table ptp partition(dt=102) "
            "select * from src1")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    lines = [r.tab_name for r in eng.sql(
        "show table extended like ptp partition(dt=101)").collect()]
    assert "inputformat:org.apache.hadoop.mapred.TextInputFormat" in lines
    assert_matches_oracle(
        eng.sql("select key from ptp where dt=101"),
        con, "SELECT key FROM src1",
    )


def test_q_fileformat5_group_by_dt(env):
    """fileformat5.q: GROUP BY the partition column across formats,
    then add a third partition and re-aggregate."""
    eng, con = env
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    eng.sql("alter table ptp set fileformat textfile")
    eng.sql("insert overwrite table ptp partition(dt=102) "
            "select * from src1")
    assert_matches_oracle(
        eng.sql("select dt, count(1) as cnt from ptp "
                "where dt is not null group by dt"),
        con,
        "SELECT dt, CAST(COUNT(1) AS BIGINT) AS cnt FROM src1, "
        "(VALUES ('101'), ('102')) AS d(dt) GROUP BY dt",
    )
    eng.sql("insert overwrite table ptp partition(dt=103) "
            "select * from src1")
    assert_matches_oracle(
        eng.sql("select dt, count(1) as cnt from ptp "
                "where dt is not null group by dt"),
        con,
        "SELECT dt, CAST(COUNT(1) AS BIGINT) AS cnt FROM src1, "
        "(VALUES ('101'), ('102'), ('103')) AS d(dt) GROUP BY dt",
    )


def test_q_fileformat6_union_across_formats(env):
    """fileformat6.q: UNION ALL of two single-partition reads — same
    partition twice, then one per format."""
    eng, con = env
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    eng.sql("alter table ptp set fileformat textfile")
    eng.sql("insert overwrite table ptp partition(dt=102) "
            "select * from src1")
    assert_matches_oracle(
        eng.sql(
            "select count(1) as cnt from ("
            "select key, value from ptp where dt=101 and key < 100 "
            "union all "
            "select key, value from ptp where dt=102 and key < 20) s"
        ),
        con,
        "SELECT CAST(COUNT(1) AS BIGINT) AS cnt FROM ("
        "SELECT key, value FROM src1 WHERE TRY_CAST(key AS DOUBLE) < 100 "
        "UNION ALL "
        "SELECT key, value FROM src1 WHERE TRY_CAST(key AS DOUBLE) < 20) s",
    )


def test_q_fileformat7_self_join_on_orc_partition(env):
    """fileformat7.q: self-join over one non-parquet partition."""
    eng, con = env
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    assert_matches_oracle(
        eng.sql(
            "select count(1) as cnt from ptp a join ptp b "
            "on a.key = b.key "
            "where a.dt = '101' and b.dt = '101' and a.key < 100"
        ),
        con,
        "SELECT CAST(COUNT(1) AS BIGINT) AS cnt FROM src1 a "
        "JOIN src1 b ON a.key = b.key "
        "WHERE TRY_CAST(a.key AS DOUBLE) < 100",
    )


def test_q_fileformat4_partition_level_dispositions(env):
    """fileformat4.q: partition-level SET FILEFORMAT to the format the
    partition already has is a no-op; ADD/DROP PARTITION coexist with
    the descriptor map; retargeting a non-empty partition is a typed
    error (Hive defers the failure to read time — strictly worse)."""
    eng, con = env
    eng.sql("alter table ptp set fileformat textfile")
    eng.sql("insert overwrite table ptp partition(dt='1') "
            "select * from src1")
    eng.sql("alter table ptp partition (dt='1') set fileformat textfile")
    eng.sql("alter table ptp add partition (dt='2')")
    eng.sql("alter table ptp drop partition (dt='2')")
    with pytest.raises(HiveQLUnsupportedError, match="INSERT OVERWRITE"):
        eng.sql("alter table ptp partition (dt='1') set fileformat orc")
    assert_matches_oracle(
        eng.sql("select key from ptp where dt='1'"),
        con, "SELECT key FROM src1",
    )


def test_q_insert_into_keeps_partition_descriptor(env):
    """INSERT INTO (append) an existing partition keeps the PARTITION's
    own format even after the table descriptor moved on — one
    partition directory never mixes formats."""
    eng, con = env
    eng.sql("alter table ptp set fileformat orc")
    eng.sql("insert overwrite table ptp partition(dt=101) "
            "select * from src1")
    eng.sql("alter table ptp set fileformat textfile")
    eng.sql("insert into table ptp partition(dt=101) select * from src1")
    assert eng.metastore["ptp"].part_formats["dt=101"] == "orc"
    assert_matches_oracle(
        eng.sql("select key from ptp where dt=101"),
        con, "SELECT key FROM src1 UNION ALL SELECT key FROM src1",
    )


def test_q_analyze_and_guards_on_mixed_table(env):
    """ANALYZE pays a real count over non-parquet partitions (no
    parquet footers to read); parquet-only rewrite paths (CONCATENATE,
    LOAD DATA, EXPORT, UPDATE/DELETE/MERGE) are typed errors on mixed
    tables, never silent corruption."""
    eng, con = env
    _fill_three_formats(eng)
    rows = {r.partition: r.num_rows for r in eng.sql(
        "analyze table ptp compute statistics").collect()}
    assert rows == {"dt=100": 10, "dt=101": 10, "dt=102": 10}
    for stmt in (
        "alter table ptp concatenate",
        "delete from ptp where key = '238'",
        "update ptp set value = 'x' where key = '238'",
    ):
        with pytest.raises(HiveQLUnsupportedError, match="parquet-only"):
            eng.sql(stmt)


def test_q_concatenate_partition_under_its_descriptor(env):
    """orc_merge*.q over the mixed table: partition-level CONCATENATE
    compacts under the PARTITION's own storage descriptor — the orc
    partition's many files become one orc file, row count invariant;
    table-level CONCATENATE on a mixed table stays a typed error."""
    eng, con = env
    eng.sql("alter table ptp set fileformat orc")
    for i in range(3):
        eng.sql(f"insert {'overwrite' if i == 0 else 'into'} table ptp "
                "partition(dt=101) select * from src1")
    pdir = os.path.join(eng.metastore["ptp"].path, "dt=101")
    files_before = [f for _r, _d, fs in os.walk(pdir) for f in fs
                    if not f.startswith(("_", "."))]
    assert len(files_before) >= 2
    eng.sql("alter table ptp partition (dt=101) concatenate")
    files_after = [f for _r, _d, fs in os.walk(pdir) for f in fs
                   if not f.startswith(("_", "."))]
    assert len(files_after) == 1
    assert eng.metastore["ptp"].part_formats["dt=101"] == "orc"
    assert_matches_oracle(
        eng.sql("select key from ptp where dt=101"),
        con,
        "SELECT key FROM src1 UNION ALL SELECT key FROM src1 "
        "UNION ALL SELECT key FROM src1",
    )
    with pytest.raises(HiveQLUnsupportedError, match="parquet-only"):
        eng.sql("alter table ptp concatenate")


def test_q_catalog_table_adoption(spark, tmp_path):
    """fileformat.q as written: the table starts as an engine-created
    CATALOG table; SET FILEFORMAT adopts it into the path registry and
    the descriptor machinery takes over."""
    eng = Engine(spark=spark)
    p = os.path.join(str(tmp_path), "src1b")
    spark.createDataFrame(SRC1, "key string, value string") \
        .coalesce(1).write.parquet(p)
    eng.register_table("src1b", p)
    spark.sql("DROP TABLE IF EXISTS pwf_adopt")
    try:
        eng.sql("create table pwf_adopt(key string, value string) "
                "partitioned by (dt string)")
        eng.sql("insert overwrite table pwf_adopt partition(dt=100) "
                "select * from src1b")
        eng.sql("alter table pwf_adopt set fileformat orc")
        assert eng.metastore["pwf_adopt"].path is not None
        eng.sql("insert overwrite table pwf_adopt partition(dt=101) "
                "select * from src1b")
        got = {
            r.dt: r.cnt
            for r in eng.sql(
                "select dt, count(*) as cnt from pwf_adopt group by dt"
            ).collect()
        }
        assert got == {"100": 10, "101": 10}
    finally:
        spark.catalog.dropTempView("pwf_adopt")
        spark.sql("DROP TABLE IF EXISTS pwf_adopt")


def test_q_mixed_read_prunes_partitions(env):
    """100 TB posture: a dt=101 filter over the mixed table reaches the
    per-format scans as PartitionFilters — the parquet group prunes to
    zero files, the orc group to one partition (no full-table read to
    serve a one-partition query)."""
    eng, con = env
    _fill_three_formats(eng)
    plan = eng.sql(
        "select key from ptp where dt = 101"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re as _re

    # every file-scan node in the union must carry the dt pushdown
    scans = _re.findall(r"PartitionFilters: \[[^\]]*dt[^\]]*\]", plan)
    assert scans, plan


def test_q_set_serde_and_touch(env, spark):
    """partition_wise_fileformat8/11.q's SET SERDE flips + touch.q:
    known serde classes record as metastore metadata (surfaced via
    TBLPROPERTIES), custom serde classes are typed errors, TOUCH is a
    validated no-op for tables and existing partitions."""
    eng, con = env
    eng.sql("insert overwrite table ptp partition(dt=100) "
            "select * from src1")
    eng.sql("alter table ptp set serde "
            "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'")
    eng.sql("alter table ptp partition (dt=100) set serde "
            "'org.apache.hadoop.hive.serde2.columnar."
            "LazyBinaryColumnarSerDe'")
    eng.sql("alter table ptp set serdeproperties "
            "('serialization.null.format'='\\\\N')")
    props = {r.key: r.value
             for r in eng.sql("show tblproperties ptp").collect()}
    assert props["serialization.lib"].endswith("LazyBinaryColumnarSerDe")
    assert "serde.serialization.null.format" in props
    with pytest.raises(HiveQLUnsupportedError, match="custom serde"):
        eng.sql("alter table ptp set serde "
                "'org.apache.hadoop.hive.serde2.CustomSerDe1'")
    eng.sql("alter table ptp touch")
    eng.sql("alter table ptp touch partition (dt=100)")
    with pytest.raises(HiveQLUnsupportedError, match="no such partition"):
        eng.sql("alter table ptp touch partition (dt=999)")
    # catalog table route (Spark refuses ALTER SERDE on datasource
    # tables; the engine records it instead)
    spark.sql("DROP TABLE IF EXISTS serde_cat9")
    try:
        eng.sql("create table serde_cat9 (a int) stored as orc")
        eng.sql("alter table serde_cat9 set serde "
                "'org.apache.hadoop.hive.ql.io.orc.OrcSerde'")
        assert eng.metastore["serde_cat9"].props["serialization.lib"] \
            .endswith("OrcSerde")
    finally:
        spark.sql("DROP TABLE IF EXISTS serde_cat9")


def test_q_fileformat10_15_partitioned_schema_evolution(env, spark):
    """partition_wise_fileformat10/15/16.q: schema evolution on a
    PARTITIONED table — ADD COLUMNS fills NULLs on old partitions,
    a type-CONVERTING CHANGE COLUMN (string→int, behind the
    incompatible-changes conf) reads old files through the epoch
    converters, and a post-alter insert lands under the new schema —
    all partitions read together."""
    eng, con = env
    eng.sql("insert overwrite table ptp partition(dt='1') "
            "select * from src1 where key = 238")
    eng.sql("alter table ptp add columns (value2 string)")
    rows = eng.sql("select * from ptp where dt is not null").collect()
    assert [(r.key, r.value2) for r in rows] == [("238", None)]
    eng.sql(
        "set hive.metastore.disallow.incompatible.col.type.changes=false"
    )
    eng.sql("alter table ptp change key key int")
    r = eng.sql("select key+key as kk, value from ptp "
                "where dt is not null").collect()[0]
    assert (r.kk, r.value) == (476, "val_238")
    eng.sql("insert overwrite table ptp partition(dt='2') "
            "select 98, 'val_98', 'x2' from src1 where key = 98")
    # empty-select static overwrite (key 999 absent): clears the named
    # partition and reports 0 rows — the Observation hardening path
    n = eng.sql("insert overwrite table ptp partition(dt='3') "
                "select 999, 'x', 'y' from src1 where key = 999") \
        .collect()[0].rows_affected
    assert n == 0
    got = sorted(
        (x.key, x.value2, x.dt)
        for x in eng.sql("select * from ptp").collect()
    )
    assert got == [(98, "x2", "2"), (238, None, "1")]
