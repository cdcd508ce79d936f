"""clientpositive orc_merge*.q replay, round 9 (reference:
ql/src/test/queries/clientpositive/orc_merge1.q, orc_merge3.q,
orc_merge7.q — OrcFileMergeOperator / ALTER TABLE CONCATENATE).

The family's invariant: merging an ORC table's small files must be
VALUE-TRANSPARENT — the merged and unmerged tables answer every query
identically while the file count drops. The engine's surface for the
merge task is explicit CONCATENATE; ORC partitioned tables reach it
through the per-partition storage-descriptor machinery (a catalog ORC
table is adopted by ALTER ... SET FILEFORMAT ORC — a same-format
no-op in Hive — and each partition then compacts under its own ORC
descriptor)."""

from __future__ import annotations

import os

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine
from tests.conftest import assert_matches_oracle

SRC = [(i % 17, f"val_{i % 17}") for i in range(60)]


def _files(root, rel=""):
    d = os.path.join(root, rel)
    return [
        f for _r, _d, fs in os.walk(d) for f in fs
        if not f.startswith(("_", "."))
    ]


@pytest.fixture()
def env(spark):
    eng = Engine(spark=spark)
    for t in ("orcm1", "orcm3a", "orcm3b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    con = duckdb.connect()
    body = ", ".join(f"({k}, '{v}')" for k, v in SRC)
    con.execute(
        "CREATE VIEW src AS SELECT * FROM (VALUES "
        + body + ") AS t(key, value)"
    )
    spark.createDataFrame(SRC, "key int, value string") \
        .createOrReplaceTempView("orcm_src")
    yield eng, con
    con.close()
    spark.catalog.dropTempView("orcm_src")
    for t in ("orcm1", "orcm3a", "orcm3b"):
        spark.catalog.dropTempView(t)
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q_orc_merge1_dynamic_partitions_value_parity(env):
    """orc_merge1.q: ORC partitioned table filled via a dynamic
    PARTITION (ds='1', part) insert — per-partition counts and the
    whole-table aggregate match the source exactly."""
    eng, con = env
    eng.sql("CREATE TABLE orcm1 (key INT, value STRING) "
            "PARTITIONED BY (ds STRING, part STRING) STORED AS ORC")
    eng.sql("INSERT OVERWRITE TABLE orcm1 PARTITION (ds='1', part) "
            "SELECT key, value, pmod(key, 2) as part FROM orcm_src")
    assert_matches_oracle(
        eng.sql("select part, count(*) as n, sum(key) as s from orcm1 "
                "where ds='1' group by part"),
        con,
        "SELECT CAST(key % 2 AS VARCHAR) AS part, "
        "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(key) AS BIGINT) AS s "
        "FROM src GROUP BY 1",
    )


def test_q_orc_merge1_concatenate_partition_files_drop(env):
    """orc_merge1.q's merge arm: after adoption, each partition
    CONCATENATEs under its ORC descriptor — many small files become
    one, the golden's SUM(HASH)-style aggregate is unchanged."""
    eng, con = env
    eng.sql("CREATE TABLE orcm1 (key INT, value STRING) "
            "PARTITIONED BY (ds STRING, part STRING) STORED AS ORC")
    # several small inserts = several small files per partition
    for _ in range(3):
        eng.sql(
            "INSERT INTO TABLE orcm1 PARTITION (ds='1', part) "
            "SELECT key, value, pmod(key, 2) as part FROM orcm_src"
        )
    eng.sql("ALTER TABLE orcm1 SET FILEFORMAT ORC")  # adoption no-op
    assert eng.metastore["orcm1"].path is not None
    root = eng.metastore["orcm1"].path
    before = len(_files(root, "ds=1/part=0"))
    assert before >= 2
    eng.sql("ALTER TABLE orcm1 PARTITION (ds='1', part='0') CONCATENATE")
    assert len(_files(root, "ds=1/part=0")) == 1
    assert_matches_oracle(
        eng.sql("select part, count(*) as n, sum(key) as s from orcm1 "
                "where ds='1' group by part"),
        con,
        "SELECT CAST(key % 2 AS VARCHAR) AS part, "
        "CAST(3 * COUNT(*) AS BIGINT) AS n, "
        "CAST(3 * SUM(key) AS BIGINT) AS s "
        "FROM src GROUP BY 1",
    )


def test_q_orc_merge3_textfile_to_orc_copy(env):
    """orc_merge3.q: copy a TEXTFILE partitioned table into an ORC
    table — both answer the same aggregate."""
    eng, con = env
    eng.sql("CREATE TABLE orcm3a (key int, value string) "
            "PARTITIONED BY (ds string) STORED AS TEXTFILE")
    eng.sql("CREATE TABLE orcm3b (key int, value string) STORED AS ORC")
    eng.sql("INSERT OVERWRITE TABLE orcm3a PARTITION (ds='1') "
            "SELECT * FROM orcm_src")
    eng.sql("INSERT OVERWRITE TABLE orcm3a PARTITION (ds='2') "
            "SELECT * FROM orcm_src")
    eng.sql("INSERT OVERWRITE TABLE orcm3b "
            "SELECT key, value FROM orcm3a")
    for t, mult in (("orcm3a", 2), ("orcm3b", 2)):
        assert_matches_oracle(
            eng.sql(f"select count(*) as n, sum(key) as s from {t}"),
            con,
            f"SELECT CAST({mult} * COUNT(*) AS BIGINT) AS n, "
            f"CAST({mult} * SUM(key) AS BIGINT) AS s FROM src",
        )
