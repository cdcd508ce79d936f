"""clientpositive `.q` slice: union22.q (partitioned catalog-table
INSERT OVERWRITE fed by a UNION ALL of a filtered delta and a LEFT
OUTER JOIN with an ON-clause partition predicate), input_part1.q
(partition-filtered insert + the partition-pruning plan property), and
sort_merge_join_desc_1.q (DESC-sorted bucketed join under a mapjoin
hint). Reference: ql/src/test/queries/clientpositive/union22.q,
input_part1.q, sort_merge_join_desc_1.q.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine

from tests.conftest import assert_matches_oracle

SRC = [(str(i % 83), f"val_{i % 83}") for i in range(300)]

_TABLES = (
    "u22_dst", "u22_delta", "ip_srcpart", "ip_dest1",
    "smjd_t1", "smjd_t2",
)


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    eng = Engine(spark=spark)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in _TABLES:
        spark.catalog.dropTempView(t)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    con = duckdb.connect()
    for name, rows in (
        ("u_src", SRC),
        ("u_src150", SRC[:150]),
        ("u_src80", SRC[:80]),
    ):
        body = ", ".join(f"('{k}', '{v}')" for k, v in rows)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM (VALUES "
            + body + ") AS t(key, value)"
        )
    yield eng, con
    con.close()
    for t in _TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q_union22_union_of_delta_and_outer_join(qenv, spark):
    """union22.q: ds='2' is written from (delta WHERE k0<=50) UNION ALL
    (base LEFT OUTER JOIN delta-k0>50 with the ON-clause a.ds='1'
    predicate), then read back."""
    eng, con = qenv
    eng.sql(
        "CREATE TABLE u22_dst (k1 STRING, k2 STRING, k3 STRING, "
        "k4 STRING) PARTITIONED BY (ds STRING) STORED AS PARQUET"
    )
    eng.sql(
        "CREATE TABLE u22_delta (k0 STRING, k1 STRING, k2 STRING, "
        "k3 STRING, k4 STRING, k5 STRING) PARTITIONED BY (ds STRING) "
        "STORED AS PARQUET"
    )
    rows_dst = ", ".join(
        f"('{k}', '{v}', '{k}', '{v}')" for k, v in SRC[:150]
    )
    rows_delta = ", ".join(
        f"('{k}', '{k}', '{v}', '{k}', '{v}', '{v}')" for k, v in SRC
    )
    eng.sql(
        f"INSERT OVERWRITE TABLE u22_dst PARTITION (ds='1') VALUES {rows_dst}"
    )
    eng.sql(
        "INSERT OVERWRITE TABLE u22_delta PARTITION (ds='1') VALUES "
        + rows_delta
    )
    eng.sql(
        """
        INSERT OVERWRITE TABLE u22_dst PARTITION (ds='2')
        SELECT * FROM (
          SELECT k1 AS k1, k2 AS k2, k3 AS k3, k4 AS k4
          FROM u22_delta WHERE ds = '1' AND k0 <= 50
          UNION ALL
          SELECT a.k1 AS k1, a.k2 AS k2, b.k3 AS k3, b.k4 AS k4
          FROM u22_dst a LEFT OUTER JOIN
            (SELECT * FROM u22_delta WHERE ds = '1' AND k0 > 50) b
            ON a.k1 = b.k1 AND a.ds = '1'
          WHERE a.k1 > 20
        ) subq
        """
    )
    got = eng.sql(
        "SELECT k1, k2, k3, k4 FROM u22_dst WHERE ds = '2' "
        "ORDER BY k1, k2, k3, k4"
    )
    assert_matches_oracle(
        got,
        con,
        """
        WITH dst1 AS (
          SELECT key AS k1, value AS k2, key AS k3, value AS k4,
                 '1' AS ds
          FROM u_src150
        ),
        delta1 AS (
          SELECT key AS k0, key AS k1, value AS k2, key AS k3,
                 value AS k4, value AS k5, '1' AS ds
          FROM u_src
        )
        SELECT k1, k2, k3, k4 FROM (
          SELECT k1, k2, k3, k4 FROM delta1
          WHERE TRY_CAST(k0 AS DOUBLE) <= 50
          UNION ALL
          SELECT a.k1, a.k2, b.k3, b.k4
          FROM dst1 a LEFT OUTER JOIN
            (SELECT * FROM delta1 WHERE TRY_CAST(k0 AS DOUBLE) > 50) b
            ON a.k1 = b.k1 AND a.ds = '1'
          WHERE TRY_CAST(a.k1 AS DOUBLE) > 20
        ) subq ORDER BY k1, k2, k3, k4
        """,
    )


def test_q_input_part1_partition_filtered_insert(qenv, spark):
    """input_part1.q: insert the (key<100, one-partition) slice into a
    plain table; the scan must prune to the named partition
    (PartitionFilters in the file scan, not a post-filter)."""
    eng, con = qenv
    eng.sql(
        "CREATE TABLE ip_srcpart (key STRING, value STRING) "
        "PARTITIONED BY (ds STRING, hr STRING) STORED AS PARQUET"
    )
    for ds in ("2008-04-08", "2008-04-09"):
        for hr in ("11", "12"):
            vals = ", ".join(f"('{k}', '{v}')" for k, v in SRC[:80])
            eng.sql(
                f"INSERT INTO ip_srcpart PARTITION (ds='{ds}', hr='{hr}') "
                f"VALUES {vals}"
            )
    eng.sql(
        "CREATE TABLE ip_dest1 (key INT, value STRING, hr STRING, "
        "ds STRING) STORED AS PARQUET"
    )
    eng.sql(
        "FROM ip_srcpart INSERT OVERWRITE TABLE ip_dest1 "
        "SELECT ip_srcpart.key, ip_srcpart.value, ip_srcpart.hr, "
        "ip_srcpart.ds WHERE ip_srcpart.key < 100 "
        "AND ip_srcpart.ds = '2008-04-08' AND ip_srcpart.hr = '12'"
    )
    assert_matches_oracle(
        eng.sql("SELECT * FROM ip_dest1 ORDER BY key, value"),
        con,
        """
        SELECT CAST(key AS INT) AS key, value, '12' AS hr,
               '2008-04-08' AS ds
        FROM u_src80
        WHERE TRY_CAST(key AS DOUBLE) < 100
        ORDER BY key, value
        """,
    )
    # partition pruning is visible in the scan
    df = eng.sql(
        "SELECT key FROM ip_srcpart WHERE ds = '2008-04-08' AND hr = '12'"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(ds" in plan or "ds#" in plan.split(
        "PartitionFilters"
    )[1][:200], plan


def test_q_sort_merge_join_desc(qenv, spark):
    """sort_merge_join_desc_1.q: DESC-sorted bucketed tables still
    join correctly under a mapjoin hint (Hive runs a sorted-merge
    bucket map join; value parity is the contract — Spark re-sorts
    ascending where it must)."""
    eng, con = qenv
    for t in ("smjd_t1", "smjd_t2"):
        eng.sql(
            f"CREATE TABLE {t} (key STRING, value STRING) "
            "CLUSTERED BY (key) SORTED BY (key DESC) INTO 2 BUCKETS "
            "STORED AS PARQUET"
        )
        eng.sql(
            f"INSERT OVERWRITE TABLE {t} SELECT key, value FROM "
            "(VALUES "
            + ", ".join(f"('{k}', '{v}')" for k, v in SRC)
            + ") AS s(key, value)"
        )
    got = eng.sql(
        "SELECT /*+ mapjoin(b) */ COUNT(*) AS cnt FROM smjd_t1 a "
        "JOIN smjd_t2 b ON a.key = b.key WHERE a.key < 10"
    )
    assert_matches_oracle(
        got,
        con,
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        FROM u_src a JOIN u_src b ON a.key = b.key
        WHERE TRY_CAST(a.key AS DOUBLE) < 10
        """,
    )


def test_q_alter_set_fileformat_dispositions(qenv, spark):
    """partition_wise_fileformat.q head: SET FILEFORMAT to the format
    the table already has is Hive's no-op migration step; a real change
    on a PARTITIONED table now flips the table-level storage descriptor
    for FUTURE writes (r9: per-partition formats are modeled);
    SEQUENCEFILE stays a typed error (out of scope per SURVEY §2.2),
    and retargeting a NON-EMPTY partition's descriptor without
    rewriting its files is a typed error (Hive would let the next read
    throw a serde error instead)."""
    from hive_2_3_2_spark.engine import HiveQLUnsupportedError

    eng, con = qenv
    try:
        eng.sql("ALTER TABLE u22_dst SET FILEFORMAT PARQUET")
        _fileformat_dispositions(eng)
    finally:
        # adoption registers a session-global temp view shadowing the
        # catalog table — drop it (and the module-scoped engine's
        # registration) so later tests see the catalog state
        spark.catalog.dropTempView("u22_dst")
        eng.metastore.pop("u22_dst", None)


def _fileformat_dispositions(eng):
    from hive_2_3_2_spark.engine import HiveQLUnsupportedError

    with pytest.raises(HiveQLUnsupportedError, match="SEQUENCEFILE"):
        eng.sql(
            "ALTER TABLE u22_dst PARTITION (ds='1') SET FILEFORMAT "
            "SEQUENCEFILE"
        )
    eng.sql("ALTER TABLE u22_dst SET FILEFORMAT ORC")
    assert eng.metastore["u22_dst"].format == "orc"
    with pytest.raises(HiveQLUnsupportedError, match="INSERT OVERWRITE"):
        eng.sql("ALTER TABLE u22_dst PARTITION (ds='1') SET FILEFORMAT ORC")
    eng.sql("ALTER TABLE u22_dst SET FILEFORMAT PARQUET")
