"""metadataonly1.q replay: the AGGREGATE half of Hive's metadata-only
path (physical/MetadataOnlyOptimizer.java rewrites the scan to one
null row per partition via OneNullRowInputFormat).

Golden values extracted from
ql/src/test/results/clientpositive/metadataonly1.q.out:
- no partitions yet          → max(ds) = NULL
- one EMPTY partition ds='1' → max(ds) = '1'  (NOT NULL — the famous
  metadata-only quirk: partition existence counts, rows don't)
-                            → count(distinct ds) = 1
-                            → count(ds) = 0  (row-based: REAL scan)
- TEST2 with 3 empty hr partitions under ds='1'
                             → ds, count(distinct hr) group by ds = (1, 3)
                             → ds, count(hr) group by ds = [] (real)
"""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, TableDesc
from hive_2_3_2_spark.plans import explain_str

from tests.conftest import assert_matches_oracle


def _scan_free(df) -> bool:
    return "Scan parquet" not in explain_str(df)


@pytest.fixture()
def eng(spark):
    return Engine(spark=spark)


def _mk_partitioned(eng, spark, path, schema, part_cols, seed_rows=None):
    if seed_rows:
        spark.createDataFrame(seed_rows, schema).write.partitionBy(
            *part_cols
        ).parquet(path)
    else:
        import os

        os.makedirs(path, exist_ok=True)
        # empty tree: remember the schema so the engine can serve it
        from pyspark.sql.types import StructType

        df = spark.createDataFrame([], schema)
        name = os.path.basename(path)
        eng.metastore[name] = TableDesc(schema=df.schema)


def test_q_metadataonly1_test1_battery(eng, spark, tmp_path):
    p = str(tmp_path / "test1")
    _mk_partitioned(
        eng, spark, p, "a int, b double, ds string", ["ds"]
    )
    eng.register_table("test1", p, ["ds"])
    # no partitions: max(ds) = NULL, from the (empty) listing
    df = eng.sql("select max(ds) from test1")
    assert _scan_free(df), explain_str(df)
    assert df.collect()[0][0] is None
    # unaliased name matches real execution's
    assert df.columns == ["max(ds)"]
    eng.sql("ALTER TABLE test1 ADD PARTITION (ds='1')")
    # golden: the EMPTY partition still answers '1'
    df = eng.sql("select max(ds) from test1")
    assert _scan_free(df)
    assert df.collect()[0][0] == "1"
    df = eng.sql("select count(distinct ds) from test1")
    assert _scan_free(df)
    assert df.collect()[0][0] == 1
    # count(ds) is ROW-based: real execution, golden 0
    df = eng.sql("select count(ds) from test1")
    assert not _scan_free(df)
    assert df.collect()[0][0] == 0
    eng.sql("ALTER TABLE test1 ADD PARTITION (ds='2')")
    df = eng.sql("select max(ds) from test1")
    assert _scan_free(df)
    assert df.collect()[0][0] == "2"


def test_q_metadataonly1_test2_grouped(eng, spark, tmp_path):
    p = str(tmp_path / "test2")
    _mk_partitioned(
        eng, spark, p, "a int, b double, ds string, hr string",
        ["ds", "hr"],
    )
    eng.register_table("test2", p, ["ds", "hr"])
    for hr in ("1", "2", "3"):
        eng.sql(f"ALTER TABLE test2 ADD PARTITION (ds='1', hr='{hr}')")
    df = eng.sql(
        "select ds, count(distinct hr) from test2 group by ds"
    )
    assert _scan_free(df), explain_str(df)
    assert [tuple(r) for r in df.collect()] == [("1", 3)]
    # row-based count(hr): real execution → zero rows → no groups
    df = eng.sql("select ds, count(hr) from test2 group by ds")
    assert not _scan_free(df)
    assert df.collect() == []
    # partition-only WHERE prunes the listing
    eng.sql("ALTER TABLE test2 ADD PARTITION (ds='2', hr='9')")
    df = eng.sql(
        "select max(hr) from test2 where ds = '1'"
    )
    assert _scan_free(df)
    assert df.collect()[0][0] == "3"


def test_q_metadataonly_with_data_matches_oracle(eng, spark, tmp_path):
    """srcpart half: min(ds), max(ds) over a table WITH rows — the
    listing answer must equal the real-scan answer, diffed vs DuckDB."""
    p = str(tmp_path / "srcpart")
    spark.createDataFrame(
        [(i, f"2008-04-0{8 + i % 2}") for i in range(40)],
        "key int, ds string",
    ).repartition("ds").write.partitionBy("ds").parquet(p)
    eng.register_table("srcpart", p, ["ds"])
    df = eng.sql("select min(ds) as mn, max(ds) as mx from srcpart")
    assert _scan_free(df), explain_str(df)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW srcpart AS SELECT * FROM "
        f"read_parquet('{p}/*/*.parquet', hive_partitioning=1)"
    )
    assert_matches_oracle(
        df, con, "select min(ds) as mn, max(ds) as mx from srcpart"
    )
    con.close()


def test_q_metadataonly_boundaries(eng, spark, tmp_path):
    """Must-NOT-answer shapes: data column anywhere, plain count(*),
    conf off."""
    p = str(tmp_path / "bt")
    spark.createDataFrame(
        [(1, "x", "a")], "k int, v string, ds string"
    ).write.partitionBy("ds").parquet(p)
    eng.register_table("bt", p, ["ds"])
    assert not _scan_free(eng.sql("select max(k) from bt"))
    assert not _scan_free(eng.sql("select max(ds) from bt where k = 1"))
    df = eng.sql("select count(*) from bt")
    # count(*) goes to the stats path or real execution, never the
    # one-row-per-partition listing — value must be row-true
    assert df.collect()[0][0] == 1
    eng.sql("set hive.optimize.metadataonly=false")
    try:
        df = eng.sql("select max(ds) from bt")
        assert not _scan_free(df)
        assert df.collect()[0][0] == "a"
    finally:
        eng.sql("set hive.optimize.metadataonly=true")
