"""hive.stats.autogather parity (HiveConf.java:1655, default TRUE;
exec/StatsTask.java:170-220): stats-aware engine writes record basic
stats as they go, so count(*)-family queries are answered from the
metastore stand-in WITHOUT an explicit ANALYZE — the behavior the
reference's stats0.q-stats19.q take for granted.

Semantics pinned here, each traced to StatsTask:
- INSERT OVERWRITE (LoadTableDesc.getReplace()) → numRows set from the
  write's counter outright, stats ACCURATE (StatsTask.java:186-190);
- INSERT INTO over prior accurate stats → counter ADDS; over
  un-gathered state → stays un-gathered, real execution (never a
  guess);
- fully-static partition specs gather per-partition; DYNAMIC-partition
  inserts stay invalidated (this engine's safe fallback — per-partition
  counters live in the writer, not the hook);
- untouched partitions CARRY their basic and ANALYZEd column stats
  forward (Hive's per-partition COLUMN_STATS_ACCURATE flags,
  StatsTask.java:245ff) while the written partition's column stats
  drop;
- column stats: gathered on unpartitioned OVERWRITE only when
  hive.stats.column.autogather is SET (default FALSE, as in Hive 2.3)
  — riding the write job via observe, no second scan;
- TRUNCATE resets to an ACCURATE zero (DDLTask truncateTable);
- hive.stats.autogather=false → no gathering, identical values.
"""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine
from hive_2_3_2_spark.plans import explain_str

from tests.conftest import assert_matches_oracle


def _answered(df) -> bool:
    plan = explain_str(df)
    return (
        "LocalTableScan" in plan
        and "Scan parquet" not in plan
        and "Aggregate" not in plan
    )


@pytest.fixture()
def eng(spark):
    return Engine(spark=spark)


def _seed(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(path)


def test_overwrite_then_append_unpartitioned(eng, spark, tmp_path):
    p = str(tmp_path / "t")
    _seed(spark, p, [(1, "a")], "k int, v string")
    eng.register_table("t", p)
    # seeded externally → no stats yet: real execution
    assert not _answered(eng.sql("SELECT count(*) AS c FROM t"))
    eng.sql("INSERT OVERWRITE TABLE t SELECT id, 'x' FROM range(7)")
    df = eng.sql("SELECT count(*) AS c FROM t")
    assert _answered(df), explain_str(df)
    assert df.collect()[0].c == 7
    # append adds to the accurate base
    eng.sql("INSERT INTO t SELECT id, 'y' FROM range(5)")
    df = eng.sql("SELECT count(*) AS c, count(1) AS c1 FROM t")
    assert _answered(df)
    assert df.collect()[0].c == 12
    # out-of-scope aggregates still run for real, same totals
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    assert_matches_oracle(
        eng.sql("SELECT count(*) AS c, sum(k) AS sk FROM t"),
        con,
        "SELECT count(*) AS c, sum(k) AS sk FROM t",
    )
    con.close()


def test_append_without_prior_stats_falls_back(eng, spark, tmp_path):
    p = str(tmp_path / "t2")
    _seed(spark, p, [(1,)], "k int")
    eng.register_table("t2", p)
    eng.sql("INSERT INTO t2 SELECT id FROM range(3)")
    # the pre-insert row count was never gathered — a guess of 3 would
    # be WRONG (table holds 4); must fall back and be right
    df = eng.sql("SELECT count(*) AS c FROM t2")
    assert not _answered(df)
    assert df.collect()[0].c == 4


def test_autogather_off_no_serving_same_values(eng, spark, tmp_path):
    p = str(tmp_path / "t3")
    _seed(spark, p, [(1,)], "k int")
    eng.register_table("t3", p)
    eng.sql("SET hive.stats.autogather=false")
    eng.sql("INSERT OVERWRITE TABLE t3 SELECT id FROM range(9)")
    df = eng.sql("SELECT count(*) AS c FROM t3")
    assert not _answered(df)
    assert df.collect()[0].c == 9


def test_conf_toggle_schema_equality_unaliased(eng, spark, tmp_path):
    p = str(tmp_path / "t4")
    _seed(spark, p, [(1,)], "k int")
    eng.register_table("t4", p)
    eng.sql("INSERT OVERWRITE TABLE t4 SELECT id FROM range(4)")
    on = eng.sql("SELECT count(*) FROM t4")
    assert _answered(on)
    eng.sql("SET hive.compute.query.using.stats=false")
    off = eng.sql("SELECT count(*) FROM t4")
    assert not _answered(off)
    eng.sql("SET hive.compute.query.using.stats=true")
    # real execution tags the auto-alias with metadata; names/types/
    # nullability are the schema contract
    assert [
        (f.name, f.dataType, f.nullable) for f in on.schema.fields
    ] == [(f.name, f.dataType, f.nullable) for f in off.schema.fields]
    assert on.collect() == off.collect()


def test_static_partition_gather_and_aggregation(eng, spark, tmp_path):
    p = str(tmp_path / "tp")
    spark.createDataFrame(
        [(1, "2010")], "k int, dt string"
    ).write.partitionBy("dt").parquet(p)
    eng.register_table("tp", p, ["dt"])
    eng.sql(
        "INSERT OVERWRITE TABLE tp PARTITION (dt='2011') "
        "SELECT id FROM range(6)"
    )
    # pruned to the gathered partition: served
    df = eng.sql("SELECT count(*) AS c FROM tp WHERE dt='2011'")
    assert _answered(df), explain_str(df)
    assert df.collect()[0].c == 6
    # whole-table count needs EVERY partition gathered — dt=2010 was
    # seeded externally, so fall back (and be right)
    df = eng.sql("SELECT count(*) AS c FROM tp")
    assert not _answered(df)
    assert df.collect()[0].c == 7
    # overwrite the seeded partition too → now all partitions serve
    eng.sql(
        "INSERT OVERWRITE TABLE tp PARTITION (dt='2010') "
        "SELECT id FROM range(2)"
    )
    df = eng.sql("SELECT count(*) AS c FROM tp")
    assert _answered(df), explain_str(df)
    assert df.collect()[0].c == 8
    # prior partition's stats carried forward under the new fingerprint
    df = eng.sql("SELECT count(*) AS c FROM tp WHERE dt='2011'")
    assert _answered(df)
    assert df.collect()[0].c == 6


def test_append_new_vs_existing_partition(eng, spark, tmp_path):
    p = str(tmp_path / "tq")
    spark.createDataFrame(
        [(1, "a")], "k int, dt string"
    ).write.partitionBy("dt").parquet(p)
    eng.register_table("tq", p, ["dt"])
    # INTO a brand-new partition: its rows are exactly this insert's
    eng.sql(
        "INSERT INTO tq PARTITION (dt='b') SELECT id FROM range(3)"
    )
    df = eng.sql("SELECT count(*) AS c FROM tq WHERE dt='b'")
    assert _answered(df)
    assert df.collect()[0].c == 3
    # INTO the pre-existing un-gathered partition: must fall back
    eng.sql(
        "INSERT INTO tq PARTITION (dt='a') SELECT id FROM range(2)"
    )
    df = eng.sql("SELECT count(*) AS c FROM tq WHERE dt='a'")
    assert not _answered(df)
    assert df.collect()[0].c == 3
    # ...while dt='b' still serves (carry-forward)
    df = eng.sql("SELECT count(*) AS c FROM tq WHERE dt='b'")
    assert _answered(df)
    assert df.collect()[0].c == 3
    # appending to the gathered partition accumulates
    eng.sql(
        "INSERT INTO tq PARTITION (dt='b') SELECT id FROM range(4)"
    )
    df = eng.sql("SELECT count(*) AS c FROM tq WHERE dt='b'")
    assert _answered(df)
    assert df.collect()[0].c == 7


def test_dynamic_partition_insert_gathers_per_partition(
    eng, spark, tmp_path
):
    """Dynamic-partition inserts gather per-written-partition counts
    from the staged footers — Hive's per-partition FileSink counters
    (StatsTask.java:245ff). Untouched partitions carry forward."""
    p = str(tmp_path / "td")
    spark.createDataFrame(
        [(0, "z")], "k int, dt string"
    ).write.partitionBy("dt").parquet(p)
    eng.register_table("td", p, ["dt"])
    eng.sql(
        "INSERT OVERWRITE TABLE td PARTITION (dt='z') "
        "SELECT id FROM range(2)"
    )
    assert _answered(eng.sql("SELECT count(*) AS c FROM td WHERE dt='z'"))
    eng.sql(
        "INSERT OVERWRITE TABLE td PARTITION (dt) "
        "SELECT id, CASE WHEN id < 1 THEN 'w' ELSE 'v' END FROM range(3)"
    )
    # written partitions: staged-footer counts; untouched dt='z' carries
    for clause, want in [("dt='z'", 2), ("dt='w'", 1), ("dt='v'", 2)]:
        df = eng.sql(f"SELECT count(*) AS c FROM td WHERE {clause}")
        assert _answered(df), explain_str(df)
        assert df.collect()[0].c == want
    df = eng.sql("SELECT count(*) AS c FROM td")
    assert _answered(df)
    assert df.collect()[0].c == 5
    # dynamic INTO an existing un-gathered partition still falls back:
    # seed a partition externally so it has no stats, then append to it
    spark.createDataFrame([(7, "x")], "k int, dt string").write.mode(
        "append"
    ).partitionBy("dt").parquet(p)
    eng.register_table("td", p, ["dt"])  # external write → invalidate
    eng.sql(
        "INSERT OVERWRITE TABLE td PARTITION (dt='z') "
        "SELECT id FROM range(4)"
    )
    assert _answered(eng.sql("SELECT count(*) AS c FROM td WHERE dt='z'"))
    eng.sql("INSERT INTO td PARTITION (dt) SELECT id, 'x' FROM range(2)")
    df = eng.sql("SELECT count(*) AS c FROM td WHERE dt='x'")
    assert not _answered(df)  # prior rows never counted → no guess
    assert df.collect()[0].c == 3
    df = eng.sql("SELECT count(*) AS c FROM td WHERE dt='z'")
    assert _answered(df)  # untouched by the append: carried forward
    assert df.collect()[0].c == 4


def test_column_stats_carry_forward_untouched_partition(
    eng, spark, tmp_path
):
    p = str(tmp_path / "tc")
    spark.createDataFrame(
        [(5, "a"), (9, "a")], "k int, dt string"
    ).write.partitionBy("dt").parquet(p)
    eng.register_table("tc", p, ["dt"])
    eng.sql("ANALYZE TABLE tc COMPUTE STATISTICS")
    eng.sql("ANALYZE TABLE tc COMPUTE STATISTICS FOR COLUMNS k")
    df = eng.sql("SELECT min(k) AS mn, max(k) AS mx FROM tc WHERE dt='a'")
    assert _answered(df)
    # write a DIFFERENT partition: dt='a' column stats stay serveable
    eng.sql(
        "INSERT OVERWRITE TABLE tc PARTITION (dt='b') "
        "SELECT id + 100 FROM range(3)"
    )
    df = eng.sql("SELECT min(k) AS mn, max(k) AS mx FROM tc WHERE dt='a'")
    assert _answered(df), explain_str(df)
    assert tuple(df.collect()[0]) == (5, 9)
    # the WRITTEN partition has basic but not column stats
    assert _answered(eng.sql("SELECT count(*) AS c FROM tc WHERE dt='b'"))
    df = eng.sql("SELECT min(k) AS mn FROM tc WHERE dt='b'")
    assert not _answered(df)
    assert df.collect()[0].mn == 100


def test_truncate_resets_to_accurate_zero(eng, spark, tmp_path):
    p = str(tmp_path / "tt")
    _seed(spark, p, [(1,), (2,)], "k int")
    eng.register_table("tt", p)
    eng.sql("TRUNCATE TABLE tt")
    df = eng.sql("SELECT count(*) AS c FROM tt")
    assert _answered(df), explain_str(df)
    assert df.collect()[0].c == 0


def test_truncate_partition_keeps_other_partitions_serving(
    eng, spark, tmp_path
):
    p = str(tmp_path / "tu")
    spark.createDataFrame(
        [(0, "keep")], "k int, dt string"
    ).write.partitionBy("dt").parquet(p)
    eng.register_table("tu", p, ["dt"])
    eng.sql(
        "INSERT OVERWRITE TABLE tu PARTITION (dt='keep') "
        "SELECT id FROM range(4)"
    )
    eng.sql(
        "INSERT OVERWRITE TABLE tu PARTITION (dt='drop') "
        "SELECT id FROM range(9)"
    )
    eng.sql("TRUNCATE TABLE tu PARTITION (dt='drop')")
    df = eng.sql("SELECT count(*) AS c FROM tu WHERE dt='keep'")
    assert _answered(df), explain_str(df)
    assert df.collect()[0].c == 4
    df = eng.sql("SELECT count(*) AS c FROM tu")
    assert _answered(df)
    assert df.collect()[0].c == 4


def test_column_autogather_rides_overwrite(eng, spark, tmp_path):
    """hive.stats.column.autogather (HiveConf.java:1657, default FALSE
    — autoColumnStats_*.q SET it): with the conf ON, an unpartitioned
    INSERT OVERWRITE gathers column stats on the SAME write job
    (observe — no second scan), so min/max/count(col) answer scan-free
    with no ANALYZE at all."""
    p = str(tmp_path / "tca")
    _seed(spark, p, [(1, "x")], "k int, v string")
    eng.register_table("tca", p)
    eng.sql("SET hive.stats.column.autogather=true")
    try:
        eng.sql(
            "INSERT OVERWRITE TABLE tca "
            "SELECT id * 3, CASE WHEN id = 2 THEN NULL ELSE 'v' END "
            "FROM range(5)"
        )
        df = eng.sql(
            "SELECT count(*) AS c, count(v) AS cv, min(k) AS mn, "
            "max(k) AS mx FROM tca"
        )
        assert _answered(df), explain_str(df)
        assert tuple(df.collect()[0]) == (5, 4, 0, 12)
    finally:
        eng.sql("SET hive.stats.column.autogather=false")
    # conf back OFF: the next overwrite gathers only basic stats
    eng.sql("INSERT OVERWRITE TABLE tca SELECT id, 'y' FROM range(3)")
    assert _answered(eng.sql("SELECT count(*) AS c FROM tca"))
    df = eng.sql("SELECT min(k) AS mn FROM tca")
    assert not _answered(df)
    assert df.collect()[0].mn == 0


def test_gathering_writes_add_no_listing_walk(
    eng, spark, tmp_path, monkeypatch
):
    """The stats path of a gathering INSERT lists the table once: an
    unpartitioned INSERT INTO walks its staging dir and the table; a
    static INSERT OVERWRITE partition walks the staged partition and
    the table, whose one walk also sizes the written partition."""
    import os

    p = str(tmp_path / "wk")
    _seed(spark, p, [(1,)], "k int")
    eng.register_table("wk", p)
    eng.sql("INSERT OVERWRITE TABLE wk SELECT 1")
    q = str(tmp_path / "wkp")
    spark.createDataFrame([(1, "x"), (2, "y")], "k int, p string") \
        .write.partitionBy("p").parquet(q)
    eng.register_table("wkp", q, ["p"])
    eng.sql("ANALYZE TABLE wkp COMPUTE STATISTICS")
    walked = []
    real = os.walk

    def counting(top, *args, **kwargs):
        walked.append(os.path.relpath(top, tmp_path))
        return real(top, *args, **kwargs)

    monkeypatch.setattr(os, "walk", counting)
    eng.sql("INSERT INTO wk VALUES (2)")
    assert len(walked) == 2 and walked[-1] == "wk", walked
    walked.clear()
    eng.sql("INSERT OVERWRITE TABLE wkp PARTITION (p='y') SELECT 7")
    assert len(walked) == 2 and walked[-1] == "wkp", walked
    monkeypatch.undo()
    df = eng.sql("SELECT count(*) AS c FROM wk")
    assert _answered(df) and df.collect()[0].c == 2
    df = eng.sql("SELECT count(*) AS c FROM wkp")
    assert _answered(df) and df.collect()[0].c == 2


def test_stats_statements_walk_the_table_once(
    eng, spark, tmp_path, monkeypatch
):
    """One listing walk per stats statement: the table walk returns
    each partition's size and file count, so no partition is walked
    again to size it. Counted on ``os.walk`` itself; the writer's
    staging-directory walks are not stats walks. ANALYZE without NOSCAN
    still reads each partition's footers (one walk per partition)."""
    import os

    q = str(tmp_path / "pt")
    spark.createDataFrame([(1, "x"), (2, "y")], "k int, p string") \
        .write.partitionBy("p").parquet(q)
    eng.register_table("pt", q, ["p"])
    eng.sql("ANALYZE TABLE pt COMPUTE STATISTICS")
    walked = []
    real = os.walk

    def counting(top, *args, **kwargs):
        rel = os.path.relpath(top, tmp_path)
        if "__staging_" not in rel:
            walked.append(rel)
        return real(top, *args, **kwargs)

    monkeypatch.setattr(os, "walk", counting)
    eng.sql("INSERT OVERWRITE TABLE pt PARTITION (p='y') SELECT 7")
    assert walked == ["pt"]
    walked.clear()
    eng.sql("INSERT INTO pt PARTITION (p='x') VALUES (3)")
    assert walked == ["pt"]
    walked.clear()
    eng.sql("ANALYZE TABLE pt PARTITION(p) COMPUTE STATISTICS")
    assert walked == ["pt"] + [os.path.join("pt", r) for r in ("p=x", "p=y")]
    walked.clear()
    rows = eng.sql(
        "ANALYZE TABLE pt PARTITION(p) COMPUTE STATISTICS NOSCAN"
    ).collect()
    assert walked == ["pt"]
    monkeypatch.undo()
    sizes = {
        rel: sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(os.path.join(q, rel)) for f in fs
            if not f.startswith(("_", "."))
        )
        for rel in ("p=x", "p=y")
    }
    assert {(r.partition, r.num_files, r.total_size_bytes) for r in rows} \
        == {("p=x", 2, sizes["p=x"]), ("p=y", 1, sizes["p=y"])}
    df = eng.sql("SELECT count(*) AS c FROM pt")
    assert _answered(df) and df.collect()[0].c == 3
